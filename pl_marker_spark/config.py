"""Pipeline configuration.

Mirrors the reference's argparse knobs that affect *semantics*
(reference: run_acener.py:786-936, run_re.py:1020-1120) — everything else
(devices, fp16, DataLoader workers) is owned by Spark.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- NER stage (reference run_acener.py defaults / run_train_ner_PLMarker.sh) ---
    max_seq_length_ner: int = 256        # reference uses 512; smaller default keeps tests fast
    max_pair_length_ner: int = 256       # K1 group size (run_acener.py:119,267)
    max_mention_ori_length: int = 8      # span word-length cap (run_acener.py:244)
    # --- RE stage (reference run_re.py / run_train_re.sh) ---
    max_seq_length_re: int = 256
    max_pair_length_re: int = 32         # K3 object-group size (scripts/run_train_re.sh:31)
    # --- decode / suppression semantics ---
    overlap_any: bool = False            # OntoNotes any-overlap rule vs same-label rule
                                         # (run_acener.py:721-727); default = ACE/SciERC
    use_ner_results: bool = True         # carry NER-stage labels into RE instead of the
                                         # aux object-NER head (run_re.py:756-759)
    eval_logsoftmax: bool = False        # run_re.py:750-754
    eval_softmax: bool = False
    eval_unidirect: bool = False         # ablation: skip bidirectional fusion
                                         # (run_re.py:899-988)
    ner_decode: str = "staged"           # "staged": spanpack_ner → infer_ner
                                         # → suppress_mentions with a
                                         # materialized packed_ner boundary
                                         # (semantic reference,
                                         # driver-oracle-gated) | "fused":
                                         # windowing+enumeration+scoring+O3
                                         # in one conversation-local grouped
                                         # map — no packed_ner shuffle or
                                         # parquet round-trip; surrogate
                                         # model only (runner falls back to
                                         # staged otherwise)
    re_decode: str = "relational"        # "relational": pair_scores table +
                                         # self-join fusion (semantic
                                         # reference, driver-oracle-gated) |
                                         # "grouped": conversation-local
                                         # fuse+suppress inside the repack
                                         # cogroup — no pair-table shuffle;
                                         # the production profile
    levitated_pairs: bool = False        # C4 all-pairs levitated variant
                                         # (run_levitatedpair.py:282-322):
                                         # both mentions levitated, forward-only
                                         # decode over NUM_REL labels, no fusion
    use_typemarker: bool = False         # typed solid markers (run_re.py:294-296)
    # --- packing variants (run_acener.py:266-315) ---
    # The reference's shuffle / group_sort / axis=-1 knobs draw from the
    # GLOBAL random state (run_acener.py:268-272,288-292) — a per-process
    # nondeterminism Spark cannot reproduce. Here the same distributions
    # are driven by a PER-TURN seed (crc32 of conv_id:turn_idx), so output
    # is deterministic, partitioning-independent, and re-runnable, while
    # the packing geometry matches the reference's knob semantics.
    group_edge: bool = False
    group_axis: int = 0                  # 0=start, 1=end, -1=seeded random axis
                                         # (+ seeded random direction, as the
                                         # reference's edge mode always does)
    group_sort: bool = False             # sort by seeded random (axis, dir)
                                         # before fixed-size chunking
    shuffle: bool = False                # seeded shuffle before chunking
    # --- tokenizer family (run_acener.py:124-162) ---
    tokenizer_family: str = "bert"       # "bert" (wordpiece ##) | "roberta"
                                         # (prefix-space Ġ + P2 punctuation
                                         # classifier — different alignment)
    # --- model selection (reference MODEL_CLASSES, run_acener.py:75-87) ---
    model: str = "surrogate"             # "surrogate" (gazetteer heads) |
                                         # "packed_linear" (seeded linear heads
                                         # consuming the K5 assembled tensors,
                                         # models.py) | "hf" (real checkpoint
                                         # weights loaded torch-free from
                                         # checkpoint_dir via the stdlib
                                         # safetensors reader + NumpyBertEncoder)
    checkpoint_dir: str | None = None    # model="hf": base dir holding ner/
                                         # and re/ checkpoint subdirs
                                         # (reference layout,
                                         # run_acener.py:430-456)
    att_left: bool = False               # K6 group-attention variants
    att_right: bool = False              # (run_re.py:420-424): start/end
                                         # marker blocks attend within the
                                         # packed group — the reference's
                                         # packing-dependence ablation
    use_full_layer: int = -1             # switch the encoder to the 1-D full
                                         # attention mask at this layer
                                         # (modeling_bert.py:386-412;
                                         # run_acener.py:394-400); -1 = packed
                                         # 2D mask at every layer. Tensor
                                         # models only.
    ner_feature: str = "marker_text4"    # I3 head ablations (packed_linear
                                         # only; run_acener.py:75-87):
                                         # "marker_text4" (BertForSpanMarkerNER)
                                         # | "span2" (BertForSpanNER)
                                         # | "marker2" (marker-only)
    # --- engine knobs (no reference equivalent) ---
    segment_turns: int = 0               # >0: segmented window assembly for
                                         # unbounded conversations (exact; see
                                         # spanpack.spanpack_ner_segmented)
    assemble_tensors: bool = False       # build K5 marker tensors inside the inference
                                         # UDF (parity demo; surrogate does not need them)

    def needs_spliced_tokens(self) -> bool:
        """Whether RE packing must carry the marker-spliced token stream
        (tensor-consuming heads and the K5 parity path need it; the
        surrogate reads surfaces only)."""
        return self.assemble_tensors or self.use_typemarker or self.model != "surrogate"

    def budget_ner(self) -> int:
        """Subword budget for NER context windows (run_acener.py:151)."""
        return self.max_seq_length_ner - 2

    def budget_re(self) -> int:
        """Subword budget for RE context windows; -4 reserves the two solid
        subject-marker tokens plus CLS/SEP (run_re.py:165)."""
        return self.max_seq_length_re - 4

    def budget_lev(self) -> int:
        """C4 levitated-pair window budget: no solid markers in the stream,
        only CLS/SEP are reserved (run_levitatedpair.py:161)."""
        return self.max_seq_length_re - 2


DEFAULT_CONFIG = PipelineConfig()

# Small config used by unit tests so context truncation paths are exercised.
TEST_CONFIG = PipelineConfig(
    max_seq_length_ner=64,
    max_seq_length_re=64,
    max_pair_length_ner=16,
    max_pair_length_re=4,
)
