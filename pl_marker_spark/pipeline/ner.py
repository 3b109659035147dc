"""Stage 3 — NER inference + decode + suppression.

- I1/I6: the packed-head forward + softmax/argmax decode
  (reference modeling_bert.py:3213-3281, run_acener.py:661-692) as a
  shuffle-free ``mapInPandas`` over packed groups; the surrogate model reads
  the span surfaces out of each group's context window exactly where the
  reference head reads marker/endpoint hidden states.
- O1: NIL filtering happens at emit time (run_acener.py:691).
- O3: greedy non-overlap suppression per (conv_id, turn_idx) as a grouped
  map (run_acener.py:699-731) — inherently sequential but sentence-local;
  score-desc order with (start, end) tiebreak is order-equivalent to the
  reference's stable sort because surrogate scores are tie-free.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import PipelineConfig
from ..surrogate import ner_fast_scores
from ..world import NER_LABELS, score_key6

SPAN_SCORES_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, label string, score double"
)
MENTIONS_SCHEMA = SPAN_SCORES_SCHEMA


def make_infer_fn(cfg: PipelineConfig):
    tensor_head = cfg.model in ("packed_linear", "hf")
    family = cfg.tokenizer_family
    maxlen = cfg.max_mention_ori_length
    dL = cfg.max_pair_length_ner

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import reconstruct_spans
        from ..surrogate import window_word_bounds

        for pdf in batches:
            out_conv, out_turn = [], []
            out_s, out_e, out_lab, out_score = [], [], [], []
            # column-array access instead of itertuples: no per-row
            # namedtuple construction on the hot path
            c_conv = pdf["conv_id"].to_numpy()
            c_turn = pdf["turn_idx"].to_numpy()
            c_win = pdf["window"].to_numpy()
            c_gid = pdf["group_id"].to_numpy()
            c_ws = pdf["win_s"].to_numpy(); c_we = pdf["win_e"].to_numpy()
            c_wds = pdf["word_s"].to_numpy(); c_wde = pdf["word_e"].to_numpy()
            c_soff = pdf["sent_off"].to_numpy()
            c_nw = pdf["n_words"].to_numpy()
            c_woff = pdf["word_off"].to_numpy()
            windows, spans_list, word_coords = [], [], []
            for r in range(len(pdf)):
                window = c_win[r].split(" ")
                bounds = window_word_bounds(window, family)
                if c_ws[r] is None:
                    # slim row: rebuild this group's exhaustive C1 slice
                    # from the window's own word boundaries (numpy batch)
                    lo_f, hi_f, ws_f, we_f = reconstruct_spans(
                        np.asarray(bounds[1]), np.asarray(bounds[2]),
                        int(c_soff[r]), int(c_nw[r]), int(c_woff[r]), maxlen)
                    g0 = int(c_gid[r]) * dL
                    los = lo_f[g0 : g0 + dL]; his = hi_f[g0 : g0 + dL]
                    wds = ws_f[g0 : g0 + dL]; wde = we_f[g0 : g0 + dL]
                else:
                    los, his = c_ws[r], c_we[r]
                    wds, wde = np.asarray(c_wds[r]), np.asarray(c_wde[r])
                if tensor_head or cfg.assemble_tensors:
                    # I1/I5/K5: defer to ONE chunked batch assembly + head
                    # call per Arrow batch (models.ner_logits_grouped) —
                    # no per-row mask allocation
                    windows.append(window)
                    spans_list.append(
                        list(zip((int(x) for x in los), (int(x) for x in his))))
                    word_coords.append((r, wds, wde))
                    if tensor_head:
                        continue
                # fast exact scorer: one gazetteer scan per window instead
                # of O(spans) surface joins (see surrogate.ner_fast_scores
                # for the bit-identity argument)
                kept, probs, preds = ner_fast_scores(
                    window, los, his, family, bounds=bounds)
                k = len(kept)
                if k == 0:
                    continue
                out_conv.extend([c_conv[r]] * k)
                out_turn.extend([c_turn[r]] * k)
                out_s.extend(wds[kept].tolist())
                out_e.extend(wde[kept].tolist())
                out_lab.extend(NER_LABELS[p] for p in preds)
                out_score.extend(probs.tolist())
            if windows and tensor_head:
                from ..models import get_hf_adapter, ner_logits_grouped
                from ..surrogate import ner_decode

                adapter = (get_hf_adapter(cfg.checkpoint_dir, "ner",
                                          cfg.use_full_layer)
                           if cfg.model == "hf" else None)
                logit_list = ner_logits_grouped(
                    windows, spans_list, cfg.max_seq_length_ner,
                    cfg.max_pair_length_ner, cfg.ner_feature,
                    adapter=adapter, use_full_layer=cfg.use_full_layer)
                for (r, wds, wde), logits in zip(word_coords, logit_list):
                    probs, preds = ner_decode(logits)
                    kept = np.flatnonzero(preds != 0)  # O1 NIL filter at emit
                    if len(kept) == 0:
                        continue
                    probs, preds = probs[kept], preds[kept]
                    out_conv.extend([c_conv[r]] * len(kept))
                    out_turn.extend([c_turn[r]] * len(kept))
                    out_s.extend(np.asarray(wds)[kept].tolist())
                    out_e.extend(np.asarray(wde)[kept].tolist())
                    out_lab.extend(NER_LABELS[p] for p in preds)
                    out_score.extend(probs.tolist())
            elif windows:
                # K5 parity path (assemble_tensors without a tensor head):
                # build the packed marker tensors the real encoder would
                # consume, batched
                from ..kernels import assemble_ner_tensors_batch
                from ..models import GROUP_CHUNK

                for s0 in range(0, len(windows), GROUP_CHUNK):
                    assemble_ner_tensors_batch(
                        windows[s0 : s0 + GROUP_CHUNK],
                        spans_list[s0 : s0 + GROUP_CHUNK],
                        cfg.max_seq_length_ner, cfg.max_pair_length_ner)
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(out_conv, dtype="object"),
                    "turn_idx": pd.Series(out_turn, dtype="int32"),
                    "start": pd.Series(out_s, dtype="int32"),
                    "end": pd.Series(out_e, dtype="int32"),
                    "label": pd.Series(out_lab, dtype="object"),
                    "score": pd.Series(out_score, dtype="float64"),
                }
            )

    return infer


def infer_ner(packed_ner: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """packed groups -> raw NIL-filtered span scores (pre-suppression)."""
    return packed_ner.mapInPandas(make_infer_fn(cfg), schema=SPAN_SCORES_SCHEMA)


def iter_fused_ner_conv(idx, turn_ids, family: str, maxlen: int,
                        overlap_any: bool):
    """The fused-NER conversation kernel, shared verbatim by
    ``spanpack_decode_ner`` (staged-free NER profile) and
    ``extract_fused.extract_single_pass`` (single-pass extraction) so the
    two routes cannot diverge (round-3 ADVICE item #1).

    One conversation-level word scan + one gazetteer match pass
    (surrogate.conv_word_index / conv_gazetteer_matches) replace the
    ~9×-overlapping per-window scans of the staged path; windows are never
    assembled — C1 spans are per-sentence and the surrogate scores
    surfaces, never context. Per turn: C1 reconstruction, surrogate
    scoring (O1 NIL filter via the gazetteer), then O3 greedy suppression
    in the (score desc, start asc, end asc) total order — order-equivalent
    to suppress_mentions because a span enumerates once per turn, so
    scores are tie-free within a turn.

    Yields ``(sent_ord, turn_idx, start, end, label_idx, prob)`` in final
    suppressed order per turn.
    """
    from ..kernels import reconstruct_spans
    from ..surrogate import (
        conv_gazetteer_matches,
        conv_word_index,
        ner_decode,
        ner_logits_for_surfaces,
    )

    words_c, first_c, last_c = conv_word_index(idx.subwords, family)
    matches = conv_gazetteer_matches(words_c, first_c, last_c)
    if not matches:
        return
    for n in range(len(turn_ids)):
        nw = int(idx.sent_word_bounds[n + 1] - idx.sent_word_bounds[n])
        if nw == 0:
            continue
        sent_off = int(idx.sent_subword_bounds[n])
        word_off = int(idx.sent_word_bounds[n])
        los, his, wds, wde = reconstruct_spans(
            first_c, last_c, sent_off, nw, word_off, maxlen)
        if len(los) == 0:
            continue
        kept, surfaces = [], []
        for j in range(len(los)):
            s = matches.get((int(los[j]), int(his[j])))
            if s is not None:
                kept.append(j)
                surfaces.append(s)
        if not kept:
            continue
        kept = np.asarray(kept, dtype=np.int64)
        probs, preds = ner_decode(ner_logits_for_surfaces(surfaces))
        s_k = wds[kept]
        e_k = wde[kept]
        order = np.lexsort((e_k, s_k, -score_key6(probs)))
        ks: list[int] = []
        ke: list[int] = []
        kl: list[int] = []
        tid = int(turn_ids[n])
        for o in order:
            si = int(s_k[o]); ei = int(e_k[o]); li = int(preds[o])
            clash = False
            for j in range(len(ks)):
                if si <= ke[j] and ks[j] <= ei and (
                        overlap_any or li == kl[j]):
                    clash = True
                    break
            if clash:
                continue
            ks.append(si); ke.append(ei); kl.append(li)
            yield n, tid, si, ei, li, float(probs[o])


def spanpack_decode_ner(turns_tok: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Fused NER production profile (``ner_decode="fused"``): C1
    enumeration + surrogate scoring (O1 NIL filter) + O3 per-turn
    suppression in ONE conversation-local grouped map — the packed_ner
    table never materializes, so no window strings ride a shuffle or a
    parquet round-trip. Windows are never even assembled: C1 spans are
    per-sentence and the surrogate scores surfaces, not context, so one
    conversation-level word scan + gazetteer pass
    (surrogate.conv_word_index / conv_gazetteer_matches) replaces the
    ~9×-overlapping per-window scans of the staged path. The NER twin of
    ``repack.repack_decode_re``; the staged spanpack_ner → infer_ner →
    suppress_mentions chain remains the oracle-gated semantic reference
    and the fused output is equality-tested against it (test_variants).

    Surrogate head only: the packed_linear tensor head batches packed
    groups ACROSS conversations in the staged path (models.GROUP_CHUNK),
    which a per-conversation kernel would undo — the runner routes tensor
    models (and candidate-restricted / reorder-knob configs) to the
    staged path."""
    maxlen = cfg.max_mention_ori_length
    family = cfg.tokenizer_family
    overlap_any = cfg.overlap_any

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from .spanpack import _conv_index_from_rows

        cols = {
            "conv_id": pd.Series([], dtype="object"),
            "turn_idx": pd.Series([], dtype="int32"),
            "start": pd.Series([], dtype="int32"),
            "end": pd.Series([], dtype="int32"),
            "label": pd.Series([], dtype="object"),
            "score": pd.Series([], dtype="float64"),
        }
        if pdf.empty:
            return pd.DataFrame(cols)
        pdf, idx = _conv_index_from_rows(pdf)
        cid = pdf["conv_id"].iloc[0]
        turn_ids = pdf["turn_idx"].to_numpy()
        out_conv, out_turn = [], []
        out_s, out_e, out_lab, out_score = [], [], [], []
        for _n, tid, si, ei, li, prob in iter_fused_ner_conv(
                idx, turn_ids, family, maxlen, overlap_any):
            out_conv.append(cid)
            out_turn.append(tid)
            out_s.append(si)
            out_e.append(ei)
            out_lab.append(NER_LABELS[li])
            out_score.append(prob)
        return pd.DataFrame(
            {
                "conv_id": pd.Series(out_conv, dtype="object"),
                "turn_idx": pd.Series(out_turn, dtype="int32"),
                "start": pd.Series(out_s, dtype="int32"),
                "end": pd.Series(out_e, dtype="int32"),
                "label": pd.Series(out_lab, dtype="object"),
                "score": pd.Series(out_score, dtype="float64"),
            }
        )

    pruned = turns_tok.select("conv_id", "turn_idx", "subwords", "sw_counts")
    return pruned.groupBy("conv_id").applyInPandas(run, schema=MENTIONS_SCHEMA)


def _overlap_mat(s: np.ndarray, e: np.ndarray) -> np.ndarray:
    """Pairwise span-overlap matrix (is_overlap, run_acener.py:708-713)."""
    return (s[:, None] <= e[None, :]) & (s[None, :] <= e[:, None])


def make_suppress_fn(cfg: PipelineConfig):
    overlap_any = cfg.overlap_any

    def suppress(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = (pdf.assign(_sk=score_key6(pdf["score"].to_numpy()))
               .sort_values(["_sk", "start", "end"],
                            ascending=[False, True, True])
               .drop(columns="_sk").reset_index(drop=True))
        s = pdf["start"].to_numpy()
        e = pdf["end"].to_numpy()
        lab = pdf["label"].to_numpy()
        ov = _overlap_mat(s, e)
        keep_idx: list[int] = []
        for i in range(len(pdf)):
            clash = False
            for j in keep_idx:
                if ov[i, j] and (overlap_any or lab[i] == lab[j]):
                    clash = True
                    break
            if not clash:
                keep_idx.append(i)
        return pdf.iloc[keep_idx]

    return suppress


def make_suppress_batch_fn(cfg: PipelineConfig):
    """Batch form of O3: one vectorized sort over the whole Arrow batch,
    then a single flat pass with group resets — no per-group pandas calls.
    Row-identical to make_suppress_fn applied per group (the per-group form
    stays as the property-test reference): the batch sort (keys asc, score
    desc, span asc) concatenates exactly the per-group sorted orders, and
    the greedy scan resets its kept-set at each key change."""
    overlap_any = cfg.overlap_any

    def suppress(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = (pdf.assign(_sk=score_key6(pdf["score"].to_numpy()))
               .sort_values(["conv_id", "turn_idx", "_sk", "start", "end"],
                            ascending=[True, True, False, True, True])
               .drop(columns="_sk").reset_index(drop=True))
        n = len(pdf)
        if n == 0:
            return pdf
        s = pdf["start"].to_numpy()
        e = pdf["end"].to_numpy()
        lab = pd.factorize(pdf["label"])[0]
        cid = pdf["conv_id"].to_numpy()
        tid = pdf["turn_idx"].to_numpy()
        new_group = np.ones(n, dtype=bool)
        new_group[1:] = (cid[1:] != cid[:-1]) | (tid[1:] != tid[:-1])
        keep = np.zeros(n, dtype=bool)
        ks: list[int] = []
        ke: list[int] = []
        kl: list[int] = []
        for i in range(n):
            if new_group[i]:
                ks.clear(); ke.clear(); kl.clear()
            si = s[i]; ei = e[i]; li = lab[i]
            clash = False
            for j in range(len(ks)):
                if si <= ke[j] and ks[j] <= ei and (overlap_any or li == kl[j]):
                    clash = True
                    break
            if not clash:
                keep[i] = True
                ks.append(si); ke.append(ei); kl.append(li)
        return pdf[keep]

    return suppress


def suppress_mentions(span_scores: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """O3 greedy suppression -> mentions table.

    Runs as a sorted-partition grouped map (grouped.sorted_grouped_map):
    one shuffle keyed by turn, one pandas call per Arrow
    batch, one flat numpy scan per batch — the per-(conv,turn) group count
    is huge and groups are tiny, so per-group pandas dispatch dominated the
    stage (round-2 measurement: ~10 s of a 13 s stage at sf0.1 was group
    dispatch; the batch kernel removes it)."""
    from ..grouped import sorted_grouped_map

    return sorted_grouped_map(
        span_scores, ["conv_id", "turn_idx"], make_suppress_batch_fn(cfg),
        MENTIONS_SCHEMA,
    )
