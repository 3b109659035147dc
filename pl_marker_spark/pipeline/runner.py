"""End-to-end pipeline driver: transcripts → … → triples (+ graph stages).

Stage graph (each node a checkpoint table, SURVEY.md §7):

    transcripts ─▶ turns_tok ─▶ packed_ner ─▶ span_scores ─▶ mentions
         │                                                      │
         └──────────────────────▶ packed_re ◀───────────────────┘
                                      │
                     pair_scores ─▶ triples_raw ─▶ triples / mentions_refined
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..checkpoint import CheckpointStore
from .assemble import assemble
from .ner import infer_ner, suppress_mentions
from .rel import (
    decode_unidirect,
    fuse_and_decode,
    infer_pairs,
    refine_types,
    suppress_triples,
)
from .repack import repack_re
from .spanpack import spanpack_ner


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    store: CheckpointStore | None = None,
    granularity: str = "fine",
) -> dict[str, DataFrame]:
    """Run transcripts → triples. With a CheckpointStore each stage is
    materialized + resumable; without one, the stages the coarse profile
    materializes are pinned in memory instead (eager ``localCheckpoint``;
    the refined-type map lazily, as with a store) and the rest stay lazy,
    so a store-less plan never evaluates a stage twice: each consumer of
    ``triples``, ``mentions`` or ``mentions_refined`` reads the pinned
    tables, not a re-run of the grouped-map kernels (the streaming sinks
    write two or more outputs of one micro-batch this way). A pinned stage
    the store would bucket by ``conv_id`` is read hash-partitioned into
    ``defaultParallelism`` parts, so its grouped maps run one task per
    core, as over the bucketed table. Pinning
    ``turns_tok`` on-heap was measured at ~2x e2e at 10^6 turns (below),
    so a one-shot run at that scale should pass a CheckpointStore.

    granularity (with a store): "fine" checkpoints every intermediate
    (best resume resolution, used by tests); "coarse" parquet-checkpoints
    only the north-rule-mandated stage boundaries (span-pack → packed_ner,
    NER → mentions, RE → triples; link/canonicalize are in build_graph),
    pins multi-consumer intermediates in memory, and leaves
    single-consumer stages lazy — the production/bench configuration
    (round-1 VERDICT item #3: every extra parquet barrier is serial
    driver floor).

    Coarse materialization choices and why:
    - turns_tok (parquet): consumed by span-pack, RE repack and graph
      surfaces — at 10^6-turn scale the words+subwords arrays are too big
      to pin on-heap (a localCheckpoint here cost ~2x e2e at 32 threads /
      8 GB heap via eviction+GC churn — measured, BENCH.md round 2);
    - pair_scores (parquet): fuse_and_decode self-joins it — left lazy,
      the RE inference UDF runs twice (once per join branch, and twice the
      whole upstream repack); parquet materializes inference exactly once
      and doubles as the resumable RE-scores stage;
    - triples_raw (memory): small (one row per kept pair) and consumed by
      both refine_types outputs."""
    fine = granularity == "fine"
    coarse_parquet = {"packed_ner", "mentions", "triples", "turns_tok",
                      "pair_scores", "extract"}
    coarse_mem = {"triples_raw"}

    def ck(name: str, build, bucket_by: list[str] | None = None):
        if store is not None and fine:
            return store.stage(name, build)
        if store is not None and name in coarse_parquet:
            # bucketed stage boundaries only in the production (coarse)
            # profile: every conversation-keyed consumer then reads the
            # scan's own partitioning instead of re-shuffling the stage
            return store.stage(name, build, bucket_by=bucket_by)
        if name in coarse_parquet or name in coarse_mem:
            df = build().localCheckpoint()
            if bucket_by:
                # the store-less twin of a bucketed stage: consumers keyed
                # on conv_id read one partition per core. A pinned table
                # does not carry its partitioning into their plans, and
                # AQE merges their own shuffle of a small batch into one
                # task; an explicit-count repartition it does not merge
                df = df.repartition(spark.sparkContext.defaultParallelism,
                                    *bucket_by)
            return df
        return build()

    turns_tok = ck("turns_tok",
                   lambda: assemble(transcripts, cfg.tokenizer_family),
                   bucket_by=["conv_id"])
    # fused NER profile: windowing+enumeration+scoring+suppression in one
    # conversation-local pass (ner.spanpack_decode_ner) — packed_ner never
    # materializes. Applies only where the fused kernel is exactly
    # equivalent AND profitable: surrogate head (tensor heads batch groups
    # across conversations), unsegmented, no reorder knobs (their seeded
    # draws are positional in the staged packing; equality holds anyway by
    # the invariance property, but keep the gate conservative).
    ner_fused = (
        cfg.ner_decode == "fused"
        and cfg.model == "surrogate"
        and not cfg.assemble_tensors
        and cfg.segment_turns == 0
        and not (cfg.shuffle or cfg.group_sort or cfg.group_edge)
    )
    re_grouped = (cfg.re_decode == "grouped" and not cfg.eval_unidirect
                  and not cfg.levitated_pairs)
    single_pass = ner_fused and re_grouped
    if single_pass:
        # terminal fusion of the production profile: mentions AND triples
        # from ONE pass over the (bucketed) corpus — each conversation's
        # mentions feed its RE decode in-process, so extraction reads the
        # token arrays exactly once and writes exactly one table
        # (extract_fused.extract_single_pass; equality-tested against the
        # staged chains in test_variants)
        from .extract_fused import extract_single_pass, split_extract

        packed_ner = span_scores = None
        # layout decision, MEASURED both ways (VERDICT r3 item #8): the
        # union table stays a plain parquet sink. partitionBy("kind")
        # looked better in isolation (filtered reads 1.25→0.68 s) but
        # loses ~3 s e2e at 20k convs in matched-ambient A/B (36.7 vs
        # 33.6 s; dynamic-partition commit + partition discovery on every
        # downstream re-read outweigh the pruning win at 2 partition
        # values). Two separate sinks are structurally out: one grouped
        # map emits one schema, so a second sink means a second pass over
        # the token arrays — the exact cost single-pass extraction
        # exists to avoid.
        ext = ck("extract", lambda: extract_single_pass(turns_tok, cfg))
        mentions, triples_raw = split_extract(ext)
    elif ner_fused:
        from .ner import spanpack_decode_ner

        packed_ner = span_scores = None
        # mentions inherits the bucketed scan's clustering (same hash, same
        # count), so the bucketed write adds no exchange — and the RE
        # cogroup downstream becomes exchange-free on BOTH sides
        mentions = ck("mentions",
                      lambda: spanpack_decode_ner(turns_tok, cfg),
                      bucket_by=["conv_id"])
    elif cfg.segment_turns > 0:
        from .repack import repack_re_segmented
        from .spanpack import spanpack_ner_segmented

        packed_ner = ck(
            "packed_ner",
            lambda: spanpack_ner_segmented(turns_tok, cfg, cfg.segment_turns),
        )
    else:
        packed_ner = ck("packed_ner", lambda: spanpack_ner(turns_tok, cfg))
    if not ner_fused:
        span_scores = ck("span_scores", lambda: infer_ner(packed_ner, cfg))
        mentions = ck("mentions", lambda: suppress_mentions(span_scores, cfg),
                      bucket_by=["conv_id"])
    if cfg.levitated_pairs:
        # C4 all-pairs levitated variant (run_levitatedpair.py:282-322):
        # forward-only decode, shared O6/O7 downstream; composes with
        # segmented windowing (repack_levitated_segmented)
        from .levpair import (
            decode_levitated,
            repack_levitated,
            repack_levitated_segmented,
        )

        if cfg.segment_turns > 0:
            packed_re = ck(
                "packed_re",
                lambda: repack_levitated_segmented(turns_tok, mentions, cfg,
                                                   cfg.segment_turns),
            )
        else:
            packed_re = ck("packed_re",
                           lambda: repack_levitated(turns_tok, mentions, cfg))
        pair_scores = ck("pair_scores", lambda: decode_levitated(packed_re, cfg))
        decoded = pair_scores
    elif single_pass:
        packed_re = pair_scores = None   # triples_raw already split above
    elif cfg.re_decode == "grouped" and not cfg.eval_unidirect:
        # production profile: packing + scoring + fusion + suppression in
        # one conversation-local cogroup — the scored-pair table never
        # shuffles (repack.repack_decode_re; segment-local for unbounded
        # conversations via repack_decode_re_segmented)
        from .repack import repack_decode_re, repack_decode_re_segmented

        packed_re = pair_scores = None
        if cfg.segment_turns > 0:
            triples_raw = ck(
                "triples_raw",
                lambda: repack_decode_re_segmented(turns_tok, mentions, cfg,
                                                   cfg.segment_turns),
            )
        else:
            triples_raw = ck(
                "triples_raw", lambda: repack_decode_re(turns_tok, mentions, cfg),
            )
    else:
        if cfg.segment_turns > 0:
            packed_re = ck(
                "packed_re",
                lambda: repack_re_segmented(turns_tok, mentions, cfg, cfg.segment_turns),
            )
        else:
            packed_re = ck("packed_re", lambda: repack_re(turns_tok, mentions, cfg))
        pair_scores = ck("pair_scores", lambda: infer_pairs(packed_re, cfg))
        decoded = (
            decode_unidirect(pair_scores, mentions)
            if cfg.eval_unidirect
            else fuse_and_decode(pair_scores)
        )
    if not (cfg.re_decode == "grouped" and not cfg.eval_unidirect
            and not cfg.levitated_pairs):
        triples_raw = ck("triples_raw", lambda: suppress_triples(decoded))

    # one refine_types build: the shared refined-type map is pinned lazily
    # so the triples and mentions_refined outputs don't recompute it
    triples_df, refined_df = refine_types(
        triples_raw, mentions,
        materialize=lambda df: df.localCheckpoint(eager=False),
    )
    triples = ck("triples", lambda: triples_df)
    mentions_refined = ck("mentions_refined", lambda: refined_df)
    return {
        "turns_tok": turns_tok,
        "packed_ner": packed_ner,
        "span_scores": span_scores,
        "mentions": mentions,
        "packed_re": packed_re,
        "pair_scores": pair_scores,
        "triples_raw": triples_raw,
        "triples": triples,
        "mentions_refined": mentions_refined,
    }


def run_full_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    store: CheckpointStore | None = None,
    granularity: str = "fine",
) -> dict[str, DataFrame]:
    """Extraction + entity linking + canonicalization + graph materialize."""
    from .graph import build_graph, pin

    out = run_extraction(spark, transcripts, cfg, store, granularity)
    if store is None:
        ck = None
    elif granularity == "fine":
        ck = store.stage
    else:
        # coarse: persist intermediates in memory, checkpoint only the
        # link / canonicalize / graph stage boundaries
        coarse_names = {"sim_edges", "entity_assign", "nodes", "edges"}

        def ck(name, build):
            if name in coarse_names:
                return store.stage(name, build)
            return pin(build())

    g = build_graph(out["mentions_refined"], out["triples"], out["turns_tok"], ck=ck)
    out.update(g)
    return out


def run_with_eval(
    spark: SparkSession,
    transcripts: DataFrame,
    gold_mentions: DataFrame,
    gold_relations: DataFrame,
    cfg: PipelineConfig,
    store: CheckpointStore | None = None,
    granularity: str = "fine",
) -> dict[str, DataFrame]:
    """Full pipeline + the reference's eval (O8-O11) into a ``metrics``
    checkpoint table — the engine equivalent of results.json (S7)."""
    from .scoring import metrics_table, ner_metrics, re_metrics

    out = run_full_pipeline(spark, transcripts, cfg, store, granularity)

    def build_metrics():
        rows = ner_metrics(out["mentions"], out["span_scores"], gold_mentions)
        rows.update(re_metrics(out["triples"], gold_relations, gold_mentions))
        rows["n_triples"] = float(out["triples"].count())
        rows["n_mentions"] = float(out["mentions"].count())
        rows["n_nodes"] = float(out["nodes"].count())
        rows["n_edges"] = float(out["edges"].count())
        return metrics_table(spark, rows, stage="eval")

    if store is not None:
        out["metrics"] = store.stage("metrics", build_metrics)
    else:
        out["metrics"] = build_metrics()
    return out
