"""Config-variant parity: group_edge packing invariance, typed markers,
unidirectional-eval ablation vs the oracle, and plan-quality checks."""

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from pl_marker_spark import synth
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.kernels import build_conv_index, context_window, subject_instances
from pl_marker_spark.oracle_ref import run_oracle
from pl_marker_spark.pipeline.runner import run_extraction

N = 12


def _triple_set(df):
    return {
        (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
         round(r.score, 9), r.subj_type, r.obj_type)
        for r in df.collect()
    }


def test_group_edge_packing_is_result_invariant(spark):
    """K2 edge-aware grouping changes batching, never results
    (packing only amortizes encoder calls — SURVEY.md §2.4)."""
    t = synth.transcripts_df(spark, N)
    base = run_extraction(spark, t, DEFAULT_CONFIG)
    edge_cfg = replace(DEFAULT_CONFIG, group_edge=True, group_axis=0)
    edged = run_extraction(spark, t, edge_cfg)
    assert _triple_set(base["triples"]) == _triple_set(edged["triples"])


def test_fused_ner_decode_matches_staged(spark):
    """The fused NER production profile (windowing+scoring+suppression in
    one conversation-local pass, no packed_ner materialization) is
    triple- and mention-identical to the staged oracle-gated reference."""
    t = synth.transcripts_df(spark, N)
    staged = run_extraction(spark, t, replace(DEFAULT_CONFIG,
                                              re_decode="grouped"))
    fused = run_extraction(spark, t, replace(DEFAULT_CONFIG,
                                             re_decode="grouped",
                                             ner_decode="fused"))
    m = lambda df: {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label, round(r.score, 9))
        for r in df.collect()
    }
    assert m(staged["mentions"]) == m(fused["mentions"])
    assert _triple_set(staged["triples"]) == _triple_set(fused["triples"])


def test_fused_ner_relational_re_matches_staged(spark):
    """ner_decode="fused" + re_decode="relational" — the CLI-default
    combination routes through ner.spanpack_decode_ner (NOT the
    single-pass extractor), so this gates the spanpack_decode_ner
    consumer of the shared iter_fused_ner_conv kernel directly
    (round-3 ADVICE item #1: both drains of the shared generator are
    equality-tested)."""
    t = synth.transcripts_df(spark, N)
    staged = run_extraction(spark, t, DEFAULT_CONFIG)
    fused_rel = run_extraction(spark, t, replace(DEFAULT_CONFIG,
                                                 ner_decode="fused"))
    m = lambda df: {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label, round(r.score, 9))
        for r in df.collect()
    }
    assert m(staged["mentions"]) == m(fused_rel["mentions"])
    assert _triple_set(staged["triples"]) == _triple_set(fused_rel["triples"])


def test_randomized_packing_is_result_invariant(spark):
    """The reference's seeded shuffle + group_sort train-time packing
    knobs (run_acener.py:266-292) also change batching only: the mention
    and triple sets are identical to the default deterministic packing."""
    t = synth.transcripts_df(spark, N)
    base = run_extraction(spark, t, DEFAULT_CONFIG)
    rnd_cfg = replace(DEFAULT_CONFIG, shuffle=True, group_sort=True)
    rnd = run_extraction(spark, t, rnd_cfg)
    assert _triple_set(base["triples"]) == _triple_set(rnd["triples"])


def test_unidirect_matches_oracle(spark):
    cfg = replace(DEFAULT_CONFIG, eval_unidirect=True)
    corpus = synth.local_corpus(N)
    want = {
        (c, t, s1, e1, s2, e2, p, round(sc, 9), n1, n2)
        for c, t, s1, e1, s2, e2, p, sc, n1, n2
        in run_oracle(corpus[0], cfg)["triples"]
    }
    got = _triple_set(
        run_extraction(spark, synth.transcripts_df(spark, N), cfg)["triples"]
    )
    assert got == want
    assert len(got) > 10


def test_typed_markers():
    cfg = replace(DEFAULT_CONFIG, use_typemarker=True, max_pair_length_re=4)
    idx = build_conv_index([["Alice", "met", "Bob"]])
    win = context_window(idx, 0, cfg.budget_re(), truncate=True)
    insts = subject_instances(idx, 0, win, [(0, 0, "PER"), (2, 2, "ORG")], cfg)
    # PER index 7 -> [unused9]/[unused17]; ORG index 6 -> [unused8]/[unused16]
    assert "[unused9]" in insts[0].tokens and "[unused17]" in insts[0].tokens
    assert "[unused8]" in insts[1].tokens and "[unused16]" in insts[1].tokens


def test_scan_pruning_reaches_parquet(spark):
    """Column pruning must reach the file scan: a 2-column projection over
    documents reads only those columns (ReadSchema), and a doc_id filter is
    pushed (PushedFilters) — the §4 'what Catalyst gives us' contract."""
    from pl_marker_spark import queries_catalog

    df = queries_catalog.q_c1_span_enum(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 10").select("doc_id", "n_chars")
    )
    plan2 = d._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan2
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan2


def test_assemble_tensors_path_runs(spark):
    """The K5 tensor-assembly parity path must flow end-to-end (both NER
    and RE variants) without changing results."""
    from dataclasses import replace as _replace

    t = synth.transcripts_df(spark, 4)
    cfg = _replace(DEFAULT_CONFIG, assemble_tensors=True)
    out = run_extraction(spark, t, cfg)
    base = run_extraction(spark, t, DEFAULT_CONFIG)
    assert _triple_set(out["triples"]) == _triple_set(base["triples"])


def test_orientation_co_survival():
    """The RE orientation-pairing invariant (run_re.py:809): for every packed
    (subject, object) pair the reverse pair is packed too — searched over
    mention layouts pressed against the sequence budget (the geometry where
    a one-direction drop could occur if the +1/+2 marker arithmetic and the
    sub_e/right cut disagreed). fuse_and_decode asserts this at runtime;
    here we verify the kernel actually guarantees it."""
    import itertools
    import random

    from pl_marker_spark.kernels import build_conv_index, context_window, subject_instances
    from pl_marker_spark.config import PipelineConfig

    rng = random.Random(7)
    for trial in range(200):
        n_words = rng.randint(6, 20)
        words = [rng.choice(["alpha", "bo", "cedar", "dim"]) for _ in range(n_words)]
        idx = build_conv_index([words])
        # max_seq chosen to land the cut inside the sentence
        max_seq = rng.randint(8, len(idx.subwords) + 6)
        cfg = PipelineConfig(max_seq_length_re=max_seq, max_pair_length_re=4)
        win = context_window(idx, 0, cfg.budget_re(), truncate=True)
        mentions = []
        for _ in range(rng.randint(2, 5)):
            s = rng.randrange(n_words)
            e = min(n_words - 1, s + rng.randint(0, 3))
            mentions.append((s, e, "PER"))
        mentions = sorted(set(mentions))
        inst = subject_instances(idx, 0, win, mentions, cfg)
        packed = set()
        for si in inst:
            for (_l, _r, _lab, ows, owe) in si.objects:
                packed.add((si.sub_word, (ows, owe)))
        for (a, b) in packed:
            if a != b:
                assert (b, a) in packed, (trial, a, b, max_seq, mentions)


def test_cc_nonconvergence_warns(spark):
    import warnings

    from pl_marker_spark.pipeline.cc import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(edges, max_iter=0, local_threshold=0).collect()
    assert any("under-merged" in str(x.message) for x in w)


def test_levitated_pair_variant_matches_oracle(spark):
    """C4 all-pairs levitated variant (run_levitatedpair.py:282-322):
    pipeline == oracle triple-for-triple, and the no-fusion semantics are
    visible — a relation scored only in the reverse orientation is NOT
    predicted (the default fused path recovers it via the inverse block)."""
    from dataclasses import replace as _replace

    from pl_marker_spark.oracle_ref import run_oracle

    cfg = _replace(DEFAULT_CONFIG, levitated_pairs=True)
    t = synth.transcripts_df(spark, 8)
    out = run_extraction(spark, t, cfg)
    got = {
        (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
         round(r.score, 9), r.subj_type, r.obj_type)
        for r in out["triples"].collect()
    }
    o = run_oracle(synth.local_corpus(8)[0], cfg)
    want = {
        (c, t_, s1, e1, s2, e2, p, round(sc, 9), n1, n2)
        for c, t_, s1, e1, s2, e2, p, sc, n1, n2 in o["triples"]
    }
    assert got == want
    assert len(got) > 5


def test_levitated_pair_hand_oracle(spark):
    """Hand-computed C4 check on one planted turn: the forward pair yields
    exactly one forward-direction triple; the same text through the default
    fused path yields the same relation; and a planted *reverse-only*
    ordering still yields the forward triple under fusion but under C4 only
    when the forward orientation is textually present."""
    from dataclasses import replace as _replace

    from pl_marker_spark.world import REL_TABLE

    (a, b), label = sorted(REL_TABLE.items())[0]
    text = f"intro {a} middle {b} tail ."
    rows = [("cX", 0, "user", text, None, 1735689600)]
    t = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cfg = _replace(DEFAULT_CONFIG, levitated_pairs=True)
    got = [
        (r.pred, r.s1, r.e1, r.s2, r.e2)
        for r in run_extraction(spark, t, cfg)["triples"].collect()
    ]
    a_len = len(a.split())
    s1 = 1
    e1 = s1 + a_len - 1
    s2 = e1 + 2
    e2 = s2 + len(b.split()) - 1
    assert got == [(label, s1, e1, s2, e2)]


def test_grouped_decode_matches_relational_and_oracle(spark):
    """re_decode="grouped" (conversation-local fuse+suppress, the production
    profile) == the relational self-join path == the oracle, triple for
    triple — including scores."""
    t = synth.transcripts_df(spark, 10)

    def tset(out):
        return {
            (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
             round(r.score, 9), r.subj_type, r.obj_type)
            for r in out["triples"].collect()
        }

    rel_out = tset(run_extraction(spark, t, DEFAULT_CONFIG))
    grp_out = tset(run_extraction(
        spark, t, replace(DEFAULT_CONFIG, re_decode="grouped")))
    o = run_oracle(synth.local_corpus(10)[0], DEFAULT_CONFIG)
    want = {
        (c, t_, s1, e1, s2, e2, p, round(sc, 9), n1, n2)
        for c, t_, s1, e1, s2, e2, p, sc, n1, n2 in o["triples"]
    }
    assert grp_out == rel_out == want
    assert len(grp_out) > 20


def test_grouped_decode_tensor_head(spark):
    """Grouped decode composes with the tensor-consuming head."""
    t = synth.transcripts_df(spark, 3, max_words=14)
    cfg_rel = replace(DEFAULT_CONFIG, model="packed_linear")
    cfg_grp = replace(cfg_rel, re_decode="grouped")

    def tset(out):
        return {
            (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
             round(r.score, 9))
            for r in out["triples"].collect()
        }

    assert tset(run_extraction(spark, t, cfg_grp)) == \
        tset(run_extraction(spark, t, cfg_rel))


def test_storeless_extraction_runs_its_grouped_map_once(spark):
    """Without a CheckpointStore, run_extraction pins the stages the coarse
    profile materializes, so consumers of its outputs read pinned tables:
    on the production profile (single-pass fused NER + grouped RE) neither
    ``triples`` nor ``mentions_refined`` re-runs the single-pass grouped
    map. Left lazy, each output's plan held it twice, so every write of
    an output re-ran extraction twice. The grouped map itself runs one
    task per core, as over the store's bucketed ``turns_tok``: AQE would
    merge its shuffle of a small batch into one partition."""
    cfg = replace(DEFAULT_CONFIG, ner_decode="fused", re_decode="grouped")
    out = run_extraction(spark, synth.transcripts_df(spark, 4), cfg)
    for name in ("triples", "mentions_refined"):
        plan = out[name]._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, name
    assert out["triples"].count() > 0
    # ``mentions`` filters the pinned extract table: one partition per task
    assert (out["mentions"].rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
