"""Resume test (SURVEY.md §5): kill after stage k, rerun, byte-identical
final tables; plus manifest/lineage records."""

import json
import shutil

from pl_marker_spark import synth
from pl_marker_spark.checkpoint import CheckpointStore
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.pipeline.runner import run_extraction


def _triples_set(df):
    return {
        (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred, round(r.score, 9))
        for r in df.collect()
    }


def test_resume_idempotent(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt"))
    transcripts = synth.transcripts_df(spark, 6)

    store = CheckpointStore(spark, base, run_id="r1")
    out1 = run_extraction(spark, transcripts, DEFAULT_CONFIG, store)
    t1 = _triples_set(out1["triples"])

    # simulate failure after the NER stage: wipe everything downstream
    for stage in ("packed_re", "pair_scores", "triples_raw", "triples",
                  "mentions_refined"):
        shutil.rmtree(f"{base}/{stage}", ignore_errors=True)

    store2 = CheckpointStore(spark, base, run_id="r2")
    out2 = run_extraction(spark, transcripts, DEFAULT_CONFIG, store2)
    t2 = _triples_set(out2["triples"])
    assert t1 == t2

    # upstream stages were resumed, not recomputed
    resumed = {e["stage"] for e in store2.events if e["resumed"]}
    assert {"turns_tok", "packed_ner", "span_scores", "mentions"} <= resumed
    recomputed = {e["stage"] for e in store2.events if not e["resumed"]}
    assert "triples" in recomputed and "packed_re" in recomputed

    # manifest + lineage exist
    with open(f"{base}/_manifest.jsonl") as f:
        lines = [json.loads(l) for l in f]
    assert any(l["stage"] == "triples" and l["rows"] is not None for l in lines)
    with open(f"{base}/_lineage/triples.json") as f:
        lineage = json.load(f)
    assert len(lineage["partitions"]) >= 1
    assert lineage["rows"] == len(t1)


def test_fingerprint_gates_resume(spark, tmp_path):
    """A checkpoint written under one (config, input) fingerprint must NOT be
    resumed under another — changed config recomputes instead of silently
    reusing stale outputs (round-1 ADVICE, medium)."""
    from dataclasses import replace as _replace

    from pl_marker_spark.checkpoint import run_fingerprint

    base = str(tmp_path / "ck_fp")
    transcripts = synth.transcripts_df(spark, 4)

    fp1 = run_fingerprint(DEFAULT_CONFIG, "synthetic:4")
    store1 = CheckpointStore(spark, base, run_id="a", fingerprint=fp1)
    run_extraction(spark, transcripts, DEFAULT_CONFIG, store1)

    # same config + input -> full resume
    store2 = CheckpointStore(spark, base, run_id="b", fingerprint=fp1)
    run_extraction(spark, transcripts, DEFAULT_CONFIG, store2)
    assert all(e["resumed"] for e in store2.events)

    # changed config -> different fingerprint -> nothing resumed
    cfg3 = _replace(DEFAULT_CONFIG, max_seq_length_re=128)
    fp3 = run_fingerprint(cfg3, "synthetic:4")
    assert fp3 != fp1
    store3 = CheckpointStore(spark, base, run_id="c", fingerprint=fp3)
    run_extraction(spark, transcripts, cfg3, store3)
    assert not any(e["resumed"] for e in store3.events)


def test_iceberg_branch_mocked(tmp_path):
    """The Iceberg table_format branch (no runtime shipped in this sandbox)
    exercised against a mocked session: writeTo/createOrReplace on first
    build, table-existence resume on the second, snapshot-expiry SQL
    (round-2 VERDICT item #10 — the branch must not be dead code)."""
    import json
    from unittest.mock import MagicMock

    import pytest

    from pl_marker_spark.checkpoint import CheckpointStore

    spark = MagicMock(name="spark")
    spark.catalog.tableExists.return_value = False
    built_df = MagicMock(name="built_df")
    read_back = MagicMock(name="read_back")
    read_back.count.return_value = 42
    spark.read.table.return_value = read_back

    store = CheckpointStore(spark, str(tmp_path), run_id="ice",
                            table_format="iceberg", catalog_ns="ice.kg")
    builds = []

    def build():
        builds.append(1)
        return built_df

    out = store.stage("turns_tok", build)
    assert out is read_back and builds == [1]
    built_df.writeTo.assert_called_once_with("ice.kg.turns_tok")
    built_df.writeTo.return_value.createOrReplace.assert_called_once_with()
    spark.read.table.assert_called_with("ice.kg.turns_tok")

    # resume: table exists -> build not called again
    spark.catalog.tableExists.return_value = True
    out2 = store.stage("turns_tok", build)
    assert out2 is read_back and builds == [1]
    events = [json.loads(l) for l in
              (tmp_path / "_manifest.jsonl").read_text().splitlines()]
    assert [e["resumed"] for e in events] == [False, True]
    assert events[0]["rows"] == 42

    # snapshot expiry = the checkpoint-rotation analog (S8)
    store.expire_snapshots("turns_tok", "2026-01-01 00:00:00")
    sql = spark.sql.call_args[0][0]
    assert "ice.system.expire_snapshots" in sql
    assert "ice.kg.turns_tok" in sql

    with pytest.raises(ValueError, match="catalog_ns"):
        CheckpointStore(spark, str(tmp_path), table_format="iceberg")


def test_bucketed_stage_resume_and_fallback(spark, tmp_path):
    """A bucket_by stage registers a session-catalog external table whose
    scan partitioning feeds downstream grouped maps without an Exchange;
    resume reads the table back; if the catalog forgot it (new session —
    no metastore here), resume falls back to a plain parquet read of the
    same files with identical rows."""
    from pl_marker_spark.checkpoint import CheckpointStore

    base = str(tmp_path / "ck")
    store = CheckpointStore(spark, base, fingerprint="fp1")
    df = spark.createDataFrame(
        [(f"c{i % 3}", i, i * 10) for i in range(30)],
        "conv_id string, turn_idx int, x int",
    )
    out = store.stage("tt", lambda: df, bucket_by=["conv_id"])
    rows = {tuple(r) for r in out.collect()}
    assert len(rows) == 30
    # grouped map over the bucketed scan plans without an Exchange
    plan = (out.groupBy("conv_id").agg({"x": "sum"})
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    # resume (same session): served from the catalog table
    resumed = store.stage("tt", lambda: (_ for _ in ()).throw(AssertionError))
    assert {tuple(r) for r in resumed.collect()} == rows
    # new-session analog: catalog forgot the table -> plain parquet fallback
    spark.sql(f"DROP TABLE IF EXISTS {store._bucket_table('tt')}")
    fallback = store.stage("tt", lambda: (_ for _ in ()).throw(AssertionError))
    assert {tuple(r) for r in fallback.collect()} == rows


def test_outputs_and_files_independent_of_shuffle_partitions(spark, tmp_path):
    """The production profile's outputs do not depend on
    spark.sql.shuffle.partitions, and the bucketed corpus stage and the
    extraction read from it are sized to the session's cores: one parquet
    file per core whatever the shuffle setting."""
    import os
    from dataclasses import replace

    from pl_marker_spark.pipeline.runner import run_full_pipeline

    cfg = replace(DEFAULT_CONFIG, ner_decode="fused", re_decode="grouped")
    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    results = []
    try:
        for parts in (1, 7):
            spark.conf.set(key, str(parts))
            base = str(tmp_path / f"sp{parts}")
            out = run_full_pipeline(spark, synth.transcripts_df(spark, 12), cfg,
                                    CheckpointStore(spark, base),
                                    granularity="coarse")
            results.append({name: sorted(tuple(r) for r in out[name].collect())
                            for name in ("triples", "nodes", "edges")})
            for stage in ("turns_tok", "extract"):
                files = [f for f in os.listdir(os.path.join(base, stage))
                         if f.endswith(".parquet")]
                assert len(files) == cores, (parts, stage, files)
    finally:
        spark.conf.set(key, saved)
    assert results[0]["triples"]
    assert results[0] == results[1]
