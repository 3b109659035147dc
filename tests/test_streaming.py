"""The streaming KG sink must publish the one-shot batch pipeline's graph
after every batching, on a replay and after a crash at any step."""

import os
import shutil
from dataclasses import replace

import pandas as pd
import pytest

from pl_marker_spark import synth
from pl_marker_spark.config import DEFAULT_CONFIG

N_CONVS = 8


@pytest.fixture(scope="module")
def corpus():
    return synth.local_corpus(N_CONVS)


def _write_chunks(corpus, path):
    """Two conversation-complete files: the first half of the
    conversations, then the second."""
    turns, _, _ = corpus
    rows = [
        (c, t, role, text, tool, pd.Timestamp(ts, unit="s"))
        for c, t, role, text, tool, ts in turns
    ]
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    convs = sorted({r[0] for r in rows})
    half = set(convs[: len(convs) // 2])
    a = [r for r in rows if r[0] in half]
    b = [r for r in rows if r[0] not in half]
    os.makedirs(path, exist_ok=True)
    for name, chunk in (("chunk_a", a), ("chunk_b", b)):
        pdf = pd.DataFrame(chunk, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf.to_parquet(f"{path}/{name}.parquet", coerce_timestamps="us",
                       allow_truncated_timestamps=True)


def _await_stream(q, timeout=300) -> list[dict]:
    """Wait for an availableNow query to end by itself (stopping it either
    way); returns its progress records, one per micro-batch run."""
    try:
        assert q.awaitTermination(timeout) is True
        return q.recentProgress
    finally:
        q.stop()


def test_prune_state_versions_keeps_newest(tmp_path):
    """Pruning keeps the two newest numbered version dirs and leaves a dir
    whose suffix is not a batch id alone."""
    from pl_marker_spark.streaming import _prune_state_versions

    for name in ("state_v0", "state_v1", "state_v2", "state_v3", "state_vx"):
        (tmp_path / name).mkdir()
    _prune_state_versions(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == ["state_v2", "state_v3", "state_vx"]


def test_read_kg_state_before_first_batch(spark, tmp_path):
    """A clear error, not a raw parquet-path crash, when no batch has
    published yet."""
    from pl_marker_spark.streaming import read_kg_state

    with pytest.raises(FileNotFoundError, match="no published KG state"):
        read_kg_state(spark, str(tmp_path))


# the benchmark's production profile: single-pass fused NER + grouped RE
PROD_CONFIG = replace(DEFAULT_CONFIG, ner_decode="fused", re_decode="grouped")


def _canon_kg(g) -> dict:
    return {
        "nodes": sorted(tuple(r) for r in g["nodes"].collect()),
        "edges": sorted(
            (r.src_id, r.dst_id, r.pred, r.weight, round(r.score_sum, 6))
            for r in g["edges"].collect()),
        "mention_entity": sorted(
            tuple(r) for r in g["mention_entity"].select(
                "conv_id", "turn_idx", "start", "end", "label",
                "surface", "entity_id").collect()),
    }


@pytest.fixture(scope="module")
def one_shot_kg(spark):
    """The one-shot batch pipeline's graph over the whole corpus, per
    config (memoized: the stream tests compare against it)."""
    from pl_marker_spark.pipeline.graph import build_graph
    from pl_marker_spark.pipeline.runner import run_extraction

    graphs = {}

    def get(cfg):
        if cfg not in graphs:
            out = run_extraction(spark, synth.transcripts_df(spark, N_CONVS),
                                 cfg)
            graphs[cfg] = _canon_kg(build_graph(
                out["mentions_refined"], out["triples"], out["turns_tok"]))
        return graphs[cfg]

    return get


def _check_kg_stream_matches_batch(spark, corpus, tmp_path_factory,
                                   one_shot_kg, cfg):
    from pl_marker_spark.streaming import read_kg_state, stream_kg_graph

    indir = str(tmp_path_factory.mktemp("kgstream_in"))
    outdir = str(tmp_path_factory.mktemp("kgstream_out"))
    _write_chunks(corpus, indir)

    progress = _await_stream(stream_kg_graph(spark, indir, outdir, cfg))
    assert [p["numInputRows"] > 0 for p in progress] == [True, True]
    got = _canon_kg(read_kg_state(spark, outdir))
    expect = one_shot_kg(cfg)
    assert got == expect

    # the equality is load-bearing only if canonicalization actually had
    # to look across batches: at least one entity must have mention
    # evidence in BOTH micro-batches (the two conv halves)
    convs = sorted({c for c, *_ in corpus[0]})
    first = set(convs[: len(convs) // 2])
    spanning: dict[int, set] = {}
    for row in got["mention_entity"]:
        spanning.setdefault(row[6], set()).add(row[0] in first)
    assert any(len(v) == 2 for v in spanning.values())

    # replay: same files through a FRESH stream checkpoint — the evidence
    # shards are overwritten byte-identically and the state is re-derived
    # to the same tables (the versioned sink publishes a new pointer)
    shutil.rmtree(f"{outdir}/_stream_ck")
    _await_stream(stream_kg_graph(spark, indir, outdir, cfg))
    assert _canon_kg(read_kg_state(spark, outdir)) == expect


def test_stream_kg_graph_matches_batch(spark, corpus, tmp_path_factory,
                                       one_shot_kg):
    """Incremental KG construction: after two conversation-complete
    micro-batches, the published nodes / edges / mention_entity state
    equals the one-shot batch pipeline over the concatenated corpus —
    including entity merges whose evidence arrived in different batches.
    A third replayed run (same input, fresh stream checkpoint) must not
    change the state (replay-idempotent evidence shards + pointer skip)."""
    _check_kg_stream_matches_batch(spark, corpus, tmp_path_factory,
                                   one_shot_kg, DEFAULT_CONFIG)


def test_stream_kg_graph_matches_batch_production_profile(
        spark, corpus, tmp_path_factory, one_shot_kg):
    """The same gate on the production profile, whose store-less
    extraction pins the single-pass extract table per micro-batch."""
    _check_kg_stream_matches_batch(spark, corpus, tmp_path_factory,
                                   one_shot_kg, PROD_CONFIG)


@pytest.fixture(scope="module")
def kg_stream_done(spark, corpus, tmp_path_factory):
    """A production-profile stream_kg_graph sink that has run both
    micro-batches (ids 0 and 1) to completion; the crash tests copy it."""
    from pl_marker_spark.streaming import stream_kg_graph

    indir = str(tmp_path_factory.mktemp("kgcrash_in"))
    outdir = str(tmp_path_factory.mktemp("kgcrash_out"))
    _write_chunks(corpus, indir)
    progress = _await_stream(stream_kg_graph(spark, indir, outdir, PROD_CONFIG))
    assert [p["numInputRows"] > 0 for p in progress] == [True, True]
    # one evidence file per batch: every later batch re-reads the globs
    evidence = {d: f for d, f in _file_names(outdir).items()
                if not d.startswith("state_v")}
    assert len(evidence) == 4 and all(len(f) == 1 for f in evidence.values())
    return indir, outdir


def _file_names(out_dir: str) -> dict[str, list[str]]:
    """Data files per evidence shard / version dir. Spark names each
    written file uniquely, so a rewrite changes the names."""
    names = {}
    for d in sorted(os.listdir(out_dir)):
        if d.startswith(("surfaces_b", "triples_b", "state_v")):
            names[d] = sorted(
                os.path.relpath(os.path.join(root, f), out_dir)
                for root, _, files in os.walk(os.path.join(out_dir, d))
                for f in files if f.endswith(".parquet"))
    return names


@pytest.mark.parametrize("crash", ["evidence_written", "version_written",
                                   "pointer_flipped"])
def test_stream_kg_graph_restart_after_crash(
        spark, tmp_path_factory, kg_stream_done, one_shot_kg, crash):
    """Crash-safety of the versioned KG sink. Each crash state of the last
    micro-batch is built from a completed sink by editing its files: the
    batch's commit-log entry is gone in every state, and
    - evidence_written: its version dir is gone and ``_LATEST`` names the
      previous version (crash between the evidence and publish writes);
    - version_written: its version dir is complete but ``_LATEST`` still
      names the previous version (crash before the pointer flip);
    - pointer_flipped: ``_LATEST`` names its version (crash between the
      flip and Spark's commit).
    The restarted query replays exactly that one batch. The handler
    redoes its evidence and version dir in the first two states and no
    work in the third, and every restart publishes the one-shot
    pipeline's graph."""
    from pl_marker_spark.streaming import read_kg_state, stream_kg_graph

    indir, done = kg_stream_done
    out = str(tmp_path_factory.mktemp(f"kgcrash_{crash}"))
    shutil.copytree(done, out, dirs_exist_ok=True)
    for name in ("1", ".1.crc"):
        path = f"{out}/_stream_ck/commits/{name}"
        if os.path.exists(path):
            os.remove(path)
    if crash == "evidence_written":
        shutil.rmtree(f"{out}/state_v1")
    latest = f"{out}/state_v{1 if crash == 'pointer_flipped' else 0}"
    with open(f"{out}/_LATEST", "w") as f:
        f.write(latest)
    before = _file_names(out)

    progress = _await_stream(stream_kg_graph(spark, indir, out, PROD_CONFIG))

    assert len(progress) == 1
    with open(f"{out}/_LATEST") as f:
        assert f.read().strip() == f"{out}/state_v1"
    after = _file_names(out)
    for d in ("surfaces_b0", "triples_b0", "state_v0"):
        assert after[d] == before[d]   # batch 0 is never redone
    redone = [d for d in ("surfaces_b1", "triples_b1", "state_v1")
              if after[d] != before.get(d)]
    if crash == "pointer_flipped":
        assert redone == []
    else:
        assert redone == ["surfaces_b1", "triples_b1", "state_v1"]
    assert _canon_kg(read_kg_state(spark, out)) == one_shot_kg(PROD_CONFIG)
