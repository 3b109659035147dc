"""Streaming extraction must equal the batch pipeline on the same
conversations — both the foreachBatch and the stateful
(conversation-split-across-batches) paths."""

import os
import shutil
from dataclasses import replace

import pandas as pd
import pytest

from pl_marker_spark import synth
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.oracle_ref import run_oracle
from pl_marker_spark.streaming import (
    END_ROLE,
    stream_extract_foreach_batch,
    stream_extract_stateful,
)

N_CONVS = 8


@pytest.fixture(scope="module")
def corpus():
    return synth.local_corpus(N_CONVS)


def _expected_triples(corpus):
    oracle = run_oracle(corpus[0], DEFAULT_CONFIG)
    return {
        (c, t, s1, e1, s2, e2, p, n1, n2)
        for c, t, s1, e1, s2, e2, p, _sc, n1, n2 in oracle["triples"]
    }


def _write_chunks(corpus, path, with_end_markers, split_convs):
    turns, _, _ = corpus
    rows = [
        (c, t, role, text, tool, pd.Timestamp(ts, unit="s"))
        for c, t, role, text, tool, ts in turns
    ]
    if with_end_markers:
        convs = sorted({r[0] for r in rows})
        rows += [(c, 10 ** 6, END_ROLE, "", None, pd.Timestamp(0, unit="s"))
                 for c in convs]
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    if split_convs:
        # interleave: chunk 0 = even turns, chunk 1 = odd turns + markers —
        # every conversation spans both files
        a = [r for r in rows if r[1] % 2 == 0 and r[2] != END_ROLE]
        b = [r for r in rows if r[1] % 2 == 1 or r[2] == END_ROLE]
    else:
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


def test_foreach_batch_stream(spark, corpus, tmp_path_factory):
    indir = str(tmp_path_factory.mktemp("stream_in"))
    outdir = str(tmp_path_factory.mktemp("stream_out"))
    _write_chunks(corpus, indir, with_end_markers=False, split_convs=False)
    q = stream_extract_foreach_batch(spark, indir, outdir, DEFAULT_CONFIG)
    _await_stream(q)
    got = {
        (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
         r.subj_type, r.obj_type)
        for r in spark.read.parquet(f"{outdir}/triples").collect()
    }
    assert got == _expected_triples(corpus)


def test_stateful_stream_conversations_span_batches(spark, corpus, tmp_path_factory):
    indir = str(tmp_path_factory.mktemp("sstream_in"))
    outdir = str(tmp_path_factory.mktemp("sstream_out"))
    _write_chunks(corpus, indir, with_end_markers=True, split_convs=True)
    q = stream_extract_stateful(spark, indir, outdir, DEFAULT_CONFIG)
    try:
        # availableNow must end by itself once the input is drained
        assert q.awaitTermination(60) is True
    finally:
        q.stop()
    got = {
        (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
         r.subj_type, r.obj_type)
        for r in spark.read.parquet(f"{outdir}/triples").collect()
    }
    assert got == _expected_triples(corpus)


def test_stateful_stream_drops_orphans_as_stream_advances(
        spark, corpus, tmp_path_factory):
    """Conversations that never send an end marker emit nothing, and their
    state is evicted once a later batch moves the arrival watermark past
    their timeout: the first file's conversations are gone after the
    second file; the second file's wait for more input."""
    indir = str(tmp_path_factory.mktemp("orphan_in"))
    outdir = str(tmp_path_factory.mktemp("orphan_out"))
    _write_chunks(corpus, indir, with_end_markers=False, split_convs=False)
    q = stream_extract_stateful(spark, indir, outdir, DEFAULT_CONFIG,
                                orphan_timeout_ms=1)
    try:
        assert q.awaitTermination(60) is True
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()
    assert state_rows == N_CONVS - N_CONVS // 2
    assert spark.read.parquet(f"{outdir}/triples").count() == 0


def test_stateful_handler_orphan_timeout_drops_state():
    """Orphaned partial conversations (turns after their end marker, or a
    feed that never sends one) are dropped on their arrival-time timeout
    so the state store stays bounded (round-1 ADVICE). Exercised directly
    on the handler with a fake GroupState — the availableNow test triggers
    can't fire a timeout deterministically."""
    import pandas as pd

    from pl_marker_spark.streaming import _make_state_handler

    class FakeState:
        def __init__(self, timed_out):
            self.hasTimedOut = timed_out
            self.exists = False
            self.removed = False
            self.updated = None
            self.timeout_ms = None

        @property
        def get(self):
            raise AssertionError("state.get on empty state")

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updated = v

        def getCurrentProcessingTimeMs(self):
            return 5000

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    handler = _make_state_handler(DEFAULT_CONFIG, orphan_timeout_ms=1234)

    # timed-out orphan: state removed, nothing emitted
    st = FakeState(timed_out=True)
    out = list(handler(("cZ",), iter(()), st))
    assert st.removed and out == []

    # normal partial batch: state updated and the timeout armed
    st2 = FakeState(timed_out=False)
    pdf = pd.DataFrame(
        [("cZ", 0, "user", "hello there", None, None)],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    out2 = list(handler(("cZ",), iter([pdf]), st2))
    assert out2 == [] and st2.updated is not None
    assert st2.timeout_ms == 5000 + 1234


def test_stream_dedup_exact(spark, tmp_path_factory):
    """Duplicates within and across micro-batches collapse to one row per
    distinct text; distinct texts all survive."""
    import datetime as dt

    import pandas as pd

    from pl_marker_spark.streaming import stream_dedup_exact

    indir = str(tmp_path_factory.mktemp("dedup_in"))
    outdir = str(tmp_path_factory.mktemp("dedup_out"))
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    chunk_a = [(i, f"text {i % 4}", t0 + dt.timedelta(seconds=i))
               for i in range(8)]          # 4 distinct, dups in-batch
    chunk_b = [(100 + i, f"text {i % 6}", t0 + dt.timedelta(seconds=60 + i))
               for i in range(6)]          # 2 new distinct, 4 cross-batch dups
    for name, chunk in (("a", chunk_a), ("b", chunk_b)):
        pd.DataFrame(chunk, columns=["doc_id", "text", "ts"]).to_parquet(
            f"{indir}/{name}.parquet", coerce_timestamps="us",
            allow_truncated_timestamps=True)
    q = stream_dedup_exact(spark, indir, outdir, within="1 hour")
    q.awaitTermination(300)
    out = spark.read.parquet(f"{outdir}/docs").collect()
    assert sorted(r.text for r in out) == sorted(f"text {i}" for i in range(6))


def _write_event_files(indir, files):
    """files: list of (name, mtime, rows); rows = (event_id, ts_s, user_id,
    value). Modification times order the file-source micro-batches."""
    os.makedirs(indir, exist_ok=True)
    for name, mtime, rows in files:
        pdf = pd.DataFrame(
            [(e, pd.Timestamp(t, unit="s"), u, "click", v, "{}")
             for e, t, u, v in rows],
            columns=["event_id", "ts", "user_id", "event_type", "value",
                     "props"],
        )
        p = f"{indir}/{name}.parquet"
        pdf.to_parquet(p, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.utime(p, (mtime, mtime))


# Four micro-batches (ordered by mtime): the base events; a
# late-but-within-watermark row plus a far-future sentinel that advances
# the watermark past every real window; a second sentinel batch (the
# pre-aggregation late filter uses the START-of-batch watermark, one
# batch behind the end-of-batch value that drives eviction — measured on
# this engine build); then a too-late row the filter must drop.
# 1-minute windows / 30-minute session gap / 2-minute watermark.
_EVENT_FILES = [
    ("f1", 1000, [(1, 0, 1, 1.0), (2, 10, 1, 2.0), (3, 20, 1, 3.0),
                  (4, 5, 2, 4.0)]),
    ("f2", 2000, [(5, 15, 1, 5.0),            # late, within watermark
                  (99, 10000, 99, 0.0)]),     # sentinel: watermark -> 9880
    ("f3", 3000, [(96, 10001, 99, 0.0)]),     # makes 9880 the filter watermark
    ("f4", 4000, [(6, 30, 2, 6.0)]),          # too late: 30 << 9880
]


def test_stream_windowed_counts_watermark(spark, tmp_path_factory):
    """The watermark+window contract: the in-horizon late row lands in its
    event-time window, the finalized window emits exactly once, the
    too-late row is dropped, and the never-finalized sentinel window does
    not emit."""
    from pl_marker_spark.streaming import stream_windowed_counts

    indir = str(tmp_path_factory.mktemp("wstream_in"))
    outdir = str(tmp_path_factory.mktemp("wstream_out"))
    _write_event_files(indir, _EVENT_FILES)
    q = stream_windowed_counts(spark, indir, outdir)
    q.awaitTermination(300)
    got = {
        (r.win_start.timestamp(), r.user_id, r.n_events, r.sum_value)
        for r in spark.read.parquet(f"{outdir}/windows").collect()
    }
    assert got == {
        (0.0, 1, 4, 11.0),   # includes the late event_id=5 (t=15)
        (0.0, 2, 1, 4.0),    # event_id=6 (t=30) was dropped as too late
    }


def test_stream_sessionize_matches_batch_gap_rule(spark, tmp_path_factory):
    """Streaming session_window equals the batch lag/cumsum sessionization
    on the surviving rows (sentinel's open session never finalizes)."""
    from pl_marker_spark.streaming import stream_sessionize

    indir = str(tmp_path_factory.mktemp("sessstream_in"))
    outdir = str(tmp_path_factory.mktemp("sessstream_out"))
    _write_event_files(indir, _EVENT_FILES)
    q = stream_sessionize(spark, indir, outdir)
    q.awaitTermination(300)
    got = {
        (r.sess_start.timestamp(), r.user_id, r.n_events, r.first_event)
        for r in spark.read.parquet(f"{outdir}/sessions").collect()
    }
    # batch rule on the rows the stream kept (watermark dropped event 6,
    # sentinel session still open): one 30-min-gap session per user
    assert got == {
        (0.0, 1, 4, 1),
        (5.0, 2, 1, 4),
    }


def test_stream_enrich_broadcast_join(spark, tmp_path_factory):
    from pl_marker_spark.streaming import stream_enrich

    base = str(tmp_path_factory.mktemp("enrich"))
    indir, outdir = f"{base}/in", f"{base}/out"
    _write_event_files(indir, [
        ("f1", 1000, [(1, 0, 1, 1.0), (2, 10, 2, 2.0)]),
        ("f2", 2000, [(3, 20, 3, 3.0), (4, 30, 1, 4.0)]),
    ])
    dim = spark.createDataFrame(
        [(1, "pro"), (2, "free")], ["user_id", "segment"])
    q = stream_enrich(spark, indir, dim, outdir)
    q.awaitTermination(300)
    out = {r.event_id: r.segment
           for r in spark.read.parquet(f"{outdir}/enriched").collect()}
    # every event survives; dim attributes attach; misses get the sentinel
    assert out == {1: "pro", 2: "free", 3: "unknown", 4: "pro"}


def test_stream_stream_click_attribution(spark, tmp_path_factory):
    """Stream-stream interval join contract: in-lookback clicks attach to
    the purchase (ALL of them — it's a join, not last-touch), clicks after
    the purchase or beyond the lookback don't, purchases with no click
    vanish (inner), and a click buffered in an early micro-batch still
    matches a purchase arriving two batches later (the state-store case a
    per-batch broadcast join cannot express)."""
    import pandas as pd

    from pl_marker_spark.streaming import stream_click_attribution

    base = str(tmp_path_factory.mktemp("ssj"))
    cdir, pdir, outdir = f"{base}/clicks", f"{base}/purch", f"{base}/out"
    os.makedirs(cdir), os.makedirs(pdir)

    def wfile(d, name, mtime, cols, rows):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
        p = f"{d}/{name}.parquet"
        pdf.to_parquet(p, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.utime(p, (mtime, mtime))

    ccols = ["click_id", "user_id", "ts"]
    pcols = ["purchase_id", "user_id", "ts", "amount"]
    wfile(cdir, "c1", 1000, ccols, [(1, 1, 10), (2, 2, 50), (3, 1, 35)])
    wfile(cdir, "c2", 3000, ccols, [(99, 99, 10000)])
    wfile(pdir, "p1", 2000, pcols, [
        (11, 1, 40, 9.99),    # clicks 1 (gap 30s) and 3 (gap 5s) attach
        (12, 1, 100, 5.0),    # click 1 is 90s before: beyond the lookback
        (13, 2, 45, 1.0),     # user 2's click is AFTER the purchase
        (14, 3, 30, 2.0),     # no click at all
    ])
    # arrives two micro-batches after its matching click: state buffering
    wfile(pdir, "p2", 4000, pcols, [(98, 99, 10050, 3.0)])

    q = stream_click_attribution(spark, cdir, pdir, outdir)
    q.awaitTermination(300)
    got = {(r.purchase_id, r.click_id, r.user_id, r.gap_us)
           for r in spark.read.parquet(f"{outdir}/attributed").collect()}
    assert got == {
        (11, 1, 1, 30_000_000),
        (11, 3, 1, 5_000_000),
        (98, 99, 99, 50_000_000),
    }


def test_stream_upsert_latest_wins(spark, tmp_path_factory):
    """Keyed upsert contract: one row per key; latest (ts, event_id) wins
    within a batch AND across batches; an older row arriving in a later
    batch does NOT regress the state; unseen keys insert."""
    from pl_marker_spark.streaming import (
        read_upsert_state,
        stream_upsert_latest,
    )

    base = str(tmp_path_factory.mktemp("upsert"))
    indir, outdir = f"{base}/in", f"{base}/out"
    _write_event_files(indir, [
        # user 1 twice in-batch (t=10 then t=20 wins); user 2 once
        ("f1", 1000, [(1, 10, 1, 1.0), (2, 20, 1, 2.0), (3, 5, 2, 3.0)]),
        # user 1 updates (t=30), user 2 gets an OLDER row (t=1 — ignored),
        # user 3 inserts; ties on ts for user 3 break on event_id (6 wins)
        ("f2", 2000, [(4, 30, 1, 4.0), (5, 1, 2, 5.0),
                      (6, 40, 3, 6.0), (7, 40, 3, 0.5)]),
    ])
    q = stream_upsert_latest(spark, indir, outdir)
    q.awaitTermination(300)
    got = {r.user_id: (r.event_id, r.value)
           for r in read_upsert_state(spark, outdir).collect()}
    assert got == {1: (4, 4.0), 2: (3, 3.0), 3: (7, 0.5)}
    # storage is bounded: only the reader window (current + previous
    # version) survives pruning
    vdirs = [d for d in os.listdir(outdir) if d.startswith("state_v")]
    assert len(vdirs) <= 2, vdirs


def test_read_upsert_state_before_first_batch(spark, tmp_path_factory):
    """A clear error, not a raw parquet-path crash, when no batch has
    committed yet."""
    from pl_marker_spark.streaming import read_upsert_state

    empty = str(tmp_path_factory.mktemp("upsert_empty"))
    with pytest.raises(FileNotFoundError, match="no upsert state"):
        read_upsert_state(spark, empty)


def test_stream_minhash_neardup_equals_batch(spark, tmp_path_factory):
    """Cross-batch LSH probing: the union of pairs emitted over three
    micro-batches equals the one-shot batch minhash_candidates on the
    concatenated corpus — with planted near-dups WITHIN batch 1, WITHIN
    batch 3, and ACROSS batches 1→2 and 2→3 (the case per-batch dedup
    misses). Replay idempotence: a second availableNow start over the
    same checkpoint adds nothing."""
    import datetime as dt

    import pandas as pd

    from pl_marker_spark.textops import minhash_candidates
    from pl_marker_spark.streaming import (
        read_neardup_pairs,
        stream_minhash_neardup,
    )

    base = str(tmp_path_factory.mktemp("smnd"))
    indir, outdir = f"{base}/in", f"{base}/out"
    os.makedirs(indir)
    t0 = dt.datetime(2026, 1, 1)

    def doc(words):
        return " ".join(words)

    core = "orion probe reached ganymede station and sent data home".split()
    alt = "vega array observed the kuiper belt object flyby today".split()
    third = "dr vega works at the lunar gateway observatory complex".split()
    batches = {
        # batch 1: 0/1 near-dups of each other (within-batch)
        "a": [(0, doc(core)), (1, doc(core[:-1] + ["base"])),
              (2, doc(alt))],
        # batch 2: 10 is a near-dup of 0 (cross 1→2); 11 unrelated
        "b": [(10, doc(core[:-2] + ["data", "out"])), (11, doc(third))],
        # batch 3: 20 near-dups 11 (cross 2→3); 21/22 within-batch dups
        "c": [(20, doc(third[:-1] + ["annex"])),
              (21, doc(alt[:-1] + ["tonight"])),
              (22, doc(alt[:-1] + ["tonight"]))],
    }
    for i, (name, rows) in enumerate(sorted(batches.items())):
        pdf = pd.DataFrame(
            [(d, t, t0 + dt.timedelta(seconds=d)) for d, t in rows],
            columns=["doc_id", "text", "ts"])
        p = f"{indir}/{name}.parquet"
        pdf.to_parquet(p, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))

    q = stream_minhash_neardup(spark, indir, outdir)
    q.awaitTermination(300)
    got = {(r.doc_a, r.doc_b, r.jaccard)
           for r in read_neardup_pairs(spark, outdir).collect()}

    all_rows = [r for rows in batches.values() for r in rows]
    corpus = spark.createDataFrame(all_rows, ["doc_id", "text"])
    want = {(r.doc_a, r.doc_b, r.jaccard)
            for r in minhash_candidates(corpus).collect()}
    assert got == want
    # the planted structure actually exercised every case
    ids = {frozenset((a, b)) for a, b, _ in got}
    assert frozenset((0, 1)) in ids        # within batch 1
    assert frozenset((0, 10)) in ids       # across 1→2
    assert frozenset((11, 20)) in ids      # across 2→3
    assert frozenset((21, 22)) in ids      # within batch 3

    # replay: same checkpoint, no new files -> nothing changes
    q2 = stream_minhash_neardup(spark, indir, outdir)
    q2.awaitTermination(300)
    again = {(r.doc_a, r.doc_b, r.jaccard)
             for r in read_neardup_pairs(spark, outdir).collect()}
    assert again == got


def test_stream_source_drift_merge_law_and_jsd(spark, tmp_path_factory):
    """Cross-micro-batch (source, term) count summing equals the one-shot
    counts over the concatenated feed, and the JSD read off the merged
    state matches an independent pure-python JSD over the full union
    vocabulary (the shared-mass decomposition vs the direct per-term
    sum — different formulas, same value)."""
    import datetime as dt
    import math
    from collections import Counter

    import pandas as pd

    from pl_marker_spark.streaming import (drift_jsd_from_state,
                                           read_upsert_state,
                                           stream_source_drift)

    base = str(tmp_path_factory.mktemp("sdrift"))
    indir, outdir = f"{base}/in", f"{base}/out"
    os.makedirs(indir)
    t0 = dt.datetime(2026, 1, 1)
    # batch a: srcA skews "spam buy", srcB balanced; batch b shifts srcA
    batch_a = [("srcA", "spam buy spam click buy"),
               ("srcB", "the quick brown fox jumps"),
               ("srcA", "buy now spam offer")]
    batch_b = [("srcA", "the spam report the update"),
               ("srcB", "the slow green fox sleeps"),
               ("srcB", "fox and fox again")]
    for name, mtime, rows, off in (("a", 1000, batch_a, 0),
                                   ("b", 2000, batch_b, 100)):
        pdf = pd.DataFrame(
            [(off + i, t, s, t0 + dt.timedelta(seconds=i))
             for i, (s, t) in enumerate(rows)],
            columns=["doc_id", "text", "source", "ts"])
        p = f"{indir}/{name}.parquet"
        pdf.to_parquet(p, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.utime(p, (mtime, mtime))

    q = stream_source_drift(spark, indir, outdir)
    q.awaitTermination(300)
    state = read_upsert_state(spark, outdir)
    got_counts = {(r.source, r.term): r.cnt for r in state.collect()}

    want_counts: Counter = Counter()
    for s, t in batch_a + batch_b:
        for w in t.split(" "):
            want_counts[(s, w)] += 1
    assert got_counts == dict(want_counts)

    # JSD from state vs an independent direct per-term python sum
    rows = drift_jsd_from_state(state).collect()
    assert len(rows) == 1
    got = rows[0]
    assert (got.src_a, got.src_b) == ("srcA", "srcB")
    tot = Counter()
    for (s, _), c in want_counts.items():
        tot[s] += c
    vocab = {w for _, w in want_counts}
    jsd = 0.0
    n_shared = 0
    for w in vocab:
        pa = want_counts[("srcA", w)] / tot["srcA"]
        pb = want_counts[("srcB", w)] / tot["srcB"]
        if pa and pb:
            n_shared += 1
        m = (pa + pb) / 2
        if pa:
            jsd += 0.5 * pa * math.log(pa / m)
        if pb:
            jsd += 0.5 * pb * math.log(pb / m)
    assert got.n_shared_terms == n_shared
    assert abs(got.jsd - jsd) < 1e-6
    assert 0.0 < got.jsd <= math.log(2.0) + 1e-9


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
    _write_chunks(corpus, indir, with_end_markers=False, split_convs=False)

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
    _write_chunks(corpus, indir, with_end_markers=False, split_convs=False)
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
