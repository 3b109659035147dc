"""The benchmark's workloads.

Each workload generates its inputs from the seed (untimed), warms up on
them, runs timed passes through the program's public entry points, checks
every pass's outputs, and measures one resume. Entry points under test:
``pipeline.runner.run_full_pipeline`` and ``streaming.stream_kg_graph``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import replace

import gen
import tracing as tr
from pyspark.sql import functions as F

from pl_marker_spark.checkpoint import CheckpointStore
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.pipeline.runner import run_full_pipeline
from pl_marker_spark.streaming import read_kg_state, stream_kg_graph

# The production profile (DEFAULT_CONFIG is the staged/relational
# reference profile): single-pass fused NER + grouped RE decode.
PROD_CONFIG = replace(DEFAULT_CONFIG, re_decode="grouped", ner_decode="fused")
MIN_PR = 0.95

TRIPLE_COLS = ["conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred"]
# downstream of extract in the coarse checkpoint policy
RESUME_DROP = ("triples", "sim_edges", "entity_assign", "nodes", "edges")


class CheckFailed(Exception):
    """A pass produced output that fails the workload's check."""


def table_hash(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def edge_rows(edges_df) -> list[tuple]:
    return [(r.src_id, r.dst_id, r.pred, r.weight, round(r.score_sum, 6))
            for r in edges_df.collect()]


def triple_rows(triples_df) -> list[tuple]:
    return [tuple(r) for r in triples_df.select(*TRIPLE_COLS).collect()]


def triple_f1(rows, gold_keys: set) -> tuple[float, float, float]:
    pred = {gen.triple_key(*r) for r in rows}
    hit = len(pred & gold_keys)
    p = hit / len(pred) if pred else 0.0
    r = hit / len(gold_keys) if gold_keys else 0.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def graph_counts(g: dict) -> dict[str, float]:
    """Per-layer counts of one graph_from_surfaces result."""
    edges = g["sim_edges"].filter(F.col("src") != F.col("dst")).distinct().count()
    return {
        "link.vocab_rows": g["entity_vocab"].count(),
        "link.sim_edges": edges,
        "cc.components": g["entity_assign"].select("component").distinct().count(),
    }


class Workload:
    name = ""
    n_turns = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.in_dir = os.path.join(work, "input")
        self.n_passes = 0

    def generate(self) -> None:
        turns, gold = gen.corpus(self.seed, self.n_turns)
        self.turns = len(turns)
        self.convs = len({t[0] for t in turns})
        self.gold = gen.gold_triple_keys(gold)
        self.write_input(turns)

    def _check_triples(self, rows) -> None:
        p, r, self.f1 = triple_f1(rows, self.gold)
        if p < MIN_PR or r < MIN_PR:
            raise CheckFailed(f"triple P/R {p:.4f}/{r:.4f} below {MIN_PR}")

    def _next_dir(self, kind: str) -> str:
        self.n_passes += 1
        return os.path.join(self.work, f"{kind}{self.n_passes}")


class BatchCorpus(Workload):
    """One-shot ``run_full_pipeline`` over a transcript table with a fresh
    coarse CheckpointStore per pass."""

    name = "batch_corpus"
    n_turns = 3000

    def write_input(self, turns) -> None:
        gen.write_turns(turns, os.path.join(self.in_dir, "part-0.parquet"))

    def _run(self, spark, store, tracer=None):
        if tracer is None:
            return run_full_pipeline(spark, spark.read.parquet(self.in_dir),
                                     PROD_CONFIG, store, granularity="coarse")
        with tr.traced_graph(tracer):
            return self._run(spark, tr.TracedStore(store, tracer))

    def warm_up(self, spark) -> None:
        """One full pass over the corpus, untimed: warms the JVM and the
        Python workers, and its triples and edges are the reference every
        timed pass must reproduce."""
        self.ref = None
        self._check(self._run(spark, CheckpointStore(spark, self._next_dir("ck"))))

    def timed_pass(self, spark, tracer=None) -> dict:
        ck_dir = self._next_dir("ck")
        store = CheckpointStore(spark, ck_dir)
        t0 = time.perf_counter()
        out = self._run(spark, store, tracer)
        secs = time.perf_counter() - t0
        self._check(out)
        self.last = (out, ck_dir)
        return {"seconds": secs, "publish": [secs]}

    def _check(self, out) -> None:
        """Triple P/R against the gold; triples and edges equal to those of
        the warm-up pass."""
        rows = triple_rows(out["triples"])
        self._check_triples(rows)
        got = (table_hash(rows), table_hash(edge_rows(out["edges"])))
        if self.ref is None:
            self.ref = got
            self.n_triples = len(rows)
        elif got != self.ref:
            raise CheckFailed("triples/edges differ from the warm-up pass")

    def resume(self, spark, tracer=None) -> dict:
        """Re-run over the last pass's checkpoints after deleting every
        stage downstream of extract; turns_tok and extract are read back.
        ``read_s`` (traced only) is the time spent reading those two
        tables back in full, inside their spans."""
        _out, ck_dir = self.last
        for name in RESUME_DROP:
            shutil.rmtree(os.path.join(ck_dir, name))
        store = CheckpointStore(spark, ck_dir)
        first = len(tracer.spans) if tracer is not None else 0
        t0 = time.perf_counter()
        out = self._run(spark, store, tracer)
        secs = time.perf_counter() - t0
        self._check(out)
        read_s = 0.0 if tracer is None else sum(
            s["end"] - s["start"] for s in tracer.spans[first:] if s.get("resumed"))
        return {"seconds": secs, "read_s": read_s}

    def layer_counts(self, spark) -> dict[str, float]:
        out, ck_dir = self.last
        files, size = tr.dir_usage(ck_dir)
        return {
            "extract.groups": self.convs,
            "extract.mention_rows": out["mentions_refined"].count(),
            "extract.triple_rows": out["triples"].count(),
            "checkpoint.files": files,
            "checkpoint.bytes": size,
            "graph.nodes": out["nodes"].count(),
            "graph.edges": out["edges"].count(),
            **graph_counts(out),
        }


class IncrementalIngest(Workload):
    """Closed loop: ``stream_kg_graph`` consumes conversation-complete
    parquet files one per trigger (availableNow) and publishes the
    re-canonicalized graph after each."""

    name = "incremental_ingest"
    n_turns = 1200
    n_files = 2

    def write_input(self, turns) -> None:
        for i, chunk in enumerate(gen.split_by_conv(turns, self.n_files)):
            gen.write_turns(chunk, os.path.join(self.in_dir, f"part-{i:03d}.parquet"))

    def warm_up(self, spark) -> None:
        """One-shot batch pipeline over the same files: warms the JVM and
        Python workers and gives the graph every stream must publish."""
        out = run_full_pipeline(spark, spark.read.parquet(self.in_dir),
                                PROD_CONFIG, CheckpointStore(spark, self._next_dir("ck")),
                                granularity="coarse")
        rows = triple_rows(out["triples"])
        self._check_triples(rows)
        self.ref = self._state_hash(out)
        self.n_triples = len(rows)

    @staticmethod
    def _state_hash(g) -> tuple[str, str]:
        return (table_hash(tuple(r) for r in g["nodes"].collect()),
                table_hash(edge_rows(g["edges"])))

    def _stream(self, spark, out_dir: str, tracer=None):
        if tracer is None:
            q = stream_kg_graph(spark, self.in_dir, out_dir, PROD_CONFIG)
            q.awaitTermination()
            return q
        with tr.traced_graph(tracer) as self.graphs:
            q = stream_kg_graph(spark, self.in_dir, out_dir, PROD_CONFIG)
            q.awaitTermination()
        return q

    def timed_pass(self, spark, tracer=None) -> dict:
        out_dir = self._next_dir("stream")
        t0 = time.perf_counter()
        q = self._stream(spark, out_dir, tracer)
        secs = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(progress) != self.n_files:
            raise CheckFailed(f"{len(progress)} batches, expected {self.n_files}")
        self._check(spark, out_dir)
        self.last = out_dir
        return {
            "seconds": secs,
            "publish": [p["batchDuration"] / 1000.0 for p in progress],
            "add_batch": [p["durationMs"]["addBatch"] / 1000.0 for p in progress],
        }

    def _check(self, spark, out_dir: str) -> None:
        rows = triple_rows(spark.read.parquet(f"{out_dir}/triples_b*"))
        self._check_triples(rows)
        if self._state_hash(read_kg_state(spark, out_dir)) != self.ref:
            raise CheckFailed("published graph differs from the one-shot pipeline")

    def resume(self, spark, tracer=None) -> dict:
        """Restart the last stream after a crash between writing its final
        batch's evidence and publishing it: the batch's commit-log entry is
        removed and ``_LATEST`` points at the previous version again, so
        the restarted query replays the batch and publishes it."""
        commits = os.path.join(self.last, "_stream_ck", "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        for name in (str(last), f".{last}.crc"):
            path = os.path.join(commits, name)
            if os.path.exists(path):
                os.remove(path)
        ptr = os.path.join(self.last, "_LATEST")
        with open(ptr + ".tmp", "w") as f:
            f.write(f"{self.last}/state_v{last - 1}")
        os.replace(ptr + ".tmp", ptr)
        t0 = time.perf_counter()
        q = stream_kg_graph(spark, self.in_dir, self.last, PROD_CONFIG)
        q.awaitTermination()
        secs = time.perf_counter() - t0
        replayed = [p["batchDuration"] / 1000.0 for p in q.recentProgress]
        if len(replayed) != 1:
            raise CheckFailed(f"restart ran {len(replayed)} batches, expected 1")
        self._check(spark, self.last)
        return {"seconds": secs, "read_s": replayed[0]}

    def layer_counts(self, spark) -> dict[str, float]:
        state = read_kg_state(spark, self.last)
        files, size = tr.dir_usage(self.last)
        return {
            "extract.groups": self.convs,
            "extract.mention_rows": spark.read.parquet(f"{self.last}/surfaces_b*").count(),
            "extract.triple_rows": spark.read.parquet(f"{self.last}/triples_b*").count(),
            "checkpoint.files": files,
            "checkpoint.bytes": size,
            "graph.nodes": state["nodes"].count(),
            "graph.edges": state["edges"].count(),
            **graph_counts(self.graphs[-1]),  # the last traced batch
        }


WORKLOADS = {w.name: w for w in (BatchCorpus, IncrementalIngest)}

