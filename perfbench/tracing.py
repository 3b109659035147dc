"""Measurement helpers: spans, a traced checkpoint store, process memory
and Spark event-log totals.

Spans are recorded around calls into the program's layers, from these
files only; the program itself is not instrumented. Spans stay in memory
and are written out when the benchmark ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# stage name -> program layer that builds it
STAGE_LAYER = {
    "turns_tok": "assemble",          # pipeline.assemble
    "extract": "extract",             # pipeline.extract_fused
    "triples": "refine",              # pipeline.rel.refine_types
    "mention_surfaces": "link",       # pipeline.link
    "entity_vocab_raw": "link",
    "sim_edges": "link",
    "entity_assign": "cc",            # pipeline.cc
    "entity_vocab": "graph",          # pipeline.graph
    "mention_entity": "graph",
    "nodes": "graph",
    "edges": "graph",
}
# stages that reach CheckpointStore.stage directly from the extraction
# half; every graph-half stage goes through the ``ck`` callback instead
STORE_STAGES = ("turns_tok", "extract", "triples")


class Tracer:
    """In-memory spans ``(name, start, end, parent)``; nested spans record
    the enclosing span as their parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def children(self, parent: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TracedStore:
    """Proxy for ``CheckpointStore``: a ``stage`` call for one of
    STORE_STAGES runs inside a span named after its layer. A stage read
    back on resume comes back as a lazy scan, so its span also reads the
    whole table (a no-op sink) and is marked ``resumed``."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tracer = tracer

    def stage(self, name, build, *args, **kwargs):
        if name not in STORE_STAGES:
            return self._store.stage(name, build, *args, **kwargs)
        with self._tracer.span(STAGE_LAYER[name], stage=name) as sp:
            df = self._store.stage(name, build, *args, **kwargs)
            if self._store.events[-1]["resumed"]:
                sp["resumed"] = True
                df.write.format("noop").mode("overwrite").save()
            return df

    def __getattr__(self, attr):
        return getattr(self._store, attr)


def _span_ck(tracer: Tracer, ck):
    """``ck`` (default: the program's eager ``localCheckpoint``) with a
    span per stage."""
    if getattr(ck, "traced", False):
        return ck

    def traced(name, build):
        with tracer.span(STAGE_LAYER[name], stage=name):
            return ck(name, build) if ck is not None else build().localCheckpoint()

    traced.traced = True
    return traced


@contextmanager
def traced_graph(tracer: Tracer):
    """While active, ``pipeline.graph.build_graph`` and
    ``graph_from_surfaces`` run with their ``ck`` callback wrapped by
    ``_span_ck``, so every graph-half stage (mention_surfaces through
    edges) gets a span on either entry point. Both are looked up in the
    module when called (``run_full_pipeline``, ``build_graph`` and
    ``stream_kg_graph`` import them at call time). Yields the list of
    ``graph_from_surfaces`` results, appended as they are produced."""
    from pl_marker_spark.pipeline import graph as graph_mod

    build_graph, from_surfaces = graph_mod.build_graph, graph_mod.graph_from_surfaces
    graphs: list[dict] = []

    def traced_build(mentions_refined, triples, turns_tok, ck=None):
        return build_graph(mentions_refined, triples, turns_tok, _span_ck(tracer, ck))

    def traced_from_surfaces(surfaces, triples, ck=None):
        g = from_surfaces(surfaces, triples, _span_ck(tracer, ck))
        graphs.append(g)
        return g

    graph_mod.build_graph = traced_build
    graph_mod.graph_from_surfaces = traced_from_surfaces
    try:
        yield graphs
    finally:
        graph_mod.build_graph = build_graph
        graph_mod.graph_from_surfaces = from_surfaces


def layer_busy(tracer: Tracer, pass_idx: int) -> dict[str, float]:
    """Seconds per layer over the direct children of span ``pass_idx``."""
    out: dict[str, float] = {}
    for s in tracer.children(pass_idx):
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def peak_rss_mb(pid: int) -> float:
    """Kernel-tracked peak resident set (VmHWM) of a live process, MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


class WorkerRssSampler:
    """Peak summed resident memory of the descendants of ``root`` (the
    JVM's Python workers), sampled from ``/proc``."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _descendants_rss(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, list(kids.get(self.root, ()))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._descendants_rss())
            self._stop.wait(self.interval)


def event_log_totals(log_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Per window (epoch seconds): Spark jobs submitted, stages and tasks
    completed, failed tasks and shuffle bytes written, from the JSON event
    log. Call after the SparkContext has stopped, so the log is flushed."""
    totals = [dict(jobs=0, stages=0, tasks=0, failed_tasks=0, shuffle_write_bytes=0)
              for _ in windows]

    def bump(ms, key, n=1):
        t = ms / 1000.0
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                totals[i][key] += n

    logs = [os.path.join(root, n) for root, _d, names in os.walk(log_dir)
            for n in names if n.startswith("events_")]  # rolling (v2) layout
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    bump(ev["Submission Time"], "jobs")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" in info:
                        bump(info["Completion Time"], "stages")
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    bump(info["Finish Time"], "tasks")
                    if info.get("Failed"):
                        bump(info["Finish Time"], "failed_tasks")
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    bump(info["Finish Time"], "shuffle_write_bytes",
                         sw.get("Shuffle Bytes Written", 0))
    return totals
