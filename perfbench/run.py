"""KG-construction benchmark.

    python3 perfbench/run.py --workload batch_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a local Spark session on every core, warms up, runs timed
passes for ``--seconds`` (each pass's outputs are checked), measures one
resume, and prints one JSON object as the last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. All files live under ``.bench_work/`` in the repository.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import tracing as tr  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "turns_per_s": "1/s",
    "triples_per_s": "1/s",
    "publish_p50_s": "s",
    "resume_s": "s",
    "triple_f1": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "assemble.busy_s": "s",
    "extract.busy_s": "s",
    "extract.groups": "count",
    "extract.mention_rows": "count",
    "extract.triple_rows": "count",
    "refine.busy_s": "s",
    "checkpoint.files": "count",
    "checkpoint.bytes": "bytes",
    "checkpoint.resume_read_s": "s",
    "link.busy_s": "s",
    "link.vocab_rows": "count",
    "link.sim_edges": "count",
    "cc.busy_s": "s",
    "cc.components": "count",
    "graph.busy_s": "s",
    "graph.nodes": "count",
    "graph.edges": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "driver.untraced_s": "s",
    "workers.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}
DRIVER_MEM = "3g"


def configure_env(trace: bool) -> None:
    """Environment for the driver JVM and its Python workers, set before
    the session starts: workers import the program from the repository
    root, and every scratch file stays under WORK."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher too: temp files under WORK and
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": str(trace).lower(),
        "spark.eventLog.dir": f"file://{WORK}/events",
        "spark.eventLog.compress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


class Attempts:
    """Counts passes attempted and failed; a pass fails when it raises,
    including a failed output check."""

    def __init__(self):
        self.attempted = self.failed = 0

    def __call__(self, fn, *a):
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None


def measure(spark, wl, tracer, attempt, args) -> tuple[list[dict], dict | None]:
    """Timed passes until ``args.seconds`` have passed, then the resume.
    With ``--trace 1`` passes alternate untraced / traced, at least three,
    starting and ending untraced, so every traced pass is followed by an
    untraced one in the same process to compare it with."""
    trace = bool(args.trace)
    passes: list[dict] = []
    deadline = time.perf_counter() + args.seconds
    while True:
        traced = trace and len(passes) % 2 == 1
        if traced:
            with tracer.span("pass", n=len(passes)) as sp:
                rec = attempt(wl.timed_pass, spark, tracer)
            if rec is not None:
                rec.update(span=tracer.spans.index(sp), window=(sp["start"], sp["end"]),
                           counts=wl.layer_counts(spark))
        else:
            rec = attempt(wl.timed_pass, spark)
        if rec is not None:
            rec["traced"] = traced
            passes.append(rec)
            log(f"pass {len(passes)}{' (traced)' if traced else ''}: {rec['seconds']:.2f} s,"
                f" publish {[round(x, 2) for x in rec['publish']]}")
        elif time.perf_counter() > deadline:
            break
        if time.perf_counter() >= deadline and (
                not trace or (len(passes) >= 3 and not traced)):
            break
    resume = attempt(wl.resume, spark, tracer if trace else None)
    if resume is not None:
        log(f"resume: {resume['seconds']:.2f} s")
    return passes, resume


def layer_metrics(tracer, traced, untraced, resume, events) -> dict:
    """Per-layer metrics from the traced passes; ``untraced`` are the
    passes between them, first and last included. Tracing overhead
    compares each traced pass with the untraced pass after it, which is
    the warmer of the two, so warm-up can only inflate the figure."""
    busy = [tr.layer_busy(tracer, p["span"]) for p in traced]
    out = {
        f"{layer}.busy_s": statistics.median(b.get(layer, 0.0) for b in busy)
        for layer in ("assemble", "extract", "refine", "link", "cc", "graph")
    }
    out["driver.untraced_s"] = statistics.median(
        p["seconds"] - sum(b.values()) for p, b in zip(traced, busy))
    out["checkpoint.resume_read_s"] = resume["read_s"]
    add = [x for p in traced for x in p.get("add_batch", ())]
    pub = [x for p in traced for x in p.get("publish", ())] if add else []
    out["streaming.add_batch_s"] = statistics.median(add) if add else 0.0
    out["streaming.trigger_overhead_s"] = (
        statistics.median(b - a for a, b in zip(add, pub)) if add else 0.0)
    out["trace.overhead_frac"] = statistics.median(
        t["seconds"] / u["seconds"] - 1.0 for t, u in zip(traced, untraced[1:]))
    for key in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes"):
        out[f"spark.{key}"] = statistics.median(e[key] for e in events)
    out.update(traced[-1]["counts"])
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "pl_marker_spark")):
        print(f"pl_marker_spark not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env(trace)
    sys.path.insert(0, ROOT)

    from workloads import WORKLOADS

    from pl_marker_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](os.path.join(WORK, "run"), args.seed)
    t_gen = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t_gen

    tracer = tr.Tracer()
    attempts = Attempts()
    spark = get_spark(app=f"perfbench-{args.workload}")
    try:
        jvm = spark.sparkContext._gateway.proc.pid
        # sampled in both modes, so --trace 0 and 1 carry the same load
        with tr.WorkerRssSampler(jvm) as workers:
            spark.sparkContext.setLogLevel("ERROR")
            wl.warm_up(spark)
            setup_s = time.perf_counter() - T_START - gen_s
            log(f"setup: {setup_s:.2f} s (input generation {gen_s:.2f} s excluded)")
            passes, resume = measure(spark, wl, tracer, attempts, args)
        rss_jvm, rss_py = tr.peak_rss_mb(jvm), tr.peak_rss_mb(os.getpid())
        log(f"peak RSS: JVM {rss_jvm:.0f} MB, Python {rss_py:.0f} MB")
        peak_rss = rss_jvm + rss_py
    finally:
        stop_spark(spark)

    kinds = [p["traced"] for p in passes]
    if resume is None or not passes or (trace and (len(kinds) < 3 or kinds[-1])):
        log("no successful pass to report")
        return 1
    if trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.jsonl"))
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        events = tr.event_log_totals(os.path.join(WORK, "events"),
                                     [p["window"] for p in traced])
        values = layer_metrics(tracer, traced, untraced, resume, events)
        values["workers.peak_rss_mb"] = workers.peak / 2**20
        units = PER_LAYER
    else:
        wall = statistics.median(p["seconds"] for p in passes)
        values = {
            "setup_s": setup_s,
            "turns_per_s": wl.turns / wall,
            "triples_per_s": wl.n_triples / wall,
            "publish_p50_s": statistics.median(x for p in passes for x in p["publish"]),
            "resume_s": resume["seconds"],
            "triple_f1": wl.f1,
            "peak_rss_mb": peak_rss,
        }
        units = END_TO_END
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    result = {
        "correct": attempts.failed == 0,
        "attempted": attempts.attempted,
        "failed": attempts.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
