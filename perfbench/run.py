"""Benchmark of the hjsonschema_spark validation engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload: it
generates the seeded inputs, starts a local Spark session sized to the
host, loads the input (set-up), runs the operation once cold, then
repeats it warm for --seconds, checking every output against oracles
computed apart from the program. The last line of standard output is
one JSON object: correct, attempted, failed and metrics (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

PROC_START = harness.process_start_wall()
MIN_WARM = 3  # warm iterations run even when --seconds is shorter

END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "first_run_s": "s",
    "cpu_s_per_mrow": "s/Mrow", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "checks.engine.build_s": "s",
    "checks.engine.violations_s": "s",
    "checks.engine.verdicts_s": "s",
    "checks.engine.summary_s": "s",
    "checks.engine.spark_jobs": "count",
    "checks.engine.tasks": "count",
    "checks.engine.plan_exchanges": "count",
    "checks.engine.shuffle_bytes_per_row": "B/row",
    "checks.engine.spill_bytes": "B",
    "checks.compile.row_pass_s": "s",
    "checks.compile.ordered_pass_s": "s",
    "checks.compile.group_pass_s": "s",
    "checks.compile.ref_join_s": "s",
    "checks.compile.drift_s": "s",
    "checks.compile.fusion_ratio": "ratio",
    "checks.checkpoint.batch_s": "s",
    "checks.checkpoint.commit_s": "s",
    "checks.checkpoint.ledger_read_s": "s",
    "checks.checkpoint.committed_read_s": "s",
    "checks.checkpoint.bytes_written_per_row": "B/row",
    "draft4.columnar.docs_per_s": "docs/s",
    "draft4.columnar.plan_parse_calls": "count",
    "draft4.udf.docs_per_s": "docs/s",
    "draft4.validator.docs_per_s": "docs/s",
    "operators.dedup.lsh_pairs_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.pairs": "count",
    "operators.dedup.clusters": "count",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "cli.validate_s": "s",
    "trace.rows_per_s": "rows/s",
}
# Workloads run as probes inside another workload's traced run: their
# layers are measured there, since a run of their own does not fit the
# benchmark's time budget (see README).
PROBES = {"json_documents": ("checkpoint_resume", "near_dup_text")}
# spans whose median over the warm iterations is reported as a layer wall
ITERATION_SPANS = {
    "checks.engine.build": "checks.engine.build_s",
    "checks.engine.violations": "checks.engine.violations_s",
    "checks.engine.verdicts": "checks.engine.verdicts_s",
    "checks.engine.summary": "checks.engine.summary_s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """Operation accounting and timings of one benchmark process."""

    def __init__(self, workload, tracer):
        self.w, self.tracer = workload, tracer
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.first_run_s = None

    def probe(self, cls) -> dict:
        """Run a probe workload's layers() in this process: one round of
        its operations, checked like an iteration."""
        p = cls(self.w.env, self.tracer, self.w.seed)
        self.attempted += p.ops_per_iteration
        try:
            p.generate()
            p.jvm = self.w.jvm
            p.load(self.w.spark)
            m = p.layers()
        except Exception:
            self.failed += p.ops_per_iteration
            traceback.print_exc()
            return {}
        self.problems += [f"{p.name}: {x}" for x in p.problems]
        return m

    def iteration(self, i: int, timed: bool) -> None:
        """One round of the workload's operations; iteration 0 is the cold one."""
        w = self.w
        self.attempted += w.ops_per_iteration
        cpu0 = w.jvm.cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("iteration"):
                out = w.iterate(i)
        except Exception:
            self.failed += w.ops_per_iteration
            traceback.print_exc()
            return
        wall = time.perf_counter() - t0
        cpu = w.jvm.cpu_s() - cpu0
        if timed:
            self.walls.append(wall)
            self.cpus.append(cpu)
        elif i == 0:
            self.first_run_s = wall
        # outside the timed window: check, release caches, collect garbage
        self.problems += [f"iteration {i}: {p}" for p in w.verify(out)]
        w.release(out)
        w.jvm.full_gc()


def measure(w, tracer, seconds: float) -> Run:
    """Cold iteration (first_run_s), one untimed warm-up iteration, then
    timed iterations for ``seconds`` and at least MIN_WARM of them."""
    run = Run(w, tracer)
    run.iteration(0, timed=False)
    run.iteration(1, timed=False)
    start = time.perf_counter()
    i = 2
    while i < 2 + MIN_WARM or time.perf_counter() - start < seconds:
        run.iteration(i, timed=True)
        i += 1
    return run


def end_to_end(w, run: Run, setup_s: float) -> dict:
    """Zero stands for a metric no successful iteration measured."""
    rows = w.rows_per_iteration
    return {
        "setup_s": setup_s,
        "rows_per_s": rows / statistics.median(run.walls) if run.walls else 0.0,
        "first_run_s": run.first_run_s or 0.0,
        "cpu_s_per_mrow": statistics.median(run.cpus) / rows * 1e6 if run.cpus else 0.0,
        "peak_rss_mb": w.jvm.peak_rss_mb(),
    }


def per_layer(w, run: Run, tracer) -> dict:
    """Layer readings; zero for a layer this workload does not run."""
    from workloads import WORKLOADS

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = tracer.wall("session.start")
    m["sources.read_s"] = tracer.wall("sources.read")
    for span, key in ITERATION_SPANS.items():
        walls = [s["end"] - s["start"] for s in tracer.spans if s["name"] == span][1:]  # warm only
        if walls:
            m[key] = statistics.median(walls)
    m["trace.rows_per_s"] = w.rows_per_iteration / statistics.median(run.walls) if run.walls else 0.0
    m.update(w.layers())
    run.problems += w.problems
    for name in PROBES.get(w.name, ()):
        m.update(run.probe(WORKLOADS[name]))
    m["jvm.gc_s"] = w.jvm.gc_s()
    m["jvm.heap_peak_mb"] = w.jvm.heap_peak_mb()
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    sys.path.insert(0, ROOT)
    try:
        import hjsonschema_spark
        import pyspark  # noqa: F401

        if not os.path.abspath(hjsonschema_spark.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"hjsonschema_spark comes from {hjsonschema_spark.__file__}, outside {ROOT}")
    except ImportError as e:
        # Nothing can run: every operation of the first round fails and
        # no result is printed, so a broken checkout never reads as a run.
        print(json.dumps({"error": f"cannot import the program: {e}", "attempted": cls.ops_per_iteration,
                          "failed": cls.ops_per_iteration}), file=sys.stderr)
        return 3

    env = harness.Env.create(ROOT, args.workload)
    tracer = harness.Tracer(enabled=bool(args.trace), trace_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        w = cls(env, tracer, args.seed)
        w.generate()
        with tracer.span("session.start"):
            spark = env.start_spark()
        w.jvm = harness.Jvm(spark)
        w.load(spark)
        setup_s = time.time() - PROC_START
        run = measure(w, tracer, args.seconds)
        metrics = per_layer(w, run, tracer) if args.trace else end_to_end(w, run, setup_s)
        units = PER_LAYER if args.trace else END_TO_END
        if args.trace:
            with open(os.path.join(env.out, f"spans-{tracer.trace_id}.json"), "w") as f:
                json.dump({"spans": tracer.spans, "metrics": metrics}, f)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        env.cleanup()
    print(json.dumps({"first_run_s": run.first_run_s, "warm_walls": run.walls, "warm_cpu_s": run.cpus}),
          file=sys.stderr)
    for p in run.problems[:20]:
        print(f"INCORRECT: {p}", file=sys.stderr)
    result = {
        "correct": not run.problems and run.failed < run.attempted,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
