#!/usr/bin/env python
"""Bench harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

--transcripts-only: print one JSON line with the north-star metric
(turns validated/sec for the full transcript check-suite, min of
SCALING_RUNS runs after two warm-ups) — the child job of both the
default mode and --scaling.

--scaling: run the identical transcripts job at local[N] and local[4N]
(separate JVMs — Spark master is fixed per process), N being a quarter
of the cores this process may run on, and print one JSON line with the
throughput scaling efficiency tps_4n/(4*tps_n) (north rule: >= 0.8).
Writes no files and applies no gate.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from hjsonschema_spark.session import default_driver_memory, default_parallelism  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_parallelism()
N_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "400000"))
N_PARTS = int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", "128"))
# measured engine runs per transcripts child, after its two warm-ups
SCALING_RUNS = 5

HEADLINE = [
    "suite_violations_lineitem",
    "ref_violations_events",
    "stats_lineitem",
    "monotonic_ts_events",
    "dedup_exact_documents",
    "ngram_jaccard_documents",
    "minhash_lsh_documents",
    "dedup_clusters_documents",
    "token_stats_documents",
    "top_tokens_documents",
    "quality_documents",
    "cosine_topk_embeddings",
    "cosine_topk_ivf_embeddings",
    "chi2_event_type",
    "ks_value",
    "psi_event_type",
    "drift_suite_events",
    "schema_suite_events",
    "pii_documents",
    "sessionize_events",
    "functional_dependency_lineitem",
    "conversation_checks_events",
    "clean_rows_lineitem",
    "pack_sequences_documents",
]


def _materialize(df) -> int:
    """Force full evaluation without driver collection."""
    return df.write.format("noop").mode("overwrite").save() or df.count()


def _force_query(fn, spark, sf_dir) -> float:
    """Time construction AND execution: queries with eager driver-side
    stages (iterative CC convergence counts, IVF codebook training) do
    real work before the final frame exists — timing only the noop
    write of the result understates them (measured: the CC query
    showed 0.03s while its label-propagation rounds ran untimed)."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _transcripts_path() -> str:
    return f"/tmp/spark_graft_bench_transcripts_{N_CONVS}"


def _ensure_transcripts(spark) -> str:
    """Materialize the seeded transcripts table once (shared by both
    cluster sizes so the scaling runs read identical input)."""
    path = _transcripts_path()
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from hjsonschema_spark.sources import TranscriptGen

        gen = TranscriptGen(
            n_convs=N_CONVS, seed=42, n_partitions=N_PARTS,
            dup_rate=0.001, bad_role_rate=0.001, gap_rate=0.001, ts_regress_rate=0.001,
        )
        gen.df(spark).write.mode("overwrite").parquet(path)
    return path


def _transcripts_suite():
    from hjsonschema_spark.checks import (
        Bounds, CheckSuite, Contiguous, Enum, Length, Monotonic, NotNullIf,
        Pattern, RefIntegrity, Required, UniqueKey,
    )
    from hjsonschema_spark.sources import ROLE_VOCAB

    return CheckSuite(
        name="transcripts_full",
        key_columns=("conv_id", "turn_idx"),
        checks=(
            Required(column="conv_id"),
            Required(column="role"),
            Required(column="ts"),
            Enum(column="role", values=tuple(ROLE_VOCAB)),
            Pattern(column="conv_id", regex="^c[0-9]{8}$"),
            Pattern(column="text", regex="^(Thought|Action|Observation):|^[a-z]"),
            Bounds(column="turn_idx", min=0, max=100000),
            Length(column="text", min_len=1, max_len=100000),
            NotNullIf(column="tool", when_column="role", equals="tool_use", only=True),
            UniqueKey(columns=("conv_id", "turn_idx")),
            Contiguous(order_column="turn_idx", group_by=("conv_id",)),
            Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",)),
            RefIntegrity(columns=("tool",), ref_name="tools"),
        ),
    )


def run_transcripts_job(spark, df=None) -> dict:
    """The north-star job: full check-suite, one fused row pass + table
    passes, over the seeded transcripts table. Returns turns/sec.

    Pass a pre-cached ``df`` for scaling runs: this sandbox shares ONE
    disk across all local threads (and periodically drops the page
    cache), so disk scan time is a constant that does not scale with
    cores — unlike a real cluster, where scan bandwidth grows with
    executors. Caching the input isolates the quantity the north rule
    actually constrains: validation throughput scaling."""
    from hjsonschema_spark.checks import run_suite
    from hjsonschema_spark.sources import tool_vocab_df

    if df is None:
        df = spark.read.parquet(_ensure_transcripts(spark))
    n_turns = df.count()
    t0 = time.perf_counter()
    res = run_suite(
        df, _transcripts_suite(), vocab_tables={"tools": tool_vocab_df(spark)}, persist=True
    )
    # violations FIRST (fills the failing-rows + violations caches),
    # verdicts second (pure cache hits + one count-only scan).
    # Concurrent materialization would RACE to compute the persisted
    # frames before the cache fills and run the heavy stage twice
    # (observed in event logs).
    _materialize(res.violations)
    _materialize(res.verdicts)
    # release the run's persisted frames (slim fused pass + violations):
    # WITHOUT this, repeated suite runs accumulate ~n_rows-sized caches,
    # overflow the storage pool, and GC-thrash the whole JVM (observed:
    # local[32] throughput collapsed 4.7M -> 1.0M turns/sec across runs)
    wall = time.perf_counter() - t0
    # Inter-run hygiene OUTSIDE the measured window (a production run
    # pays neither): blocking unpersist so consecutive runs' caches
    # never coexist, then one explicit full GC so ContextCleaner
    # reclaims this run's shuffle files (they live on RAM-backed tmpfs
    # and are only cleaned when their ShuffleDependency is GC'd; at a
    # 64g heap the JVM otherwise GCs so rarely that dead shuffle data
    # from prior runs strangles the box — measured 117s -> 243s -> 446s
    # run degradation before this fix).
    res.unpersist(blocking=True)
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    return {"n_turns": n_turns, "wall_sec": wall, "turns_per_sec": n_turns / wall}


def main_default() -> None:
    from hjsonschema_spark.session import get_spark
    import __spark_entry__ as entrymod

    # The transcripts throughput job runs FIRST, in its own subprocess,
    # BEFORE this process creates its SparkSession: (a) a JVM polluted
    # by 20 queries ran it at 107-126s vs ~5s clean (ContextCleaner
    # drains asynchronously; localCheckpoint blocks + tmpfs shuffle
    # debris die only with the JVM), and (b) running the child AFTER
    # the query loop doesn't help because SparkSession.stop() does NOT
    # exit the parent's py4j JVM — its heap would starve the child
    # (same trap as --gen-only, see main_scaling).
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--transcripts-only"],
        capture_output=True, text=True, timeout=1200,
    )
    tj = json.loads(proc.stdout.strip().splitlines()[-1])

    spark = get_spark(app_name="bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        # min-of-2: the hypervisor steals CPU from this VM in windows
        # of minutes (measured: identical cached runs 5s..124s), and
        # steal noise is strictly one-sided — the faster run is always
        # the closer estimate of real capability. Two runs halve the
        # exposure for ~2x wall; the second run also reads a warm page
        # cache, which is the steady-state a production scan sees.
        t1 = _force_query(qs[name], spark, SF_DIR)
        spark.catalog.clearCache()  # run 2 must not read run 1's leftovers
        t2 = _force_query(qs[name], spark, SF_DIR)
        timings[name] = round(min(t1, t2), 3)
        print(f"[bench] {name}: {timings[name]:.2f}s (runs {t1:.2f}/{t2:.2f})", file=sys.stderr)
        # drop any cache a query left behind — queries are independent,
        # and accumulated blocks (incl. localCheckpoint blocks from the
        # iterative CC op, which only die on JVM GC) otherwise pollute
        # the storage pool for every later measurement (measured: the
        # transcripts job degraded 7.7s -> 53s after 17 queries).
        # clearCache alone is NOT enough: localCheckpoint RDD blocks and
        # shuffle files (RAM-backed tmpfs) are freed only when their
        # RDD/ShuffleDependency is GC'd, so force a full GC between
        # queries — OUTSIDE every timed window (measured without it:
        # every query after the iterative/eager ones inflated 3-60x,
        # chi2 0.31s->40s, total 35s->501s; the storage pool was full
        # of dead blocks and every small job GC-thrashed)
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    spark.stop()
    timings["transcripts_full_suite"] = round(tj["wall_sec"], 3)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "turns validated/sec (full check-suite single pass)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "cpus": CPUS,
                "turns_per_sec": round(tj["turns_per_sec"], 1),
                "bench_turns": tj["n_turns"],
                # always null: kept so the key set matches the r01-r06
                # records
                "probe": None,
                "probe_end": None,
                "gate": None,
            }
        )
    )


def run_control_scan(spark, df) -> dict:
    """Hardware-ceiling control: a trivial aggregation over the SAME
    cached input — no engine code, no shuffle beyond the 1-row final
    agg, no regex. Its N->4N efficiency is the upper bound ANY engine
    can reach on this box (one shared memory system feeds all local
    threads); engine efficiency should be judged relative to it."""
    from pyspark.sql import functions as F

    n_turns = df.count()
    t0 = time.perf_counter()
    df.agg(
        F.sum(F.length("text")), F.sum("turn_idx"), F.count(F.lit(1)),
        F.min("ts"), F.max("ts"),
    ).collect()
    wall = time.perf_counter() - t0
    return {"n_turns": n_turns, "wall_sec": wall, "turns_per_sec": n_turns / wall}


def main_transcripts_only() -> None:
    from hjsonschema_spark.session import get_spark

    # periodicGC as a 120s backstop only — the primary shuffle-file
    # cleanup is the explicit between-runs System.gc() in
    # run_transcripts_job (a 15s periodicGC injected stop-the-world
    # full-GC pauses INTO measured runs, costing the 64g/32-thread
    # child several seconds per run).
    # Event logs (cheap at this task count — hundreds of task events
    # per run) give a stage-level timeline per child: scheduling gaps,
    # per-stage walls, straggler tasks, GC time. That is the offline
    # evidence for WHERE a 4N run loses its scaling, without spending
    # a separate profiled Spark session.
    elog_dir = os.environ.get(
        "SPARK_GRAFT_EVENTLOG_DIR", "/tmp/spark_graft_eventlogs"
    )
    os.makedirs(elog_dir, exist_ok=True)
    extra = {
        "spark.cleaner.periodicGC.interval": "120s",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": elog_dir,
    }
    spark = get_spark(app_name=f"bench-transcripts-{CPUS}", cores=CPUS, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(_ensure_transcripts(spark)).persist()
    # two warm-ups: the first fills the cache, the second lets C2 JIT
    # reach steady state (observed: run 3+ can be 2x faster than run 1)
    run_transcripts_job(spark, df)
    run_transcripts_job(spark, df)
    # control scans IMMEDIATELY after warm-up, while the input cache is
    # certainly resident (after the engine runs it may be partially
    # evicted, and a disk-bound control measures the shared disk — the
    # same ~600MB/s at any core count — not the memory ceiling)
    ctl = [run_control_scan(spark, df) for _ in range(3)]
    # Estimator: min-of-N wall (= max tps), same as the headline child
    # and every per-query bench number. Hypervisor steal on a shared VM
    # is strictly ADDITIVE noise — isolated 2-5x outlier runs — so
    # min-of-N is the maximum-likelihood estimate of the clean wall.
    # The control uses min-of-3 for the same reason — a mixed estimator
    # (min engine / median control) would skew the normalized
    # efficiency instead of cancelling host state.
    runs = [run_transcripts_job(spark, df) for _ in range(SCALING_RUNS)]
    out = min(runs, key=lambda r: r["wall_sec"])  # min-of-N
    # app id ties this child to its event-log dir
    # (eventlog_v2_<app_id> under SPARK_GRAFT_EVENTLOG_DIR), so every
    # scaling run is traceable to a per-stage decomposition via
    # BENCH/analyze_eventlog.py and BENCH/pair_stage_report.py.
    out["app_id"] = spark.sparkContext.applicationId
    out["runs_sec"] = [round(r["wall_sec"], 2) for r in runs]
    out["control_tps"] = round(max(c["turns_per_sec"] for c in ctl), 1)  # min-wall
    print(json.dumps(out))
    spark.stop()


def _heap_mb(mem: str) -> int:
    """A JVM memory string (``512m``, ``16g``; no suffix = MiB) in MiB."""
    m = re.fullmatch(r"(\d+)(?:([kmgt])b?)?", mem.strip().lower())
    if m is None:
        raise ValueError(f"unreadable heap size {mem!r}")
    scale = {"k": 1 / 1024, None: 1, "m": 1, "g": 1024, "t": 1024 * 1024}[m.group(2)]
    return int(int(m.group(1)) * scale)


def _cpu_list(cpus: list[int]) -> str:
    """taskset CPU list for sorted ids: [0, 1, 2, 3, 6] -> '0-3,6'."""
    spans: list[list[int]] = []
    for c in cpus:
        if spans and c == spans[-1][1] + 1:
            spans[-1][1] = c
        else:
            spans.append([c, c])
    return ",".join(str(a) if a == b else f"{a}-{b}" for a, b in spans)


def main_scaling() -> None:
    cores = sorted(os.sched_getaffinity(0))
    n = len(cores) // 4
    if n < 1:
        sys.exit(
            f"bench.py --scaling needs at least 4 cores to run local[N] against "
            f"local[4N]; this process may run on {len(cores)}"
        )
    taskset = shutil.which("taskset")
    if taskset is None:
        sys.exit("bench.py --scaling needs taskset to pin each child to its cores")
    # Generation runs in its OWN subprocess: SparkSession.stop() does
    # not exit the py4j JVM, and a lingering gen heap starves the
    # measurement children's cache (observed: the 4N child evicts and
    # goes disk-bound, efficiency collapses to 0.24). A subprocess
    # guarantees the gen JVM is dead before the first measurement.
    if not os.path.exists(os.path.join(_transcripts_path(), "_SUCCESS")):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--gen-only"],
            check=True, timeout=3600,
        )
    # Faithful N-vs-4N proxy: an N-executor cluster has N cores TOTAL
    # (GC/JIT/OS threads included) and 1/4 the aggregate memory of the
    # 4N cluster. So each child is (a) pinned to exactly its core set
    # via taskset — otherwise the local[N] JVM parallelizes GC/JIT over
    # all host cores, inflating tps@N and understating efficiency —
    # and (b) given a proportional heap.
    heap_4n = _heap_mb(default_driver_memory())
    results = []
    for cpus, heap in ((n, heap_4n // 4), (4 * n, heap_4n)):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=f"{heap}m")
        cmd = [taskset, "-c", _cpu_list(cores[:cpus]),
               sys.executable, os.path.abspath(__file__), "--transcripts-only"]
        r = _run_scaling_child(cmd, env, cpus)
        print(
            f"local[{cpus}]: {r['turns_per_sec']:.0f} turns/sec "
            f"(control {r['control_tps']:.0f}, runs {r['runs_sec']})",
            file=sys.stderr,
        )
        results.append(r)
    rn, r4n = results
    print(
        json.dumps(
            {
                "n": n,
                "n_turns": rn["n_turns"],
                "tps_n": round(rn["turns_per_sec"], 1),
                "tps_4n": round(r4n["turns_per_sec"], 1),
                "efficiency": round(r4n["turns_per_sec"] / (4 * rn["turns_per_sec"]), 3),
                "control_efficiency": round(r4n["control_tps"] / (4 * rn["control_tps"]), 3),
                "app_id_n": rn["app_id"],
                "app_id_4n": r4n["app_id"],
            }
        )
    )


def _run_scaling_child(cmd: list, env: dict, cpus: int, timeout: int = 3600) -> dict:
    """Run one scaling child, retrying once: the host occasionally
    kills a child JVM outright (observed: a local[32] child vanished
    mid-run with no hs_err file, /dev/shm wiped, kernel hrtimer-stall
    logged) or leaves the py4j client hung on the dead gateway. Either
    way the whole sample used to die with the child's stderr lost."""
    for attempt in (1, 2):
        try:
            p = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=timeout)
        except subprocess.TimeoutExpired as e:
            err = e.stderr or ""
            if isinstance(err, bytes):
                err = err.decode(errors="replace")
            print(
                f"[scaling] local[{cpus}] child hung past {timeout}s "
                f"(attempt {attempt}); stderr tail:\n{err[-2000:]}",
                file=sys.stderr,
            )
            continue
        lines = [l for l in p.stdout.strip().splitlines() if l.startswith("{")]
        if p.returncode == 0 and lines:
            return json.loads(lines[-1])
        print(
            f"[scaling] local[{cpus}] child failed (rc={p.returncode}, "
            f"attempt {attempt}); stderr tail:\n{p.stderr[-2000:]}",
            file=sys.stderr,
        )
    raise RuntimeError(f"local[{cpus}] scaling child failed twice")


def main_gen_only() -> None:
    from hjsonschema_spark.session import get_spark

    spark = get_spark(app_name="bench-scaling-gen", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_transcripts(spark)
    spark.stop()


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        main_scaling()
    elif "--transcripts-only" in sys.argv:
        main_transcripts_only()
    elif "--gen-only" in sys.argv:
        main_gen_only()
    else:
        main_default()
