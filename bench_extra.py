#!/usr/bin/env python
"""Auxiliary measurement harness for the optimization round (guide §1).

NOT part of the frozen driver contract (bench.py is the measured
artifact; this file only produces evidence for OPTIMIZATION_r06.md and
plans/r06/*).

Modes:
  --explain [--out DIR] [--only a,b,c]
      Capture .explain("formatted") for every declared query into
      DIR/<name>.txt (driver-only planning; no executor work).
  --time a,b,c [--runs N]
      Per-query noop-sink timing, min-of-N, same hygiene as bench.py
      (clearCache + System.gc between runs/queries). Also reports the
      Python-side construction+planning time separately from execution.
      Prints one JSON line.
  --events a,b,c
      Run each query once with event logging enabled and print the
      per-stage decomposition via BENCH/analyze_eventlog.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from hjsonschema_spark.session import default_parallelism  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_parallelism()


def _arg(flag: str, default: str | None = None) -> str | None:
    if flag in sys.argv:
        i = sys.argv.index(flag)
        if i + 1 < len(sys.argv):
            return sys.argv[i + 1]
    return default


def _session(extra_conf: dict | None = None):
    from hjsonschema_spark.session import get_spark

    spark = get_spark(app_name="bench-extra", cores=CPUS, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main_explain() -> None:
    import __spark_entry__ as entrymod

    out_dir = _arg("--out", os.path.join(REPO, "plans", "r06"))
    only = _arg("--only")
    os.makedirs(out_dir, exist_ok=True)
    suffix = _arg("--suffix", "_before")
    spark = _session()
    qs = entrymod.queries()
    names = only.split(",") if only else list(qs)
    for name in names:
        import contextlib
        import io

        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"[explain] {name}: {len(txt)} chars", file=sys.stderr)
    spark.stop()


def _gc(spark) -> None:
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def main_time() -> None:
    import __spark_entry__ as entrymod

    names = sys.argv[sys.argv.index("--time") + 1].split(",")
    runs = int(_arg("--runs", "3"))
    conf = json.loads(_arg("--conf", "{}"))
    spark = _session(conf or None)
    qs = entrymod.queries()
    out: dict = {"sf": SF_DIR, "cpus": CPUS, "runs": runs, "queries": {}}
    for name in names:
        walls, builds = [], []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"extra:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            walls.append(t2 - t0)
            _gc(spark)
        out["queries"][name] = {
            "min": round(min(walls), 3),
            "all": [round(w, 3) for w in walls],
            "build": [round(b, 3) for b in builds],
        }
        print(f"[time] {name}: min {min(walls):.2f}s walls={[round(w,2) for w in walls]} "
              f"build={[round(b,3) for b in builds]}", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))


def main_events() -> None:
    import __spark_entry__ as entrymod

    names = sys.argv[sys.argv.index("--events") + 1].split(",")
    elog = "/tmp/spark_graft_eventlogs_extra"
    os.makedirs(elog, exist_ok=True)
    spark = _session({"spark.eventLog.enabled": "true", "spark.eventLog.dir": elog})
    qs = entrymod.queries()
    app_id = spark.sparkContext.applicationId
    for name in names:
        spark.sparkContext.setJobDescription(f"extra:{name}")
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        print(f"[events] {name}: {time.perf_counter()-t0:.2f}s", file=sys.stderr)
        _gc(spark)
    spark.stop()
    print(json.dumps({"app_id": app_id, "eventlog_dir": elog}))


if __name__ == "__main__":
    if "--explain" in sys.argv:
        main_explain()
    elif "--time" in sys.argv:
        main_time()
    elif "--events" in sys.argv:
        main_events()
    else:
        print(__doc__)
