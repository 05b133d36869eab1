#!/usr/bin/env python
"""Plan capture for every `__spark_entry__` query.

NOT part of the driver contract (bench.py is the measured artifact);
this file produced the plans under plans/r06/ and checks that a change
leaves the executed plans alone.

Usage:
  python bench_extra.py --explain [--out DIR] [--only a,b,c] [--suffix S]
      Capture .explain("formatted") for every declared query into
      DIR/<name><S>.txt (driver-only planning; no executor work).
      Comparing two checkouts' outputs (after normalizing the `#\\d+`
      expression ids) shows whether a change moved any executed plan.

Timings and per-stage event-log decompositions come from bench.py and
perfbench's traced run.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

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


def _session():
    from hjsonschema_spark.session import get_spark

    spark = get_spark(app_name="bench-extra", cores=CPUS)
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


if __name__ == "__main__":
    if "--explain" in sys.argv:
        main_explain()
    else:
        print(__doc__)
