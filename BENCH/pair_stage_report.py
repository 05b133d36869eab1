"""Per-execution N->4N scaling decomposition for one scaling run.

A scaling run should carry event-log proof that the fused ordered
pass's per-row cost stays flat (<= 1.5x) from N to 4N threads —
wall-clock efficiency alone can hide an operator whose CPU cost
inflates with parallelism (exactly the round-3 whole-group
window-buffer defect).

Usage:
  python BENCH/pair_stage_report.py <app_id_n> <app_id_4n> [--json]

The two app ids are the `app_id_n` / `app_id_4n` fields of the JSON line
`bench.py --scaling` prints. Output fields suffixed `_8` / `_32` name
the N and 4N sides (the names date from the 8- vs 32-core host).

Matching strategy: stage names are useless here — every action comes
through py4j, so every stage is named `count at
NativeMethodAccessorImpl.java:0`. Instead we match at the SQL
*execution* level: `SparkListenerSQLExecutionStart` carries the
physical-plan tree, each `SparkListenerJobStart` carries
`spark.sql.execution.id`, and stages belong to jobs. An execution's
signature is the multiset of its algebraic plan nodes (Window, Sort,
Exchange, HashAggregate, ...) with AQE bookkeeping wrappers stripped —
the AQE runtime inserts `ShuffleQueryStage`/`AQEShuffleRead`/... nodes
at different times at different core counts, so they cannot be part of
the key. Each scaling child runs warm-ups + a cached-scan control +
bench.py's SCALING_RUNS engine runs in one JVM, so a signature recurs
several times per log; matching the reported min-of-N wall estimator,
we take the MINIMUM execution wall (and its task-time sum) per
signature at each core count:

  cost_ratio = task_sum_32 / task_sum_8   (per-row CPU scaling; 1.0 =
               flat, >1.5 = the operator itself gets more expensive
               with parallelism — the defect class this guards)
  wall_speedup = wall_8 / wall_32         (<= 4 by construction)

The fused ordered pass is the execution whose signature contains
`Window` (exactly one since the round-3 single-WindowExec rewrite) —
flagged `ordered_pass` in the output.

Stdlib-only; safe to run while no Spark session is alive.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from analyze_eventlog import load  # noqa: E402

ELOG_DIR = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR", "/tmp/spark_graft_eventlogs")

# AQE/runtime bookkeeping wrappers: inserted lazily as query stages
# materialize, so their presence/count differs run-to-run and between
# core counts. Excluded from the signature key.
_AQE_NODES = {
    "AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "AQEShuffleRead",
    "WholeStageCodegen", "InputAdapter", "ReusedExchange",
}


def _plan_nodes(node: dict, out: list) -> list:
    name = (node.get("nodeName") or "").split(" ")[0]
    if name and name not in _AQE_NODES:
        out.append(name)
    for ch in node.get("children", []):
        _plan_nodes(ch, out)
    return out


def execution_mins(app_id: str) -> dict[str, dict]:
    """Per plan-signature minimum (wall, task_sum, max_task, n_tasks)
    over every completed SQL execution with that signature."""
    path = os.path.join(ELOG_DIR, f"eventlog_v2_{app_id}")
    if not os.path.exists(path):
        path = os.path.join(ELOG_DIR, app_id)
    evs = load(path)
    sigs: dict[int, str] = {}
    windows: dict[int, bool] = {}
    starts: dict[int, float] = {}
    execs: dict[int, dict] = {}
    stage_to_exec: dict[int, int] = {}
    for e in evs:
        ev = e.get("Event", "")
        if ev.endswith("SparkListenerSQLExecutionStart"):
            eid = e.get("executionId")
            nodes = sorted(_plan_nodes(e.get("sparkPlanInfo", {}), []))
            sigs[eid] = "|".join(
                f"{n}x{nodes.count(n)}" for n in sorted(set(nodes))
            )
            windows[eid] = "Window" in nodes
            starts[eid] = e.get("time", 0)
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            eid = e.get("executionId")
            if eid in starts:
                m = execs.setdefault(
                    eid, {"task_sum_s": 0.0, "max_task_s": 0.0, "n_tasks": 0}
                )
                m["wall_s"] = (e.get("time", 0) - starts[eid]) / 1e3
        elif ev == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                for sid in e.get("Stage IDs", []):
                    stage_to_exec[sid] = int(eid)
        elif ev == "SparkListenerTaskEnd":
            eid = stage_to_exec.get(e.get("Stage ID"))
            if eid is None:
                continue
            ti = e.get("Task Info", {})
            wall = ((ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0)) / 1e3
            m = execs.setdefault(
                eid, {"task_sum_s": 0.0, "max_task_s": 0.0, "n_tasks": 0}
            )
            m["task_sum_s"] += wall
            m["max_task_s"] = max(m["max_task_s"], wall)
            m["n_tasks"] += 1
    out: dict[str, dict] = {}
    for eid, m in execs.items():
        sig = sigs.get(eid)
        if sig is None or "wall_s" not in m or m["wall_s"] <= 0:
            continue
        cur = out.get(sig)
        n = (cur["n_execs"] if cur else 0) + 1
        if cur is None or m["wall_s"] < cur["wall_s"]:
            cur = {**m, "window": windows.get(eid, False)}
            out[sig] = cur
        cur["n_execs"] = n
    return out


def _label(sig: str) -> str:
    """Short human hint: the 3 rarest/most telling node kinds."""
    telling = [
        n for n in (
            "Window", "Sort", "OverwriteByExpression", "Generate",
            "BroadcastHashJoin", "HashAggregate", "Union", "Exchange",
        ) if n + "x" in sig
    ]
    return "+".join(telling[:4]) or sig[:40]


def compare(app8: str, app32: str) -> dict:
    s8, s32 = execution_mins(app8), execution_mins(app32)
    rows = []
    for sig in sorted(set(s8) & set(s32), key=lambda n: -s8[n]["wall_s"]):
        a, b = s8[sig], s32[sig]
        if a["task_sum_s"] < 0.5:  # sub-second executions: ratio is noise
            continue
        rows.append(
            {
                "label": _label(sig),
                "ordered_pass": a["window"],
                "n_tasks_8": a["n_tasks"],
                "wall_8": round(a["wall_s"], 2),
                "wall_32": round(b["wall_s"], 2),
                "wall_speedup": round(a["wall_s"] / b["wall_s"], 2),
                "tsum_8": round(a["task_sum_s"], 1),
                "tsum_32": round(b["task_sum_s"], 1),
                "cost_ratio": round(b["task_sum_s"] / a["task_sum_s"], 2),
                "max_task_32": round(b["max_task_s"], 2),
                "sig": sig,
            }
        )
    unmatched = sorted(set(s8) ^ set(s32))
    return {"app_8": app8, "app_32": app32, "stages": rows,
            "unmatched_sigs": [s[:80] for s in unmatched]}


def main() -> int:
    argv = sys.argv[1:]
    app8, app32 = argv[0], argv[1]
    out = compare(app8, app32)
    if "--json" in argv:
        print(json.dumps(out))
        return 0
    print(f"== N: {app8} vs 4N: {app32}")
    print(
        f"{'wall8':>7} {'wall32':>7} {'spd':>5} {'tsum8':>8} {'tsum32':>8}"
        f" {'cost×':>6} {'maxT32':>7}  execution"
    )
    for r in out["stages"]:
        tag = " [ordered pass]" if r["ordered_pass"] else ""
        print(
            f"{r['wall_8']:>7} {r['wall_32']:>7} {r['wall_speedup']:>5} "
            f"{r['tsum_8']:>8} {r['tsum_32']:>8} {r['cost_ratio']:>6} "
            f"{r['max_task_32']:>7}  {r['label']}{tag}"
        )
    if out["unmatched_sigs"]:
        print(f"(unmatched signatures: {len(out['unmatched_sigs'])})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
