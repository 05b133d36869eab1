"""Known-answer tests for the Check IR compiled to Spark SQL text.

- literals (map keys, regexes, enum members) mean the same under both
  ``spark.sql.parser.escapedStringLiterals`` settings and survive
  ``${var}`` substitution;
- building a benchmark-shaped suite and its verdict frame costs a few
  hundred py4j round trips, with no plan memo;
- ``summary()`` reads counts observed while an output computed the
  violation union: no Spark job after ``violations``, exact counts in
  every persist mode;
- the chi-square drift verdict runs without a join or a window.
"""

from __future__ import annotations

import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hjsonschema_spark.checks import (
    CheckSuite,
    ChiSquareDrift,
    Contiguous,
    Enum,
    FunctionalDependency,
    GroupAggBounds,
    Length,
    MapKeysAllowed,
    MapPatternValues,
    MapRequiredKeys,
    Monotonic,
    NotNullIf,
    Pattern,
    RefIntegrity,
    Required,
    SequencePattern,
    UniqueKey,
    run_suite,
)
from hjsonschema_spark.checks.ir import Bounds
from hjsonschema_spark.session import cached_local_df
from hjsonschema_spark.sources import ROLE_VOCAB, TOOL_VOCAB, TranscriptGen

KEYS = ("conv_id", "turn_idx")

# Each of these reads differently once quoted naively: a quote, a
# backslash, and a ${var} reference (substituted away by default).
QUIRKY = ("it's", "a\\b", "${x}")
PATTERN_KEY = "^it's$|^a\\\\b$"
LITERAL_CHECKS = (
    MapKeysAllowed(column="m", keys=QUIRKY, patterns=("^p\\d+$",)),
    MapRequiredKeys(column="m", keys=("it's", "${x}")),
    MapPatternValues(column="m", key_regex=PATTERN_KEY, value_predicate="length(x) = 2"),
    Enum(column="s", values=QUIRKY),
    Pattern(column="s", regex="^(it's|a\\\\b|\\$\\{x\\})$"),
)
LITERAL_ROWS = [
    (1, "it's", {"it's": "ok", "${x}": "ok"}),
    (2, "a\\b", {"a\\b": "bad", "p12": "ok", "q": "ok"}),
    (3, "${x}", {"${x}": "ok", "it's": "toolong"}),
    (4, "its", {"x": "ok"}),
    (5, "a\\\\b", {"it's": "ok", "${x}": "ok", "a\\b": "ok"}),
]
LITERAL_VIOLATIONS = {
    (2, "map_keys_allowed:m", "q"),
    (2, "map_required_keys:m", "${x},it's"),
    (2, f"map_pattern_values:m:{PATTERN_KEY}", "a\\b"),
    (3, f"map_pattern_values:m:{PATTERN_KEY}", "it's"),
    (4, "map_keys_allowed:m", "x"),
    (4, "map_required_keys:m", "${x},it's"),
    (4, "enum:s", "its"),
    (4, "pattern:s", "its"),
    (5, "enum:s", "a\\\\b"),
    (5, "pattern:s", "a\\\\b"),
}


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_literals_mean_the_same_under_both_parser_settings(spark, escaped):
    df = spark.createDataFrame(LITERAL_ROWS, "k int, s string, m map<string,string>")
    suite = CheckSuite(name="literals", key_columns=("k",), checks=LITERAL_CHECKS)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    try:
        rows = run_suite(df, suite).violations.collect()
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert {(r.k, r.check, r.value) for r in rows} == LITERAL_VIOLATIONS


# The benchmark's suite shape: 9 row checks, 3 ordered, 3 group, a
# reference join and a chi-square drift verdict.
BENCH_SHAPED = (
    Required(column="conv_id"),
    Required(column="role"),
    Required(column="ts"),
    Enum(column="role", values=tuple(ROLE_VOCAB)),
    Pattern(column="conv_id", regex="^c[0-9]{8}$"),
    Pattern(column="text", regex="^(Thought|Action|Observation):|^[a-z]"),
    Bounds(column="turn_idx", min=0, max=100000),
    Length(column="text", min_len=1, max_len=1000),
    NotNullIf(column="tool", when_column="role", equals="tool_use", only=True),
    UniqueKey(columns=KEYS),
    Contiguous(order_column="turn_idx", group_by=("conv_id",)),
    Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",)),
    SequencePattern(column="role", group_by=("conv_id",), order_by=("turn_idx",), regex="^system(,|$)"),
    GroupAggBounds(column="tokens", agg="sum", group_by=("conv_id",), max=200000),
    FunctionalDependency(determinant=("conv_id",), dependent=("model",)),
    RefIntegrity(columns=("tool",), ref_name="tools"),
    ChiSquareDrift(column="role", ref_name="role_ref"),
)


@pytest.fixture(scope="module")
def table(spark):
    df = TranscriptGen(
        n_convs=120, seed=11, dup_rate=0.02, bad_role_rate=0.02, gap_rate=0.02, n_partitions=4
    ).df(spark)
    df = df.selectExpr(
        "*", "CAST(length(text) AS INT) AS tokens", "CASE WHEN turn_idx = 3 THEN 'm2' ELSE 'm1' END AS model"
    ).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def vocab(spark):
    return {
        "tools": cached_local_df(spark, tuple((t,) for t in TOOL_VOCAB[:20]), "tool string"),
        "role_ref": cached_local_df(
            spark,
            (("system", 120), ("user", 300), ("assistant", 280), ("tool_use", 60), ("tool_result", 60)),
            "role string, n long",
        ),
    }


def _round_trips(fn) -> int:
    """py4j round trips ``fn`` makes on this thread (py4j's finalizer
    thread releases dead JVM object handles on its own, asynchronously)."""
    import py4j.clientserver as cs

    sent = [0]
    send = cs.ClientServerConnection.send_command
    me = threading.get_ident()

    def counted(self, *a, **k):
        sent[0] += threading.get_ident() == me
        return send(self, *a, **k)

    cs.ClientServerConnection.send_command = counted
    try:
        fn()
    finally:
        cs.ClientServerConnection.send_command = send
    return sent[0]


def test_build_and_verdicts_round_trips_bounded(spark, table, vocab):
    """A run_suite build plus its verdict frame is a few dozen
    projections of SQL text: at most 400 py4j round trips for the
    benchmark-shaped suite (built call by call from PySpark functions,
    2.4k with the old plan memos warm and 6.1k cold). The first run
    fills only the session's small-relation memo (check ids)."""
    suite = CheckSuite(name="shaped", key_columns=KEYS, checks=BENCH_SHAPED)

    built = []

    def build():
        res = run_suite(table, suite, vocab_tables=vocab, persist=True)
        res.verdicts  # noqa: B018 (constructs the verdict frame)
        built.append(res)

    run_suite(table, suite, vocab_tables=vocab).verdicts  # noqa: B018
    n = _round_trips(build)
    built[0].unpersist(blocking=True)
    assert 0 < n <= 400, n


def test_summary_starts_no_job_after_violations(spark, table, vocab):
    suite = CheckSuite(name="shaped", key_columns=KEYS, checks=BENCH_SHAPED)
    res = run_suite(table, suite, vocab_tables=vocab, persist=True)
    viols = res.violations.collect()
    sc = spark.sparkContext
    sc.setJobGroup("summary-no-job", "summary() after violations")
    try:
        summary = res.summary()
    finally:
        sc.setJobGroup("other", "other")
    jobs = sc.statusTracker().getJobIdsForGroup("summary-no-job")
    res.unpersist(blocking=True)
    assert jobs == []
    # summary() drains Spark's listener bus, which completes the
    # observation, through a Spark internal: pin that it still exists
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    counts = Counter(r.check for r in viols)
    assert summary["n_violations"] == len(viols) > 0
    assert summary["by_check"] == dict(counts)


@pytest.mark.parametrize("persist", [True, "viols", False])
@pytest.mark.parametrize("output_first", [True, False])
def test_summary_counts_in_every_persist_mode(spark, table, vocab, persist, output_first):
    """Exact counts whether or not an output ran first: unpersisted,
    the global sort's sampling job re-executes the union, so summary()
    counts on its own pass instead."""
    suite = CheckSuite(name="shaped", key_columns=KEYS, checks=BENCH_SHAPED)
    res = run_suite(table, suite, vocab_tables=vocab, persist=persist)
    if output_first:
        viols = res.violations.collect()
        summary = res.summary()
    else:
        summary = res.summary()
        viols = res.violations.collect()
    res.unpersist(blocking=True)
    assert summary["n_violations"] == len(viols) > 0
    assert summary["by_check"] == dict(Counter(r.check for r in viols))


def test_chi2_drift_plan_has_no_join_or_window(spark, table, vocab):
    suite = CheckSuite(name="chi2", key_columns=KEYS, checks=(ChiSquareDrift(column="role", ref_name="role_ref"),))
    verdicts = run_suite(table, suite, vocab_tables=vocab).verdicts
    table_rows = verdicts.filter(F.expr("scope = 'table'")).collect()
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan, plan
    assert len(table_rows) == 1 and table_rows[0]["n_rows"] == table.count()
