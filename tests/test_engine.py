"""Known-answer tests: the generator injects violations at known keys;
the engine must find exactly those (FIXTURES.md violation knobs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hjsonschema_spark.checks import (
    AllOf,
    AnyOf,
    CheckSuite,
    Contiguous,
    Custom,
    Enum,
    Length,
    Monotonic,
    MultipleOf,
    Not,
    NotNullIf,
    NullRateMax,
    OneOf,
    Pattern,
    Ref,
    RefIntegrity,
    Required,
    SuiteRegistry,
    UniqueKey,
    run_suite,
)
from hjsonschema_spark.checks.ir import Bounds, ConfigInvalid
from hjsonschema_spark.sources import ROLE_VOCAB, TranscriptGen, role_vocab_df, tool_vocab_df

KEYS = ("conv_id", "turn_idx")


def _suite(*checks) -> CheckSuite:
    return CheckSuite(name="t", key_columns=KEYS, checks=tuple(checks))


@pytest.fixture(scope="module")
def clean(spark):
    df = TranscriptGen(n_convs=200, seed=11).df(spark)
    df.cache().count()
    return df


def test_clean_table_passes(spark, clean):
    suite = _suite(
        Required(column="conv_id"),
        Required(column="role"),
        Enum(column="role", values=tuple(ROLE_VOCAB)),
        Pattern(column="conv_id", regex="^c[0-9]{8}$"),
        Bounds(column="turn_idx", min=0),
        Length(column="text", max_len=5000),
        NotNullIf(column="tool", when_column="role", equals="tool_use", only=True),
        UniqueKey(columns=KEYS),
        Contiguous(order_column="turn_idx", group_by=("conv_id",)),
        Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",)),
    )
    res = run_suite(clean, suite)
    assert res.summary()["n_violations"] == 0
    assert res.passed()
    verd = res.verdicts.filter("scope = 'partition'")
    assert verd.filter(~F.col("passed")).count() == 0


def test_bad_roles_found_exactly(spark):
    g = TranscriptGen(n_convs=200, seed=11, bad_role_rate=0.05)
    df = g.df(spark).cache()
    expected = {
        (r["conv_id"], r["turn_idx"])
        for r in df.filter(~F.col("role").isin(ROLE_VOCAB)).select(*KEYS).collect()
    }
    assert expected, "knob must inject at least one violation"
    res = run_suite(df, _suite(Enum(column="role", values=tuple(ROLE_VOCAB))))
    got = {(r["conv_id"], r["turn_idx"]) for r in res.violations.collect()}
    assert got == expected
    df.unpersist()


def test_duplicates_found(spark):
    g = TranscriptGen(n_convs=200, seed=13, dup_rate=0.03)
    df = g.df(spark).cache()
    res = run_suite(df, _suite(UniqueKey(columns=KEYS)))
    viol = res.violations.collect()
    assert viol
    # every reported key occurs >1 times; count matches the key multiplicity
    dup_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in df.groupBy(*KEYS).count().filter("count > 1").collect()
    }
    assert {(r["conv_id"], r["turn_idx"]) for r in viol} == dup_keys
    df.unpersist()


def test_gaps_and_ts_regression(spark):
    g = TranscriptGen(n_convs=300, seed=17, gap_rate=0.05, ts_regress_rate=0.02)
    df = g.df(spark).cache()
    res = run_suite(
        df,
        _suite(
            Contiguous(order_column="turn_idx", group_by=("conv_id",)),
            Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",)),
        ),
    )
    s = res.summary()
    assert s["by_check"].get("contiguous:turn_idx", 0) > 0
    assert s["by_check"].get("monotonic:ts", 0) > 0
    df.unpersist()


def test_ref_integrity_vocab_tables(spark):
    g = TranscriptGen(n_convs=200, seed=19, bad_tool_rate=0.5)
    df = g.df(spark).cache()
    n_bad = df.filter(F.col("tool") == "not_a_tool").count()
    assert n_bad > 0
    suite = _suite(
        RefIntegrity(columns=("role",), ref_name="roles"),
        RefIntegrity(columns=("tool",), ref_name="tools"),
    )
    res = run_suite(
        df,
        suite,
        vocab_tables={"roles": role_vocab_df(spark), "tools": tool_vocab_df(spark)},
    )
    s = res.summary()
    assert s["by_check"]["ref_integrity:tool->tools"] == n_bad
    assert "ref_integrity:role->roles" not in s["by_check"]
    df.unpersist()


def test_null_rate_and_stats(spark):
    g = TranscriptGen(n_convs=200, seed=23, null_text_rate=0.2)
    df = g.df(spark).cache()
    res = run_suite(
        df,
        _suite(NullRateMax(column="text", max_rate=0.05)),
        include_stats=True,
    )
    verd = {r["check"]: r["passed"] for r in res.verdicts.filter("scope='table'").collect()}
    assert verd["null_rate_max:text"] is False
    stats = {r["column"]: r.asDict() for r in res.stats.collect()}
    assert 0.1 < stats["text"]["null_rate"] < 0.35
    assert stats["conv_id"]["null_rate"] == 0.0
    assert stats["turn_idx"]["min"] == "0"
    df.unpersist()


def test_combinators_and_custom(spark, clean):
    suite = _suite(
        AnyOf(checks=(Enum(column="role", values=("user",)), Enum(column="role", values=("system", "assistant", "tool_use", "tool_result")))),
        Not(check=Enum(column="role", values=("robot",))),
        OneOf(checks=(Pattern(column="text", regex="^Thought: "), Not(check=Pattern(column="text", regex="^Thought: ")))),
        Custom(name="turn_idx_small", expr="turn_idx < 100000"),
        MultipleOf(column="turn_idx", n=1),
    )
    res = run_suite(clean, suite)
    assert res.summary()["n_violations"] == 0


def test_fused_equals_unfused_with_null_order_values(spark):
    """ADVICE r1: the fused ordered pass must agree with the per-check
    passes when the order column contains NULLs (NULL-excluding
    distinct count, like count_distinct / SQL count(DISTINCT))."""
    rows = [
        ("c1", 1, 10), ("c1", 2, 20), ("c1", None, 30),  # NULL turn, contiguous otherwise
        ("c2", 1, 1), ("c2", 3, 2),                       # gap
        ("c3", None, 1), ("c3", None, 2),                 # duplicate NULL keys, empty order set
        ("c4", 1, 5), ("c4", 1, 6), ("c4", 2, 7),         # duplicate key
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts int")
    uk = UniqueKey(columns=KEYS)
    ct = Contiguous(order_column="turn_idx", group_by=("conv_id",), start=1)
    fused = run_suite(df, _suite(uk, ct))  # shares (conv_id, turn_idx) => fused path
    sep_u = run_suite(df, _suite(uk))
    sep_c = run_suite(df, _suite(ct))

    def keyset(res):
        return {(r["conv_id"], r["turn_idx"], r["check"]) for r in res.violations.collect()}

    assert keyset(fused) == keyset(sep_u) | keyset(sep_c)
    # full row equality including the JSON value payload
    a = [tuple(r) for r in fused.violations.collect()]
    b = [tuple(r) for r in sep_u.violations.unionByName(sep_c.violations).orderBy(*KEYS, "check").collect()]
    assert a == b


def test_verdicts_complete_and_passed_consults_them(spark, clean):
    """ADVICE r1: zero-violation checks get a passed=True check-scope
    verdict row, and a failing NullRateMax flips passed() even with
    zero violation rows."""
    suite = _suite(
        Enum(column="role", values=tuple(ROLE_VOCAB)),
        UniqueKey(columns=KEYS),
        NullRateMax(column="conv_id", max_rate=0.0),
        NullRateMax(column="tool", max_rate=0.0),  # tool is null off tool_use turns
    )
    res = run_suite(clean, suite)
    assert res.summary()["n_violations"] == 0
    assert res.passed() is False
    checks = {r["check"]: r for r in res.verdicts.filter("scope = 'check'").collect()}
    assert checks["enum:role"]["passed"] is True
    assert checks["enum:role"]["n_violations"] == 0
    assert checks["unique_key:conv_id,turn_idx"]["passed"] is True
    tbl = {r["check"]: r["passed"] for r in res.verdicts.filter("scope = 'table'").collect()}
    assert tbl["null_rate_max:conv_id"] is True
    assert tbl["null_rate_max:tool"] is False


def test_suite_json_roundtrip():
    suite = _suite(
        Required(column="role"),
        AnyOf(checks=(Enum(column="role", values=("a",)), Bounds(column="turn_idx", min=0, max=10, exclusive_max=True))),
        UniqueKey(columns=KEYS),
    )
    s2 = CheckSuite.from_json(suite.to_json())
    assert s2 == suite
    assert s2.to_json() == suite.to_json()


def test_ref_resolution_and_cycles():
    reg = SuiteRegistry()
    reg.add(CheckSuite(name="base", key_columns=KEYS, checks=(Required(column="role"),)))
    reg.add(CheckSuite(name="main", key_columns=KEYS, checks=(Ref(suite="base"), Bounds(column="turn_idx", min=0))))
    resolved = reg.resolve("main")
    assert [type(c).__name__ for c in resolved] == ["Required", "Bounds"]
    reg.add(CheckSuite(name="a", key_columns=KEYS, checks=(Ref(suite="b"),)))
    reg.add(CheckSuite(name="b", key_columns=KEYS, checks=(Ref(suite="a"),)))
    with pytest.raises(ConfigInvalid, match="ref loop"):
        reg.resolve("a")
    with pytest.raises(ConfigInvalid, match="unresolvable"):
        reg.resolve("nope")


def test_multi_check_ref_is_one_combinator_branch(spark):
    """A $ref is one schema, so under anyOf/oneOf/not a suite of two
    checks is ONE branch: (a AND b) OR c, not a OR b OR c. A suite of
    none is the empty schema, which accepts every row."""
    reg = SuiteRegistry().add(
        CheckSuite(name="ab", key_columns=KEYS, checks=(Required(column="a"), Required(column="b")))
    )
    reg.add(CheckSuite(name="empty", key_columns=KEYS))
    df = spark.createDataFrame(
        [("x", 1, 1, None, None), ("x", 2, 1, 1, None), ("x", 3, None, None, None),
         ("x", 4, None, None, 1), ("x", 5, 1, 1, 1)],
        "conv_id string, turn_idx int, a int, b int, c int",
    )
    branches = (Ref(suite="ab"), Required(column="c"))

    def failing(check):
        res = run_suite(df, _suite(check), registry=reg)
        return sorted(r["turn_idx"] for r in res.violations.collect())

    assert failing(AnyOf(checks=branches)) == [1, 3]
    assert failing(OneOf(checks=branches)) == [1, 3, 5]
    assert failing(Not(check=AnyOf(checks=branches))) == [2, 4, 5]
    assert failing(AnyOf(checks=(Ref(suite="empty"), Required(column="c")))) == []
    assert failing(Not(check=Ref(suite="empty"))) == [1, 2, 3, 4, 5]


def test_combinator_failure_detail(spark):
    """Failure-tree parity (Any.hs:364-482 semantics): oneOf violations
    distinguish NoSuccesses from TooManySuccesses with passing-branch
    indices; allOf reports the failing branch indices."""
    import json as J

    df = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, "b"), ("c1", 2, "zz")],
        "conv_id string, turn_idx int, role string",
    )
    one = OneOf(
        checks=(
            Enum(column="role", values=("a",)),
            Enum(column="role", values=("b",)),
            Enum(column="role", values=("a", "b")),  # overlaps both
        )
    )
    res = run_suite(df, _suite(one))
    vals = {r["turn_idx"]: J.loads(r["value"]) for r in res.violations.collect()}
    # 'a' and 'b' each pass two branches; 'zz' passes none
    assert vals[0] == {"failure": "too_many_successes", "n_passed": 2, "passed_branches": [0, 2]}
    assert vals[1] == {"failure": "too_many_successes", "n_passed": 2, "passed_branches": [1, 2]}
    assert vals[2] == {"failure": "no_successes", "n_passed": 0, "passed_branches": []}

    allof = AllOf(
        checks=(Enum(column="role", values=("a", "b")), Enum(column="role", values=("a",)))
    )
    res2 = run_suite(df, _suite(allof))
    vals2 = {r["turn_idx"]: J.loads(r["value"]) for r in res2.violations.collect()}
    assert vals2[1] == {"failed_branches": [1]}
    assert vals2[2] == {"failed_branches": [0, 1]}
    assert 0 not in vals2


def test_array_unique_mathematical_equality(spark):
    """Corpus case "numbers are unique if mathematically unequal":
    [1, 1.0, 1.00] is NON-unique under numeric_canonical
    (Utils.hs:94-119), unique under plain typed equality."""
    from hjsonschema_spark.checks import ArrayUnique

    df = spark.createDataFrame(
        [("c1", 0, ["1", "1.0", "1.00"]), ("c1", 1, ["1", "2"])],
        "conv_id string, turn_idx int, arr array<string>",
    )
    plain = run_suite(df, _suite(ArrayUnique(column="arr")))
    assert plain.violations.count() == 0  # "1" != "1.0" as strings
    math = run_suite(df, _suite(ArrayUnique(column="arr", numeric_canonical=True)))
    assert [r["turn_idx"] for r in math.violations.collect()] == [0]


def test_registry_from_files_fixpoint(tmp_path):
    """Fetch.hs:119-158 analogue: chained refs load to fixpoint;
    missing file and cross-file cycles are ConfigInvalid
    (test/Local/Validation.hs:33-58 semantics)."""
    import json as J

    def write(name, checks):
        p = tmp_path / f"{name}.json"
        p.write_text(
            CheckSuite(name=name, key_columns=list(KEYS), checks=checks).to_json()
        )
        return str(p)

    write("leaf", (Required(column="role"),))
    write("mid", (Ref(suite="leaf"), Bounds(column="turn_idx", min=0)))
    root = write("root", (Ref(suite="mid"),))
    reg = SuiteRegistry.from_files(root)
    assert set(reg.suites) == {"root", "mid", "leaf"}
    assert [type(c).__name__ for c in reg.resolve("root")] == ["Required", "Bounds"]

    # missing file => FSReadFailure analogue
    dangling = write("dangling", (Ref(suite="nowhere"),))
    with pytest.raises(ConfigInvalid, match="cannot read"):
        SuiteRegistry.from_files(dangling)

    # cross-file cycle
    write("x", (Ref(suite="y"),))
    write("y", (Ref(suite="x"),))
    with pytest.raises(ConfigInvalid, match="ref loop"):
        SuiteRegistry.from_files(str(tmp_path / "x.json"))

    # unparsable file
    (tmp_path / "broken.json").write_text("{not json")
    with pytest.raises(ConfigInvalid, match="bad suite file"):
        SuiteRegistry.from_files(str(tmp_path / "broken.json"))

    # from_dir: loads everything, surfaces the cycle
    with pytest.raises(ConfigInvalid):
        SuiteRegistry.from_dir(str(tmp_path))
    (tmp_path / "x.json").unlink()
    (tmp_path / "y.json").unlink()
    (tmp_path / "broken.json").unlink()
    (tmp_path / "dangling.json").unlink()
    reg2 = SuiteRegistry.from_dir(str(tmp_path))
    assert set(reg2.suites) == {"root", "mid", "leaf"}


def test_config_self_validation():
    with pytest.raises(ConfigInvalid):
        _suite(Bounds(column="x")).validate_config()  # no min or max
    with pytest.raises(ConfigInvalid):
        _suite(Pattern(column="x", regex="(")).validate_config()
    with pytest.raises(ConfigInvalid):
        CheckSuite(name="", key_columns=KEYS).validate_config()


def test_pcre_mode_matches_rlike(spark, clean):
    """Dual-path cross-check (reference analogue: record vs Value
    implementations agreeing, test/Local.hs:53-56)."""
    r1 = run_suite(clean, _suite(Pattern(column="text", regex="^(Thought|Action|Observation):", mode="rlike")))
    r2 = run_suite(clean, _suite(Pattern(column="text", regex="^(Thought|Action|Observation):", mode="pcre")))
    a = [(r["conv_id"], r["turn_idx"]) for r in r1.violations.collect()]
    b = [(r["conv_id"], r["turn_idx"]) for r in r2.violations.collect()]
    assert a == b and len(a) > 0


def test_dependent_schema(spark):
    """Schema-form dependency (Object.hs:160-183): when the trigger
    column is present the whole row must satisfy every child check;
    absent => vacuous pass; a NULL in a child's own column still passes
    that child (type-mismatch => pass). Payload carries the failing
    branch indices."""
    import json as J

    from hjsonschema_spark.checks import DependentSchema

    df = spark.createDataFrame(
        [
            ("c1", 0, None, 999, "a"),   # trigger absent => pass
            ("c1", 1, "on", 5, "a"),     # both children pass
            ("c1", 2, "on", 999, "a"),   # bounds child fails
            ("c1", 3, "on", 999, "zz"),  # both children fail
            ("c1", 4, "on", None, "a"),  # NULL child column => child passes
        ],
        "conv_id string, turn_idx int, trig string, x int, role string",
    )
    dep = DependentSchema(
        when_column="trig",
        checks=(Bounds(column="x", max=100), Enum(column="role", values=("a", "b"))),
    )
    res = run_suite(df, _suite(dep))
    vals = {r["turn_idx"]: J.loads(r["value"]) for r in res.violations.collect()}
    assert set(vals) == {2, 3}
    assert vals[2] == {"failed_branches": [0]}
    assert vals[3] == {"failed_branches": [0, 1]}

    # Ref children resolve through the registry (lateral cycle rules apply)
    reg = SuiteRegistry().add(
        CheckSuite(name="sub", key_columns=KEYS, checks=(Bounds(column="x", max=100),))
    )
    dep_ref = DependentSchema(when_column="trig", checks=(Ref(suite="sub"),))
    res2 = run_suite(df, _suite(dep_ref), registry=reg)
    assert sorted(r["turn_idx"] for r in res2.violations.collect()) == [2, 3]

    # JSON round-trip keeps the tree
    s = _suite(dep)
    assert CheckSuite.from_json(s.to_json()) == s

    with pytest.raises(ConfigInvalid):
        DependentSchema(when_column="", checks=(Bounds(column="x", max=1),)).validate_config()
    with pytest.raises(ConfigInvalid):
        DependentSchema(when_column="trig", checks=()).validate_config()


def test_chi2_drift_check(spark):
    # observed histogram wildly different from reference => drifted;
    # reference-proportional histogram => passes
    from hjsonschema_spark.checks import ChiSquareDrift

    rows = [("u%d" % i, 0, "user") for i in range(900)] + [
        ("a%d" % i, 0, "assistant") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    ref_same = spark.createDataFrame([("user", 90), ("assistant", 10)], "role string, n long")
    ref_diff = spark.createDataFrame([("user", 10), ("assistant", 90)], "role string, n long")
    s = _suite(ChiSquareDrift(column="role", ref_name="role_hist"))
    ok = run_suite(df, s, vocab_tables={"role_hist": ref_same})
    bad = run_suite(df, s, vocab_tables={"role_hist": ref_diff})
    vid = "chi2_drift:role->role_hist"
    ok_row = ok.verdicts.filter(F.col("check") == vid).collect()[0]
    bad_row = bad.verdicts.filter(F.col("check") == vid).collect()[0]
    assert ok_row["passed"] is True and ok_row["scope"] == "table"
    assert ok_row["n_rows"] == 1000
    assert bad_row["passed"] is False
    assert ok.passed() and not bad.passed()
    # observed-only category => stat inf => p=0 => drifted
    ref_missing = spark.createDataFrame([("user", 100)], "role string, n long")
    miss = run_suite(df, s, vocab_tables={"role_hist": ref_missing})
    assert miss.verdicts.filter(F.col("check") == vid).collect()[0]["passed"] is False
    # agreement with the standalone operator on the same data
    from hjsonschema_spark.operators.drift import chi_squared_drift

    op = chi_squared_drift(df, "role", {"user": 90, "assistant": 10})
    assert op["drifted"] is False


def test_ks_drift_check(spark):
    from hjsonschema_spark.checks import KSDrift

    obs = spark.createDataFrame(
        [("c", i, float(i % 100)) for i in range(2000)],
        "conv_id string, turn_idx int, v double",
    )
    ref_same = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "v double")
    ref_shift = spark.createDataFrame([(float(i % 100) + 60.0,) for i in range(1000)], "v double")
    s = _suite(KSDrift(column="v", ref_name="len_ref", buckets=256))
    vid = "ks_drift:v->len_ref"
    ok = run_suite(obs, s, vocab_tables={"len_ref": ref_same})
    bad = run_suite(obs, s, vocab_tables={"len_ref": ref_shift})
    assert ok.verdicts.filter(F.col("check") == vid).collect()[0]["passed"] is True
    assert bad.verdicts.filter(F.col("check") == vid).collect()[0]["passed"] is False
    # empty reference => vacuous pass
    empty = spark.createDataFrame([], "v double")
    vac = run_suite(obs, s, vocab_tables={"len_ref": empty})
    assert vac.verdicts.filter(F.col("check") == vid).collect()[0]["passed"] is True


def test_drift_check_config_and_missing_vocab(spark):
    from hjsonschema_spark.checks import ChiSquareDrift, KSDrift

    with pytest.raises(ConfigInvalid):
        _suite(ChiSquareDrift(column="role", ref_name="")).validate_config()
    with pytest.raises(ConfigInvalid):
        _suite(KSDrift(column="v", ref_name="r", alpha=1.5)).validate_config()
    df = spark.createDataFrame([("c", 0, "user")], "conv_id string, turn_idx int, role string")
    with pytest.raises(ConfigInvalid, match="no vocab table"):
        run_suite(df, _suite(ChiSquareDrift(column="role", ref_name="nope")))


def test_violation_sampling_bounded_deterministic(spark):
    """max_violations_per_check: exact cap for over-cap checks, full set
    for under-cap checks, exact totals still in verdicts, and the sample
    is a pure function of the data — identical bytes across partition
    counts (the 10^12-row contract: no windows over the full violation
    set, hash-thinning first)."""
    rows = [(f"c{i:08d}", 0, None if i < 400 else "user", i) for i in range(500)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, turn_len int")
    s = _suite(
        Required(column="role"),                 # 400 violations (over cap)
        Bounds(column="turn_len", max=496),      # 3 violations (under cap)
    )
    k = 25
    res = run_suite(df.repartition(3), s, max_violations_per_check=k)
    sample = res.violations_sample.collect()
    by_check = {}
    for r in sample:
        by_check.setdefault(r["check"], []).append(r)
    req_id = next(c for c in by_check if c.startswith("required"))
    bounds_id = next(c for c in by_check if c.startswith("bounds"))
    assert len(by_check[req_id]) == k
    assert len(by_check[bounds_id]) == 3
    # exact totals remain in the check-scope verdicts
    v = {r["check"]: r["n_violations"] for r in res.verdicts.filter(F.col("scope") == "check").collect()}
    assert v[req_id] == 400 and v[bounds_id] == 3
    # deterministic across partitioning
    res2 = run_suite(df.repartition(11), s, max_violations_per_check=k)
    assert res2.violations_sample.collect() == sample
    # no sample requested => None
    assert run_suite(df, s).violations_sample is None
    with pytest.raises(ConfigInvalid):
        run_suite(df, s, max_violations_per_check=0)


def test_column_stats_one_pass(spark):
    """column_stats: exact n/null-rate/min/max, HLL distinct within
    tolerance, numeric percentile sketches populated, one row per
    column, all from a single aggregation."""
    from hjsonschema_spark.checks.engine import column_stats

    df = spark.createDataFrame(
        [(f"c{i:08d}", i % 100, None if i % 10 == 0 else float(i)) for i in range(1000)],
        "conv_id string, turn_idx int, v double",
    )
    out = {r["column"]: r for r in column_stats(df).collect()}
    assert set(out) == {"conv_id", "turn_idx", "v"}
    assert out["conv_id"]["n"] == 1000 and out["conv_id"]["null_rate"] == 0.0
    assert out["v"]["null_rate"] == pytest.approx(0.1)
    assert out["turn_idx"]["min"] == "0"
    assert abs(out["turn_idx"]["approx_distinct"] - 100) <= 5
    # numeric columns get percentile sketches; strings do not
    assert out["turn_idx"]["p50"] is not None and 40 <= out["turn_idx"]["p50"] <= 60
    assert out["v"]["p99"] is not None and out["v"]["p99"] >= 900
    assert out["conv_id"]["p50"] is None


def test_group_verdicts_from_slim_pass(spark):
    """group_verdicts: per-group pass/fail derived from the slim fused
    pass (row-scope checks only), group cols restricted to key_columns."""
    rows = [
        ("c1", 0, "user"), ("c1", 1, None),      # c1: one bad row
        ("c2", 0, "user"), ("c2", 1, "assistant"),  # c2: clean
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    res = run_suite(df, _suite(Required(column="role")))
    gv = {r["conv_id"]: r for r in res.group_verdicts(("conv_id",)).collect()}
    assert gv["c1"]["n_rows"] == 2 and gv["c1"]["n_violations"] == 1 and not gv["c1"]["passed"]
    assert gv["c2"]["n_violations"] == 0 and gv["c2"]["passed"]
    with pytest.raises(ConfigInvalid, match="not in key_columns"):
        res.group_verdicts(("role",))


# ---------------------------------------------------------------------------
# FunctionalDependency (determinant -> dependent agreement)
# ---------------------------------------------------------------------------

def test_functional_dependency_finds_inconsistent_groups(spark):
    from hjsonschema_spark.checks import FunctionalDependency

    rows = [
        ("c1", 0, "alice"),
        ("c1", 1, "alice"),   # consistent group
        ("c2", 0, "bob"),
        ("c2", 1, "carol"),   # c2 maps to two users -> violation
        ("c3", 0, None),
        ("c3", 1, None),      # NULL agrees with NULL -> consistent
        ("c4", 0, None),
        ("c4", 1, "dave"),    # NULL vs value -> violation
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, user string")
    suite = _suite(
        FunctionalDependency(determinant=("conv_id",), dependent=("user",))
    )
    res = run_suite(df, suite)
    viol = res.violations.collect()
    assert sorted(r["conv_id"] for r in viol) == ["c2", "c4"]
    # group-scoped rows: key columns outside the determinant are NULL
    assert all(r["turn_idx"] is None for r in viol)
    assert all(r["value"] == "2" for r in viol)
    assert {r["check"] for r in viol} == {"functional_dependency:conv_id->user"}
    assert not res.passed()


def test_functional_dependency_multi_column_dependent(spark):
    from hjsonschema_spark.checks import FunctionalDependency

    rows = [
        ("c1", 0, "a", "x"),
        ("c1", 1, "a", "x"),      # same tuple -> fine
        ("c2", 0, "a", "x"),
        ("c2", 1, "a", "y"),      # second field differs -> violation
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, u string, v string")
    suite = _suite(
        FunctionalDependency(determinant=("conv_id",), dependent=("u", "v"))
    )
    viol = run_suite(df, suite).violations.collect()
    assert [r["conv_id"] for r in viol] == ["c2"]
    assert viol[0]["column"] == "u,v"


def test_functional_dependency_config_validation():
    from hjsonschema_spark.checks import FunctionalDependency

    with pytest.raises(ConfigInvalid):
        FunctionalDependency(determinant=(), dependent=("x",)).validate_config()
    with pytest.raises(ConfigInvalid):
        FunctionalDependency(determinant=("a",), dependent=("a", "b")).validate_config()


# ---------------------------------------------------------------------------
# AggBounds (aggregate-statistic assertions, one fold with NullRateMax)
# ---------------------------------------------------------------------------

def test_agg_bounds_mixed_verdicts(spark):
    from hjsonschema_spark.checks import AggBounds

    df = spark.createDataFrame(
        [("c1", 0, 10.0), ("c1", 1, 20.0), ("c2", 0, 30.0)],
        "conv_id string, turn_idx int, v double",
    )
    suite = _suite(
        AggBounds(column="v", agg="avg", min=0.0, max=25.0),      # avg=20 pass
        AggBounds(column="v", agg="max", max=25.0),               # 30 fail
        AggBounds(column="v", agg="count_distinct", min=3.0),     # 3 pass
        AggBounds(column="v", agg="sum", min=100.0),              # 60 fail
    )
    res = run_suite(df, suite)
    got = {
        r["check"]: r["passed"]
        for r in res.verdicts.filter("scope = 'table'").collect()
    }
    assert got["agg_bounds:avg(v)"] is True
    assert got["agg_bounds:max(v)"] is False
    assert got["agg_bounds:count_distinct(v)"] is True
    assert got["agg_bounds:sum(v)"] is False
    assert not res.passed()  # aggregate failures flip the suite verdict


def test_agg_bounds_null_statistic_vacuous_pass(spark):
    from hjsonschema_spark.checks import AggBounds

    df = spark.createDataFrame(
        [("c1", 0, None), ("c1", 1, None)],
        "conv_id string, turn_idx int, v double",
    )
    res = run_suite(df, _suite(AggBounds(column="v", agg="avg", min=5.0)))
    [r] = res.verdicts.filter("scope = 'table'").collect()
    assert r["passed"] is True  # all-NULL => NULL stat => vacuous pass
    assert res.passed()


def test_agg_bounds_folds_with_null_rate(spark):
    """NullRateMax + AggBounds share ONE aggregation: both verdicts
    appear and both semantics hold."""
    from hjsonschema_spark.checks import AggBounds, NullRateMax

    df = spark.createDataFrame(
        [("c1", 0, None), ("c1", 1, 2.0), ("c2", 0, 4.0), ("c2", 1, 6.0)],
        "conv_id string, turn_idx int, v double",
    )
    res = run_suite(
        df,
        _suite(
            NullRateMax(column="v", max_rate=0.1),            # 0.25 fail
            AggBounds(column="v", agg="avg", min=3.0, max=5.0),  # 4.0 pass
        ),
    )
    got = {
        r["check"]: r["passed"]
        for r in res.verdicts.filter("scope = 'table'").collect()
    }
    assert got == {"null_rate_max:v": False, "agg_bounds:avg(v)": True}


def test_agg_bounds_config_validation():
    from hjsonschema_spark.checks import AggBounds

    with pytest.raises(ConfigInvalid):
        AggBounds(column="v", agg="median", min=0.0).validate_config()
    with pytest.raises(ConfigInvalid):
        AggBounds(column="v", agg="avg").validate_config()
    with pytest.raises(ConfigInvalid):
        AggBounds(column="v", agg="avg", min=2.0, max=1.0).validate_config()
    with pytest.raises(ConfigInvalid):
        AggBounds(column="", agg="avg", min=0.0).validate_config()


# ---------------------------------------------------------------------------
# fail-fast on absent columns (schema validated before data)
# ---------------------------------------------------------------------------

def test_missing_column_is_config_error(spark):
    from hjsonschema_spark.checks import Bounds, FunctionalDependency

    df = spark.createDataFrame(
        [("c1", 0, 1.0)], "conv_id string, turn_idx int, v double"
    )
    with pytest.raises(ConfigInvalid, match=r"\['w'\]"):
        run_suite(df, _suite(Bounds(column="w", min=0.0)))
    with pytest.raises(ConfigInvalid, match="model"):
        run_suite(
            df,
            _suite(
                FunctionalDependency(determinant=("conv_id",), dependent=("model",))
            ),
        )
    # key_columns are validated too
    suite = CheckSuite(
        name="s", key_columns=("conv_id", "nope"), checks=(Bounds(column="v", min=0.0),)
    )
    with pytest.raises(ConfigInvalid, match="nope"):
        run_suite(df, suite)


def test_missing_column_typeis_is_verdict_not_error(spark):
    """TypeIs on an absent column stays a FAILING schema verdict (the
    type-conformance path), not a ConfigInvalid."""
    from hjsonschema_spark.checks import TypeIs

    df = spark.createDataFrame([("c1", 0)], "conv_id string, turn_idx int")
    res = run_suite(df, _suite(TypeIs(column="ghost", json_type="string")))
    [r] = res.verdicts.filter("scope = 'schema'").collect()
    assert r["passed"] is False
    assert not res.passed()


def test_agg_bounds_quantile_exact_and_approx(spark):
    """quantile = exact interpolating percentile (quantile_cont
    semantics); approx_quantile = Greenwald-Khanna sketch (the
    shuffle-free 100-TB path) — at this accuracy both see the truth."""
    from hjsonschema_spark.checks import AggBounds

    df = spark.createDataFrame(
        [("c1", i, float(i)) for i in range(101)],
        "conv_id string, turn_idx int, v double",
    )
    suite = _suite(
        AggBounds(column="v", agg="quantile", quantile=0.5, min=50.0, max=50.0),
        AggBounds(column="v", agg="quantile", quantile=0.9, max=89.0),   # 90 fail
        AggBounds(column="v", agg="approx_quantile", quantile=0.99, max=99.0),
    )
    res = run_suite(df, suite)
    got = {
        r["check"]: r["passed"]
        for r in res.verdicts.filter("scope = 'table'").collect()
    }
    assert got["agg_bounds:quantile(v,0.5)"] is True
    assert got["agg_bounds:quantile(v,0.9)"] is False
    assert got["agg_bounds:approx_quantile(v,0.99)"] is True


def test_agg_bounds_quantile_config_validation():
    from hjsonschema_spark.checks import AggBounds

    with pytest.raises(ConfigInvalid):
        AggBounds(column="v", agg="quantile", max=1.0).validate_config()  # no q
    with pytest.raises(ConfigInvalid):
        AggBounds(column="v", agg="quantile", quantile=1.5, max=1.0).validate_config()
    with pytest.raises(ConfigInvalid):
        AggBounds(column="v", agg="avg", quantile=0.5, max=1.0).validate_config()


# ---------------------------------------------------------------------------
# clean_rows / quarantine (validate-and-filter)
# ---------------------------------------------------------------------------

def test_clean_rows_and_quarantine_partition(spark):
    """clean + quarantine partition the input on row checks; strict
    mode also drops rows implicated in key-scoped table violations."""
    from hjsonschema_spark.checks import Bounds, UniqueKey

    df = spark.createDataFrame(
        [
            ("c1", 0, 1.0),    # clean
            ("c1", 1, 99.0),   # row-check failure (bounds)
            ("c2", 0, 2.0),    # duplicate key pair...
            ("c2", 0, 3.0),    # ...both rows implicated
            ("c3", 0, 4.0),    # clean
        ],
        "conv_id string, turn_idx int, v double",
    )
    suite = _suite(
        Bounds(column="v", min=0.0, max=10.0),
        UniqueKey(columns=("conv_id", "turn_idx")),
    )
    res = run_suite(df, suite, persist=True)
    loose = {(r["conv_id"], r["turn_idx"]) for r in res.clean_rows(strict=False).collect()}
    assert loose == {("c1", 0), ("c2", 0), ("c2", 0), ("c3", 0)} - set()  # dups collapse in set
    strict = {(r["conv_id"], r["turn_idx"]) for r in res.clean_rows().collect()}
    assert strict == {("c1", 0), ("c3", 0)}
    # clean keeps the original schema
    assert set(res.clean_rows().columns) == {"conv_id", "turn_idx", "v"}
    q = res.quarantine().collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in q} == {("c1", 1)}
    assert q[0]["_failures"][0]["check"].startswith("bounds:")
    res.unpersist()


def test_clean_rows_group_scope_violations_do_not_quarantine(spark):
    """Contiguous violations are group-scoped (NULL order position):
    strict clean_rows must NOT drop the group's rows."""
    from hjsonschema_spark.checks import Contiguous

    df = spark.createDataFrame(
        [("c1", 1, 1.0), ("c1", 3, 2.0), ("c2", 1, 3.0)],  # c1 has a gap
        "conv_id string, turn_idx int, v double",
    )
    suite = _suite(
        Contiguous(order_column="turn_idx", group_by=("conv_id",), start=1)
    )
    res = run_suite(df, suite)
    assert res.violations.count() == 1  # the c1 group row
    assert res.clean_rows(strict=True).count() == 3  # no row-level quarantine


# ---------------------------------------------------------------------------
# SequencePattern / GroupAggBounds (conversation-shape checks)
# ---------------------------------------------------------------------------

def test_sequence_pattern_role_alternation(spark):
    """The transcript-native check: per-conversation ordered role
    sequence must match system? (user (assistant|tool))*."""
    from hjsonschema_spark.checks import SequencePattern

    rows = [
        ("good", 0, "system"), ("good", 1, "user"), ("good", 2, "assistant"),
        ("bad", 0, "user"), ("bad", 1, "user"),          # double user
        ("tooly", 0, "user"), ("tooly", 1, "tool"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    suite = _suite(
        SequencePattern(
            column="role",
            group_by=("conv_id",),
            order_by=("turn_idx",),
            regex="^(system,)?(user,(assistant|tool))(,user,(assistant|tool))*$",
        )
    )
    res = run_suite(df, suite)
    viol = res.violations.collect()
    assert {r["conv_id"] for r in viol} == {"bad"}
    [v] = viol
    assert v["value"] == "user,user"
    assert v["turn_idx"] is None  # group-scoped: non-group keys are NULL


def test_sequence_pattern_null_values_skipped_and_ordering(spark):
    from hjsonschema_spark.checks import SequencePattern

    rows = [("c", 2, "b"), ("c", 1, "a"), ("c", 3, None)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    # NULL contributes no token; order_by sorts 1,2 => "a,b"
    res = run_suite(
        df,
        _suite(
            SequencePattern(
                column="role", group_by=("conv_id",), order_by=("turn_idx",),
                regex="^a,b,c$",
            )
        ),
    )
    [v] = res.violations.collect()
    assert v["value"] == "a,b"


def test_sequence_pattern_all_null_group_vacuous(spark):
    """A group whose every value is NULL joins to '' — vacuous pass
    (matches GroupAggBounds' NULL-statistic rule and the DuckDB oracle,
    whose string_agg yields NULL and skips the group). ADVICE r2."""
    from hjsonschema_spark.checks import SequencePattern

    rows = [("allnull", 1, None), ("allnull", 2, None), ("ok", 1, "a")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    res = run_suite(
        df,
        _suite(
            SequencePattern(
                column="role", group_by=("conv_id",), order_by=("turn_idx",),
                regex="^a$",
            )
        ),
    )
    # 'ok' matches, 'allnull' is vacuous: zero violations
    assert res.violations.count() == 0


def test_sequence_pattern_truncation_and_config(spark):
    from hjsonschema_spark.checks import SequencePattern

    with pytest.raises(ConfigInvalid):
        SequencePattern(column="r", group_by=("c",), order_by=("t",), regex="(").validate_config()
    with pytest.raises(ConfigInvalid):
        SequencePattern(column="r", group_by=("c",), order_by=("t",), regex="").validate_config()
    rows = [("c", i, "x") for i in range(10)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    res = run_suite(
        df,
        _suite(
            SequencePattern(
                column="role", group_by=("conv_id",), order_by=("turn_idx",),
                regex="^never$", max_value_len=5,
            )
        ),
    )
    [v] = res.violations.collect()
    assert v["value"] == "x,x,x"  # truncated to 5 chars


def test_group_agg_bounds_violations_and_vacuous(spark):
    from hjsonschema_spark.checks import GroupAggBounds

    rows = [("c1", 0, 1.0), ("c1", 1, 2.0), ("c2", 0, 50.0), ("c3", 0, None)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, v double")
    suite = _suite(
        GroupAggBounds(column="v", agg="sum", group_by=("conv_id",), max=10.0),
        GroupAggBounds(column="turn_idx", agg="count", group_by=("conv_id",), min=1.0, max=1.0),
    )
    res = run_suite(df, suite)
    got = {(r["conv_id"], r["check"]) for r in res.violations.collect()}
    # c2 sum=50 > 10; c3 all-NULL sum => vacuous pass; c1 has 2 turns
    assert got == {
        ("c2", "group_agg_bounds:sum(v) by conv_id"),
        ("c1", "group_agg_bounds:count(turn_idx) by conv_id"),
    }
    # violations feed check-scope verdicts
    vd = {r["check"]: r["passed"] for r in res.verdicts.filter("scope='check'").collect()}
    assert vd["group_agg_bounds:sum(v) by conv_id"] is False


def test_group_agg_bounds_config_validation():
    from hjsonschema_spark.checks import GroupAggBounds

    with pytest.raises(ConfigInvalid):
        GroupAggBounds(column="v", agg="median", group_by=("c",), max=1.0).validate_config()
    with pytest.raises(ConfigInvalid):
        GroupAggBounds(column="v", agg="sum", group_by=(), max=1.0).validate_config()
    with pytest.raises(ConfigInvalid):
        GroupAggBounds(column="v", agg="sum", group_by=("c",)).validate_config()
