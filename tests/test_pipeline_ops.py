"""KATs for operators/pipeline.py: deterministic splits, n-gram
decontamination, repetition signals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hjsonschema_spark.operators.pipeline import (
    decontaminate,
    repetition_signals,
    split_by_hash,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(2000).withColumnRenamed("id", "doc_id")


def test_split_deterministic_and_partition_invariant(spark, ids):
    a = split_by_hash(ids).select("doc_id", "split").collect()
    b = split_by_hash(ids.repartition(17)).select("doc_id", "split").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_split_fractions_roughly_respected(spark, ids):
    counts = dict(
        (r["split"], r["count"])
        for r in split_by_hash(ids, fractions={"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split").count().collect()
    )
    assert set(counts) == {"train", "val", "test"}
    # md5 is uniform; 2000 draws keep each bucket well within 3 sigma
    assert 1500 < counts["train"] < 1700
    assert 130 < counts["val"] < 270
    assert 130 < counts["test"] < 270


def test_split_salt_redeal(spark, ids):
    a = {r["doc_id"]: r["split"] for r in split_by_hash(ids).collect()}
    b = {r["doc_id"]: r["split"] for r in split_by_hash(ids, salt="v2").collect()}
    assert any(a[k] != b[k] for k in a)  # a re-deal moves some rows


def test_split_bad_fractions_raise(ids):
    with pytest.raises(ValueError):
        split_by_hash(ids, fractions={"train": 0.5, "test": 0.2})


def test_decontaminate_flags_shared_kgram(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated content with no overlap at all here"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (100, "we saw the quick brown fox jumps over a fence"),
            (101, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(train, test, k=5).collect()}
    # doc 1 shares the 5-grams "the quick brown fox jumps" and
    # "quick brown fox jumps over" with test doc 100
    assert out[1]["n_contaminated_shingles"] == 2
    # doc 3 has < 5 tokens => whole-string shingle, exact match with 101
    assert out[3]["n_contaminated_shingles"] == 1
    assert out[3]["contamination_frac"] == 1.0
    assert 2 not in out  # no shared 5-gram


def test_repetition_signals_known_answers(spark):
    df = spark.createDataFrame(
        [
            (1, "aa bb\naa bb\ncc dd"),   # 3 lines, 1 dup; bigrams of each line
            (2, "x y x y x y"),           # "x y" dominates the bigrams
            (3, ""),                       # empty doc
            (4, "word"),                   # 1 token => no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["n_lines"] == 3
    assert out[1]["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # doc 2 tokens: x y x y x y -> bigrams: "x y","y x","x y","y x","x y" (5)
    assert out[2]["n_bigrams"] == 5
    assert out[2]["top_bigram_frac"] == pytest.approx(3 / 5, abs=1e-6)
    assert out[3]["n_lines"] == 0 and out[3]["n_bigrams"] == 0
    assert out[3]["dup_line_frac"] == 0.0 and out[3]["top_bigram_frac"] == 0.0
    assert out[4]["n_bigrams"] == 0 and out[4]["top_bigram_frac"] == 0.0


def test_sessionize_known_answer(spark):
    from datetime import datetime, timedelta

    from hjsonschema_spark.operators.pipeline import sessionize

    t0 = datetime(2026, 1, 1)

    def m(mins):
        return t0 + timedelta(minutes=mins)

    rows = [
        # user 1: [0, 10, 20] | gap 31 min | [51, 52]
        (1, m(0), 100), (1, m(10), 101), (1, m(20), 102),
        (1, m(51), 103), (1, m(52), 104),
        # user 2: single event; exactly-30-min gap does NOT split
        (2, m(0), 200), (2, m(30), 201),
        # NULL key / NULL ts excluded
        (None, m(0), 300), (3, None, 301),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {
        (r["user_id"], r["session_idx"]): (
            r["n_events"], r["session_start"], r["session_end"], r["duration_sec"]
        )
        for r in sessionize(
            df, key_col="user_id", ts_col="ts", gap_minutes=30, tiebreak_col="event_id"
        ).collect()
    }
    assert got == {
        (1, 0): (3, m(0), m(20), 1200),
        (1, 1): (2, m(51), m(52), 60),
        (2, 0): (2, m(0), m(30), 1800),
    }


def test_sessionize_partition_invariant(spark):
    from hjsonschema_spark.operators.pipeline import sessionize

    df = (
        spark.range(500)
        .select(
            (F.col("id") % 7).alias("user_id"),
            F.timestamp_seconds(F.lit(1700000000) + (F.col("id") * 977) % 100000).alias("ts"),
            F.col("id").alias("event_id"),
        )
    )
    a = sessionize(df, tiebreak_col="event_id").collect()
    b = sessionize(df.repartition(13), tiebreak_col="event_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 7  # gaps actually split sessions on this data


# ---------------------------------------------------------------------------
# pack_sequences (concat-and-chunk context-window packing)
# ---------------------------------------------------------------------------

def _docs(spark):
    rows = [(i, "tok " * (i % 7) if i % 11 else "") for i in range(300)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_sequences_partition_invariant(spark):
    from hjsonschema_spark.operators.pipeline import pack_sequences

    df = _docs(spark)
    a = pack_sequences(df, budget=16, bucket_hex_chars=1).collect()
    b = pack_sequences(df.repartition(13), budget=16, bucket_hex_chars=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pack_sequences_offsets_are_exclusive_cumsums(spark):
    from hjsonschema_spark.operators.pipeline import pack_sequences

    out = pack_sequences(_docs(spark), budget=16, bucket_hex_chars=1).collect()
    by_bucket: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["bucket"], r["doc_id"])):
        exp = by_bucket.get(r["bucket"], 0)
        assert r["start_offset"] == exp
        assert r["seq_idx"] == exp // 16
        by_bucket[r["bucket"]] = exp + r["n_tokens"]


def test_pack_sequences_straddle_and_empty_docs(spark):
    from hjsonschema_spark.operators.pipeline import pack_sequences

    out = pack_sequences(_docs(spark), budget=16, bucket_hex_chars=1).collect()
    for r in out:
        if r["n_tokens"] == 0:
            assert not r["straddles"]  # zero-token docs occupy no space
        else:
            end = r["start_offset"] + r["n_tokens"] - 1
            assert r["straddles"] == (end // 16 != r["seq_idx"])
    # the fixture is dense enough that both outcomes occur
    assert any(r["straddles"] for r in out)
    assert any(not r["straddles"] for r in out if r["n_tokens"])


def test_pack_sequences_custom_token_column(spark):
    from hjsonschema_spark.operators.pipeline import pack_sequences

    df = spark.createDataFrame([(1, 5), (2, 5), (3, 5)], "doc_id long, n long")
    out = pack_sequences(
        df, token_count_col=F.col("n"), budget=8, bucket_hex_chars=1
    ).collect()
    assert {r["n_tokens"] for r in out} == {5}


# ---------------------------------------------------------------------------
# sample_by_hash / leakage_safe_split
# ---------------------------------------------------------------------------

def test_sample_by_hash_deterministic_and_partition_invariant(spark):
    from hjsonschema_spark.operators.pipeline import sample_by_hash

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = sorted(r["doc_id"] for r in sample_by_hash(df, fraction=0.3).collect())
    b = sorted(
        r["doc_id"] for r in sample_by_hash(df.repartition(17), fraction=0.3).collect()
    )
    assert a == b and 0.2 < len(a) / 2000 < 0.4
    # salt re-deals the sample
    c = sorted(r["doc_id"] for r in sample_by_hash(df, fraction=0.3, salt="x").collect())
    assert c != a


def test_sample_by_hash_stratified_rates(spark):
    from hjsonschema_spark.operators.pipeline import sample_by_hash

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("cls"),
    )
    out = sample_by_hash(
        df, fraction=0.5, strata_col="cls", strata_fractions={"big": 0.1, "small": 1.0}
    )
    got = {r["cls"]: r["n"] for r in out.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    assert got["small"] == 2000          # fraction 1.0 keeps (essentially) all
    assert 100 < got["big"] < 350        # ~10% of 2000


def test_sample_by_hash_boundary_fractions(spark):
    """fraction 1.0 is keep-ALL and 0.0 is drop-all by construction
    (ADVICE r2): the strict `u < 'ffffffff'` comparison would drop rows
    whose md5 prefix is exactly 0xffffffff, so the boundaries must
    short-circuit to literal True/False — pinned by the optimized plan
    having no Filter at all for fraction=1.0."""
    from hjsonschema_spark.operators.pipeline import sample_by_hash

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    keep_all = sample_by_hash(df, fraction=1.0)
    assert keep_all.count() == 100
    # filter(lit(True)) folds away entirely — proves no hash comparison
    plan = keep_all._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan
    assert sample_by_hash(df, fraction=0.0).count() == 0
    # stratified boundaries short-circuit per stratum too
    sdf = df.withColumn("cls", F.when(F.col("doc_id") < 50, "a").otherwise("b"))
    out = sample_by_hash(
        sdf, fraction=0.5, strata_col="cls", strata_fractions={"a": 1.0, "b": 0.0}
    )
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == list(range(50))


def test_leakage_safe_split_never_splits_duplicates(spark):
    from hjsonschema_spark.operators.pipeline import leakage_safe_split

    # ids chosen so a naive id-keyed split WOULD separate some dup pairs
    rows = [(i, f"unique text {i}") for i in range(200)]
    rows += [(1000 + i, f"unique text {i}") for i in range(200)]  # exact dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df, fractions={"train": 0.6, "val": 0.2, "test": 0.2})
    rows_out = out.collect()
    assert len(rows_out) == 400
    by_group: dict = {}
    for r in rows_out:
        by_group.setdefault(r["group_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())  # no group straddles
    # dup pairs share the representative (min id)
    g = {r["doc_id"]: r["group_id"] for r in rows_out}
    assert all(g[i] == i and g[1000 + i] == i for i in range(200))
    # and the split actually uses more than one bucket
    assert len({r["split"] for r in rows_out}) == 3
