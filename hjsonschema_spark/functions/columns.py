"""Column-expression building blocks (pure pyspark.sql.functions —
whole-stage codegen, no UDFs). Each has a DuckDB-SQL equivalent used by
the driver oracle; keep the two in lockstep."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fan_out(
    df: DataFrame, min_partitions: int | None = None, by: tuple | None = None
) -> DataFrame:
    """Repartition narrow inputs before CPU-heavy per-row work.

    A single-file parquet read yields one partition (or one busy task
    per row group); shingle/minhash/signature computation would then
    run on one core regardless of cluster size. On real multi-file
    tables this is a no-op.

    ``by``: deterministic partitioning columns (row keys / ids). When
    given, the fan-out is a hash repartition — round-robin
    ``repartition(n)`` first pays a LOCAL SORT of every input partition
    (spark.sql.execution.sortBeforeRepartition, needed so task retries
    reproduce the row placement; measured 1.7-2.3s of a 3s suite query
    at sf0.1), while hash placement is a pure function of the row and
    needs no sort. Downstream windows/aggregations keyed on a prefix of
    ``by`` can also reuse the clustering. Guide §2.5's deterministic-
    synthetic-key rule."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    n = min_partitions or spark.sparkContext.defaultParallelism
    n_parts = df.rdd.getNumPartitions()
    if n_parts >= n:
        return df
    # A PERSISTED input's partition count reflects real row placement
    # (cache blocks), so an exchange only pays off when it at least
    # ~doubles the achievable parallelism: repartitioning the cached
    # 31-partition headline input to 32 moved the FULL row payload
    # through a shuffle to gain one core (measured pure overhead).
    # A FILE SCAN's count does not — splits are byte ranges, but rows
    # live in row groups: a 105 MB single-row-group file reports 26
    # splits while every row lands in ONE task (measured: skipping the
    # fan-out there reserialized the whole fused pass, 31s vs 12s).
    # So near-parallel no-op applies ONLY where the count is honest.
    if df.storageLevel != StorageLevel.NONE and n_parts >= max(2, n // 2):
        return df
    if by:
        return df.repartition(n, *by)
    return df.repartition(n)


def fan_out_if_big(
    df: DataFrame,
    by: tuple | None = None,
    min_bytes: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """Size-gated ``fan_out``: repartition ONLY when the input's
    estimated size says the per-row CPU work is worth an exchange.

    The unconditional fan-out is a measured LOSS for cheap per-row
    passes on small inputs (the exchange + extra stage cost more than
    the single-task work — quality_documents 0.78s alone vs 1.4s
    fanned at sf0.1), but the same query on a 10x single-file input
    ran 9x the wall on one core (scale test, OPTIMIZATION_r06.md): a
    decision made purely from partition count is tuned to the small
    input. Gate on Catalyst's optimized-plan size estimate (for a
    parquet scan: the file bytes — already computed for planning, no
    job): below the threshold keep the scan-stage shape, above it fan
    out. Threshold via ``SPARK_GRAFT_FANOUT_MIN_BYTES`` (default 1 MiB
    of compressed input ≈ seconds of single-core regex work vs the
    ~0.5s exchange overhead); scale-adaptive, nothing tuned to a core
    count or row count (guide §2.5/§6)."""
    import os

    if min_bytes is None:
        min_bytes = int(os.environ.get("SPARK_GRAFT_FANOUT_MIN_BYTES", str(1 << 20)))
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.math.BigInt to a Python int when it fits; fall
        # back to the string form for a JavaObject
        est = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return df  # unknown size: keep the current shape (conservative)
    # LogicalRDD/unstatted relations report defaultSizeInBytes
    # (Long.MaxValue) — that is "unknown", not "huge": keep the shape
    if est < min_bytes or est >= (1 << 62):
        return df
    return fan_out(df, min_partitions=min_partitions, by=by)


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, strip — the canonical form for
    exact-dup hashing. SQL: trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def doc_fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    md5 exists in both Spark and DuckDB => oracle-checkable."""
    return F.md5(normalize_text(col))


def portable_hash60(col: Column) -> Column:
    """Non-negative 60-bit hash both engines compute bit-identically:
    the first 15 hex chars of md5, as a BIGINT.

    Spark:  conv(substring(md5(x), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

    The md5 path costs ~3x xxhash64, so production dedup keeps
    xxhash64; this hash exists so the SAME LSH algorithms can run in
    an oracle-checkable mode (driver hash-compares Spark vs DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Whitespace/punctuation tokenization, lowercased, empties removed.
    SQL equivalent uses the same regex split."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9']+"), lambda t: t != "")


def token_run_count(col: Column) -> Column:
    """Number of tokens — ``size(tokens(col))`` computed WITHOUT the
    array: non-empty tokens are exactly the maximal runs of [a-z0-9']
    in the lowered text, so counting runs with ``regexp_count`` gives
    the identical integer. Unlike the filter() HOF form (CodegenFallback
    ⇒ the whole projection runs interpreted), RegExpCount stays in
    whole-stage codegen — measured 14 interpreted re-tokenizations per
    row in quality_documents before this existed (plans/r06)."""
    return F.regexp_count(F.lower(col), F.lit(r"[a-z0-9']+"))


_TOKEN_CHARSET = "abcdefghijklmnopqrstuvwxyz0123456789'"


def token_chars_count(col: Column) -> Column:
    """Total characters across all tokens — equals
    ``aggregate(tokens(col), 0, (a, t) -> a + length(t))`` because token
    characters are exactly the kept [a-z0-9'] characters of the lowered
    text. Computed as total minus non-kept via ``translate`` (per-char
    table lookup): the regexp_replace form rebuilt the string through
    the regex engine and measured 8x slower on a 57 MB corpus (2.08s vs
    0.25s at local[32]; 0 value mismatches). Codegen-safe (no HOF)."""
    lowered = F.lower(col)
    return F.length(lowered) - F.length(F.translate(lowered, _TOKEN_CHARSET, ""))


def stopword_run_count(col: Column, words: tuple) -> Column:
    """Number of tokens exactly equal to one of ``words`` — equals
    ``size(filter(tokens(col), t -> array_contains(words, t)))``. A
    token is a maximal [a-z0-9'] run, so zero-width lookarounds on the
    token charset match exactly whole-token occurrences, and because
    they consume nothing, adjacent stopwords all count. Codegen-safe."""
    alt = "|".join(words)
    return F.regexp_count(
        F.lower(col), F.lit(rf"(?<![a-z0-9'])(?:{alt})(?![a-z0-9'])")
    )


def token_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (n-grams joined by a space)."""
    ts = tokens(col)
    n = F.size(ts)
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), n - (k - 1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ts, i, k)))
    # shorter-than-k docs shingle to their whole token string
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", ts))))


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, n_sh, shingle) rows: distinct k-token shingles per doc.

    Shape matters: the array-expression formulation
    (``token_shingles``) re-evaluates the regex tokenization once PER
    SHINGLE inside the nested lambda (Catalyst inlines the tokens
    expression; measured 16s for 5k docs). Here the token ARRAY is
    computed once per doc (its own projection, so CollapseProject does
    not re-inline the non-cheap expression into its 3 consumers), the
    per-doc token count and the short-doc whole-string fallback are
    derived BEFORE the explode, and shingles are built with window
    ``lead`` — flat codegen ops, ONE shuffle by id. The previous shape
    derived the count and the fallback from two extra whole-group
    window frames AFTER the explode (an unbounded count and an
    unbounded collect_list — both buffer entire groups, the round-3
    scaling anti-pattern) plus a dropDuplicates exchange on
    (id, shingle) and a third window for n_sh: 3 exchanges and 3 window
    passes where this needs 1 and 1 (plans/r06 minhash before/after).

    Docs with fewer than k tokens contribute their whole token string
    (matching token_shingles / the SQL oracle) — including ZERO-token
    and NULL-text docs, which emit one empty-string shingle
    (posexplode_outer keeps them as a (NULL, NULL) row).

    distinct=False returns the (id, shingle) MULTISET — no dedup, no
    n_sh — for consumers whose aggregate is duplicate-insensitive
    (MinHash: min over a multiset equals min over its set), skipping
    the collect_set entirely."""
    from pyspark.sql import Window

    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_ts")).select(
        F.col(id_col),
        F.coalesce(F.size("_ts"), F.lit(0)).alias("_n"),
        # whole-string fallback carried only for short docs (NULL for
        # the rest, so the exploded rows duplicate no payload)
        F.when(
            F.coalesce(F.size("_ts"), F.lit(0)) < k,
            F.coalesce(F.array_join("_ts", " "), F.lit("")),
        ).alias("_whole"),
        F.col("_ts"),
    )
    toks = base.select(
        F.col(id_col), "_n", "_whole", F.posexplode_outer("_ts").alias("_pos", "_tok")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    leads = [F.col("_tok")] + [F.lead("_tok", j).over(w) for j in range(1, k)]
    sh = toks.select(
        F.col(id_col),
        F.when(F.col("_n") >= k, F.when(leads[-1].isNotNull(), F.concat_ws(" ", *leads)))
        .otherwise(
            F.when((F.col("_pos") == 0) | F.col("_pos").isNull(), F.col("_whole"))
        )
        .alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    if not distinct:
        return sh
    # the window's hash(id) partitioning satisfies the groupBy — no
    # second exchange; collect_set buffers one doc's distinct-shingle
    # set, the same order of memory as the collect_list fallback before
    agg = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("_set"))
    return agg.select(
        F.col(id_col),
        F.size("_set").alias("n_sh"),
        F.explode("_set").alias("shingle"),
    )


def hyperplane_band_sketches(
    vec: Column,
    dim: int,
    bands: int,
    planes_per_band: int,
    seed: int = 42,
    planes: list | None = None,
) -> Column:
    """Array of `bands` sign-LSH band signatures (each a long built
    from `planes_per_band` hyperplane sign bits). Plane components are
    seeded pseudo-random values in (-1, 1) derived from xxhash64 —
    deterministic, zero UDF, computed in the scan stage.

    OR-amplified banding (the same amplification structure as MinHash
    LSH): two vectors are candidates iff ANY band signature matches
    exactly. With p = 1 - angle/pi, r = planes_per_band, B = bands,
    P(candidate) = 1 - (1 - p^r)^B. Bucket count per band is 2^r times
    the hash spread of the corpus, so candidate sets keep shrinking as
    the corpus grows — a single fixed-width sketch (one band) caps the
    bucket count and degenerates to near-quadratic at 1e9+ vectors.

    ``planes`` (optional): an explicit bands*planes_per_band x dim
    projection matrix, overriding the hash-derived components — for
    user-trained projections, and for the driver oracle (literal plane
    values embed identically in a DuckDB SQL twin; the fold order here
    — 0.0 + x1 + x2 + ... ascending d — is replicated there with
    list_reduce(list_prepend(0.0, ...)), so dots are bit-identical)."""
    n = bands * planes_per_band
    if planes is not None:
        assert len(planes) == n and all(len(r) == dim for r in planes)
        planes_lit = F.array(
            *[F.array(*[F.lit(float(c)) for c in row]) for row in planes]
        )
        dots = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda p: F.aggregate(
                F.zip_with(
                    vec,
                    F.element_at(planes_lit, (p + 1).cast("int")),
                    lambda x, pl: x * pl,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    else:
        dots = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda p: F.aggregate(
                F.zip_with(
                    vec,
                    F.transform(
                        F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda d: (
                            F.pmod(F.xxhash64(F.lit(seed), p, d), F.lit(2000001)) - 1000000
                        ).cast("double")
                        / 1000000.0,
                    ),
                    lambda x, pl: x * pl,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    bits = F.transform(
        dots, lambda t: F.when(t >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.aggregate(
            F.slice(bits, b * F.lit(planes_per_band) + 1, F.lit(planes_per_band)),
            F.lit(0).cast("long"),
            lambda acc, bit: acc * 2 + bit,
        ),
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two float arrays via zip_with/aggregate — stays in
    codegen; no UDF. Returns double; 0-vectors => NULL (guarded)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = l2_norm(a)
    nb = l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot / (na * nb))


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
