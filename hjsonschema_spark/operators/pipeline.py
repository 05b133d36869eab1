"""Training-pipeline dataset operators: deterministic splits,
train/test decontamination, intra-document repetition signals.

These extend the reference's validation vocabulary (hjsonschema is a
document validator; see SURVEY.md §2) with the dataset-preparation
checks a transcript/document corpus needs before training — each op is
a pure DataFrame plan (no UDFs, no driver loops) designed for the
100-TB shapes: split assignment is a per-row projection; contamination
is a shingle equi-join; repetition is two hash aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split_by_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic, reshuffle-stable train/val/test assignment.

    Each row's bucket is the first 8 hex chars of md5(id || salt) —
    uniform over [0, 2^32) and a pure function of the id, so the split
    is identical across runs, partitionings, and engines (the DuckDB
    oracle reproduces it byte-for-byte). Assignment compares hex
    STRINGS against precomputed hex thresholds: equal-length lowercase
    hex compares lexicographically exactly as it does numerically, so
    no engine-specific hex->int parsing is involved.

    One projection, no shuffle; `salt` re-deals the split without
    touching the data.
    """
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(fractions.values())
    if not (0.999 <= total <= 1.001):
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8)
    cum = 0.0
    expr = None
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        threshold = format(min(int(cum * 2**32), 2**32 - 1), "08x")
        cond = u < F.lit(threshold)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Flag training documents sharing any k-token shingle with a test
    document — the standard n-gram-overlap decontamination used for
    held-out benchmark hygiene.

    Plan shape (scale path): both sides tokenize/shingle in their scan
    stage (explode + window-lead, no UDF — functions.columns.
    exploded_shingles), the test side is reduced to DISTINCT shingles
    (a benchmark is orders of magnitude smaller than the corpus, so
    AQE broadcasts it when it fits; no forced hint), and contamination
    is one equi-join on the shingle followed by a groupBy(train id).
    Returns one row per CONTAMINATED train doc:
    (id, n_contaminated_shingles, n_shingles, contamination_frac).
    """
    from hjsonschema_spark.functions.columns import exploded_shingles

    tr = exploded_shingles(train, id_col, text_col, k)
    te = exploded_shingles(test, id_col, text_col, k).select("shingle").distinct()
    hit = tr.join(te, "shingle")
    return (
        hit.groupBy(id_col)
        .agg(
            F.count_distinct("shingle").alias("n_contaminated_shingles"),
            F.max("n_sh").alias("n_shingles"),
        )
        .withColumn(
            "contamination_frac",
            F.round(F.col("n_contaminated_shingles") / F.col("n_shingles"), 6),
        )
    )


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition/quality signals (the public
    Gopher-style repetition filters, Rae et al. 2021, §A1.1):

      - n_lines / dup_line_frac: fraction of newline-separated
        non-empty lines that are duplicates of an earlier line;
      - top_bigram_frac: fraction of all token 2-grams occupied by the
        single most frequent 2-gram.

    Line stats are a pure projection (array_distinct on the split
    text — no shuffle). The bigram mode needs counting per (doc,
    bigram): explode + two hash aggregations keyed by the doc id, so
    data is shuffled once on (id, bigram) and once on id — both
    map-side-combinable, no windows over whole docs' exploded rows.
    """
    from hjsonschema_spark.functions.columns import fan_out_if_big, tokens

    # size-gated: line/bigram extraction is per-row CPU, single-core on
    # a big single-file input without the fan-out
    df = fan_out_if_big(df, by=(id_col,))
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: F.trim(x) != "")
    line_stats = df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("_n_distinct"),
    ).select(
        id_col,
        "n_lines",
        F.when(F.col("n_lines") > 0,
               F.round(1.0 - F.col("_n_distinct") / F.col("n_lines"), 6))
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
    )

    toks = df.select(F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tok"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("_pos")
    bigrams = (
        toks.select(
            F.col(id_col),
            F.concat_ws(" ", F.col("_tok"), F.lead("_tok").over(w)).alias("bigram"),
            F.lead("_tok").over(w).isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
    )
    per_gram = bigrams.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("_c"))
    gram_stats = per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("_n_bigrams"), F.max("_c").alias("_top")
    ).select(
        id_col,
        F.col("_n_bigrams").cast("long").alias("n_bigrams"),
        F.round(F.col("_top") / F.col("_n_bigrams"), 6).alias("top_bigram_frac"),
    )
    return line_stats.join(gram_stats, id_col, "left").select(
        id_col,
        "n_lines",
        "dup_line_frac",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization: split each key's event timeline
    into sessions whenever consecutive events are more than
    ``gap_minutes`` apart.

    The streaming analogue is ``session_window``; this is the batch
    form with an exact SQL oracle. Returns one row per session:
    (key, session_idx 0-based per key, session_start, session_end,
    n_events, duration_sec).

    Plan shape (scale audit): lag + running-sum windows partitioned by
    key, then groupBy(key, session_idx) — HashPartitioning(key)
    satisfies the ClusteredDistribution of the superset grouping key,
    so the whole op is ONE hash exchange on `key` plus one sort, with
    partial aggregation map-side. Skewed keys (one user with millions
    of events) are the same single-key-window hazard as the engine's
    ordered pass — AQE cannot split a window partition, so the cap is
    per-key volume, documented like compile.py's ordered checks.

    NULL semantics: rows with NULL key or ts are excluded (vacuous,
    reference NULL rule); ordering ties broken by ``tiebreak_col``
    (default: the timestamp alone, stable because the sum-over-flags
    session id does not depend on intra-tie order when gaps are zero).
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    gap_sec = F.lit(gap_minutes * 60)
    events = (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(key_col, ts_col, *( [tiebreak_col] if tiebreak_col else [] ))
        .withColumn("_prev", F.lag(ts_col).over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | (F.unix_timestamp(ts_col) - F.unix_timestamp("_prev") > gap_sec)
            ).cast("long"),
        )
        .withColumn(
            "session_idx",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
        )
    )
    return events.groupBy(key_col, "session_idx").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col)))
        .cast("long")
        .alias("duration_sec"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_count_col: "F.Column | None" = None,
    budget: int = 2048,
    bucket_hex_chars: int = 2,
    salt: str = "",
) -> DataFrame:
    """Deterministic concat-and-chunk context-window packing.

    Training pipelines concatenate documents into fixed token-budget
    sequences. A single global greedy pass is inherently serial (and a
    single window over the corpus is a one-reducer job), so packing is
    done per HASH BUCKET: each doc goes to bucket = first
    `bucket_hex_chars` hex chars of md5(id || salt) (16^k buckets, a
    pure function of the id — reshuffle-stable and engine-portable,
    same trick as split_by_hash), and within a bucket docs are packed
    in id order: a doc's offset is the exclusive running token sum and
    its sequence index is start_offset // budget. `straddles` marks docs cut
    by a sequence boundary (the concat-and-chunk cost metric).

    Scale shape: ONE hash exchange on the bucket + a per-bucket sort —
    no UDFs, no iteration. Bucket count (16^k) is the parallelism knob;
    per-bucket skew is bounded because md5 spreads ids uniformly.
    Zero-token docs occupy no space and never straddle.
    """
    if token_count_col is None:
        # regexp_count of token runs == size(tokens(text)) but stays in
        # whole-stage codegen (filter() HOF is CodegenFallback)
        from hjsonschema_spark.functions import token_run_count

        token_count_col = token_run_count(F.col("text"))
    from pyspark.sql import Window

    bucket = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, bucket_hex_chars
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    out = (
        df.select(F.col(id_col), token_count_col.cast("long").alias("n_tokens"))
        .withColumn("bucket", bucket)
        .withColumn(
            "start_offset",
            F.coalesce(
                F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn("seq_idx", F.floor(F.col("start_offset") / budget))
        .withColumn(
            "straddles",
            (F.col("n_tokens") > 0)
            & (
                F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / budget)
                != F.col("seq_idx")
            ),
        )
    )
    return out.select(
        id_col,
        "bucket",
        "n_tokens",
        "start_offset",
        "seq_idx",
        F.concat_ws("-", "bucket", F.col("seq_idx").cast("string")).alias("pack_id"),
        "straddles",
    )


def sample_by_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    fraction: float = 0.1,
    strata_col: str | None = None,
    strata_fractions: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sampling: keep a row iff the first 8 hex
    chars of md5(id || salt) fall under the fraction's threshold — the
    same reshuffle-stable, engine-portable trick as split_by_hash
    (df.sample() is seed+partitioning dependent, so it is neither
    reproducible across engines nor auditable). With `strata_col`,
    per-stratum fractions override the default (deterministic
    stratified downsampling, e.g. cap 'en' at 5% while keeping 100% of
    low-resource languages).

    One projection, no shuffle, no sampling state; `salt` re-deals.
    """
    u = F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8)

    def _keep(f: float) -> Column:
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction must be in [0,1], got {f}")
        # Short-circuit the boundaries: a strict `u < threshold` with a
        # clamped 'ffffffff' threshold would drop rows whose md5 prefix
        # is exactly 0xffffffff (~1 in 4.3B — real rows at scale), so
        # 1.0 must be keep-all and 0.0 drop-all by construction.
        if f >= 1.0:
            return F.lit(True)
        if f <= 0.0:
            return F.lit(False)
        return u < F.lit(format(min(int(f * 2**32), 2**32 - 1), "08x"))

    if strata_col is None or not strata_fractions:
        keep = _keep(fraction)
    else:
        keep = None
        for value, f in strata_fractions.items():
            cond = F.col(strata_col) == F.lit(value)
            keep = F.when(cond, _keep(f)) if keep is None else keep.when(cond, _keep(f))
        keep = keep.otherwise(_keep(fraction))
    return df.filter(keep)


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fractions: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Train/val/test assignment that can never leak a duplicate across
    splits: the split is a hash of the exact-duplicate GROUP
    representative (min id per normalized-text fingerprint), so
    byte-identical documents land in the same split by construction —
    the classic held-out-contamination failure of id-keyed splits.

    Plan shape: fingerprint in the scan stage (md5 of normalized text,
    the same fingerprint as dedup.exact_duplicates), ONE map-side-
    combinable aggregation to the (fingerprint -> min id) group map,
    one equi-join back on the fingerprint, then the split_by_hash
    threshold projection keyed on group_id. The groupBy+join shape is
    deliberate over a window min: a boilerplate fingerprint with 10^9
    copies is a partial-aggregated row here, but would be a single
    10^9-row window partition (one straggler task) the other way.

    Output: (id, group_id, split). Near-duplicate-safe splits compose
    the same way with dedup.near_duplicate_clusters' cluster_id.
    """
    from hjsonschema_spark.functions import doc_fingerprint

    fp = df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("_fp"))
    rep = fp.groupBy("_fp").agg(F.min(id_col).alias("group_id"))
    assigned = split_by_hash(
        fp.join(rep, "_fp"), id_col="group_id", fractions=fractions, salt=salt
    )
    return assigned.select(id_col, "group_id", "split")
