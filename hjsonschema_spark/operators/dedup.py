"""Deduplication operators for training-data pipelines.

Scale notes (the part that matters at 100 TB):

- ``exact_duplicates``: hash-groupBy on a 32-char fingerprint, partial
  aggregation shrinks the shuffle to ~#distinct-docs; duplicate groups
  are a tiny fraction, broadcast back to tag rows.
- ``minhash_signatures``: pure column expressions (nested transform/
  array_min over the shingle array) — no UDF, no shuffle; signatures
  are computed in the scan stage.
- ``minhash_lsh_pairs``: the scale path. Banding turns O(n²) pair
  search into an equi-join on (band_idx, band_hash); only within-bucket
  pairs are verified. Bucket skew (boilerplate docs) is capped with a
  per-bucket size limit + AQE skew splitting.
- ``ngram_jaccard_pairs``: exact verification path (explode-join on
  shared shingles). Quadratic in bucket size — use on candidates or
  small corpora; it is the correctness oracle for LSH.
- ``simhash_signatures_columnar``: 60-bit SimHash as pure column
  expressions (md5 token hashes, per-bit sums, no UDF); near-dups via
  a banded hamming join.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from hjsonschema_spark.functions import doc_fingerprint, fan_out, token_shingles, tokens
from hjsonschema_spark.functions.columns import exploded_shingles
from hjsonschema_spark.session import local_relation
from hjsonschema_spark.sqltext import col_ref, lit, str_lit

_MERSENNE = (1 << 61) - 1


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rows whose normalized text occurs more than once, with the
    canonical (min-id) representative. Output: id, fingerprint, group
    size, keep flag (False = row is a redundant copy)."""
    df = fan_out(df, by=(id_col,))
    fp = df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
    groups = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id")
    )
    dup_groups = groups.filter(F.col("n_copies") > 1)
    # no broadcast hint: on boilerplate-heavy corpora the dup-group set
    # can be billions of rows (driver/executor OOM if forced). AQE
    # broadcasts it at runtime whenever it actually fits.
    return (
        fp.join(dup_groups, "fingerprint")
        .select(
            id_col,
            "fingerprint",
            "n_copies",
            (F.col(id_col) == F.col("keep_id")).alias("keep"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, signature: array<bigint>) — zero UDFs.

    Shape chosen for scale: explode shingles, hash each shingle STRING
    once, then num_hashes cheap long-rehash min() aggregates. The hash
    aggregation is partial (map-side) so the shuffle carries only
    #docs x num_hashes longs; the expensive string hashing happens
    exactly once per shingle (a nested transform-per-permutation
    formulation rehashes every string num_hashes times).

    hash_mode: 'xxhash64' (production — fastest) or 'md5' (the
    ``portable_hash60`` family: per-permutation hash =
    hash60(f"{i}:" + substr(md5(shingle),1,16)), computable
    bit-identically in DuckDB so the WHOLE LSH pipeline gets a SQL
    oracle; ~3x hash cost, same plan shape)."""
    df = fan_out(df, by=(id_col,))
    # multiset mode: min over duplicate shingles equals min over the
    # distinct set, so MinHash skips the shingle dedup aggregation
    # entirely (one fewer pass; identical signatures)
    ex = exploded_shingles(df, id_col, text_col, k=shingle_k, distinct=False)
    aggs, sig = _minhash_exprs(num_hashes, seed, hash_mode)
    key = col_ref(id_col)
    if hash_mode == "md5":
        ex = ex.selectExpr(key, "substring(md5(shingle), 1, 16) AS _b")
    else:
        ex = ex.selectExpr(key, f"xxhash64(shingle, {lit(seed)}) AS _h")
    wide = ex.groupBy(id_col).agg(*map(F.expr, aggs))
    return wide.selectExpr(key, f"{sig} AS signature")


def _minhash_exprs(num_hashes: int, seed: int, hash_mode: str) -> tuple:
    """(per-permutation min aggregates, signature array) as SQL text
    over the per-shingle hash column (``_b`` for md5, ``_h`` for
    xxhash64). Text, not PySpark functions: 64 aggregate Columns built
    call by call cost ~0.3 s of py4j round trips per build."""
    if hash_mode == "md5":
        # portable_hash60 of f"{i}:" + _b
        perm = "CAST(conv(substring(md5(concat({}, _b)), 1, 15), 16, 10) AS BIGINT)"
        terms = [perm.format(str_lit(f"{i}:")) for i in range(num_hashes)]
    else:
        terms = [f"xxhash64(_h, {i})" for i in range(num_hashes)]
    aggs = [f"min({t}) AS _m{i}" for i, t in enumerate(terms)]
    sig = "array(" + ", ".join(f"_m{i}" for i in range(num_hashes)) + ")"
    return aggs, sig


def _band_hash_expr(num_hashes: int, bands: int, hash_mode: str) -> Column:
    """array of per-band LSH keys via flat element_at terms over the
    materialized ``signature`` attribute (assembled once per doc in the
    aggregation's result projection). The previous form sliced the
    array per band through a nested transform lambda —
    transform(slice(signature, ...), v -> cast(v)) ×16 — two lambda
    levels per band for the optimizer and an array copy per slice at
    runtime; element_at is a flat O(1) read of the same slots. Band key
    strings are identical (concat_ws over the same casts in the same
    order), so md5/xxhash64 band keys — and therefore buckets, pairs,
    and the DuckDB oracle — are unchanged. Built as one SQL text."""
    rows = num_hashes // bands

    def joined(b: int) -> str:
        slots = ", ".join(
            f"CAST(element_at(signature, {i + 1}) AS STRING)"
            for i in range(b * rows, (b + 1) * rows)
        )
        return f"concat_ws(',', {slots})"

    if hash_mode == "md5":
        keys = [f"md5({joined(b)})" for b in range(bands)]
    else:
        keys = [f"xxhash64({joined(b)}, {b})" for b in range(bands)]
    return F.expr(f"array({', '.join(keys)})")


def _minhash_est_expr(num_hashes: int) -> Column:
    """Signature-agreement rate as `num_hashes` codegen-safe equality
    terms over sig_a/sig_b, built as one SQL text. Signature slots are
    non-null (every doc has >=1 shingle), so CASE ... ELSE 0 matches the
    filter(zip_with) count."""
    agree = " + ".join(
        f"CASE WHEN (element_at(sig_a, {i}) = element_at(sig_b, {i})) THEN 1 ELSE 0 END"
        for i in range(1, num_hashes + 1)
    )
    return F.expr(f"(({agree}) / {float(num_hashes)!r}D)")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = 1000,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding, with
    the estimated jaccard (signature agreement rate) >= threshold.

    Plan shape: scan+signatures (no shuffle) → explode bands (xB rows)
    → shuffle on band hash → within-bucket self-join (bounded by
    max_bucket) → estimate + filter → distinct pairs.

    hash_mode='md5' runs the identical algorithm on the portable md5
    hash family (band key = md5 of the comma-joined band slice) — the
    DuckDB-oracle-checkable mode; see ``minhash_signatures``.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, seed, hash_mode)
    band_hash = _band_hash_expr(num_hashes, bands, hash_mode)
    banded = sigs.select(
        id_col, "signature", F.posexplode(band_hash).alias("band_idx", "band_hash")
    )
    # cap pathological buckets (boilerplate): keep first max_bucket docs
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash").orderBy(id_col)
    banded = banded.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= max_bucket)
    left = banded.select(
        "band_idx", "band_hash", F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
    )
    right = banded.select(
        "band_idx", "band_hash", F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
    )
    # estimate + threshold BEFORE the pair dedup: the estimate is a
    # pure function of the two signatures, so it is identical on every
    # banded match of a pair — computing it per match and deduplicating
    # (id_a, id_b, est) afterwards returns the same rows, but the dedup
    # aggregation now carries 24-byte rows instead of two 64-long
    # signature arrays (whose non-fixed-width first() forced a
    # SortAggregate with a full sort on both sides of its exchange —
    # plans/r06 minhash before-plan (46)-(50)), and the threshold
    # prunes non-pairs before the exchange instead of after it.
    # Agreement count as a flat sum of element_at equality terms, not
    # size(filter(zip_with(...))): the HOF chain is CodegenFallback and
    # runs interpreted per banded match — the one per-candidate hot
    # expression in this pipeline. Integer count / num_hashes is
    # bit-identical either way.
    est = _minhash_est_expr(num_hashes)
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard for all pairs sharing >=1 shingle.
    Candidate generation via explode + self-join on the shingle —
    the LSH verifier / small-corpus oracle."""
    df = fan_out(df, by=(id_col,))
    # join on a 64-bit shingle hash, not the string — 8-byte shuffle/
    # join keys instead of ~20-char strings (collisions: ~n²/2⁶⁴, nil)
    ex = exploded_shingles(df, id_col, text_col, k=shingle_k).select(
        id_col, "n_sh", F.xxhash64("shingle").alias("shingle")
    )
    a = ex.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def simhash_signatures_columnar(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 60
) -> DataFrame:
    """SimHash as PURE column expressions — zero UDF. The per-bit ±1
    accumulation becomes n_bits small integer sums: explode tokens,
    hash each once (``portable_hash60``), sum (2*bit-1) per bit
    position, rebuild the signature from the sums' signs. It stays in
    whole-stage codegen with map-side partial aggregation, and the
    md5-based hash is computable in DuckDB, so the full near-dup
    pipeline has a driver SQL oracle.

    Docs with zero tokens get signature 0. Default 60 bits = what fits
    portable_hash60."""
    from hjsonschema_spark.functions import portable_hash60

    df = fan_out(df, by=(id_col,))
    # materialize the hash ONCE per token row — the 60 per-bit aggregate
    # expressions below each reference it; inlining portable_hash60 here
    # would md5 every token 60 times
    tk = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("_tok")
    ).select(F.col(id_col), portable_hash60(F.col("_tok")).alias("_h"))
    h = F.col("_h")
    # NULL token (empty doc) falls to otherwise(-1) in every bit: all
    # sums negative => all bits 0 => signature 0
    sums = [
        F.sum(
            F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(n_bits)
    ]
    acc = tk.groupBy(id_col).agg(*sums)
    sig = None
    for b in range(n_bits):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return acc.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming over the
    60-bit ``simhash_signatures_columnar``. Banding on n_bands equal
    bit-chunks: pairs within distance n_bands-1 share at least one
    exact chunk (pigeonhole), so candidates come from an equi-join.
    n_bands defaults to the smallest divisor of 60 above max_hamming
    (full recall); more bands = more candidates = slower but never
    less recall."""
    sig_bits = 60
    if n_bands is None:
        n_bands = next(b for b in range(max_hamming + 1, sig_bits + 1) if sig_bits % b == 0)
    assert sig_bits % n_bands == 0, f"n_bands must divide {sig_bits}"
    width = sig_bits // n_bands
    mask = (1 << width) - 1
    sigs = simhash_signatures_columnar(df, text_col, id_col, sig_bits)
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(n_bands)
        ]
    )
    banded = sigs.select(id_col, "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "chunk_idx", "chunk")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "chunk_idx", "chunk")
    # hamming + threshold before the pair dedup (same rewrite as
    # minhash_lsh_pairs: the distance is identical on every chunk match
    # of a pair, and the <= max_hamming filter prunes rows before the
    # dedup exchange instead of after it)
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Cluster assignment over an undirected candidate-pair edge list:
    (node, cluster_id) where cluster_id = the minimum node id reachable
    from the node. The missing piece between pairwise near-dup detection
    and actual dedup decisions — transitive chains (A~B, B~C) must land
    in ONE cluster even when A and C never paired directly.

    Two execution paths, same output:

    - edge count <= ``driver_threshold``: collect the edges and run
      union-find on the driver (2 Spark jobs total). The near-dup pair
      graph is a tiny fraction of the corpus — after LSH verification
      it is bounded by the documents that actually have near-dups — so
      this is the common case even at 100 TB; a 1M-edge list is ~16 MB.
    - larger: distributed min-label propagation accelerated with
      pointer jumping (each round every node takes the min of its
      neighbours' labels AND its label's label), the standard
      O(log d)-round MapReduce/Pregel CC scheme (cf. Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14 — public
      literature). Each round is two shuffles on the pairs-only node
      set — the corpus itself is never touched. ``localCheckpoint``
      truncates the growing lineage so plan compilation stays O(1) per
      round. Set ``driver_threshold=0`` to force this path.
    """
    if driver_threshold:
        # ONE execution of the (possibly expensive) pairs pipeline: pull
        # at most threshold+1 edges; the overflow row, if present, sends
        # us to the distributed loop instead
        rows = [
            (r[0], r[1])
            for r in pairs.select(id_a, id_b).limit(driver_threshold + 1).collect()
        ]
        if len(rows) <= driver_threshold:
            spark = pairs.sparkSession
            t = dict(pairs.dtypes)[id_a]
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for a, b in rows:
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN so roots are already the min label
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = sorted({a for a, _ in rows} | {b for _, b in rows})
            # an Arrow table plans a LocalTableScan; a list of rows would
            # plan a Python RDD scan that forks workers on every collect
            schema = StructType.fromDDL(f"node {t}, cluster_id {t}")
            at = to_arrow_type(schema["node"].dataType)
            table = pa.table(
                {"node": pa.array(nodes, at), "cluster_id": pa.array([find(n) for n in nodes], at)}
            )
            return spark.createDataFrame(table, schema)

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("_nbr"))
            .withColumnRenamed("src", "node")
        )
        hop = labels.join(nbr_min, "node", "left").select(
            "node", F.least("label", F.coalesce("_nbr", "label")).alias("label")
        )
        # pointer jump: label <- label(label) — collapses chains
        # exponentially instead of one hop per round
        jumped = (
            hop.join(
                hop.select(F.col("node").alias("label"), F.col("label").alias("_ll")),
                "label",
                "left",
            )
            .select("node", F.least("label", F.coalesce("_ll", "label")).alias("label"))
            .localCheckpoint()
        )
        changed = (
            jumped.join(labels.withColumnRenamed("label", "_old"), "node")
            .filter(F.col("label") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


def near_duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup clustering: pair detection (exact n-gram
    jaccard by default; pass ``pairs`` to use the MinHash-LSH candidates
    at scale) → connected components → (doc_id, cluster_id, keep) with
    keep = the cluster's min-id representative."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, text_col, id_col, shingle_k, threshold)
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias(id_col),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("keep"),
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    bands: int = 8,
    planes_per_band: int = 10,
    dim: int | None = None,
    seed: int = 42,
    max_bucket: int = 1000,
    planes: list | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. Candidates via OR-amplified
    multi-band sign-LSH (see ``hyperplane_band_sketches``: recall
    1-(1-p^r)^B, per-band bucket count 2^r — the banding structure
    MinHash LSH uses, so bucket sizes keep shrinking as the corpus
    grows), verified with exact cosine.

    Plan shape for scale: the banded frame carries IDS ONLY (vectors
    would be duplicated x bands through the shuffle); candidate pairs
    join back to the vectors for exact verification. Pathological
    buckets capped at max_bucket; AQE skew-join handles the rest."""
    from hjsonschema_spark.functions import cosine_similarity
    from hjsonschema_spark.functions.columns import hyperplane_band_sketches

    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    emb = fan_out(emb, by=(id_col,))
    sketches = hyperplane_band_sketches(
        F.col(vec_col), dim, bands, planes_per_band, seed, planes=planes
    )
    sk = emb.select(F.col(id_col), F.posexplode(sketches).alias("band_idx", "band_sig"))
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_sig").orderBy(id_col)
    sk = sk.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= max_bucket)
    a = sk.select(F.col(id_col).alias("id_a"), "band_idx", "band_sig")
    b = sk.select(F.col(id_col).alias("id_b"), "band_idx", "band_sig")
    cand = (
        a.join(b, ["band_idx", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    cos = cosine_similarity(F.col("v_a"), F.col("v_b"))
    return pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= min_cosine
    )


def incremental_dedup(
    new_df: DataFrame,
    state_path: str | None = None,
    batch_id: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_table: str | None = None,
    state_location: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact dedup of one ingestion batch against a PERSISTENT
    fingerprint store — the incremental complement of
    ``exact_duplicates`` for corpora built in drops (daily crawls,
    rolling transcript dumps), where each batch must dedup against
    everything already ingested, not just itself.

    State: a parquet table at ``state_path`` with
    (fingerprint, first_id, batch_id) — one row per distinct document
    ever accepted. Read with a min-reduce per fingerprint, so a
    replayed append degrades to extra rows, never wrong answers.

    Returns one row per input row: (id, fingerprint, status,
    canonical_id) with status in:
    - 'new'             first occurrence ever => appended to the state
    - 'dup_in_batch'    duplicate of an earlier row in THIS batch
    - 'dup_historical'  duplicate of a previously ingested document
    The returned frame is eagerly localCheckpoint'ed BEFORE the state
    append: its lineage includes a lazy scan of ``state_path``, so any
    post-append recomputation would re-read the just-updated state and
    mark the batch's own rows dup_historical (observed with a plain
    persist — partitions recomputed after eviction read the new state).
    Lineage truncation makes the result immune; the checkpoint blocks
    die on JVM GC (same caveat as connected_components, see PLANS.md).

    Exactly-once: this operator is idempotent in CONTENT (replaying a
    batch re-marks rows dup_historical and appends nothing new — their
    fingerprints are already in state) but appends are not transactional;
    pair with checks/checkpoint.py's two-phase batch ledger when a crash
    between append and downstream commit matters.

    Scale shape (100 TB): both sides of the history join hash on
    fingerprint, and the STATE side dominates (it is the whole corpus's
    fingerprint set, the batch is one drop). Store the state BUCKETED
    by fingerprint so each batch's join shuffles only the batch:

    - ``state_table`` (+ optional ``state_location``): a Spark
      parquet table bucketed by ``bucketBy(n_buckets, fingerprint)`` —
      the bucketed scan satisfies the join's hash-clustering
      requirement, so the executed plan has NO state-side Exchange
      (pinned by test_plans.py); only the batch shuffles, into
      ``n_buckets`` partitions. The min-reduce over the state is
      likewise exchange-free. On Iceberg, the same layout is
      ``PARTITIONED BY (bucket(N, fingerprint))`` — this parquet
      ``bucketBy`` path is the sandbox fallback (sources/tables.py
      convention).
    - ``state_path``: plain parquet at a path (no bucket metadata —
      both sides shuffle). Kept for zero-catalog deployments.

    Reference lineage: uniqueItems lifted to table scope and then
    across TIME (Array.hs:73-77), same lift as streaming/stateful.py.
    """
    import os

    if (state_path is None) == (state_table is None):
        raise ValueError("incremental_dedup: exactly one of state_path/state_table")

    spark = new_df.sparkSession
    fp = fan_out(new_df, by=(id_col,)).select(
        F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    batch_groups = fp.groupBy("fingerprint").agg(F.min(id_col).alias("_batch_keep"))
    tagged = fp.join(batch_groups, "fingerprint")
    if state_table is not None:
        state_exists = spark.catalog.tableExists(state_table)
        hist_src = spark.table(state_table) if state_exists else None
    else:
        state_exists = os.path.exists(os.path.join(state_path, "_SUCCESS"))
        hist_src = spark.read.parquet(state_path) if state_exists else None
    if hist_src is not None:
        hist = hist_src.groupBy("fingerprint").agg(F.min("first_id").alias("_hist_id"))
    else:
        hist = local_relation(spark, (), "fingerprint string, _hist_id long")
    tagged = tagged.join(hist, "fingerprint", "left")
    result = tagged.select(
        id_col,
        "fingerprint",
        F.when(F.col("_hist_id").isNotNull(), F.lit("dup_historical"))
        .when(F.col(id_col) != F.col("_batch_keep"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("status"),
        F.coalesce("_hist_id", "_batch_keep").alias("canonical_id"),
    ).localCheckpoint(eager=True)
    accepted = result.filter(F.col("status") == "new").select(
        "fingerprint",
        F.col(id_col).alias("first_id"),
        F.lit(batch_id).cast("long").alias("batch_id"),
    )
    if state_table is not None:
        w = (
            accepted.write.mode("append")
            .format("parquet")
            .bucketBy(n_buckets, "fingerprint")
            .sortBy("fingerprint")
        )
        if state_location is not None and not state_exists:
            w = w.option("path", state_location)
        w.saveAsTable(state_table)
    else:
        accepted.write.mode("append").parquet(state_path)
    return result
