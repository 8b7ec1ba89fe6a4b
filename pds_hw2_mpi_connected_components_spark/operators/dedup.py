"""Deduplication operators for large-scale training-data pipelines.

Five tiers, cheapest first (all DataFrame-native; no per-row Python):

- exact: hash-groupBy on a normalized md5 fingerprint. One shuffle.
- ngram/token Jaccard (exact): token-set overlap join within a blocking
  key — quadratic only inside blocks.
- MinHash + LSH: k portable universal hashes over token hashes, banded into
  LSH buckets; candidate pairs = bucket collisions. Scales to 10^12 docs
  (shuffle is O(docs * bands), never O(docs^2)).
- SimHash: sign-sum over token-hash bits; near-dups = small Hamming
  distance within blocking buckets.
- embedding cosine near-dup: see operators/similarity.py.

All hashing uses the portable md5-based token hash (functions/text.py)
so every operator here is verifiable against a DuckDB SQL oracle.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5, portable_token_hash
from ..plans.flat import flat_checkpoint
from ..plans.loop import Loop

P = 2147483647  # Mersenne prime 2^31-1; universal-hash modulus

# (a_i, b_i) parameters for the k minhash functions — fixed, documented,
# mirrored literally in the SQL oracle.
MINHASH_PARAMS = [
    (1299721, 15487469), (2750161, 32452843), (4256233, 49979687),
    (5800079, 67867967), (7368787, 86028121), (8960453, 104395301),
    (10570841, 122949823), (12195257, 141650939),
]


def tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, tok) distinct non-empty whitespace tokens per document."""
    return (
        df.select(F.col(id_col).alias("id"),
                  F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )


def shingles(df: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, tok) distinct word n-gram shingles (space-joined runs of n
    consecutive non-empty tokens). Pure JVM array expressions — the shingle
    set is what MinHash/Jaccard operate on when token-level granularity is
    too coarse."""
    toks = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), " "), lambda x: x != "")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("tok"))
        .distinct()
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, n_docs, min_doc): one row per distinct normalized text.
    n_docs > 1 rows are the duplicate groups."""
    return (
        df.select(F.col(id_col).alias("id"),
                  fingerprint_md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("min_doc"))
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = 10_000,
    ngram: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Exact token-set Jaccard over pairs sharing a blocking key.
    ``ngram`` > 1 computes Jaccard over word n-gram shingles instead of
    single tokens (rarer units => sharper similarity, smaller df skew).

    (a, b, jac_r) with a < b and round(jaccard,4) >= threshold. The blocking
    key bounds the pair space (at web scale the block is an LSH bucket; here
    the `source` column plays that role so the oracle stays cheap).

    ``max_df``: drop tokens appearing in more than max_df documents BEFORE
    the pair join (Jaccard is then computed over the filtered token sets —
    standard stop-token removal). This is the skew guard: the join key is
    the raw token, and without a cutoff a stopword like "the" carries ~n
    rows, making one reducer's output ~n^2/blocks at web scale. With the
    cutoff, any token's join fan-out is bounded by max_df^2. Costs one extra
    cheap aggregation (the document-frequency count). Bounded BY DEFAULT
    (10k docs per token); pass ``max_df=None`` to opt out explicitly — the
    unbounded join is only safe on corpora known to have no hot tokens.

    ``stats``: optional dict. When given, the document-frequency counts are
    aggregated EAGERLY (one extra small job) and
    ``stats["dropped_tokens"]`` / ``stats["max_token_df"]`` are filled; a
    RuntimeWarning is emitted if the cutoff actually dropped tokens, so
    exact-semantics callers notice they need ``max_df=None``. Default None
    applies the cutoff silently in-plan.

    Not lazy: the call counts ``df`` (to size the layout, plans/loop.py)
    and materializes the blocked token table once, so ``df`` is scanned
    at call time; the returned pairs DataFrame is lazy."""
    toks = tokens(df, id_col, text_col) if ngram <= 1 else shingles(df, ngram, id_col, text_col)
    if max_df is not None:
        dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
        if stats is not None:
            row = dfreq.agg(
                F.coalesce(F.sum((F.col("df") > max_df).cast("long")), F.lit(0)).alias("dropped"),
                F.coalesce(F.max("df"), F.lit(0)).alias("mx"),
            ).collect()[0]
            stats["dropped_tokens"] = int(row["dropped"])
            stats["max_token_df"] = int(row["mx"])
            if stats["dropped_tokens"]:
                warnings.warn(
                    f"jaccard_pairs: max_df={max_df} dropped "
                    f"{stats['dropped_tokens']} hot tokens (max df "
                    f"{stats['max_token_df']}); pairs sharing only those "
                    "tokens are not reported. Pass max_df=None for exact "
                    "semantics (unbounded join).",
                    RuntimeWarning,
                    stacklevel=2,
                )
        toks = toks.join(dfreq.where(F.col("df") <= max_df).select("tok"), "tok")
    blocks = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
    # The blocked token table feeds BOTH sides of the pair self-join plus
    # the size aggregation: materialize it ONCE, laid out on the pair-join
    # key, so the tokenize/df-filter subtree runs once instead of three
    # times and the self-join is exchange-free (guide §2.4/§8; values are
    # unchanged — this is pure plan structure).
    with Loop(df) as loop:
        t = loop.flat(toks.join(blocks, "id"), "tok", "blk")
        sizes = t.groupBy("id").agg(F.count("*").alias("sz"))
        pairs = (
            t.alias("x").join(t.alias("y"),
                              (F.col("x.tok") == F.col("y.tok"))
                              & (F.col("x.blk") == F.col("y.blk"))
                              & (F.col("x.id") < F.col("y.id")))
            .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .agg(F.count("*").alias("inter"))
        )
    return (
        pairs.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sa"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "sb"), "b")
        .select(
            "a", "b",
            F.round(F.col("inter").cast("double")
                    / (F.col("sa") + F.col("sb") - F.col("inter")).cast("double"), 4).alias("jac_r"),
        )
        .where(F.col("jac_r") >= threshold)
        .select("a", "b", "jac_r")
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, i, mh): minhash value for each of the k hash functions.

    All k mins are computed as one projection + ONE groupBy(id) with k min
    aggregates (map-side partial agg), then unpivoted — the shuffle carries
    one row of k longs per doc. (Round 1 crossJoined tokens with the k
    params first: k x the shuffle rows BEFORE aggregation; measured ~2x
    slower on the bench.)"""
    toks = tokens(df, id_col, text_col).withColumn("h", portable_token_hash(F.col("tok"), P))
    k = len(MINHASH_PARAMS)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    wide = toks.groupBy("id").agg(*aggs)
    stack = ", ".join(f"{i}, mh{i}" for i in range(k))
    return wide.select("id", F.expr(f"stack({k}, {stack}) AS (i, mh)"))


def cap_hot_buckets(
    rows: DataFrame,
    bucket_cols: list[str],
    max_bucket: int | None,
    stats: dict | None = None,
    what: str = "lsh",
) -> DataFrame:
    """The ``max_df`` pattern applied to LSH buckets: drop (id, bucket) rows
    whose bucket holds more than ``max_bucket`` members BEFORE the
    within-bucket self-join, bounding that join's output by max_bucket^2 per
    bucket. Degenerate buckets (boilerplate / near-empty docs collapsing to
    one signature) are exactly the low-information collisions near-dup
    pipelines drop anyway. One extra cheap aggregation, fully in-plan.

    ``stats``: optional dict -> EAGER bucket-size aggregation (one small
    job) filling ``stats["dropped_buckets"]`` / ``stats["max_bucket_size"]``
    and warning when buckets were actually dropped. Default None stays lazy.
    """
    if max_bucket is None:
        return rows
    sizes = rows.groupBy(*bucket_cols).agg(F.count("*").alias("bsz"))
    if stats is not None:
        row = sizes.agg(
            F.coalesce(F.sum((F.col("bsz") > max_bucket).cast("long")), F.lit(0)).alias("dropped"),
            F.coalesce(F.max("bsz"), F.lit(0)).alias("mx"),
        ).collect()[0]
        stats["dropped_buckets"] = int(row["dropped"])
        stats["max_bucket_size"] = int(row["mx"])
        if stats["dropped_buckets"]:
            warnings.warn(
                f"{what}: max_bucket={max_bucket} dropped "
                f"{stats['dropped_buckets']} oversized buckets (largest held "
                f"{stats['max_bucket_size']} docs); pairs colliding only in "
                "those buckets are not reported. Pass max_bucket=None for "
                "unguarded (quadratic) semantics.",
                RuntimeWarning,
                stacklevel=3,
            )
    keep = sizes.where(F.col("bsz") <= max_bucket).select(*bucket_cols)
    return rows.join(keep, bucket_cols)


def minhash_lsh_candidates(
    df: DataFrame,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """(a, b) candidate near-duplicate pairs: docs sharing at least one LSH
    band (band = concatenated minhashes of `rows_per_band` consecutive hash
    functions). Never materializes the O(n^2) pair space.

    ``max_bucket`` (default 10k, ``None`` to opt out) drops band buckets
    larger than the cap before the self-join — see :func:`cap_hot_buckets`.
    Without it a degenerate band (all near-empty docs sharing one
    signature) makes one bucket quadratic at web scale. Like
    :func:`jaccard_pairs`, the call counts ``df`` and materializes the band
    table; the returned candidates are lazy."""
    sig = minhash_signatures(df, id_col, text_col)
    # the band table feeds the bucket-size guard AND both sides of the
    # candidate self-join: materialize ONCE on the collision key so the
    # signature computation runs once and the self-join is exchange-free
    # (values unchanged — plan structure only)
    with Loop(df) as loop:
        bands = loop.flat(
            sig.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
            .groupBy("id", "band")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list(
                F.format_string("%d:%d", F.col("i"), F.col("mh"))))).alias("bkey")),
            "band", "bkey",
        )
    bands = cap_hot_buckets(bands, ["band", "bkey"], max_bucket, stats,
                            "minhash_lsh_candidates")
    return (
        bands.alias("x").join(bands.alias("y"),
                              (F.col("x.band") == F.col("y.band"))
                              & (F.col("x.bkey") == F.col("y.bkey"))
                              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )


def near_dup_clusters(
    df: DataFrame,
    threshold: float = 0.8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """End-to-end near-duplicate clustering — the composite pipeline a
    training-data dedup pass actually runs, every stage scale-bounded:

    1. candidates: MinHash-LSH band collisions (never the O(n^2) pair
       space; hot buckets capped by ``max_bucket``),
    2. verify: exact token-set Jaccard computed ONLY on candidate pairs
       (round(jac,4) >= threshold keeps a pair),
    3. cluster: connected components over the verified pair graph (the
       engine's own star-contraction operator — transitive closure of
       near-duplicate-ness), cluster id = min doc id of the cluster,
    4. every document appears exactly once; docs with no verified partner
       form singleton clusters (cluster = own id).

    Returns (id, cluster). The shuffle profile is the sum of its parts:
    LSH candidates O(docs x bands), the verify join O(candidate-pair token
    mass), CC O(verified edges) per round — no stage is quadratic in the
    corpus under the default caps."""
    from .cc import connected_components

    cands = minhash_lsh_candidates(
        df, rows_per_band, id_col, text_col, max_bucket
    ).transform(flat_checkpoint)
    toks = tokens(df, id_col, text_col)
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    ta = toks.select(F.col("id").alias("a"), "tok")
    tb = toks.select(F.col("id").alias("b"), "tok")
    inter = (
        cands.join(ta, "a").join(tb, ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    verified = (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sa"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "sb"), "b")
        .where(
            F.round(F.col("inter").cast("double")
                    / (F.col("sa") + F.col("sb") - F.col("inter")).cast("double"), 4)
            >= threshold
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    all_ids = df.select(F.col(id_col).alias("vid")).distinct()
    labels, _ = connected_components(verified, vertices=all_ids)
    return labels.select(F.col("vid").alias("id"), F.col("label").alias("cluster"))


def simhash(df: DataFrame, bits: int = 16, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash): sign-sum fingerprint over the low `bits` bits of the
    portable token hash. Near-dups have small Hamming distance."""
    toks = tokens(df, id_col, text_col).withColumn("h", portable_token_hash(F.col("tok"), P))
    bit_rows = toks.sparkSession.range(bits).select(F.col("id").cast("int").alias("bit"))
    contrib = (
        toks.crossJoin(F.broadcast(bit_rows))
        .select("id", "bit",
                F.when(F.expr("(h >> bit) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)).alias("s"))
        .groupBy("id", "bit")
        .agg(F.sum("s").alias("tot"))
    )
    return (
        contrib.select("id", F.when(F.col("tot") > 0, F.expr("shiftleft(cast(1 as bigint), bit)"))
                       .otherwise(F.lit(0).cast("bigint")).alias("bitval"))
        .groupBy("id")
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )
