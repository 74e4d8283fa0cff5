"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Design for 100 TB (north-star mandate):

* **Exact** dedup is a fingerprint groupBy — one hash-partitioned shuffle,
  map-side combine keeps the shuffle at ~one row per distinct key.
* **MinHash-LSH** avoids the O(n²) pair join: per-doc signatures are
  computed scan-side with built-in higher-order functions (`transform` /
  `array_min` over `xxhash64` — all whole-stage codegen, no Python), then
  docs shuffle only on (band, band_hash) buckets. Collisions within a
  bucket are the only candidate pairs; the verify step re-checks true
  Jaccard. Band/row counts trade recall vs candidate volume:
  P(candidate) = 1 - (1 - j^r)^b for true Jaccard j.
* **SimHash** gives a 64-bit locality-sensitive fingerprint; equal hashes
  cluster near-identical docs with a single groupBy (no join at all).
* All hash seeds are fixed constants — results are deterministic across
  runs and cluster sizes (SURVEY.md §7 hard-part #4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_streaming_spark.plans.rank import track_persist

_SEED = 42


def token_hashes(tokens: Column) -> Column:
    """64-bit hash per distinct token (xxhash64, JVM-side)."""
    return F.transform(F.array_distinct(tokens), lambda tk: F.xxhash64(tk, F.lit(_SEED)))


def minhash_signature(tokens: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: array of ``num_hashes`` minima of independent hash
    families.

    Cost shape (this is the hot loop of near-dup at 100 TB): the variable-
    length strings are hashed ONCE (``xxhash64`` per distinct token); each
    family *i* then remixes the fixed-width 64-bit base hash with
    ``xxhash64(h, i)`` — a constant-cost long-input hash per token per
    family, all inside whole-stage codegen, instead of re-hashing the
    string 32×. (An affine ``a·h+b`` remix would be cheaper still but
    wrapping multiplication trips ANSI overflow checking, on by default
    in Spark 4.)

    Note on lambda arity: transform() binds a 2-parameter lambda's second
    argument to the ELEMENT INDEX — families must close over ``i`` via a
    factory, never a default argument.
    """
    return minhash_signature_from_hashes(token_hashes(tokens), num_hashes)


def minhash_signature_from_hashes(base_hashes: Column, num_hashes: int = 32) -> Column:
    """Signature from a precomputed base-hash array column.

    Callers on a hot path should materialize ``token_hashes`` as a real
    column first (one ``withColumn``), then call this on the column
    reference: inlined as a subexpression, Catalyst can re-evaluate the
    tokenize+hash array once per FAMILY instead of once per row (measured
    2.5 s → ~0.5 s on 5 k docs at sf0.1)."""

    def family(i: int):
        return lambda h: F.xxhash64(h, F.lit(i))

    mins = [
        F.array_min(F.transform(base_hashes, family(i))) for i in range(num_hashes)
    ]
    return F.array(*mins)


def simhash64(tokens: Column) -> Column:
    """SimHash as a 64-char bitstring ('0'/'1').

    Classic Charikar construction: each token votes +1/-1 per bit of its
    64-bit hash; the sign of the per-bit tally is the fingerprint bit.
    Returned as a bitstring (not a long) to sidestep signed-overflow on bit
    63 while staying groupable and human-debuggable.

    Cost shape: ONE fold over the token-hash array accumulating a
    64-wide tally vector (``aggregate`` + ``zip_with``). The
    previous form ran one ``aggregate`` per bit — 64 folds, each
    re-evaluating the tokenize→distinct→hash chain inside the same
    projection (measured 4.6 s → 1.9 s on 5 k docs at sf0.1)."""
    hashes = token_hashes(tokens)

    def votes(h: Column) -> Column:
        # +1/-1 per bit, via literal masks (bit 63 = sign: 1<<63 would
        # overflow the signed long literal)
        vs = []
        for b in range(64):
            if b == 63:
                bit_set = h < 0
            else:
                bit_set = h.bitwiseAND(F.lit(1 << b)) != 0
            vs.append(F.when(bit_set, F.lit(1)).otherwise(F.lit(-1)))
        return F.array(*vs)

    tallies = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )
    return F.array_join(
        F.transform(
            tallies, lambda t: F.when(t > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )


def _toksets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.array_distinct(toks).alias("tokset"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("prefix"),
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6
) -> DataFrame:
    """Near-dup pairs by token-set Jaccard, candidate-blocked on the
    first-3-token prefix. The blocking join shuffles on the prefix — at
    scale this is the poor man's LSH (one band, deterministic); recall is
    limited to docs sharing a prefix, which is exactly what the oracle SQL
    mirrors. Returns (doc_a, doc_b, jaccard)."""
    ts = _toksets(df, id_col, text_col)
    a = ts.select(
        F.col(id_col).alias("doc_a"), F.col("tokset").alias("ts_a"), "prefix"
    )
    b = ts.select(
        F.col(id_col).alias("doc_b"), F.col("tokset").alias("ts_b"), "prefix"
    )
    return (
        a.join(b, ["prefix"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", _jaccard(F.col("ts_a"), F.col("ts_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _band_hashes(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bh) rows: tokenize→base-hash→signature→band hashes, with
    each stage materialized as a column so nothing is re-evaluated per
    family/band (CollapseProject won't duplicate multi-referenced
    non-cheap aliases)."""
    rows = num_hashes // bands
    toks = F.split(F.col(text_col), " ")
    staged = (
        df.select(F.col(id_col), token_hashes(toks).alias("_base"))
        .withColumn("sig", minhash_signature_from_hashes(F.col("_base"), num_hashes))
        .select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            F.xxhash64(F.slice("sig", j * rows + 1, rows)).alias("bh"),
                        )
                        for j in range(bands)
                    ]
                )
            ).alias("b"),
        )
        .select(F.col(id_col), F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    )
    return staged


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Plan shape (the part that matters at 100 TB):
      1. scan-side: signature + per-band hashes (no shuffle);
      2. explode to ``bands`` rows/doc, shuffle keyed by (band, band_hash)
         — the *only* data movement is candidate discovery;
      3. candidate pairs deduped, then verified by a join back to the
         (id → tokset) relation and an exact Jaccard filter.

    Returns (doc_a, doc_b, jaccard ≥ threshold).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")

    toks = F.split(F.col(text_col), " ")
    exploded = _band_hashes(df, id_col, text_col, num_hashes, bands)

    left = exploded.select(
        F.col(id_col).alias("doc_a"), "band", "bh"
    )
    right = exploded.select(F.col(id_col).alias("doc_b"), "band", "bh")
    candidates = (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    ts = df.select(F.col(id_col), F.array_distinct(toks).alias("tokset"))
    verified = (
        candidates.join(
            ts.select(F.col(id_col).alias("doc_a"), F.col("tokset").alias("ts_a")),
            "doc_a",
        )
        .join(
            ts.select(F.col(id_col).alias("doc_b"), F.col("tokset").alias("ts_b")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", _jaccard(F.col("ts_a"), F.col("ts_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified


def minhash_dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Near-dup **clustering** with O(n) output — the form that survives
    100 TB.

    Pair-level LSH output is quadratic in cluster size; on a corpus with
    broad self-similarity (or simply lots of duplicates — the norm in web
    crawl training data) emitting pairs is a design bug: the driver
    testdata at sf0.1 already yields 7.3M pairs at threshold 0.5. This
    operator instead assigns every doc a cluster representative in two
    aggregation shuffles, never materializing a pair:

      1. explode to (band, band_hash, doc_id) — ``bands`` rows per doc;
      2. min(doc_id) per bucket;
      3. min(bucket_rep) per doc → ``cluster_rep`` (single-linkage,
         one-hop approximation of the LSH collision graph).

    Returns (doc_id, cluster_rep, is_dup). ``is_dup`` marks docs whose
    representative is a smaller id — drop them to dedup. Verified-pair
    workflows (sparse near-dups) should use ``minhash_lsh_pairs``.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands

    # The band-hash relation feeds BOTH the bucket-representative
    # aggregate and the join below; without persist the source is scanned
    # (and every signature recomputed) twice — the partial-agg node makes
    # the two exchanges non-identical, so ReuseExchange can't dedup them.
    sigs = track_persist(_band_hashes(df, id_col, text_col, num_hashes, bands))
    bucket_rep = sigs.groupBy("band", "bh").agg(F.min(id_col).alias("bucket_rep"))
    rep = (
        sigs.join(bucket_rep, ["band", "bh"])
        .groupBy(id_col)
        .agg(F.min("bucket_rep").alias("cluster_rep"))
    )
    return rep.select(
        F.col(id_col),
        "cluster_rep",
        (F.col("cluster_rep") < F.col(id_col)).alias("is_dup"),
    )


def dedup_keep_first(df: DataFrame, key: Column | str, order_col: str) -> DataFrame:
    """Exact dedup keeping the min-``order_col`` row per key — the engine's
    canonical 'keep one copy' primitive (C1). Implemented as a groupBy +
    min-struct (single shuffle, no window sort)."""
    keyc = F.col(key) if isinstance(key, str) else key
    others = [c for c in df.columns if c != order_col]
    packed = df.select(
        keyc.alias("_k"), F.struct(order_col, *others).alias("_row")
    )
    return packed.groupBy("_k").agg(F.min("_row").alias("_row")).select("_row.*")


def prefix_filter_candidates(
    sets: DataFrame, id_col: str, toks_col: str, theta: float = 0.5
) -> DataFrame:
    """PPJoin-family prefix-filtered candidate pairs (doc_a, doc_b) for
    overlap joins with pair-dependent threshold
    ``t = ceil(theta * min(|A|,|B|))`` — complete: every pair with
    ``|A∩B| >= t`` is emitted (Chaudhuri/Xiao et al. prefix-filter
    lemma), so intersecting with any other candidate channel never drops
    a qualifying pair.

    Canonical token order is GLOBAL (ascending document frequency, then
    token), which is what makes this scale: hot/boilerplate tokens sort
    to the END of every document and therefore fall OUT of prefixes —
    they never generate join matches, killing the Σ df² blow-up of naive
    posting-list joins. Role-splitting beats the per-record bound
    problem of asymmetric thresholds: the SMALLER doc of a pair needs
    t = ceil(theta·n_small), so its prefix is statically
    ``n - ceil(theta·n) + 1`` tokens (half, for theta=0.5) — that
    prefilter shrinks the build side before the shuffle — while the
    larger doc's position bound depends on the partner and is checked
    pair-locally inside the join.
    """
    from pyspark.sql.window import Window

    postings = sets.select(
        F.col(id_col).alias("doc"),
        F.size(toks_col).cast("bigint").alias("n"),
        F.explode(toks_col).alias("token"),
    )
    df_counts = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = postings.join(df_counts, "token").withColumn(
        "p",
        F.row_number()
        .over(Window.partitionBy("doc").orderBy("df", "token"))
        .cast("bigint"),
    )
    t_of_n = F.ceil(F.lit(theta) * F.col("n")).cast("bigint")
    small = ranked.where(F.col("p") <= F.col("n") - t_of_n + 1).select(
        "token",
        F.col("doc").alias("id_s"),
        F.col("n").alias("n_s"),
    )
    large = ranked.select(
        "token",
        F.col("doc").alias("id_l"),
        F.col("n").alias("n_l"),
        F.col("p").alias("p_l"),
    )
    t_pair = F.ceil(F.lit(theta) * F.col("n_s")).cast("bigint")  # min(n) = n_s
    return (
        small.join(large, "token")
        .where(
            (
                (F.col("n_s") < F.col("n_l"))
                | ((F.col("n_s") == F.col("n_l")) & (F.col("id_s") < F.col("id_l")))
            )
            & (F.col("p_l") <= F.col("n_l") - t_pair + 1)
        )
        .select(
            F.least("id_s", "id_l").alias("doc_a"),
            F.greatest("id_s", "id_l").alias("doc_b"),
        )
        .distinct()
    )
