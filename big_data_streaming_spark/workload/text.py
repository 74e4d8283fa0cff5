"""Text-analysis + deduplication workload over ``documents`` — SURVEY.md §2
Table C (C1, C4, C5) plus the training-data-pipeline operators mandated by
the north star (language-ID, quality scoring, token counting, document
fingerprinting, MinHash/SimHash/Jaccard near-dup).

Scale notes (100 TB of documents):
* Everything below is built-in ``pyspark.sql.functions`` — split /
  higher-order array ops / xxhash64 run inside whole-stage codegen; no
  Python in the hot path.
* Exact dedup is a groupBy on the fingerprint (or raw text) — one shuffle
  keyed by hash, perfectly balanced unless texts are pathologically equal.
* MinHash-LSH near-dup: per-doc signature computation is embarrassingly
  parallel; the candidate join shuffles on (band_id, band_hash) buckets —
  the whole point of LSH is that this shuffle is tiny compared to the
  O(n²) naive pair join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_streaming_spark.functions.dedup import (
    minhash_signature,
    ngram_jaccard_pairs,
    simhash64,
)
from big_data_streaming_spark.plans.rank import global_ntile, global_rank
from big_data_streaming_spark.sources import local_rows
from big_data_streaming_spark.workload.common import registry, t, tr

QUERIES, ORACLES, _q = registry()


# --- C1: exact deduplication ----------------------------------------------
# Keep the smallest doc_id per identical text; report the duplicate count.
@_q(
    "q_dedup_exact",
    """
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, text
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies", "text")
    )


# --- C4: tokenization ------------------------------------------------------
@_q(
    "q_text_tokens",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    )


# --- C4: explode tokens → global term frequency (B15 array surface) -------
@_q(
    "q_explode_tokens",
    """
    SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
    )


# --- C4 extension: top-k tokens per language (tf ranking) -----------------
@_q(
    "q_top_tokens_per_lang",
    """
    WITH tf AS (
        SELECT lang, token, COUNT(*) AS freq
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY lang, token
    )
    SELECT lang, token, freq,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY freq DESC, token) AS INTEGER) AS rnk
    FROM tf
    QUALIFY rnk <= 5
    """,
)
def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "token")
    return tf.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


# --- north star: quality scoring ------------------------------------------
# Length / mean-token-length / stopword-ratio heuristics à la C4/CCNet.
# All ratios are single double divisions of exact ints — bit-stable.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@_q(
    "q_text_quality",
    f"""
    WITH tok AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(toks) AS mean_token_len,
           CAST(len(list_filter(toks, x -> list_contains({_SW_SQL}, x))) AS DOUBLE)
             / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS unique_ratio
    FROM tok
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(toks)
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        n_tok.alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tok).alias("mean_token_len"),
        (n_sw.cast("double") / n_tok).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("unique_ratio"),
    )


# --- north star: language ID (marker-word heuristic) ----------------------
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}


def _marker_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]) + "]"
    return f"CAST(len(list_intersect(list_distinct(toks), {arr})) AS INTEGER) AS n_{lang}"


@_q(
    "q_text_lang",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           {_marker_sql('en')},
           {_marker_sql('de')},
           {_marker_sql('fr')},
           {_marker_sql('es')}
    FROM tok
    """,
)
def q_text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    cols = [
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]]))
        ).alias(f"n_{lang}")
        for lang in ("en", "de", "fr", "es")
    ]
    return d.select("doc_id", *cols)


# --- north star: token counting (whitespace + regex word tokens) ----------
@_q(
    "q_token_count",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS re_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_measured
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("([a-z]+)"), 1)).alias("re_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


# --- north star: document fingerprinting (MD5 of normalized text) ---------
@_q(
    "q_text_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return d.select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))


# --- C5: multimodal column convention -------------------------------------
# Derive the media struct (uri, mime, nbytes, payload, meta) from documents;
# the oracle checks the flattened metadata (payload bytes verified by
# length — DuckDB BLOB vs Arrow bytes compare is covered in pytest).
@_q(
    "q_multimodal_meta",
    """
    SELECT doc_id,
           concat('s3://corpus/', lang, '/', CAST(doc_id AS VARCHAR), '.txt') AS uri,
           'text/plain' AS mime,
           CAST(length(text) AS BIGINT) AS nbytes,
           lang AS meta_lang, source AS meta_source
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import with_media_struct

    d = with_media_struct(t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("media.uri").alias("uri"),
        F.col("media.mime").alias("mime"),
        F.col("media.nbytes").alias("nbytes"),
        F.col("media.meta")["lang"].alias("meta_lang"),
        F.col("media.meta")["source"].alias("meta_source"),
    )


# --- north star: document chunking (context-window prep) ------------------
# Fixed-size token chunks with overlap — posexplode over a sequence of
# chunk starts, slice + rejoin. All JVM array ops; at 100 TB this is the
# map-side prep stage before tokenization, no shuffle at all.
_CHUNK = 32
_STRIDE = 24  # 8-token overlap


@_q(
    "q_doc_chunks",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), starts AS (
        SELECT doc_id, toks, CAST(g.s AS INTEGER) AS start0
        FROM tok CROSS JOIN generate_series(0, 100000, {_STRIDE}) AS g(s)
        WHERE g.s < len(toks)
    )
    SELECT doc_id,
           CAST(start0 / {_STRIDE} AS INTEGER) AS chunk_idx,
           array_to_string(toks[start0 + 1 : least(start0 + {_CHUNK}, len(toks))], ' ')
             AS chunk_text,
           CAST(least(start0 + {_CHUNK}, len(toks)) - start0 AS INTEGER) AS chunk_len
    FROM starts
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    staged = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    starts = staged.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(_STRIDE))
        ).alias("chunk_idx", "start0"),
    )
    chunk_len = F.least(F.col("start0") + _CHUNK, F.col("n")) - F.col("start0")
    return starts.select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice(F.col("toks"), F.col("start0") + 1, chunk_len), " "
        ).alias("chunk_text"),
        chunk_len.cast("int").alias("chunk_len"),
    )


# --- north star: TF-IDF scoring -------------------------------------------
# Classic two-join shape: term frequency per (doc, token) ⋈ document
# frequency per token (broadcast — vocabulary ≪ corpus) ⋈ total doc count.
# idf uses the deterministic ratio N/df; the ln() variant differs by last
# ulp across libm implementations, so the oracle-checked score keeps the
# raw ratio and leaves the monotone log to consumers.
@_q(
    "q_tfidf",
    """
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM
          (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf_ratio
    FROM tf JOIN df USING (token) CROSS JOIN n
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf: its rows are already distinct (doc, token) pairs,
    # so COUNT(*) per token == COUNT(DISTINCT doc_id) — avoids a second
    # tokenize+distinct-expand pass, and ReuseExchange shares tf's shuffle
    # between the two consumers of the aggregate.
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # bounded scalar (collect rule §4.3.8)
    return tf.join(F.broadcast(df), "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        (F.col("tf").cast("double") * (F.lit(float(n_docs)) / F.col("df"))).alias(
            "tfidf_ratio"
        ),
    )


# --- C2 / north star: n-gram Jaccard near-dup (oracle-able variant) -------
# Candidate pairs blocked on the first-3-token prefix, Jaccard over distinct
# token sets ≥ 0.6. SQL-expressible, so it gets a full DuckDB oracle; the
# LSH variants below are rows-only.
@_q(
    "q_dedup_ngram",
    """
    WITH toksets AS (
        SELECT doc_id,
               list_distinct(string_split(text, ' ')) AS tokset,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS prefix
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                 / (len(a.tokset) + len(b.tokset)
                    - len(list_intersect(a.tokset, b.tokset))) AS jaccard
        FROM toksets a JOIN toksets b
          ON a.prefix = b.prefix AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.6
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text", threshold=0.6
    )


# --- C2: MinHash-LSH near-dup (rows-only: hash family is engine-specific).
# Cluster form, O(n) output — see functions/dedup.py:minhash_dedup_clusters
# for why pair output doesn't survive scale on duplicate-heavy corpora.
@_q("q_dedup_near")
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.dedup import minhash_dedup_clusters

    return minhash_dedup_clusters(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        num_hashes=32,
        bands=4,
    )


# --- C2: verified near-dup PAIRS on a sparse slice (rows-only) ------------
# The pair-level API exercised where pair output is bounded: only the
# short documents (small token sets → genuinely sparse near-dups).
@_q("q_dedup_near_pairs")
def q_dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("n_chars") < 160)
    return minhash_lsh_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        num_hashes=32,
        bands=4,
        jaccard_threshold=0.8,
    )


# --- C2: VALUE-CHECKED SimHash property audit ------------------------------
# q_dedup_simhash stays rows-only (fingerprint bits come from xxhash64).
# This twin value-checks the two properties the fingerprint kernel MUST
# have for dedup to be sound, both decidable without reproducing the
# hash: (1) permutation invariance — simhash(tokens) == simhash(sorted
# tokens), which fails if the optimized single-fold tally ever becomes
# order-dependent; (2) duplication invariance — re-appending tokens
# changes nothing, pinning the set (not bag) semantics the LSH banding
# assumes. Both booleans ride the driver gate with the exact token count.
@_q(
    "q_simhash_audit",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           TRUE AS perm_invariant,
           TRUE AS dup_invariant
    FROM documents
    """,
)
def q_simhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.dedup import simhash64

    # tr(): three simhash evaluations per row fused into the single scan
    # task (round-12 sweep); A/B 3.7 -> 1.3 s at sf0.1.
    d = tr(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = simhash64(toks)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (base == simhash64(F.array_sort(toks))).alias("perm_invariant"),
        (base == simhash64(F.concat(toks, F.slice(toks, 1, 3)))).alias(
            "dup_invariant"
        ),
    )


# --- C5 / north star: multimodal feature extraction (VALUE-CHECKED) -------
# Runs the Arrow-batched mapInPandas decode path (deterministic fake
# kernel — real codecs are stubbed, see functions/multimodal.py) through
# the driver gate, so the Python-boundary plumbing is exercised end-to-end.
# The feature vector is flattened to scalar f0..f3 columns for the driver's
# canonicalizer (arrays are unhashable in its pandas sort).
# Promoted from rows-only (round-2): the fake kernel's features are pure
# byte arithmetic over the payload (length, head-byte sum mod 997, first
# byte, length mod 251), so DuckDB can restate them with ascii()/strlen()
# — the testdata is ASCII (strlen == length verified at all SFs), where
# char codes equal payload bytes. The oracle value-checks the whole
# Arrow boundary: batching, byte round-trip, column pruning, and the
# kernel arithmetic — a wrong dtype or truncated payload breaks the hash.
@_q(
    "q_multimodal_features",
    """
    SELECT doc_id,
           's3://corpus/' || lang || '/' || CAST(doc_id AS VARCHAR) || '.txt'
               AS uri,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) AS DOUBLE) AS f0,
           CAST(list_aggregate(list_transform(string_split(substr(text, 1, 32), ''),
                                              x -> ascii(x)), 'sum') % 997
                AS DOUBLE) AS f1,
           CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f2,
           CAST(strlen(text) % 251 AS DOUBLE) AS f3
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import (
        decode_media,
        with_media_struct,
    )

    docs = with_media_struct(t(spark, sf_dir, "documents"))
    feats = decode_media(docs, fake=True)
    return feats.select(
        "doc_id",
        "uri",
        "n_bytes",
        *[F.col("feature_vec")[i].alias(f"f{i}") for i in range(4)],
    )


# --- C4 extension: edit distance between consecutive docs ----------------
# Levenshtein on bounded prefixes (O(k²) per pair, k=30) — the fuzzy-match
# primitive; both engines implement the standard DP edit distance.
@_q(
    "q_edit_distance",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substring(a.text, 1, 30), substring(b.text, 1, 30))
                AS INTEGER) AS edit_dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("doc_a"), F.substring("text", 1, 30).alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.substring("text", 1, 30).alias("tb"))
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select("doc_a", "doc_b", F.levenshtein("ta", "tb").alias("edit_dist"))
    )


# --- C2: transitive-closure near-dup via connected components (rows-only) -
# Iterative large-star/small-star CC over LSH star edges — the genuinely
# non-SQL-expressible iterative-algorithm class; chains A~B~C merge even
# when A and C never share a bucket (functions/graph.py).
@_q("q_dedup_components")
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.graph import minhash_dedup_components

    # Star CC rather than min-label propagation: instrumentation (round 9,
    # BENCH_NOTES.md) showed the LSH rep graph is NOT shallow — min-label
    # propagation needed 8+ rounds (changed-count decay 4468 -> 3 over 8
    # probes), while large-star/small-star converges in O(log n) rounds:
    # 5.1 s vs 7.7 s warm at sf0.1, identical labels.
    return minhash_dedup_components(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        bands=4,
    )


# --- north star: SimHash near-dup clusters (rows-only) --------------------
@_q("q_dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    sh = simhash64(F.split("text", " "))
    return (
        d.select("doc_id", sh.alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# --- north star: composite training-data prep pipeline --------------------
# The realistic shape: quality gate → exact dedup (keep smallest id per
# fingerprint) → length window → stable output. Every stage is
# deterministic, so the WHOLE pipeline carries a DuckDB oracle — this is
# the query a data engineer would actually run before tokenization.
@_q(
    "q_training_prep",
    """
    WITH scored AS (
        SELECT doc_id, text, lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS unique_ratio,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    ), gated AS (
        SELECT * FROM scored
        WHERE n_tokens BETWEEN 10 AND 400 AND unique_ratio >= 0.3
    ), deduped AS (
        SELECT min(doc_id) AS doc_id, fp, min(lang) AS lang,
               min(n_tokens) AS n_tokens
        FROM gated GROUP BY fp
    )
    SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens, fp
    FROM deduped
    """,
)
def q_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    scored = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "unique_ratio"
        ),
        F.md5(norm.cast("binary")).alias("fp"),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 400)
        & (F.col("unique_ratio") >= 0.3)
    )
    return (
        gated.groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .select("doc_id", "lang", "n_tokens", "fp")
    )


# --- north star: seeded stratified sampling ------------------------------
# The sampled doc-id set is engine-RNG-specific (no oracle can replicate
# it), but the statistical CONTRACT is oracle-able: per stratum, the
# sampled count must land within 4σ of n·p (Bernoulli bound; violation
# odds ~6e-5 per stratum at any SF). Output = per-stratum totals (exact
# SQL) + the within-bound boolean; the doc-level subset and its seed
# determinism stay pinned by pytest (test_determinism). At 100 TB
# sampling is the FIRST stage of most experiments; per-stratum fractions
# rebalance skewed language mixes.
_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.5, "fr": 0.5, "es": 0.2, "zh": 0.2}


@_q(
    "q_sample_stratified",
    """
    SELECT lang, COUNT(*) AS n_docs, TRUE AS within_tol
    FROM documents
    WHERE lang IN ('en', 'de', 'fr', 'es', 'zh')
    GROUP BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    sampled = sample_stratified(d).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    totals = (
        d.filter(F.col("lang").isin(*_SAMPLE_FRACTIONS))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    p = F.lit(None).cast("double")
    for lang, frac in _SAMPLE_FRACTIONS.items():
        p = F.when(F.col("lang") == lang, F.lit(frac)).otherwise(p)
    joined = totals.join(sampled, "lang", "left").na.fill({"n_sampled": 0})
    n = F.col("n_docs").cast("double")
    bound = 4.0 * F.sqrt(n * p * (1.0 - p)) + 1.0
    return joined.select(
        "lang",
        "n_docs",
        (F.abs(F.col("n_sampled") - p * n) <= bound).alias("within_tol"),
    )


def sample_stratified(d: DataFrame) -> DataFrame:
    """The operator itself: seeded per-stratum Bernoulli sample."""
    return d.sampleBy("lang", _SAMPLE_FRACTIONS, seed=42).select("doc_id", "lang")


# --- north star: MinHash signatures exposed as a query (rows-only) --------
# The signature is emitted comma-joined plus min/max scalars: xxhash64
# values are Spark-specific (no DuckDB oracle), and the raw array<bigint>
# would crash the driver's pandas canonicalizer (round-1 lesson).
@_q("q_minhash_signature")
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    sig = minhash_signature(F.split("text", " "), num_hashes=16)
    return d.select("doc_id", sig.alias("_sig")).select(
        "doc_id",
        F.size("_sig").alias("n_hashes"),
        F.array_min("_sig").alias("sig_min"),
        F.array_max("_sig").alias("sig_max"),
        F.array_join(F.transform("_sig", lambda x: x.cast("string")), ",").alias(
            "sig_str"
        ),
    )


# --- north star: quality-classifier scoring --------------------------------
# The model-scoring half of quality filtering: a linear classifier over
# JVM-computed text features (fasttext-style pipeline shape — at scale
# the trained weights arrive as a broadcast constant vector; here they
# are documented literals, the operator under test is the scoring
# plumbing). Everything stays in deterministic IEEE arithmetic — counts,
# double divisions, and a FIXED-ORDER weighted sum; no transcendentals —
# so the logit and the keep/drop decision are bit-identical in both
# engines (logit ≥ 0 ⇔ sigmoid ≥ 0.5, so no exp() is ever needed).
_QC_W = {
    "bias": -2.0,
    "mean_token_len": 0.35,      # longer tokens ≈ real words
    "stopword_ratio": 4.0,       # natural prose has function words
    "unique_ratio": 1.5,         # degenerate repetition scores low
    "digit_ratio": -3.0,         # number-soup is boilerplate
    "punct_run": -0.5,           # !!!! and ···· are spam markers
}


# The classifier's full scoring SQL (CTE form) — single text shared by
# the q_quality_classifier oracle and the q_calibration oracle below.
_QC_SCORED_SQL = f"""feat AS (
        SELECT doc_id,
               string_split(text, ' ') AS toks,
               CAST(len(text) AS DOUBLE) AS n_chars,
               CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
                    AS DOUBLE) AS n_digits,
               CAST(len(regexp_extract_all(text, '[.,!?;:]{{2,}}')) AS DOUBLE)
                 AS punct_runs
        FROM documents
    ), ratios AS (
        SELECT doc_id,
               CAST(n_chars AS DOUBLE) / len(toks) AS mean_token_len,
               CAST(len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
                    AS DOUBLE) / len(toks) AS stopword_ratio,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 AS unique_ratio,
               n_digits / n_chars AS digit_ratio,
               punct_runs
        FROM feat
    ), scored AS (
        SELECT doc_id, mean_token_len, stopword_ratio, unique_ratio,
               digit_ratio, punct_runs,
               {_QC_W['bias']} + {_QC_W['mean_token_len']} * mean_token_len
                 + {_QC_W['stopword_ratio']} * stopword_ratio
                 + {_QC_W['unique_ratio']} * unique_ratio
                 + {_QC_W['digit_ratio']} * digit_ratio
                 + {_QC_W['punct_run']} * punct_runs AS logit
        FROM ratios
    )"""


@_q(
    "q_quality_classifier",
    f"""
    WITH {_QC_SCORED_SQL}
    SELECT doc_id, mean_token_len, stopword_ratio, unique_ratio,
           digit_ratio, punct_runs, logit, logit >= 0 AS keep
    FROM scored
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(toks)
    n_chars = F.length("text").cast("double")
    n_digits = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[0-9]", ""))
    ).cast("double")
    punct_runs = F.size(
        F.regexp_extract_all("text", F.lit("[.,!?;:]{2,}"), F.lit(0))
    ).cast("double")
    feats = d.select(
        "doc_id",
        (n_chars / n_tok).alias("mean_token_len"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast(
                "double"
            )
            / n_tok
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "unique_ratio"
        ),
        (n_digits / n_chars).alias("digit_ratio"),
        punct_runs.alias("punct_runs"),
    )
    logit = (
        F.lit(_QC_W["bias"])
        + F.lit(_QC_W["mean_token_len"]) * F.col("mean_token_len")
        + F.lit(_QC_W["stopword_ratio"]) * F.col("stopword_ratio")
        + F.lit(_QC_W["unique_ratio"]) * F.col("unique_ratio")
        + F.lit(_QC_W["digit_ratio"]) * F.col("digit_ratio")
        + F.lit(_QC_W["punct_run"]) * F.col("punct_runs")
    )
    return feats.select(
        "doc_id",
        "mean_token_len",
        "stopword_ratio",
        "unique_ratio",
        "digit_ratio",
        "punct_runs",
        logit.alias("logit"),
        (logit >= 0).alias("keep"),
    )


# --- Token runs: one Arrow-batched Python pass -----------------------------
# Run-length encoding of consecutive repeated tokens — per-row sequential
# expansion with carried state (one input row → N output rows). A single
# mapInArrow over (doc_id, text) carries doc_id through; a LATERAL Python
# UDTF would do the same but holds a spark.buffer.pageSize (64 MB) row
# queue per task (BENCH_NOTES.md, "The ~133 MB live_heap_mb mode"). The
# oracle replays the runs as a gaps-and-islands window query. Complements
# q_repetition_signals: this pinpoints WHERE the repetition is, not just
# that it exists.
@_q(
    "q_token_runs",
    """
    WITH tok AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
    ), marked AS (
        SELECT doc_id, pos, token,
               CASE WHEN lag(token) OVER (PARTITION BY doc_id ORDER BY pos)
                         = token
                    THEN 0 ELSE 1 END AS brk
        FROM tok
    ), grouped AS (
        SELECT doc_id, pos, token,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        FROM marked
    )
    SELECT doc_id, token,
           CAST(MIN(pos) - 1 AS INTEGER) AS run_start,
           CAST(COUNT(*) AS INTEGER) AS run_len
    FROM grouped
    GROUP BY doc_id, token, run_id
    """,
)
def q_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("token", pa.string()),
            ("run_start", pa.int32()),
            ("run_len", pa.int32()),
        ]
    )

    def token_runs(text: str):
        run_tok, run_start, run_len = None, 0, 0
        for i, tok in enumerate(text.split(" ")):
            if tok == run_tok:
                run_len += 1
            else:
                if run_tok is not None:
                    yield run_tok, run_start, run_len
                run_tok, run_start, run_len = tok, i, 1
        if run_tok is not None:
            yield run_tok, run_start, run_len

    def runs(batches):
        for batch in batches:
            cols = batch.to_pydict()
            rows = [
                (doc_id, *run)
                for doc_id, text in zip(cols["doc_id"], cols["text"])
                if text is not None
                for run in token_runs(text)
            ]
            columns = list(zip(*rows)) or [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(columns, schema)],
                schema=schema,
            )

    # tr: the Python pass otherwise runs inside the single scan task
    # (round-11 A/B: 1.96 -> 0.97 s; no-op at production row-group counts,
    # and at sf0.01, whose documents file is under the 256 KiB floor).
    return (
        tr(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInArrow(runs, "doc_id bigint, token string, run_start int, run_len int")
    )


# --- north star: multimodal header decode (REAL, no codec libs) ----------
# Dimensions read out of the container header with built-in expressions
# (substring/hex/conv) — the triage half of image decode (filter a corpus
# by resolution before any pixel work), with no Python node in the plan.
# Payloads are spec-valid PNG signature+IHDR bytes built JVM-side with
# dims derived from doc_id, so the output is fully value-checkable: the
# oracle states the same dims arithmetically.
@_q(
    "q_multimodal_decode",
    """
    SELECT doc_id,
           'image/png' AS mime,
           CAST(16 + doc_id % 241 AS BIGINT) AS width,
           CAST(16 + (doc_id * 7) % 181 AS BIGINT) AS height,
           CAST(29 AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import (
        parse_image_headers,
        synth_png_payload,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        synth_png_payload(
            F.lit(16) + F.col("doc_id") % 241,
            F.lit(16) + (F.col("doc_id") * 7) % 181,
        ).alias("payload"),
    )
    return parse_image_headers(d)


# --- north star: audio header decode (REAL, no codec libs) ----------------
# WAV/RIFF triage: sample rate, channels, duration from the 44-byte
# header, read with the same built-in byte-field expressions as
# q_multimodal_decode — no Python node. Same oracle pattern: payloads
# synthesized JVM-side from doc_id, header fields re-derived
# arithmetically in SQL.
@_q(
    "q_multimodal_audio",
    """
    SELECT doc_id,
           'audio/wav' AS mime,
           CAST(8000 + (doc_id % 5) * 8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(1000 + doc_id % 44100 AS BIGINT) AS n_samples,
           CAST((1000 + doc_id % 44100) * 1000
                // (8000 + (doc_id % 5) * 8000) AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import (
        parse_audio_headers,
        synth_wav_payload,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        synth_wav_payload(
            F.lit(8000) + (F.col("doc_id") % 5) * 8000,
            F.lit(1000) + F.col("doc_id") % 44100,
        ).alias("payload"),
    )
    return parse_audio_headers(d)


# --- north star: corpus-level line (chunk) dedup, C4-style ----------------
# Web-corpus pipelines (C4, RefinedWeb) drop every repeated *line* across
# the whole corpus, keeping only its first occurrence, then reassemble the
# documents. The synthetic testdata has no newlines, so a "line" is a
# disjoint 8-token window (same tokenization convention as q_doc_chunks).
#
# Scale shape: first-occurrence is computed as a groupBy(chunk).min(struct)
# — NOT a row_number window — so partial (map-side) aggregation absorbs
# boilerplate chunks that repeat millions of times; the join back on the
# chunk key reuses the same hash partitioning (ReuseExchange), and
# reassembly is one more shuffle on doc_id. No driver-side state.
_LINE = 8


@_q(
    "q_line_dedup",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), chunks AS (
        SELECT doc_id,
               CAST(g.s / {_LINE} AS INTEGER) AS chunk_idx,
               array_to_string(
                   toks[CAST(g.s AS INTEGER) + 1 :
                        least(CAST(g.s AS INTEGER) + {_LINE}, len(toks))], ' ')
                 AS chunk_text
        FROM tok CROSS JOIN generate_series(0, 100000, {_LINE}) AS g(s)
        WHERE g.s < len(toks)
    ), kept AS (
        SELECT doc_id, chunk_idx, chunk_text,
               ROW_NUMBER() OVER (PARTITION BY chunk_text
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM chunks
    ), reasm AS (
        SELECT doc_id,
               string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS text_clean,
               COUNT(*) AS n_kept
        FROM kept WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.text_clean, '') AS text_clean,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_chunks_kept,
           CAST(CEIL(len(string_split(d.text, ' ')) / {_LINE}.0) AS BIGINT)
             - CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_chunks_dropped
    FROM documents d LEFT JOIN reasm r ON r.doc_id = d.doc_id
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    staged = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    chunks = staged.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(_LINE))).alias(
            "chunk_idx", "start0"
        ),
        "toks",
        "n",
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice(
                F.col("toks"),
                F.col("start0") + 1,
                F.least(F.col("start0") + _LINE, F.col("n")) - F.col("start0"),
            ),
            " ",
        ).alias("chunk_text"),
    )
    # First occurrence = lexicographic min of (doc_id, chunk_idx) per chunk.
    winners = chunks.groupBy("chunk_text").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("_win")
    )
    kept = (
        chunks.join(winners, "chunk_text")
        .filter(
            (F.col("doc_id") == F.col("_win.doc_id"))
            & (F.col("chunk_idx") == F.col("_win.chunk_idx"))
        )
        .drop("_win")
    )
    reasm = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda x: x["chunk_text"],
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    total = F.ceil(F.size(F.split("text", " ")) / F.lit(float(_LINE))).cast("long")
    return (
        d.select("doc_id", total.alias("_n_total"))
        .join(reasm, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_chunks_kept"),
            (F.col("_n_total") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_chunks_dropped"
            ),
        )
    )


# --- C2: VALUE-CHECKED transitive-closure dedup ---------------------------
# The LSH components (q_dedup_components) stay rows-only — their edges
# come from an engine-specific hash family. This query runs the SAME
# large-star/small-star connected-components engine over a DETERMINISTIC,
# SQL-expressible edge set (the n-gram Jaccard pairs of q_dedup_ngram),
# so the full closure becomes oracle-checkable: DuckDB reproduces the
# components with a recursive CTE (UNION-dedup recursion terminates on
# cycles). Chains A~B~C collapse to one component in both engines —
# the driver now value-verifies the iterative CC algorithm itself, not
# just that it runs.
@_q(
    "q_dedup_cc_checked",
    """
    WITH RECURSIVE toksets AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS prefix
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                 / (len(a.tokset) + len(b.tokset)
                    - len(list_intersect(a.tokset, b.tokset))) AS jaccard
        FROM toksets a JOIN toksets b
          ON a.prefix = b.prefix AND a.doc_id < b.doc_id
    ), e AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= 0.6
        UNION ALL
        SELECT doc_b, doc_a FROM pairs WHERE jaccard >= 0.6
    ), r(src, dst) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a
    ), comp AS (
        SELECT src AS node, MIN(dst) AS component FROM r GROUP BY src
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           COALESCE(c.component, d.doc_id) < d.doc_id AS is_dup
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def q_dedup_cc_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.dedup import ngram_jaccard_pairs
    from big_data_streaming_spark.functions.graph import connected_components_star

    docs = t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.6
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # persist_edges: the Jaccard pair derivation (token-set intersection
    # per blocked pair) is the expensive subtree here; pinning one
    # evaluation for the CC entry + final node roster measured 3.06 →
    # 2.35 s at sf0.1 (round 12 interleaved A/B).
    cc = connected_components_star(edges, persist_edges=True)
    return (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            (F.coalesce("component", F.col("doc_id")) < F.col("doc_id")).alias(
                "is_dup"
            ),
        )
    )


# --- C2: VALUE-CHECKED MinHash estimator audit ----------------------------
# q_minhash_signature stays rows-only (the signature bytes come from an
# engine-specific xxhash64 family). This twin value-checks what the
# signature is FOR: on a deterministic pair slice (doc k vs k+1 for
# k % 5 = 0) it compares the MinHash-estimated Jaccard against the exact
# token-set Jaccard and emits the exact value plus a within-tolerance
# boolean. With 32 independent families the per-pair estimator std is
# sqrt(J(1-J)/32) <= 0.089, so |est - exact| <= 0.45 is a >5-sigma bound
# (P(miss) ~ 3e-7 per pair) — deterministic for fixed data AND robust to
# the driver regenerating testdata between rounds. The oracle recomputes
# the exact side and asserts TRUE. Scale: signatures are computed only on
# the audited slice (filter BEFORE hashing — at 100 TB the audit samples,
# never rescans the corpus), and the k→k+1 pairing is a self-equi-join.
@_q(
    "q_minhash_audit",
    """
    WITH toksets AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
             / (len(a.tokset) + len(b.tokset)
                - len(list_intersect(a.tokset, b.tokset))) AS exact_jaccard,
           TRUE AS est_within_tol
    FROM toksets a JOIN toksets b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 5 = 0
    """,
)
def q_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.dedup import minhash_signature

    n_hashes = 32
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 <= 1)
        .select(
            "doc_id",
            F.array_distinct(F.split("text", " ")).alias("tokset"),
            minhash_signature(F.split("text", " "), num_hashes=n_hashes).alias(
                "sig"
            ),
        )
    )
    a = docs.alias("a").filter(F.col("doc_id") % 5 == 0)
    b = docs.alias("b")
    j = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
    inter = F.size(F.array_intersect(F.col("a.tokset"), F.col("b.tokset")))
    exact = inter.cast("double") / (
        F.size(F.col("a.tokset")) + F.size(F.col("b.tokset")) - inter
    )
    est = (
        F.expr(
            "aggregate(zip_with(a.sig, b.sig,"
            " (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
        ).cast("double")
        / n_hashes
    )
    return j.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        exact.alias("exact_jaccard"),
        (F.abs(est - exact) <= 0.45).alias("est_within_tol"),
    )


# --- BM25 relevance scoring (log-free exact variant) ----------------------
# Full-text relevance for a fixed 5-term query over the corpus: per-doc
# TF-saturation weighting with document-length normalization (k1 = 1.2,
# b = 0.75) and the *rational* idf weight (N - df + 0.5)/(df + 0.5) in
# place of its logarithm — transcendental-free, so the score is a pure
# +,-,*,/ expression shared as one SQL text and bit-identical on both
# engines (same policy as q_quality_classifier). Ranking order for a
# single query is preserved under any monotone transform of the idf
# weight per-term contributions differ, but determinism wins the gate.
# Scale: tokens are filtered to the query terms BEFORE the tf aggregate
# (the scan-side predicate keeps the shuffle O(matching tokens)); df,
# n_docs and avgdl are broadcast 1-row/5-row frames, never collected.
_BM25_SCORE = (
    "(((n_docs - df + 0.5) / (df + 0.5))"
    " * (tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))))"
)
_BM25_TERMS = "('join', 'vector', 'spark', 'stream', 'big')"

@_q(
    "q_bm25",
    f"""
    WITH dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ), g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tfq AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM tok WHERE token IN {_BM25_TERMS}
        GROUP BY doc_id, token
    ), dfq AS (
        SELECT token, COUNT(*) AS df FROM tfq GROUP BY token
    )
    SELECT tfq.doc_id, COUNT(*) AS n_terms,
           CAST(SUM(CAST({_BM25_SCORE} AS DECIMAL(38,12))) AS DOUBLE) AS score
    FROM tfq JOIN dfq USING (token)
             JOIN dl ON dl.doc_id = tfq.doc_id
             CROSS JOIN g
    GROUP BY tfq.doc_id
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    dl = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )
    g = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = ["join", "vector", "spark", "stream", "big"]
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf rows are distinct (doc, token) pairs, so df = COUNT(*) per token
    # (same reuse as q_tfidf); 5 rows → broadcast.
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.expr(_BM25_SCORE).cast("decimal(38,12)"))
        .cast("double")
        .alias("score"),
    )


# --- token-distribution Gini impurity per language ------------------------
# The transcendental-free diversity measure (1 - sum p_i^2): the entropy
# analogue that stays bit-exact across engines (ln is libm-dependent).
# Computed entirely in the integer domain — gini = 1 - (sum c_i^2)/t^2 —
# so the ONLY float ops are two exact int→double casts and one fixed
# division: a DECIMAL(38,18) routing of p^2 was one ulp off between
# engines because 10^18 exceeds 2^53 and DuckDB's decimal→double cast
# double-rounds there (10^s for s <= 15 is binary-exact, which is why the
# house DECIMAL(38,6)/(38,12) routings are safe).
_GINI = "(1 - CAST(sumc2 AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))"

@_q(
    "q_token_gini",
    f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ), c AS (
        SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY lang, token
    )
    SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           {_GINI} AS gini
    FROM (
        SELECT lang, c, CAST(SUM(c * c) OVER (PARTITION BY lang) AS BIGINT)
                   AS sumc2,
               CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS t
        FROM c
    ) GROUP BY lang, sumc2, t
    """,
)
def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = (
        t(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang")
    tt = c.withColumn(
        "sumc2", F.sum(F.col("c") * F.col("c")).over(w).cast("bigint")
    ).withColumn("t", F.sum("c").over(w).cast("bigint"))
    return tt.groupBy("lang", "sumc2", "t").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.expr(_GINI).alias("gini"),
    ).select("lang", "n_tokens", "n_distinct", "gini")


# --- text normalization pipeline (casefold / strip / collapse) ------------
# The canonicalization pass that precedes exact dedup in a corpus
# pipeline: lowercase, punctuation → space, digit-run collapse, blank
# squeeze, trim — all scan-side codegen, zero shuffles before the output.
# DuckDB's regexp_replace is single-match by default: the oracle passes
# the 'g' flag to match Spark's replace-all semantics.
@_q(
    "q_text_normalize",
    """
    SELECT c_custkey,
           trim(regexp_replace(
                regexp_replace(
                    regexp_replace(lower(c_name || ' ' || c_mktsegment),
                                   '[0-9]+', '0', 'g'),
                    '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')) AS norm
    FROM customer
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = F.lower(F.concat_ws(" ", "c_name", "c_mktsegment"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(raw, "[0-9]+", "0"), "[^a-z0-9 ]", " "
            ),
            " +",
            " ",
        )
    )
    return t(spark, sf_dir, "customer").select("c_custkey", norm.alias("norm"))


# --- keyword extraction (top-3 TF-IDF tokens per document) ----------------
# The per-doc keyword shape on top of q_tfidf's machinery: score =
# tf * (n_docs / df) (integer-derived, deterministic), ranked per doc
# with a token tie-break. df broadcasts; the only wide shuffles are the
# tf aggregate and the per-doc rank window.
@_q(
    "q_keywords",
    """
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY doc_id, token
    ), dfq AS (
        SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), nd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    )
    SELECT doc_id, token, tf, df,
           CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df) AS score,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY CAST(tf AS DOUBLE)
                                            * (CAST(n_docs AS DOUBLE) / df)
                                            DESC, token)
                AS INTEGER) AS rnk
    FROM tf JOIN dfq USING (token) CROSS JOIN nd
    QUALIFY rnk <= 3
    """,
)
def q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # bounded scalar (collect rule §4.3.8)
    score = F.col("tf").cast("double") * (
        F.lit(float(n_docs)) / F.col("df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc(score), "token")
    return (
        tf.join(F.broadcast(dfq), "token")
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "score", "rnk")
    )


# --- language-ID confusion matrix (eval of the marker heuristic) ----------
# Detected language = deterministic argmax over the marker counts
# (preference order en > de > fr > es on ties, 'unk' when no marker
# fires), cross-tabulated against the labeled lang column — the
# classifier-evaluation shape. Both engines evaluate the identical CASE.
_LC_DETECT = """
    CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es AND n_en > 0
              THEN 'en'
         WHEN n_de >= n_fr AND n_de >= n_es AND n_de > 0 THEN 'de'
         WHEN n_fr >= n_es AND n_fr > 0 THEN 'fr'
         WHEN n_es > 0 THEN 'es'
         ELSE 'unk' END
"""

@_q(
    "q_lang_confusion",
    f"""
    WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), m AS (
        SELECT doc_id, lang,
               {_marker_sql('en')},
               {_marker_sql('de')},
               {_marker_sql('fr')},
               {_marker_sql('es')}
        FROM tok
    )
    SELECT lang AS labeled, {_LC_DETECT} AS detected, COUNT(*) AS n_docs
    FROM m GROUP BY lang, {_LC_DETECT}
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    cols = [
        F.size(
            F.array_intersect(
                toks, F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
            )
        ).alias(f"n_{lang}")
        for lang in ("en", "de", "fr", "es")
    ]
    m = d.select(F.col("lang").alias("labeled"), *cols)
    return (
        m.withColumn("detected", F.expr(_LC_DETECT))
        .groupBy("labeled", "detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- C5: raster resize, value-checked against first-principles SQL --------
# The kernel (functions/multimodal.py:resize_raster) is pure index math,
# so its output is reproducible from a FORMULA: build a deterministic
# 16x12 raster per doc (pixel k = 32 + (doc_id + k) % 64, ASCII-safe),
# NN-resize to 8x6 through the Arrow kernel, checksum the resized bytes
# JVM-side — and let the oracle recompute the same checksum from the
# index arithmetic alone (src row = 2i, src col = 2j). An incorrect
# sampling grid, byte order, or reshape in the kernel breaks the match.
_RZ_W, _RZ_H, _RZ_OW, _RZ_OH = 16, 12, 8, 6

@_q(
    "q_multimodal_resize",
    f"""
    SELECT d.doc_id, {_RZ_OW} AS out_width, {_RZ_OH} AS out_height,
           (SELECT CAST(SUM(32 + (d.doc_id + (i.i * 2) * {_RZ_W} + (j.j * 2)) % 64)
                        AS BIGINT)
            FROM range({_RZ_OH}) i(i), range({_RZ_OW}) j(j)) AS checksum
    FROM documents d
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import resize_raster

    d = t(spark, sf_dir, "documents").select("doc_id")
    rasters = d.select(
        "doc_id",
        F.lit(_RZ_W).alias("width"),
        F.lit(_RZ_H).alias("height"),
        F.expr(
            f"encode(concat_ws('', transform(sequence(0, {_RZ_W * _RZ_H - 1}),"
            " k -> chr(32 + (doc_id + k) % 64))), 'ISO-8859-1')"
        ).alias("payload"),
    )
    resized = resize_raster(rasters, _RZ_OW, _RZ_OH)
    return resized.select(
        "doc_id",
        "out_width",
        "out_height",
        F.expr(
            "aggregate(transform(sequence(1, length(payload)),"
            " i -> ascii(decode(substring(payload, i, 1), 'ISO-8859-1'))),"
            " 0L, (a, x) -> a + x)"
        ).alias("checksum"),
    )


# --- character-bigram language profile ------------------------------------
# The character-level backbone real language ID runs on (token markers
# break on unseen vocabularies; char n-grams do not): top-5 character
# bigrams per language by frequency, deterministic tie-break. Substring
# enumeration stays JVM-side via sequence+transform.
@_q(
    "q_char_ngrams",
    """
    WITH grams AS (
        SELECT lang,
               unnest(list_transform(range(1, length(text)),
                                     i -> substr(text, CAST(i AS INTEGER), 2)))
                   AS gram
        FROM documents
    ), f AS (
        SELECT lang, gram, COUNT(*) AS freq FROM grams GROUP BY lang, gram
    )
    SELECT lang, gram, freq,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY freq DESC, gram) AS INTEGER) AS rnk
    FROM f
    QUALIFY rnk <= 5
    """,
)
def q_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    grams = d.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 1), i -> substr(text, i, 2))")
        ).alias("gram"),
    )
    f = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "gram")
    return f.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


# --- exact pairwise Jaccard similarity (small-set tier) -------------------
# The exact set-similarity tier below MinHash: full pairwise token
# Jaccard for the first 10 documents — integer intersection/union counts
# and ONE division. At scale this runs on LSH-candidate pairs only
# (q_dedup_near_pairs); the exact kernel is identical.
@_q(
    "q_doc_jaccard",
    """
    WITH sel AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE doc_id < 10
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common,
           CAST(len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_union,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
               AS jaccard
    FROM sel a JOIN sel b ON a.doc_id < b.doc_id
    """,
)
def q_doc_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sel = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 10)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    )
    a = sel.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = sel.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    j = a.join(b, F.col("doc_a") < F.col("doc_b"))
    n_common = F.size(F.array_intersect("ta", "tb")).cast("bigint")
    n_union = (F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))).cast("bigint")
    return j.select(
        "doc_a",
        "doc_b",
        n_common.alias("n_common"),
        n_union.alias("n_union"),
        (
            F.size(F.array_intersect("ta", "tb")).cast("double")
            / (F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb")))
        ).alias("jaccard"),
    )


# --- Zipf audit (rank × frequency products) -------------------------------
# Zipf's law says rank*freq is roughly constant; the log-free audit
# reports the exact integer product for the top-20 tokens — drift in
# the products flags a non-natural token distribution (synthetic or
# templated corpora show it immediately).
@_q(
    "q_zipf_audit",
    """
    WITH f AS (
        SELECT token, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), r AS (
        SELECT token, freq,
               CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
                   AS rnk
        FROM f
    )
    SELECT rnk, token, freq, rnk * freq AS rank_freq_product
    FROM r WHERE rnk <= 20
    """,
)
def q_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    f = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # top-20 selection: sort+limit plans as TakeOrderedAndProject — per-
    # partition heaps, never the whole vocabulary in one task (VERDICT r6
    # observation 1; the q_basket_triples shape).
    top = f.orderBy(F.desc("freq"), "token").limit(20)
    # bounded: rank over the 20-row top-k relation
    r = top.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("freq"), "token")).cast("bigint"),
    )
    return r.select(
        "rnk", "token", "freq", (F.col("rnk") * F.col("freq")).alias("rank_freq_product")
    )


# --- asymmetric containment via inverted-index join ------------------------
# Containment C(A→B) = |A∩B| / |A| catches subset/quote duplication that
# symmetric Jaccard misses (a doc fully embedded in a longer one scores
# low Jaccard but containment 1.0). The plan is the PPJoin-family shape
# — the form that scales where pairwise never does:
#   1. inverted index: one (doc, token) posting list, distinct;
#   2. candidate generation ONLY through rare tokens (2 <= doc-freq <=
#      5% of the corpus — a RELATIVE band: a fixed cap went empty at
#      sf0.1 where every df scales with doc count, the green-but-empty
#      vacuity class caught by the round-7 full sf0.1 sweep): stop-words
#      never join, so candidate cardinality is sum(df²) over rare
#      tokens, not |docs|²;
#   3. exact verification of candidates on the full token sets.
# All counts integer; the two containment ratios are single exact-int
# divisions. At 100 TB the posting list is bucketed by token and the
# verify join broadcasts candidate ids against the doc store.
@_q(
    "q_containment",
    """
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), nd AS (
        SELECT COUNT(DISTINCT doc_id) AS n FROM tok
    ), rare AS (
        SELECT token FROM tok GROUP BY token
        HAVING COUNT(*) >= 2 AND COUNT(*) * 100 <= 5 * (SELECT n FROM nd)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        JOIN rare r ON a.token = r.token
    ), sets AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ), v AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.toks, sb.toks)) AS BIGINT) AS n_common,
               CAST(len(sa.toks) AS BIGINT) AS n_a,
               CAST(len(sb.toks) AS BIGINT) AS n_b
        FROM cand c
        JOIN sets sa ON c.doc_a = sa.doc_id
        JOIN sets sb ON c.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, n_common, n_a, n_b,
           CAST(n_common AS DOUBLE) / n_a AS contain_a,
           CAST(n_common AS DOUBLE) / n_b AS contain_b
    FROM v
    WHERE n_common * 2 >= n_a OR n_common * 2 >= n_b
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    n_docs = d.agg(F.countDistinct("doc_id").alias("_n"))
    rare = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where((F.col("df") >= 2) & (F.col("df") * 100 <= 5 * F.col("_n")))
        .select("token")
    )
    rare_post = tok.join(F.broadcast(rare), "token")
    cand = (
        rare_post.alias("a")
        .join(
            rare_post.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    # PPJoin prefix filter (SCALE.md tightening): the emit predicate
    # requires full-set overlap >= ceil(min(n_a,n_b)/2), and
    # prefix_filter_candidates is COMPLETE for that predicate — so
    # semi-joining the rare-token candidates against it only removes
    # pairs that could never pass verification. The expensive
    # array_intersect verify then runs on the intersection of the two
    # channels instead of every rare-token collision.
    from big_data_streaming_spark.functions.dedup import (
        prefix_filter_candidates,
    )

    cand = cand.join(
        prefix_filter_candidates(sets, "doc_id", "toks", theta=0.5),
        ["doc_a", "doc_b"],
        "left_semi",
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    n_common = F.size(F.array_intersect("ta", "tb")).cast("bigint")
    v = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.size("ta").cast("bigint").alias("n_a"),
            F.size("tb").cast("bigint").alias("n_b"),
        )
    )
    return v.where(
        (F.col("n_common") * 2 >= F.col("n_a"))
        | (F.col("n_common") * 2 >= F.col("n_b"))
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        (F.col("n_common").cast("double") / F.col("n_a")).alias("contain_a"),
        (F.col("n_common").cast("double") / F.col("n_b")).alias("contain_b"),
    )


# --- corpus composition audits (exact-integer, log-free) -------------------
# Three one-glance health numbers for a training corpus, all computed in
# the exact-integer domain so both engines agree bit-for-bit:
# * Simpson diversity of languages per source: 1 - Σ n_i(n_i-1) / N(N-1)
#   (the probability two random docs differ in language) — integer
#   numerator/denominator, ONE exact division;
# * Gini concentration of token mass across sources (Lorenz form over
#   ascending counts: G = 2·Σ i·x_i / (n·Σx) - (n+1)/n) — rank products
#   are integers, two exact divisions in a shared-order formula;
# * vocabulary coverage curve: what fraction of all token occurrences
#   the top-k most frequent types cover, at k = 10/100/1000 — prefix
#   sums of ranked integer frequencies.
# Scale: all three aggregate the corpus once (combinable counts); the
# audit arithmetic runs on O(sources) / O(vocab) relations.
@_q(
    "q_simpson_diversity",
    """
    WITH c AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY source, lang
    ), s AS (
        SELECT source,
               SUM(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS same_pairs,
               CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM c GROUP BY source
    )
    SELECT source, total AS n_docs, n_langs,
           1.0 - CAST(same_pairs AS DOUBLE)
               / nullif(CAST(total AS DOUBLE) * CAST(total - 1 AS DOUBLE), 0)
               AS simpson
    FROM s
    """,
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = c.groupBy("source").agg(
        # per-row product via DECIMAL so a 3e9-doc (source, lang) group
        # cannot overflow the BIGINT multiply
        F.sum(F.col("n").cast("decimal(38,0)") * (F.col("n") - 1)).alias(
            "same_pairs"
        ),
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
    )
    return s.select(
        "source",
        F.col("total").alias("n_docs"),
        "n_langs",
        # factors cast to DOUBLE BEFORE multiplying — total*(total-1) in
        # BIGINT overflows past ~3e9 docs per source (review finding)
        (
            F.lit(1.0)
            - F.col("same_pairs").cast("double")
            / F.expr(
                "nullif(CAST(total AS DOUBLE) * CAST(total - 1 AS DOUBLE), 0)"
            )
        ).alias("simpson"),
    )


@_q(
    "q_gini_sources",
    """
    WITH x AS (
        SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
        FROM documents GROUP BY source
    ), r AS (
        SELECT tok,
               CAST(ROW_NUMBER() OVER (ORDER BY tok, source) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(tok) OVER () AS BIGINT) AS total
        FROM x
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_sources,
           CAST(MAX(total) AS BIGINT) AS total_tokens,
           2.0 * CAST(SUM(i * tok) AS DOUBLE)
               / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(total) AS DOUBLE))
               - CAST(MAX(n) + 1 AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS gini
    FROM r
    """,
)
def q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        WITH x AS (
            SELECT source, CAST(SUM(size(split(text, ' '))) AS BIGINT) AS tok
            FROM documents_v GROUP BY source
        ), r AS (
            SELECT tok,
                   CAST(ROW_NUMBER() OVER (ORDER BY tok, source) AS BIGINT) AS i,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   CAST(SUM(tok) OVER () AS BIGINT) AS total
            FROM x
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_sources,
               CAST(MAX(total) AS BIGINT) AS total_tokens,
               2.0 * CAST(SUM(i * tok) AS DOUBLE)
                   / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(total) AS DOUBLE))
                   - CAST(MAX(n) + 1 AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS gini
        FROM r
        """
    )


_COVERAGE_KS = (10, 100, 1000)


@_q(
    "q_vocab_coverage",
    f"""
    WITH f AS (
        SELECT token, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), r AS (
        SELECT freq,
               CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
                   AS rnk,
               CAST(SUM(freq) OVER () AS BIGINT) AS total
        FROM f
    )
    SELECT k,
           CAST(SUM(CASE WHEN rnk <= k THEN freq ELSE 0 END) AS BIGINT)
               AS covered,
           CAST(MAX(total) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN rnk <= k THEN freq ELSE 0 END) AS DOUBLE)
               / CAST(MAX(total) AS DOUBLE) AS coverage
    FROM r CROSS JOIN (SELECT unnest({list(_COVERAGE_KS)}) AS k)
    GROUP BY k
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    f = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Only the top-max(ks) tokens can contribute to any covered(k), so
    # select them with sort+limit (TakeOrderedAndProject — per-partition
    # heaps, never the whole vocabulary in one task; VERDICT r6
    # observation 1) and confine the rank window to that k-row result.
    # The denominator is a plain full aggregate, not a window.
    kmax = max(_COVERAGE_KS)
    top = f.orderBy(F.desc("freq"), "token").limit(kmax)
    # bounded: rank over the max(ks)-row top-k relation
    r = top.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "token"))
        .cast("bigint")
        .alias("rnk"),
    )
    tot = f.agg(F.sum("freq").cast("bigint").alias("total_tokens"))
    ks = local_rows(spark, [(k,) for k in _COVERAGE_KS], "k int")
    return (
        r.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("freq")).otherwise(0))
            .cast("bigint")
            .alias("covered"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "covered",
            "total_tokens",
            (
                F.col("covered").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("coverage"),
        )
    )


# --- C5 completion: frame sampling as a gate-checked query -----------------
# sample_frames (functions/multimodal.py) expands one media row into
# frame-index rows JVM-side — explode BEFORE decode so Arrow batches
# stay bounded. This query drives it through the driver gate with a
# first-principles oracle: n_frames = floor(payload_bytes / (64 * 2))
# (floor stated EXPLICITLY — Spark's double→int cast truncates while
# DuckDB's rounds, so the truncation must live in shared semantics, not
# in a cast), frame_no = frame_idx * every_n. Value-checks the index
# arithmetic the same way q_multimodal_resize pins its kernel.
# every_n = 2 (not the kernel's default 10) because the fixture's
# payloads top out at 577 bytes: a 640-byte stride sampled ZERO frames
# from every document and the gate compared two empty sets (the
# q_dead_stock vacuity class, VERDICT.md r4); at 128 bytes most
# documents yield 1-4 frames at every scale.
@_q(
    "q_frame_sample",
    """
    WITH m AS (
        SELECT doc_id,
               's3://corpus/' || lang || '/' || CAST(doc_id AS VARCHAR)
                   || '.txt' AS uri,
               CAST(floor(CAST(length(text) AS DOUBLE) / 128) AS INTEGER)
                   AS n_frames
        FROM documents
    )
    SELECT doc_id, uri, CAST(g.i AS INTEGER) AS frame_idx,
           CAST(g.i * 2 AS INTEGER) AS frame_no
    FROM m, UNNEST(generate_series(0, n_frames - 1)) AS g(i)
    WHERE n_frames > 0
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import (
        sample_frames,
        with_media_struct,
    )

    docs = t(spark, sf_dir, "documents")
    return sample_frames(with_media_struct(docs), every_n=2)


# --- URL normalization + canonical-URL dedup (web-crawl shape) -------------
# The first dedup pass of every web corpus: the same page arrives as
# HTTPS://WWW.HOST/p/1/, https://www.host/p/1 and
# https://host/p/1?utm_source=x — casing, www, trailing slash and
# tracking params differ, the page doesn't. Dirty URLs are synthesized
# deterministically (three variants per canonical page, keyed by
# doc_id/3) and normalized with ONE shared expression chain (lower →
# strip scheme-www → strip tracking query → strip trailing slash) that
# both engines evaluate verbatim — regexp_replace/lower have identical
# semantics for these patterns. Dedup is then exact groupBy on the
# canonical form: per doc, the canonical URL, the group's kept
# representative (min doc_id) and an is_dup flag. Scale: pure per-row
# string kernels in codegen + ONE hash aggregate on the normalized key.
@_q(
    "q_url_normalize",
    """
    WITH dirty AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                 WHEN 0 THEN 'HTTPS://WWW.EXAMPLE.COM/P/'
                             || CAST(doc_id // 3 AS VARCHAR) || '/'
                 WHEN 1 THEN 'https://www.example.com/p/'
                             || CAST(doc_id // 3 AS VARCHAR)
                 ELSE 'https://example.com/p/' || CAST(doc_id // 3 AS VARCHAR)
                      || '?utm_source=feed'
               END AS url
        FROM documents
    ), norm AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(lower(url), '^https://www\\.', 'https://'),
                       '\\?utm_[a-z_]+=[^&]*$', ''),
                   '/$', '') AS url_norm
        FROM dirty
    )
    SELECT doc_id, url_norm,
           MIN(doc_id) OVER (PARTITION BY url_norm) AS kept_doc,
           doc_id <> MIN(doc_id) OVER (PARTITION BY url_norm) AS is_dup
    FROM norm
    """,
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    base = F.floor(F.col("doc_id") / 3).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTPS://WWW.EXAMPLE.COM/P/"), base, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://www.example.com/p/"), base),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/p/"), base, F.lit("?utm_source=feed")
            )
        )
    )
    norm = d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"^https://www\.", "https://"),
                r"\?utm_[a-z_]+=[^&]*$",
                "",
            ),
            "/$",
            "",
        ).alias("url_norm"),
    )
    # min-over-window instead of aggregate + self-join: ONE url_norm
    # exchange, and the regex normalization runs once (the join form
    # re-derived the whole normalized relation for the probe side).
    from pyspark.sql.window import Window

    w = Window.partitionBy("url_norm")
    kept = F.min("doc_id").over(w)
    return norm.select(
        "doc_id",
        "url_norm",
        kept.alias("kept_doc"),
        (F.col("doc_id") != kept).alias("is_dup"),
    )


# --- OUTER explode (row preservation for empty generators) -----------------
# explode() silently DROPS rows whose array is empty — a corpus-stats
# query that joins back per-doc then undercounts. explode_outer keeps
# the parent row with a NULL element, the LEFT-JOIN-lateral semantics
# every per-doc breakdown needs. Exercised on a genuinely empty-for-
# some-docs generator: tokens longer than 6 chars (many word-salad docs
# have none). Oracle = LEFT JOIN UNNEST, DuckDB's native spelling of
# the same NULL-preservation contract.
@_q(
    "q_explode_outer",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> len(x) > 6) AS longs
        FROM documents
    )
    SELECT t.doc_id, u.tok AS long_token
    FROM toks t LEFT JOIN (
        SELECT doc_id, unnest(longs) AS tok FROM toks
    ) u USING (doc_id)
    """,
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    longs = F.filter(F.split("text", " "), lambda x: F.length(x) > 6)
    return d.select("doc_id", F.explode_outer(longs).alias("long_token"))


# ===================== round-3 additions ====================================
# --- bigram-LM document scoring (log-free held-out fluency) ----------------
# Scores every document against the corpus bigram LM (the apply side of
# q_bigram_lm's train side): per doc, how many of its bigrams the corpus
# sees more than once (coverage — log-free stand-in for perplexity), and
# the weakest link min P(next|cur). Exactness: counts are ints; each
# conditional probability is ONE division and MIN over them is
# order-free; coverage is one shared-text division. At 100 TB the LM
# relation is the vocabulary² aggregate (small, broadcast); docs stream
# through one bigram explode + broadcast join — no corpus self-join.
@_q(
    "q_bigram_score",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    bg AS (
        SELECT doc_id, tk[i] AS cur, tk[i+1] AS nxt
        FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS r(i)
    ),
    bc AS (SELECT cur, nxt, COUNT(*) AS c_bigram FROM bg GROUP BY cur, nxt),
    cc AS (SELECT cur, CAST(SUM(c_bigram) AS BIGINT) AS c_cur FROM bc GROUP BY cur)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c_bigram >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_known,
           CAST(SUM(CASE WHEN c_bigram >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS coverage,
           MIN(CAST(c_bigram AS DOUBLE) / CAST(c_cur AS DOUBLE))
               AS min_cond_prob
    FROM bg JOIN bc USING (cur, nxt) JOIN cc USING (cur)
    GROUP BY doc_id
    """,
)
def q_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bg = (
        d.select("doc_id", F.split("text", " ").alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),"
                    " (a, b) -> struct(a AS cur, b AS nxt))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.cur", "p.nxt")
    )
    bc = bg.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c_bigram"))
    cc = bc.groupBy("cur").agg(F.sum("c_bigram").cast("bigint").alias("c_cur"))
    lm = F.broadcast(bc.join(cc, "cur"))
    known = F.when(F.col("c_bigram") >= 2, 1).otherwise(0)
    return (
        bg.join(lm, ["cur", "nxt"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(known).cast("bigint").alias("n_known"),
            (F.sum(known).cast("double") / F.count(F.lit(1))).alias("coverage"),
            F.min(
                F.col("c_bigram").cast("double") / F.col("c_cur").cast("double")
            ).alias("min_cond_prob"),
        )
    )


# --- feature hashing (the hashing trick, exact-integer) ---------------------
# Bag-of-tokens → fixed 16-dim signed feature vector without a vocabulary
# (Weinberger et al.): dim = h(token) mod 16, sign = bit 4 of h, weight =
# Σ sign over occurrences. The hash is a shared-arithmetic character hash
# (ascii-sum/length/first/last-char polynomial) so the DuckDB oracle is
# exact — at 100 TB swap in scan-side xxhash64 (one line); hash QUALITY
# does not affect the operator's correctness, only collision rates, and
# the trick is collision-tolerant by construction. Everything is integer
# arithmetic: map-side combinable, one (doc, dim) exchange.
@_q(
    "q_feature_hash",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), h AS (
        SELECT doc_id,
               list_aggregate(list_transform(string_split(token, ''),
                                             x -> ascii(x)), 'sum') * 131
                 + strlen(token) * 31
                 + ascii(substr(token, 1, 1)) * 7
                 + ascii(substr(token, strlen(token), 1)) AS hv
        FROM tok
    )
    SELECT doc_id,
           CAST(hv % 16 AS INTEGER) AS dim,
           CAST(SUM(CASE WHEN hv % 32 < 16 THEN 1 ELSE -1 END) AS BIGINT)
               AS weight,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM h
    GROUP BY doc_id, hv % 16
    """,
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    sum_ascii = F.aggregate(
        F.transform(F.split(F.col("token"), ""), lambda c: F.ascii(c)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    hv = (
        sum_ascii * 131
        + F.length("token") * 31
        + F.ascii(F.substring(F.col("token"), 1, 1)) * 7
        + F.ascii(F.expr("substr(token, length(token), 1)"))
    )
    h = tok.select("doc_id", hv.alias("hv"))
    return (
        h.groupBy("doc_id", F.pmod("hv", F.lit(16)).cast("int").alias("dim"))
        .agg(
            F.sum(F.when(F.pmod("hv", F.lit(32)) < 16, 1).otherwise(-1))
            .cast("bigint")
            .alias("weight"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )


# --- classifier calibration: reliability-by-decile table -------------------
# The eval every score-gated data pipeline owes itself: bucket the
# corpus into score deciles (NTILE over a TOTAL order — logit then
# doc_id, so the cut is deterministic in both engines) and report the
# observed positive rate per bucket against the score range. Stays in
# score space: observed rates are exact integer ratios and mean logit
# is a 1e9-quantized exact sum — sigmoid/log-loss would be
# transcendental (module exactness policy), and a reliability table in
# link space carries the same information. Outcome here = "document
# longer than the corpus mean" (deterministic proxy label; the operator
# under test is the bucketing/aggregation plumbing, which at 100 TB is
# one window sort + one map-side-combinable aggregate over
# (bucket, y) pairs — text never leaves the scoring scan).
_CAL_BUCKETS = 10
_CAL_MEAN_LOGIT = (
    "((CAST(s_lq AS DOUBLE) / n) / CAST(1000000000 AS DOUBLE))"
)
_CAL_OBS = "(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"


@_q(
    "q_calibration",
    f"""
    WITH {_QC_SCORED_SQL}, avgc AS (
        SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM documents
    ), lab AS (
        SELECT s.doc_id, s.logit,
               CASE WHEN CAST(d.n_chars AS DOUBLE) > avgc.mean_chars
                    THEN 1 ELSE 0 END AS y
        FROM scored s
        JOIN documents d ON s.doc_id = d.doc_id
        CROSS JOIN avgc
    ), bkt AS (
        SELECT logit, y,
               NTILE({_CAL_BUCKETS}) OVER (ORDER BY logit, doc_id) AS bucket
        FROM lab
    ), agg AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(logit) AS lo_logit, MAX(logit) AS hi_logit,
               CAST(SUM(CAST(floor(logit * 1000000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS s_lq,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM bkt GROUP BY bucket
    )
    SELECT CAST(bucket AS INTEGER) AS bucket, n, lo_logit, hi_logit,
           {_CAL_MEAN_LOGIT} AS mean_logit,
           n_pos, {_CAL_OBS} AS obs_rate
    FROM agg
    """,
)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    avgc = docs.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars")
    )
    lab = (
        scored.join(docs, "doc_id")
        .crossJoin(F.broadcast(avgc))
        .select(
            "doc_id",
            "logit",
            F.when(
                F.col("n_chars").cast("double") > F.col("mean_chars"), 1
            ).otherwise(0).alias("y"),
        )
    )
    # documents are corpus-sized: bucket via the range-partitioned
    # ntile (plans/rank.py) — never a single-partition sort
    bkt = global_ntile(
        lab, ["logit", "doc_id"], _CAL_BUCKETS, bucket_col="bucket"
    ).select("logit", "y", "bucket")
    agg = bkt.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("logit").alias("lo_logit"),
        F.max("logit").alias("hi_logit"),
        F.sum(
            F.expr("CAST(floor(logit * 1000000000 + 0.5) AS BIGINT)")
        ).cast("bigint").alias("s_lq"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    return agg.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n",
        "lo_logit",
        "hi_logit",
        F.expr(_CAL_MEAN_LOGIT).alias("mean_logit"),
        "n_pos",
        F.expr(_CAL_OBS).alias("obs_rate"),
    )


# --- dataset card: one-row corpus summary ---------------------------------
# The summary a data team publishes beside a training set — composition
# (docs, languages, sources, chars, whitespace tokens), exact-duplicate
# rate (md5 fingerprints, the q_dedup_exact contract), and quality-gate
# posture (keep rate + 1e9-quantized mean logit from the shared
# classifier text). Every number is an exact integer or a fixed-order
# ratio, so the one output row is bit-identical across engines. Plan:
# one documents scan computes all per-doc terms, one global aggregate
# (count_distinct adds its exchange) — the whole card is two exchanges
# regardless of corpus size.
_DC_MEAN_LOGIT = "((CAST(s_lq AS DOUBLE) / n_docs) / CAST(1000000000 AS DOUBLE))"
_DC_DUP = "(CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE))"
_DC_KEEP = "(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))"


@_q(
    "q_dataset_card",
    f"""
    WITH {_QC_SCORED_SQL}, per AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars,
               len(string_split(d.text, ' ')) AS n_toks,
               md5(d.text) AS fp,
               s.logit,
               CASE WHEN s.logit >= 0 THEN 1 ELSE 0 END AS keep_i,
               CAST(floor(s.logit * 1000000000 + 0.5) AS BIGINT) AS lq
        FROM documents d JOIN scored s ON d.doc_id = s.doc_id
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
               CAST(SUM(keep_i) AS BIGINT) AS n_keep,
               CAST(SUM(lq) AS BIGINT) AS s_lq
        FROM per
    )
    SELECT n_docs, n_langs, n_sources, total_chars, total_tokens,
           n_distinct AS distinct_texts,
           n_docs - n_distinct AS dup_docs,
           {_DC_DUP} AS dup_fraction,
           n_keep AS keep_docs,
           {_DC_KEEP} AS keep_rate,
           {_DC_MEAN_LOGIT} AS mean_logit
    FROM agg
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    per = (
        t(spark, sf_dir, "documents")
        .join(scored, "doc_id")
        .select(
            "lang",
            "source",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_toks"),
            F.md5("text").alias("fp"),
            F.when(F.col("logit") >= 0, 1).otherwise(0).alias("keep_i"),
            F.expr("CAST(floor(logit * 1000000000 + 0.5) AS BIGINT)").alias("lq"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.count_distinct("fp").cast("bigint").alias("n_distinct"),
        F.sum("keep_i").cast("bigint").alias("n_keep"),
        F.sum("lq").cast("bigint").alias("s_lq"),
    )
    return agg.select(
        "n_docs", "n_langs", "n_sources", "total_chars", "total_tokens",
        F.col("n_distinct").alias("distinct_texts"),
        (F.col("n_docs") - F.col("n_distinct")).alias("dup_docs"),
        F.expr(_DC_DUP).alias("dup_fraction"),
        F.col("n_keep").alias("keep_docs"),
        F.expr(_DC_KEEP).alias("keep_rate"),
        F.expr(_DC_MEAN_LOGIT).alias("mean_logit"),
    )


# --- C1/C4: MOSS winnowing document fingerprints (round 4) ----------------
# Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
# algorithm): hash every k-gram (k=3 tokens), slide a window of w=4
# consecutive gram hashes, and record the window MINIMUM. The selected
# fingerprints are position-robust (guaranteed to share fingerprints
# with any copy that reuses >= w+k-1 consecutive tokens), at a ~1/w
# density of the full gram set. The per-doc summary keeps the driver
# output scalar: fingerprint count plus order-insensitive XOR and
# modular-sum digests (the q_table_checksum digest forms — bigint-exact
# in both engines). The 48-bit gram hash is the verified cross-engine
# primitive: Spark conv(substr(md5,1,12),16,10) == DuckDB
# CAST('0x'||substr(md5,1,12) AS BIGINT).
#
# 100 TB plan: tokenize + gram-hash + windowed min are all map-side per
# document (one window function partitioned by doc_id — embarrassingly
# parallel, no cross-doc shuffle at all); the per-doc aggregate is one
# combinable groupBy. The downstream pair-join (not materialized here —
# q_dedup_ngram / q_containment own that stage) joins on fingerprint
# posting lists with df capping, never all-pairs.
_WINNOW_K = 3  # tokens per gram
_WINNOW_W = 4  # grams per winnowing window
_WINNOW_MOD = 1_000_000_007

# The winnowing fingerprint derivation, written ONCE and shared by the
# per-doc digest oracle (q_winnow_fingerprint) and the pair-level dedup
# oracle (q_winnow_pairs) — the fps relation is exactness-critical text
# that must not drift between consumers. Yields fps(doc_id, fp).
_WINNOW_FPS_CTE = f"""
    toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), grams AS (
        SELECT doc_id, pos,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                   AS gram
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ), hashes AS (
        SELECT doc_id, pos,
               CAST('0x' || substr(md5(gram), 1, 12) AS BIGINT) AS h
        FROM grams
    ), wmins AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                            AND CURRENT ROW) AS fp,
               pos
        FROM hashes
        QUALIFY pos >= {_WINNOW_W}
    ), fps AS (
        SELECT DISTINCT doc_id, fp FROM wmins
    )"""


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_WINNOW_FPS_CTE``: (doc_id, fp) winnowing
    fingerprints — shared by q_winnow_fingerprint and q_winnow_pairs."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
        ).alias("gram"),
        F.lead("tok", 2).over(w).alias("_last"),
    ).where(F.col("_last").isNotNull())
    hashes = grams.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("gram"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        -(_WINNOW_W - 1), 0
    )
    return (
        hashes.select("doc_id", "pos", F.min("h").over(wmin).alias("fp"))
        .where(F.col("pos") >= _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )


@_q(
    "q_winnow_fingerprint",
    f"""
    WITH {_WINNOW_FPS_CTE}, per AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
               bit_xor(fp) AS fp_xor,
               CAST(SUM(fp % {_WINNOW_MOD}) % {_WINNOW_MOD} AS BIGINT)
                   AS fp_modsum
        FROM fps GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_fingerprints, CAST(0 AS BIGINT)) AS n_fingerprints,
           COALESCE(p.fp_xor, CAST(0 AS BIGINT)) AS fp_xor,
           COALESCE(p.fp_modsum, CAST(0 AS BIGINT)) AS fp_modsum
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fps = _winnow_fps(spark, sf_dir)
    per = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.expr("bit_xor(fp)").alias("fp_xor"),
        (F.sum(F.col("fp") % _WINNOW_MOD) % _WINNOW_MOD)
        .cast("bigint")
        .alias("fp_modsum"),
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_fingerprints", F.lit(0).cast("bigint")).alias(
            "n_fingerprints"
        ),
        F.coalesce("fp_xor", F.lit(0).cast("bigint")).alias("fp_xor"),
        F.coalesce("fp_modsum", F.lit(0).cast("bigint")).alias("fp_modsum"),
    )


# --- memorization-leakage audit: duplicated n-gram coverage (round 4) -----
# For every document: what fraction of its 8-token shingle POSITIONS is
# covered by shingles that also occur in at least one OTHER document?
# This is the memorization-risk score LLM data work runs after dedup —
# q_line_dedup REMOVES repeated chunks, q_lm_novelty scores bigram
# novelty; this measures residual verbatim overlap at the span level
# without mutating the corpus. Counts are exact integers; the ratio is
# one final division. Plan: shingle explode → (shingle, distinct-doc
# df) aggregate → join back keyed on shingle → per-doc aggregate. At
# 100 TB the df relation is the standard posting-list aggregate
# (map-side combinable; boilerplate shingles are the hot keys and AQE
# skew-splits the join back — same story as q_lm_novelty).
_LEAK_SHINGLE = 8


@_q(
    "q_ngram_leakage",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, len(toks) - {_LEAK_SHINGLE} + 1),
                   i -> array_to_string(toks[i + 1 : i + {_LEAK_SHINGLE}], ' ')
               )) AS shingle
        FROM tok WHERE len(toks) >= {_LEAK_SHINGLE}
    ), df AS (
        SELECT shingle, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM sh GROUP BY shingle
    ), per AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_leaked
        FROM sh s JOIN df USING (shingle)
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_grams, n_leaked,
           CAST(n_leaked AS DOUBLE) / CAST(n_grams AS DOUBLE) AS leak_ratio
    FROM per
    """,
)
def q_ngram_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sh = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= _LEAK_SHINGLE)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - _LEAK_SHINGLE),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i + 1, _LEAK_SHINGLE), " "
                    ),
                )
            ).alias("shingle"),
        )
    )
    df_rel = sh.groupBy("shingle").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    per = (
        sh.join(df_rel, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_leaked",
        (F.col("n_leaked").cast("double") / F.col("n_grams").cast("double")).alias(
            "leak_ratio"
        ),
    )


# --- winnowing pair-level near-dup candidates (round 4) -------------------
# The pair stage over the shared winnowing fingerprints: documents
# sharing >= 3 fingerprints, ranked by shared count. The df cap (keep
# fingerprints appearing in 2..50 documents) is the posting-list
# discipline that bounds the join at scale: boilerplate fingerprints
# with huge df would otherwise dominate Σdf² — dropping them loses only
# pairs whose OTHER shared fingerprints still connect them, the
# standard winnowing-pipeline trade. Deterministic top-200 report
# (shared count desc, then ids). All counts exact integers.
# 100 TB: fps is map-side per doc (see q_winnow_fingerprint); the df
# relation is combinable; the pair join shuffles (fp)-keyed posting
# lists with Σdf² bounded by the cap — never |docs|².
_WP_DF_MIN, _WP_DF_MAX = 2, 50
_WP_MIN_SHARED = 3
_WP_TOPK = 200


@_q(
    "q_winnow_pairs",
    f"""
    WITH {_WINNOW_FPS_CTE}, df AS (
        SELECT fp, CAST(COUNT(*) AS BIGINT) AS df
        FROM fps GROUP BY fp
    ), kept AS (
        SELECT f.doc_id, f.fp
        FROM fps f JOIN df USING (fp)
        WHERE df.df BETWEEN {_WP_DF_MIN} AND {_WP_DF_MAX}
    ), pair AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM kept a JOIN kept b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared
    FROM pair
    WHERE n_shared >= {_WP_MIN_SHARED}
    ORDER BY n_shared DESC, doc_a, doc_b
    LIMIT {_WP_TOPK}
    """,
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = _winnow_fps(spark, sf_dir)
    df_rel = fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    kept = (
        fps.join(df_rel, "fp")
        .where(F.col("df").between(_WP_DF_MIN, _WP_DF_MAX))
        .select("doc_id", "fp")
    )
    a, b = kept.alias("a"), kept.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        pair.where(F.col("n_shared") >= _WP_MIN_SHARED)
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
        .limit(_WP_TOPK)
    )


# --- cross-source duplication overlap (round 4; de-vacuated round 5) ------
# Which sources duplicate each other? Pairwise count of shared content
# fingerprints (the leading 32 characters — the cheap prefix
# fingerprint every crawl pipeline joins on instead of raw text),
# plus the overlap coefficient n_shared / min(n_a, n_b) — the
# dataset-governance view that decides which source to drop before
# training (q_dataset_card's corpus-level dup_fraction cannot localize
# it). Round 4 keyed on FULL text equality, but the fixture has zero
# exact cross-source texts below sf0.1, so the gate compared two empty
# sets (VERDICT.md r4's q_dead_stock vacuity class); prefix
# fingerprints overlap at every scale. Exact integer counts off one
# DISTINCT (source, fingerprint) relation; one final division. At
# 100 TB this IS the scale shape already — narrow fingerprint key, and
# fingerprints with huge cross-source df are the hot keys AQE splits.
@_q(
    "q_source_overlap",
    """
    WITH st AS (
        SELECT DISTINCT source, substr(text, 1, 32) AS fp FROM documents
    ),
    sc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_texts
        FROM st GROUP BY source
    ), pair AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM st a JOIN st b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, ca.n_texts AS n_a, cb.n_texts AS n_b,
           p.n_shared,
           CAST(p.n_shared AS DOUBLE)
               / CAST(least(ca.n_texts, cb.n_texts) AS DOUBLE)
               AS overlap_coeff
    FROM pair p
    JOIN sc ca ON ca.source = p.source_a
    JOIN sc cb ON cb.source = p.source_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = (
        t(spark, sf_dir, "documents")
        .select("source", F.substring("text", 1, 32).alias("fp"))
        .distinct()
    )
    sc = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_texts")
    )
    a, b = st.alias("a"), st.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ca = sc.select(F.col("source").alias("source_a"), F.col("n_texts").alias("n_a"))
    cb = sc.select(F.col("source").alias("source_b"), F.col("n_texts").alias("n_b"))
    return (
        pair.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("overlap_coeff"),
        )
    )


# --- semi-supervised label propagation over near-dup edges (round 4) ------
# Weak supervision for LLM corpora: 20% of documents carry a trusted
# label (the seed set, doc_id % 5 = 0, labelled with their `lang`);
# labels propagate 2 synchronous rounds across the rare-shingle
# candidate graph (docs sharing an 8-token shingle with df in [2, 20] —
# the same posting-list discipline as q_winnow_pairs: the df cap bounds
# the pair join at Σdf², boilerplate shingles excluded). Update rule is
# the classic sync label propagation: an unlabeled node takes the
# MAJORITY label among its labelled neighbours, ties broken by label
# string ascending — fully deterministic, all-integer counts. Seeds
# never change; `agrees_truth` audits propagation accuracy against the
# held-out true lang. On this fixture the candidate graph is a union of
# diameter-1 near-dup cliques, so round 2 is exercised as a verified
# no-op (the per-round SQL is one shared template, so both rounds are
# the same code path). 100 TB: shingle explode and df aggregate are
# map-side combinable; the edge join shuffles capped posting lists; each
# propagation round is one groupBy + window on O(edges) rows — at scale
# run more rounds with localCheckpoint per round (q_s_core's loop
# discipline).
_LS_SHINGLE = 8
_LS_DF_MIN, _LS_DF_MAX = 2, 20
_LS_SEED_MOD = 5
_LS_ROUNDS = 2

_LS_EDGES_CTE = f"""
    tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(0, len(toks) - {_LS_SHINGLE} + 1),
                   i -> array_to_string(toks[i + 1 : i + {_LS_SHINGLE}], ' ')
               )) AS shingle
        FROM tok WHERE len(toks) >= {_LS_SHINGLE}
    ), rare AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) BETWEEN {_LS_DF_MIN} AND {_LS_DF_MAX}
    ), e AS (
        SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b
        FROM sh s1 JOIN rare USING (shingle) JOIN sh s2 USING (shingle)
        WHERE s1.doc_id <> s2.doc_id
    )"""

# One template per propagation round — both rounds are the identical
# text, so the unrolled oracle cannot drift between iterations.
_LS_ROUND_CTE = """
    , n{r} AS (
        SELECT e.a AS doc_id, l.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM e JOIN l{p} l ON e.b = l.doc_id
        WHERE e.a NOT IN (SELECT doc_id FROM l{p})
        GROUP BY e.a, l.label
    ), w{r} AS (
        SELECT doc_id, label,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY c DESC, label
               ) AS rn
        FROM n{r}
    ), l{r} AS (
        SELECT * FROM l{p}
        UNION ALL
        SELECT doc_id, label, {r} AS assigned_round FROM w{r} WHERE rn = 1
    )"""


def _label_spread_oracle() -> str:
    rounds = "".join(
        _LS_ROUND_CTE.format(r=i + 1, p=i) for i in range(_LS_ROUNDS)
    )
    return f"""
    WITH {_LS_EDGES_CTE}, l0 AS (
        SELECT doc_id, lang AS label, 0 AS assigned_round
        FROM documents WHERE doc_id % {_LS_SEED_MOD} = 0
    ){rounds}
    SELECT lf.doc_id, lf.label, lf.assigned_round,
           lf.label = d.lang AS agrees_truth
    FROM l{_LS_ROUNDS} lf JOIN documents d USING (doc_id)
    """


@_q("q_label_spread", _label_spread_oracle())
def q_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sh = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= _LS_SHINGLE)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - _LS_SHINGLE),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i + 1, _LS_SHINGLE), " "
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(_LS_DF_MIN, _LS_DF_MAX))
        .select("shingle")
    )
    edges = (
        sh.join(rare, "shingle")
        .select(F.col("doc_id").alias("a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .where(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
        .persist()
    )
    labels = d.where(F.col("doc_id") % _LS_SEED_MOD == 0).select(
        "doc_id",
        F.col("lang").alias("label"),
        F.lit(0).alias("assigned_round"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), "label")
    for r in range(1, _LS_ROUNDS + 1):
        votes = (
            edges.join(
                labels.select(F.col("doc_id").alias("b"), "label"), "b"
            )
            .join(
                labels.select(F.col("doc_id").alias("a")),
                "a",
                "left_anti",
            )
            .groupBy(F.col("a").alias("doc_id"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        winners = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", "label", F.lit(r).alias("assigned_round"))
        )
        labels = labels.unionByName(winners)
    return labels.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "label",
        "assigned_round",
        (F.col("label") == F.col("lang")).alias("agrees_truth"),
    )


# --- distributed Misra-Gries heavy hitters + bound audit (round 4) ----------
# A real distributed sketch operator: each partition runs a Misra-Gries
# summary (K = 64 counters) over the document bigram stream inside ONE
# Arrow-batched mapInPandas pass (per-batch Counter at C speed, then a
# bulk-decrement merge — never per-row Python on the raw stream); the
# per-partition summaries merge by summing lower bounds (the standard
# mergeable-summaries result: summed undercount ≤ n/(K+1)). The audit
# joins the sketch against the EXACT top-10 bigrams and checks the
# theorem on real data: 0 ≤ cnt − est ≤ n/(K+1), reported as
# `mg_bound_ok` — the oracle asserts TRUE, so any implementation bug
# that violates the bound is a driver value failure. The exact side is
# ordinary count/top-k SQL; the sketch side is engine-specific by
# nature and surfaces only through the boolean. 100 TB: the sketch is
# O(K) memory per partition, one narrow shuffle of ≤ K·partitions
# summary rows — the whole point of sketching; the exact top-10 is the
# verifiable yardstick at test scale.
_MG_K = 64
_MG_TOPN = 10


def _mg_partition(batches):
    import collections

    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for bigram, c in collections.Counter(pdf["bigram"]).items():
            counters[bigram] = counters.get(bigram, 0) + int(c)
            if len(counters) > _MG_K:
                m = min(counters.values())
                counters = {
                    k: v - m for k, v in counters.items() if v - m > 0
                }
    yield pd.DataFrame(
        {"bigram": list(counters), "lb": list(counters.values())}
    )


@_q(
    "q_heavy_hitters",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bi AS (
        SELECT unnest(list_transform(
                   range(0, len(toks) - 1),
                   i -> toks[i + 1] || ' ' || toks[i + 2]
               )) AS bigram
        FROM tok WHERE len(toks) >= 2
    ), cnt AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi GROUP BY bigram
    ), top AS (
        SELECT bigram, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rn
        FROM cnt
    )
    SELECT bigram, cnt, TRUE AS mg_bound_ok
    FROM top WHERE rn <= {_MG_TOPN}
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bi = (
        d.select(toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i + 1),
                        F.element_at(F.col("toks"), i + 2),
                    ),
                )
            ).alias("bigram")
        )
        .persist()
    )
    exact = bi.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # top-N selection with no rank in the output: pure sort+limit —
    # TakeOrderedAndProject via per-partition heaps, never the whole
    # bigram vocabulary in one task (VERDICT r6 observation 1).
    top = exact.orderBy(F.desc("cnt"), "bigram").limit(_MG_TOPN)
    total = bi.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sketch = (
        bi.mapInPandas(_mg_partition, "bigram string, lb long")
        .groupBy("bigram")
        .agg(F.sum("lb").cast("bigint").alias("est"))
    )
    return (
        top.join(F.broadcast(sketch), "bigram", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "cnt",
            (
                (F.coalesce("est", F.lit(0)) <= F.col("cnt"))
                & (
                    (F.col("cnt") - F.coalesce("est", F.lit(0)))
                    * (_MG_K + 1)
                    <= F.col("n")
                )
            ).alias("mg_bound_ok"),
        )
    )


# --- survivorship / golden-record merge (round 4) ----------------------------
# The MDM step after the match stage: clusters come from a BLOCKING
# KEY (the 8-token text prefix — the fixture has no byte-identical
# texts, so exact-text grouping is the empty set; a prefix block is
# exactly what a real matcher feeds survivorship). For every cluster
# with ≥ 2 members build the GOLDEN record by field-level
# survivorship rules — keep the smallest doc_id as the survivor key,
# the lexicographically-first lang and source (deterministic policy),
# the max n_chars, and flag clusters whose copies DISAGREE on a field
# (the data-quality signal driving manual review queues). One hash
# groupBy on text — the q_dedup_exact shuffle — with a handful of
# combinable aggregates on top; output is only the conflicted/multi-
# copy clusters. 100 TB: identical to exact dedup (the canonical
# map-side-combine groupBy), no extra pass.
@_q(
    "q_golden_record",
    """
    SELECT MIN(doc_id) AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(lang) AS golden_lang,
           MIN(source) AS golden_source,
           CAST(MAX(n_chars) AS BIGINT) AS golden_chars,
           COUNT(DISTINCT lang) > 1 OR COUNT(DISTINCT source) > 1
               AS field_conflict
    FROM (
        SELECT *, array_to_string(string_split(text, ' ')[1:8], ' ') AS blk
        FROM documents
    )
    GROUP BY blk
    HAVING COUNT(*) >= 2
    """,
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "blk", F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    )
    return (
        d.groupBy("blk")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("lang").alias("golden_lang"),
            F.min("source").alias("golden_source"),
            F.max("n_chars").cast("bigint").alias("golden_chars"),
            (
                (F.count_distinct("lang") > 1)
                | (F.count_distinct("source") > 1)
            ).alias("field_conflict"),
        )
        .where(F.col("n_copies") >= 2)
        .drop("blk")
    )


# --- code-switching / language-mix audit (round 4) ---------------------------
# Token-level language mixing: assign every token its CORPUS-majority
# language (occurrence-weighted vote across all documents, ties broken
# by lang ascending — deterministic), then score each document by the
# fraction of its token occurrences whose majority language disagrees
# with the document's own label. High mix_ratio = code-switched or
# mislabelled — both are routing signals in LLM data prep (q_text_lang
# assigns a label; this measures how internally consistent it is).
# Plan: one token-occurrence explode feeding (a) the (token, lang)
# vote aggregate (combinable; ≤ vocab × langs rows ranked by a window)
# and (b) the per-doc join back against the BROADCAST token→lang map.
# All-integer counts, one division, BOOLEAN flag.
_LM_SWITCH = 0.5


@_q(
    "q_doc_langmix",
    f"""
    WITH occ AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), votes AS (
        SELECT token, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM occ GROUP BY token, lang
    ), map AS (
        SELECT token, lang AS tok_lang
        FROM (
            SELECT token, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY token ORDER BY c DESC, lang
                   ) AS rn
            FROM votes
        ) WHERE rn = 1
    ), per AS (
        SELECT o.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN m.tok_lang <> o.lang THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_foreign
        FROM occ o JOIN map m USING (token)
        GROUP BY o.doc_id
    )
    SELECT doc_id, n_tokens, n_foreign,
           CAST(n_foreign AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mix_ratio,
           CAST(n_foreign AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               > {_LM_SWITCH} AS code_switched
    FROM per
    """,
)
def q_doc_langmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    votes = occ.groupBy("token", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("token").orderBy(F.desc("c"), "lang")
    lang_map = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("token", F.col("lang").alias("tok_lang"))
    )
    per = (
        occ.join(F.broadcast(lang_map), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("tok_lang") != F.col("lang"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_foreign"),
        )
    )
    ratio = F.col("n_foreign").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_foreign",
        ratio.alias("mix_ratio"),
        (ratio > _LM_SWITCH).alias("code_switched"),
    )


# --- greedy max-coverage subset selection (round 4) --------------------------
# Submodular data curation: pick 10 documents that greedily maximize
# covered 8-token shingles — the lazy-greedy family (facility
# location / max-coverage) used to select diverse fine-tuning subsets,
# with the classic (1 − 1/e) guarantee. Each round scores every
# remaining doc by its MARGINAL gain (distinct shingles not yet
# covered), picks the argmax (gain desc, doc_id asc — deterministic),
# and the oracle unrolls the identical 10 steps from ONE shared SQL
# template (the q_pagerank discipline: per-round text cannot drift).
# Spark side: the shingle relation is computed once and persisted;
# each round is one anti-join + one aggregate + a 1-row collect (the
# bounded-scalar rule, SURVEY §4.3.8; 10 rows total). Zero-gain docs drop out of
# the scoring relation identically in both engines. 100 TB: gains are
# posting-list aggregates; the candidate pool is pre-filtered (top-N
# by doc stats) before the greedy loop, and lazy evaluation bounds
# re-scoring.
_MC_PICKS = 10

_MC_SH_CTE = """
    tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(0, len(toks) - 7),
                   i -> array_to_string(toks[i + 1 : i + 8], ' ')
               )) AS shingle
        FROM tok WHERE len(toks) >= 8
    )"""

# Every per-step CTE is MATERIALIZED: the p-chain is referenced twice
# per step, and without materialization the expression tree re-expands
# ~3^steps — the DuckDB twin of the Spark iterative-loop plan blowup
# that localCheckpoint solves (q_s_core discipline).
_MC_STEP = """
    , g{i} AS MATERIALIZED (
        SELECT s.doc_id, CAST(COUNT(DISTINCT s.shingle) AS BIGINT) AS gain
        FROM sh s
        WHERE s.doc_id NOT IN (SELECT doc_id FROM p{p})
          AND s.shingle NOT IN (
              SELECT s2.shingle FROM sh s2
              JOIN p{p} pp ON s2.doc_id = pp.doc_id)
        GROUP BY s.doc_id
    ), pk{i} AS MATERIALIZED (
        SELECT CAST({i} AS INTEGER) AS pick_order, doc_id, gain
        FROM g{i} ORDER BY gain DESC, doc_id LIMIT 1
    ), p{i} AS MATERIALIZED (
        SELECT doc_id FROM p{p} UNION ALL SELECT doc_id FROM pk{i}
    )"""


def _maxcover_oracle() -> str:
    steps = "".join(
        _MC_STEP.format(i=i + 1, p=i) for i in range(_MC_PICKS)
    )
    picks = " UNION ALL ".join(
        f"SELECT * FROM pk{i + 1}" for i in range(_MC_PICKS)
    )
    return f"""
    WITH {_MC_SH_CTE}, p0 AS (
        SELECT CAST(NULL AS BIGINT) AS doc_id WHERE FALSE
    ){steps}
    SELECT pick_order, doc_id, gain,
           CAST(SUM(gain) OVER (ORDER BY pick_order) AS BIGINT)
               AS covered_total
    FROM ({picks})
    """


@_q("q_maxcover_select", _maxcover_oracle())
def q_maxcover_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sh = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 8),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i + 1, 8), " "
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
        .persist()
    )
    picked: list[int] = []
    rows = []
    covered_total = 0
    for order in range(1, _MC_PICKS + 1):
        remaining = sh.where(~F.col("doc_id").isin(picked)) if picked else sh
        if picked:
            covered = sh.where(F.col("doc_id").isin(picked)).select(
                "shingle"
            ).distinct()
            remaining = remaining.join(covered, "shingle", "left_anti")
        gains = remaining.groupBy("doc_id").agg(
            F.count_distinct("shingle").cast("bigint").alias("gain")
        )
        top = gains.orderBy(F.desc("gain"), "doc_id").limit(1).collect()
        if not top:
            break
        picked.append(top[0].doc_id)
        covered_total += top[0].gain
        rows.append((order, top[0].doc_id, top[0].gain, covered_total))
    return local_rows(
        spark, rows, "pick_order int, doc_id bigint, gain bigint, covered_total bigint"
    )


# --- blocking-scheme evaluation for record linkage (round 4) -----------------
# Evaluates the blocking stage q_entity_resolution/q_golden_record
# depend on, with the two standard metrics — and computes BOTH purely
# from cluster SIZES, never materializing a pair: ground-truth matches
# are 8-token-prefix clusters (Σ c(c−1)/2 pairs), the candidate
# blocking key is the LAST-4-token suffix (Σ over its clusters),
# found pairs are clusters of the COMBINED key (a true pair is found
# iff both docs also share the suffix block, i.e. they sit in the same
# (prefix8, suffix4) group). pairs_completeness = found/true (recall
# of the blocker), reduction_ratio = 1 − candidates/all-pairs (the
# work it saves). Three combinable aggregations; integers + two
# divisions. 100 TB: this is the advisor you run BEFORE committing to
# a blocking key — each candidate scheme costs one groupBy.
@_q(
    "q_blocking_eval",
    """
    WITH d AS (
        SELECT doc_id,
               array_to_string(string_split(text, ' ')[1:8], ' ') AS k_true,
               array_to_string(string_split(text, ' ')[5:12], ' ') AS k_block
        FROM documents
    ), truec AS (
        SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_true
        FROM (SELECT COUNT(*) AS c FROM d GROUP BY k_true)
    ), cand AS (
        SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_cand
        FROM (SELECT COUNT(*) AS c FROM d GROUP BY k_block)
    ), found AS (
        SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_found
        FROM (SELECT COUNT(*) AS c FROM d GROUP BY k_true, k_block)
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d
    )
    SELECT tot.n_docs, truec.n_true, cand.n_cand, found.n_found,
           CAST(found.n_found AS DOUBLE) / NULLIF(CAST(truec.n_true AS DOUBLE), 0.0)
               AS pairs_completeness,
           1.0 - CAST(cand.n_cand AS DOUBLE)
             / (CAST(tot.n_docs AS DOUBLE) * (CAST(tot.n_docs AS DOUBLE) - 1.0)
                / 2.0) AS reduction_ratio
    FROM tot CROSS JOIN truec CROSS JOIN cand CROSS JOIN found
    """,
)
def q_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 8), " ").alias("k_true"),
        F.array_join(F.slice(toks, 5, 8), " ").alias("k_block"),
    )
    def pair_sum(*keys):
        return (
            d.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2)
                .cast("bigint")
                .alias("n")
            )
        )

    truec = pair_sum("k_true").withColumnRenamed("n", "n_true")
    cand = pair_sum("k_block").withColumnRenamed("n", "n_cand")
    found = pair_sum("k_true", "k_block").withColumnRenamed("n", "n_found")
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    row = (
        tot.crossJoin(F.broadcast(truec))
        .crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(found))
    )
    allp = (
        F.col("n_docs").cast("double")
        * (F.col("n_docs").cast("double") - 1.0)
        / 2.0
    )
    return row.select(
        "n_docs",
        "n_true",
        "n_cand",
        "n_found",
        (
            F.col("n_found").cast("double")
            / F.nullif(F.col("n_true").cast("double"), F.lit(0.0))
        ).alias("pairs_completeness"),
        (F.lit(1.0) - F.col("n_cand").cast("double") / allp).alias(
            "reduction_ratio"
        ),
    )


# --- LSH banding-parameter advisor (round 4) ---------------------------------
# The tuning table behind every banded-MinHash choice in this repo,
# evaluated against THIS corpus: take the df-capped winnowing
# candidate pairs (the q_winnow_pairs discipline), measure their
# fingerprint-set Jaccard quartiles, and for each (bands b, rows r)
# design point report the s-curve catch probability
# p = 1 − (1 − s^r)^b at those observed similarities. The powers are
# EXACT SQUARING CHAINS ((s·s)·(s·s), …) in ONE shared expression text
# — no pow(), no transcendental, bit-identical on both engines.
# Quartiles are element selection. 100 TB: pair stats come from the
# same bounded posting-list join the dedup pipeline already runs; the
# curve itself is arithmetic on a 12-row grid.
_LSH_GRID = ((4, 4), (8, 4), (16, 4), (8, 8))
# s^r for r in {4, 8} as explicit squaring chains (shared text; `s`)
_LSH_SR = (
    "(CASE WHEN r = 4 THEN ((s * s) * (s * s))"
    " ELSE (((s * s) * (s * s)) * ((s * s) * (s * s))) END)"
)
# (1-sr)^b for b in {4, 8, 16} as squaring chains (shared text; `u`)
_LSH_P = (
    "(1.0 - (CASE WHEN b = 4 THEN ((u * u) * (u * u))"
    " WHEN b = 8 THEN (((u * u) * (u * u)) * ((u * u) * (u * u)))"
    " ELSE ((((u * u) * (u * u)) * ((u * u) * (u * u)))"
    "       * (((u * u) * (u * u)) * ((u * u) * (u * u)))) END))"
)


def _lsh_advisor_oracle() -> str:
    grid = ", ".join(f"({b}, {r})" for b, r in _LSH_GRID)
    return f"""
    WITH {_WINNOW_FPS_CTE}, capped AS (
        SELECT doc_id, fp FROM (
            SELECT DISTINCT doc_id, fp FROM fps
        ) WHERE fp IN (
            SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM fps)
            GROUP BY fp
            HAVING COUNT(*) BETWEEN {_WP_DF_MIN} AND {_WP_DF_MAX}
        )
    ), perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf
        FROM capped GROUP BY doc_id
    ), pair AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM capped a JOIN capped b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jac AS (
        SELECT CAST(p.shared AS DOUBLE)
                 / CAST(pa.nf + pb.nf - p.shared AS DOUBLE) AS s,
               p.da, p.db
        FROM pair p
        JOIN perdoc pa ON p.da = pa.doc_id
        JOIN perdoc pb ON p.db = pb.doc_id
    ), rk AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s, da, db) AS rn,
               COUNT(*) OVER () AS n
        FROM jac
    ), probes AS (
        SELECT CAST(g.q AS INTEGER) AS quartile, rk.s
        FROM range(1, 4) g(q)
        JOIN rk ON rk.rn = greatest((rk.n * g.q) // 4, 1)
    ), curve AS (
        SELECT p.quartile, p.s, g.b, g.r, {_LSH_SR} AS sr
        FROM probes p CROSS JOIN (VALUES {grid}) g(b, r)
    ), u AS (
        SELECT quartile, s, b, r, 1.0 - sr AS u FROM curve
    )
    SELECT quartile, s, b, r, {_LSH_P} AS p_catch
    FROM u
    """


@_q("q_lsh_advisor", _lsh_advisor_oracle())
def q_lsh_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    fps = _winnow_fps(spark, sf_dir).select("doc_id", "fp").distinct()
    dfc = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(_WP_DF_MIN, _WP_DF_MAX))
        .select("fp")
    )
    capped = fps.join(dfc, "fp").persist()
    perdoc = capped.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nf")
    )
    a = capped.select(F.col("doc_id").alias("da"), "fp")
    b = capped.select(F.col("doc_id").alias("db"), "fp")
    pair = (
        a.join(b, "fp")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    jac = (
        pair.join(
            perdoc.select(F.col("doc_id").alias("da"), F.col("nf").alias("nfa")),
            "da",
        )
        .join(
            perdoc.select(F.col("doc_id").alias("db"), F.col("nf").alias("nfb")),
            "db",
        )
        .select(
            (
                F.col("shared").cast("double")
                / (F.col("nfa") + F.col("nfb") - F.col("shared")).cast("double")
            ).alias("s"),
            "da",
            "db",
        )
    )
    # candidate pairs are corpus-shaped: rank + total via the range-
    # partitioned ranker (plans/rank.py) — never a single-partition sort
    rk = global_rank(
        jac, ["s", "da", "db"], rank_col="rn", total_col="n"
    ).select("s", "rn", "n")
    q = spark.range(1, 4).select(F.col("id").cast("int").alias("quartile"))
    probes = F.broadcast(q).join(
        rk,
        rk.rn
        == F.greatest(F.floor((rk.n * F.col("quartile")) / 4), F.lit(1)),
    ).select("quartile", "s")
    grid = local_rows(spark, list(_LSH_GRID), "b int, r int")
    return (
        probes.crossJoin(F.broadcast(grid))
        .selectExpr("quartile", "s", "b", "r", f"{_LSH_SR} AS sr")
        .selectExpr("quartile", "s", "b", "r", "1.0 - sr AS u")
        .selectExpr("quartile", "s", "b", "r", f"{_LSH_P} AS p_catch")
    )


# --- Cohen's kappa for the language-ID heuristic (round 4) ------------------
# Chance-corrected agreement between the labeled lang column and the
# marker-heuristic detection that q_lang_confusion cross-tabulates.
# With N docs, A = Σ diagonal, and S = Σ_cat rowtotal·coltotal, kappa =
# (N·A − S) / (N² − S) — every sufficient statistic an EXACT integer,
# the finish a single double division, so the usual po/pe float chain
# never accumulates. po and pe are reported as one-division ratios.
# Scale: the confusion matrix is O(langs²) rows out of one hash
# aggregate over the corpus; everything after is driver-sized.
@_q(
    "q_cohen_kappa",
    f"""
    WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), m AS (
        SELECT doc_id, lang,
               {_marker_sql('en')},
               {_marker_sql('de')},
               {_marker_sql('fr')},
               {_marker_sql('es')}
        FROM tok
    ), conf AS (
        SELECT lang AS labeled, {_LC_DETECT} AS detected,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM m GROUP BY lang, {_LC_DETECT}
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN labeled = detected THEN n ELSE 0 END)
                    AS BIGINT) AS agree
        FROM conf
    ), rt AS (
        SELECT labeled AS cat, CAST(SUM(n) AS BIGINT) AS rtot
        FROM conf GROUP BY 1
    ), ct AS (
        SELECT detected AS cat, CAST(SUM(n) AS BIGINT) AS ctot
        FROM conf GROUP BY 1
    ), rc AS (
        SELECT CAST(SUM(rt.rtot * ct.ctot) AS BIGINT) AS src
        FROM rt JOIN ct USING (cat)
    )
    SELECT nn AS n_docs, agree AS n_agree, src AS sum_rowcol,
           CAST(agree AS DOUBLE) / nn AS po,
           CAST(src AS DOUBLE)
             / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pe,
           CAST(nn * agree - src AS DOUBLE)
             / CAST(nn * nn - src AS DOUBLE) AS kappa
    FROM tot, rc
    """,
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    cols = [
        F.size(
            F.array_intersect(
                toks, F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
            )
        ).alias(f"n_{lang}")
        for lang in ("en", "de", "fr", "es")
    ]
    m = d.select(F.col("lang").alias("labeled"), *cols)
    conf = (
        m.withColumn("detected", F.expr(_LC_DETECT))
        .groupBy("labeled", "detected")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = conf.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.when(F.col("labeled") == F.col("detected"), F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("agree"),
    )
    rt = conf.groupBy(F.col("labeled").alias("cat")).agg(
        F.sum("n").cast("bigint").alias("rtot")
    )
    ct = conf.groupBy(F.col("detected").alias("cat")).agg(
        F.sum("n").cast("bigint").alias("ctot")
    )
    rc = (
        rt.join(ct, "cat")
        .agg(F.sum(F.col("rtot") * F.col("ctot")).cast("bigint").alias("src"))
    )
    return tot.crossJoin(rc).selectExpr(
        "nn AS n_docs",
        "agree AS n_agree",
        "src AS sum_rowcol",
        "CAST(agree AS DOUBLE) / nn AS po",
        "CAST(src AS DOUBLE)"
        " / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pe",
        "CAST(nn * agree - src AS DOUBLE)"
        " / CAST(nn * nn - src AS DOUBLE) AS kappa",
    )


# --- C5: perceptual image dedup via dHash (round 4) -------------------------
# The image member of the dedup family: difference-hash each (synthetic,
# deterministic) 9×8 grayscale raster through the REAL Arrow kernel
# (functions/multimodal.py:dhash_raster — vectorized compare + packed
# shift-sum), then bucket by the 64-bit hash exactly like exact text
# dedup buckets by content hash. Because dHash is pure index/compare
# math, the oracle recomputes every bit from the raster FORMULA
# (pixel k = 32 + (doc_id + k) % 64), so a wrong comparison axis, bit
# order, or reshape in the kernel breaks the match — the same
# first-principles check q_multimodal_resize uses. Hash emitted as two
# 32-bit halves so bit 63 never hits the BIGINT sign. Scale: the dedup
# is a hash groupBy on (hi, lo) — never a pairwise image comparison.
_DH_W, _DH_H = 9, 8


@_q(
    "q_image_dhash",
    f"""
    WITH bits AS (
        SELECT d.doc_id, i.i AS i, j.j AS j,
               CASE WHEN (32 + (d.doc_id + i.i * {_DH_W} + j.j) % 64)
                       < (32 + (d.doc_id + i.i * {_DH_W} + j.j + 1) % 64)
                    THEN 1 ELSE 0 END AS b
        FROM documents d, range({_DH_H}) i(i), range({_DH_W - 1}) j(j)
    ), h AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i * {_DH_W - 1} + j >= 32
                             THEN b * (CAST(1 AS BIGINT)
                                       << (i * {_DH_W - 1} + j - 32))
                             ELSE 0 END) AS BIGINT) AS dhash_hi,
               CAST(SUM(CASE WHEN i * {_DH_W - 1} + j < 32
                             THEN b * (CAST(1 AS BIGINT)
                                       << (i * {_DH_W - 1} + j))
                             ELSE 0 END) AS BIGINT) AS dhash_lo
        FROM bits GROUP BY doc_id
    ), cl AS (
        SELECT dhash_hi, dhash_lo,
               CAST(MIN(doc_id) AS BIGINT) AS cluster_rep,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM h GROUP BY 1, 2
    )
    SELECT h.doc_id, h.dhash_hi, h.dhash_lo, cl.cluster_rep, cl.n_copies
    FROM h JOIN cl USING (dhash_hi, dhash_lo)
    """,
)
def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import dhash_raster

    d = t(spark, sf_dir, "documents").select("doc_id")
    rasters = d.select(
        "doc_id",
        F.lit(_DH_W).alias("width"),
        F.lit(_DH_H).alias("height"),
        F.expr(
            f"encode(concat_ws('', transform(sequence(0, {_DH_W * _DH_H - 1}),"
            " k -> chr(32 + (doc_id + k) % 64))), 'ISO-8859-1')"
        ).alias("payload"),
    )
    h = dhash_raster(rasters)
    cl = h.groupBy("dhash_hi", "dhash_lo").agg(
        F.min("doc_id").cast("bigint").alias("cluster_rep"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )
    return h.join(cl, ["dhash_hi", "dhash_lo"]).select(
        "doc_id", "dhash_hi", "dhash_lo", "cluster_rep", "n_copies"
    )


# --- F1-optimal threshold selection (round 4) -------------------------------
# Where should the quality gate actually cut? Sweep the classifier's
# own score deciles as candidate thresholds (element-selected logits —
# never interpolated, the cross-engine quantile rule) and report
# precision/recall/F1 at each, plus the F1-argmax rank — the eval that
# turns q_quality_classifier + q_calibration into an operating point.
# All counts are exact integers; precision/recall/F1 are single
# divisions (zero-guarded with CASE so no NaN/inf crosses engines);
# the argmax orders by the SAME F1 expression text both sides. Scale:
# the 9-row threshold table broadcasts against one scored-corpus scan
# — one grouped aggregate, never a per-threshold rescan.
_F1_EXPR = (
    "CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0"
    " ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END"
)


@_q(
    "q_f1_threshold",
    f"""
    WITH {_QC_SCORED_SQL}, avgc AS (
        SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM documents
    ), lab AS (
        SELECT s.doc_id, s.logit,
               CASE WHEN CAST(d.n_chars AS DOUBLE) > avgc.mean_chars
                    THEN 1 ELSE 0 END AS y
        FROM scored s
        JOIN documents d ON s.doc_id = d.doc_id
        CROSS JOIN avgc
    ), ranked AS (
        SELECT logit, doc_id, y,
               CAST(row_number() OVER (ORDER BY logit, doc_id) AS BIGINT)
                   AS rn
        FROM lab
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
    th AS (
        SELECT CAST(g.k AS BIGINT) AS k, r.logit AS thr
        FROM range(1, 10) g(k) CROSS JOIN nn
        JOIN ranked r ON r.rn = (g.k * nn.n) // 10
    ), agg AS (
        SELECT th.k, th.thr,
               CAST(COUNT(CASE WHEN l.y = 1 AND l.logit > th.thr THEN 1 END)
                    AS BIGINT) AS tp,
               CAST(COUNT(CASE WHEN l.y = 0 AND l.logit > th.thr THEN 1 END)
                    AS BIGINT) AS fp,
               CAST(COUNT(CASE WHEN l.y = 1 AND l.logit <= th.thr THEN 1 END)
                    AS BIGINT) AS fn
        FROM lab l CROSS JOIN th
        GROUP BY 1, 2
    )
    SELECT k, thr, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec,
           {_F1_EXPR} AS f1,
           CAST(row_number() OVER (ORDER BY {_F1_EXPR} DESC, k)
                AS BIGINT) AS f1_rank
    FROM agg
    """,
)
def q_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    avgc = docs.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
            "mean_chars"
        )
    )
    lab = (
        scored.join(docs, "doc_id")
        .crossJoin(F.broadcast(avgc))
        .select(
            "doc_id",
            "logit",
            F.when(F.col("n_chars").cast("double") > F.col("mean_chars"), 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    # documents are corpus-sized: rank via the range-partitioned
    # ranker (plans/rank.py) — never a single-partition sort
    ranked = global_rank(lab, ["logit", "doc_id"], rank_col="rn").select(
        "logit", "y", "rn"
    )
    nn = lab.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    kg = spark.range(1, 10).select(F.col("id").cast("bigint").alias("k"))
    th = (
        kg.crossJoin(F.broadcast(nn))
        .join(
            ranked,
            F.expr("(k * n) DIV 10") == F.col("rn"),
        )
        .select("k", F.col("logit").alias("thr"))
    )
    agg = (
        lab.crossJoin(F.broadcast(th))
        .groupBy("k", "thr")
        .agg(
            F.count(F.when((F.col("y") == 1) & (F.col("logit") > F.col("thr")), 1))
            .cast("bigint")
            .alias("tp"),
            F.count(F.when((F.col("y") == 0) & (F.col("logit") > F.col("thr")), 1))
            .cast("bigint")
            .alias("fp"),
            F.count(
                F.when((F.col("y") == 1) & (F.col("logit") <= F.col("thr")), 1)
            )
            .cast("bigint")
            .alias("fn"),
        )
    )
    return agg.selectExpr(
        "k",
        "thr",
        "tp",
        "fp",
        "fn",
        "CASE WHEN tp + fp = 0 THEN 0.0"
        " ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec",
        "CASE WHEN tp + fn = 0 THEN 0.0"
        " ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec",
        f"{_F1_EXPR} AS f1",
    ).withColumn(
        "f1_rank",
        F.row_number()
        # bounded: threshold grid — 9 rows
        .over(Window.orderBy(F.desc(F.expr(_F1_EXPR)), "k"))
        .cast("bigint"),
    )


# --- lift / cumulative-gains curve (round 4) --------------------------------
# The targeting read-out between q_calibration (reliability) and
# q_f1_threshold (operating point): rank the corpus by classifier
# score, cut into deciles under the (logit DESC, doc_id) TOTAL order,
# and report per-decile positives plus cumulative capture rate and
# lift vs the base rate. All counts exact integers; gain and lift are
# fixed-order division chains on identical IEEE inputs. Scale: one
# NTILE window over the scored scan + one grouped aggregate; the
# cumulative pass runs on 10 rows.
@_q(
    "q_lift_curve",
    f"""
    WITH {_QC_SCORED_SQL}, avgc AS (
        SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM documents
    ), lab AS (
        SELECT s.doc_id, s.logit,
               CASE WHEN CAST(d.n_chars AS DOUBLE) > avgc.mean_chars
                    THEN 1 ELSE 0 END AS y
        FROM scored s
        JOIN documents d ON s.doc_id = d.doc_id
        CROSS JOIN avgc
    ), bkt AS (
        SELECT y,
               CAST(NTILE(10) OVER (ORDER BY logit DESC, doc_id) AS BIGINT)
                   AS decile
        FROM lab
    ), agg AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM bkt GROUP BY decile
    ), cum AS (
        SELECT decile, n, n_pos,
               CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
               CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
               CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
               CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
        FROM agg
    )
    SELECT decile, n, n_pos, cum_n, cum_pos,
           CAST(cum_pos AS DOUBLE) / tot_pos AS gain,
           (CAST(cum_pos AS DOUBLE) / cum_n)
             / (CAST(tot_pos AS DOUBLE) / tot_n) AS lift
    FROM cum
    """,
)
def q_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    avgc = docs.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
            "mean_chars"
        )
    )
    lab = (
        scored.join(docs, "doc_id")
        .crossJoin(F.broadcast(avgc))
        .select(
            "doc_id",
            "logit",
            F.when(F.col("n_chars").cast("double") > F.col("mean_chars"), 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    # documents are corpus-sized: decile via the range-partitioned
    # ntile (plans/rank.py) — never a single-partition sort
    bkt = global_ntile(
        lab, [F.desc("logit"), "doc_id"], 10, bucket_col="decile"
    ).select("y", F.col("decile").cast("bigint").alias("decile"))
    agg = bkt.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    # bounded: decile aggregate — 10 rows
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    cum = agg.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(wc).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("bigint").alias("cum_pos"),
        F.sum("n").over(wt).cast("bigint").alias("tot_n"),
        F.sum("n_pos").over(wt).cast("bigint").alias("tot_pos"),
    )
    return cum.select(
        "decile",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        (F.col("cum_pos").cast("double") / F.col("tot_pos")).alias("gain"),
        (
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (F.col("tot_pos").cast("double") / F.col("tot_n"))
        ).alias("lift"),
    )


# --- vocabulary spectrum: hapax legomena / TTR / Guiraud (round 4) -------------
# The lexical-richness card next to q_vocab_coverage's rank curve:
# vocabulary size, token count, hapax (freq=1) and dis (freq=2)
# legomena, type-token ratio, hapax share, and Guiraud's R = V/sqrt(N)
# (the length-robust richness index — sqrt is IEEE-correctly-rounded so
# the one-liner is shared-text safe). Every count is an exact integer
# off ONE token-frequency aggregate (map-side combinable; the frequency
# relation is the same one q_vocab_coverage/q_zipf_audit build). Plan:
# explode → two combinable aggregates; no windows, no joins.
_HPX_TTR = "(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
_HPX_SHARE = "(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE))"
_HPX_GUIRAUD = "(CAST(vocab AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE)))"


@_q(
    "q_hapax",
    f"""
    WITH f AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(freq) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hapax,
               CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dis
        FROM f
    )
    SELECT vocab, n_tokens, hapax, dis,
           {_HPX_TTR} AS ttr, {_HPX_SHARE} AS hapax_share,
           {_HPX_GUIRAUD} AS guiraud_r
    FROM agg
    """,
)
def q_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    agg = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        F.sum(F.when(F.col("freq") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("dis"),
    )
    return agg.selectExpr(
        "vocab",
        "n_tokens",
        "hapax",
        "dis",
        f"{_HPX_TTR} AS ttr",
        f"{_HPX_SHARE} AS hapax_share",
        f"{_HPX_GUIRAUD} AS guiraud_r",
    )


# --- Brier score + skill vs climatology (round 4) ------------------------------
# Scoring-rule audit for the shared quality classifier, completing the
# eval pack (q_auc ranks, q_calibration bins, this SCORES). Probabilities
# never pass through a sigmoid (transcendental): the forecast is the
# rank-based empirical-CDF score p_i = (2r_i - 1) / (2n) under the
# pinned (logit, doc_id) total order. Then 4n^3 * Brier =
# sum((2r - 1 - 2n*y)^2) is an EXACT BIGINT, and the skill score vs the
# base-rate forecast reduces to BSS = 1 - bs_sc / (4n * P * (n - P)) —
# integers in, two fixed-order divisions out. Plan: one rank window
# (range-partitioned sort at scale) + one combinable fold.
_BR_BRIER = (
    "(CAST(bs_sc AS DOUBLE)"
    " / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
)
_BR_BSS = (
    "(1.0 - CAST(bs_sc AS DOUBLE)"
    " / (4.0 * CAST(n AS DOUBLE) * CAST(n_pos AS DOUBLE)"
    " * CAST(n - n_pos AS DOUBLE)))"
)


@_q(
    "q_brier",
    f"""
    WITH {_QC_SCORED_SQL}, avgc AS (
        SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM documents
    ), lab AS (
        SELECT s.doc_id, s.logit,
               CASE WHEN CAST(d.n_chars AS DOUBLE) > avgc.mean_chars
                    THEN 1 ELSE 0 END AS y
        FROM scored s
        JOIN documents d ON s.doc_id = d.doc_id
        CROSS JOIN avgc
    ), rk AS (
        SELECT y,
               CAST(row_number() OVER (ORDER BY logit, doc_id) AS BIGINT)
                   AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM lab
    ), agg AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM((2 * r - 1 - 2 * n * y) * (2 * r - 1 - 2 * n * y))
                    AS BIGINT) AS bs_sc
        FROM rk
    )
    SELECT n, n_pos, bs_sc, {_BR_BRIER} AS brier,
           CASE WHEN n_pos = 0 OR n_pos = n THEN NULL
                ELSE {_BR_BSS} END AS brier_skill
    FROM agg
    """,
)
def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    avgc = docs.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
            "mean_chars"
        )
    )
    lab = (
        scored.join(docs, "doc_id")
        .crossJoin(F.broadcast(avgc))
        .select(
            "doc_id",
            "logit",
            F.when(
                F.col("n_chars").cast("double") > F.col("mean_chars"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
    )
    # documents are corpus-sized: rank + total via the range-
    # partitioned ranker (plans/rank.py) — never a single-partition sort
    rk = global_rank(
        lab, ["logit", "doc_id"], rank_col="r", total_col="n"
    ).select("y", "r", "n")
    agg = rk.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(
            (2 * F.col("r") - 1 - 2 * F.col("n") * F.col("y"))
            * (2 * F.col("r") - 1 - 2 * F.col("n") * F.col("y"))
        )
        .cast("bigint")
        .alias("bs_sc"),
    )
    return agg.selectExpr(
        "n",
        "n_pos",
        "bs_sc",
        f"{_BR_BRIER} AS brier",
        f"CASE WHEN n_pos = 0 OR n_pos = n THEN NULL"
        f" ELSE {_BR_BSS} END AS brier_skill",
    )


# --- isotonic calibration via the minimax identity (round 4) -------------------
# The monotone recalibration step after q_calibration's reliability
# table: the isotonic (PAVA) fit over the 10 score deciles, computed in
# ONE declarative pass through the minimax identity
# iso(i) = max_{j<=i} min_{k>=i} rate(j..k) — mathematically equal to
# pool-adjacent-violators but expressible as interval enumeration over
# the O(B) bucket relation (B=10 → 55 intervals), no sequential loop,
# no driver round-trips. Interval rates are single divisions of exact
# integer cumulative sums; min/max over identically-computed doubles
# are engine-consistent. Plan: everything after the NTILE window runs
# on O(B²) rows regardless of corpus size.
_ISO_P = "(CAST(ipos AS DOUBLE) / CAST(inn AS DOUBLE))"


@_q(
    "q_isotonic",
    f"""
    WITH {_QC_SCORED_SQL}, avgc AS (
        SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM documents
    ), lab AS (
        SELECT s.doc_id, s.logit,
               CASE WHEN CAST(d.n_chars AS DOUBLE) > avgc.mean_chars
                    THEN 1 ELSE 0 END AS y
        FROM scored s
        JOIN documents d ON s.doc_id = d.doc_id
        CROSS JOIN avgc
    ), bkt AS (
        SELECT y, NTILE(10) OVER (ORDER BY logit, doc_id) AS bucket
        FROM lab
    ), ba AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM bkt GROUP BY bucket
    ), cum AS (
        SELECT bucket, n, pos,
               CAST(SUM(n) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn,
               CAST(SUM(pos) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cpos
        FROM ba
    ), iv AS (
        SELECT a.bucket AS j, b.bucket AS k,
               CAST(b.cpos - a.cpos + a.pos AS BIGINT) AS ipos,
               CAST(b.cn - a.cn + a.n AS BIGINT) AS inn
        FROM cum a JOIN cum b ON a.bucket <= b.bucket
    ), perj AS (
        SELECT ba.bucket, iv.j, MIN({_ISO_P}) AS minp
        FROM ba JOIN iv ON iv.j <= ba.bucket AND iv.k >= ba.bucket
        GROUP BY ba.bucket, iv.j
    ), fit AS (
        SELECT bucket, MAX(minp) AS iso_rate FROM perj GROUP BY bucket
    )
    SELECT CAST(ba.bucket AS INTEGER) AS bucket, ba.n, ba.pos,
           CAST(ba.pos AS DOUBLE) / CAST(ba.n AS DOUBLE) AS obs_rate,
           fit.iso_rate
    FROM ba JOIN fit ON ba.bucket = fit.bucket
    ORDER BY bucket
    """,
)
def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    avgc = docs.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
            "mean_chars"
        )
    )
    lab = (
        scored.join(docs, "doc_id")
        .crossJoin(F.broadcast(avgc))
        .select(
            "doc_id",
            "logit",
            F.when(
                F.col("n_chars").cast("double") > F.col("mean_chars"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
    )
    # documents are corpus-sized: bucket via the range-partitioned
    # ntile (plans/rank.py) — never a single-partition sort
    bkt = global_ntile(
        lab, ["logit", "doc_id"], 10, bucket_col="bucket"
    ).select("y", "bucket")
    ba = bkt.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = ba.select(
        "bucket",
        "n",
        "pos",
        F.sum("n").over(wcum).cast("bigint").alias("cn"),
        F.sum("pos").over(wcum).cast("bigint").alias("cpos"),
    )
    a = cum.alias("a")
    b = cum.alias("b")
    iv = a.join(b, F.col("a.bucket") <= F.col("b.bucket")).select(
        F.col("a.bucket").alias("j"),
        F.col("b.bucket").alias("k"),
        (F.col("b.cpos") - F.col("a.cpos") + F.col("a.pos"))
        .cast("bigint")
        .alias("ipos"),
        (F.col("b.cn") - F.col("a.cn") + F.col("a.n"))
        .cast("bigint")
        .alias("inn"),
    )
    perj = (
        ba.select("bucket")
        .join(
            iv,
            (F.col("j") <= F.col("bucket")) & (F.col("k") >= F.col("bucket")),
        )
        .groupBy("bucket", "j")
        .agg(F.min(F.expr(_ISO_P)).alias("minp"))
    )
    fit = perj.groupBy("bucket").agg(F.max("minp").alias("iso_rate"))
    return (
        ba.join(fit, "bucket")
        .selectExpr(
            "CAST(bucket AS INTEGER) AS bucket",
            "n",
            "pos",
            "CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS obs_rate",
            "iso_rate",
        )
        .orderBy("bucket")
    )


# --- Gini-impurity information gain feature ranking (round 4) ------------------
# The decision-tree split criterion as a feature-selection audit: which
# document feature (source, length decile, digit presence) best
# separates the language label? Gini gain avoids entropy's logarithm
# (module exactness policy): parent impurity (n² - Σc²)/n² and each
# child term (n_b² - Σc_b²)/(n·n_b) are rationals of exact integers;
# per-child terms are 1e-12-quantized so the cross-child sum is
# order-free. Plan: one long-format (feature, value, label) relation →
# two combinable aggregates; output O(|features|).
_GG_PARENT = (
    "(CAST(n * n - sc2 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
)
_GG_TERM = (
    "CAST(floor((CAST(nb * nb - sc2b AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(nb AS DOUBLE)))"
    " * 1000000000000.0 + 0.5) AS BIGINT)"
)
_GG_CHILD = "(CAST(tsum AS DOUBLE) / 1000000000000.0)"


@_q(
    "q_gini_gain",
    f"""
    WITH dl AS (
        SELECT doc_id, lang, source, text, n_chars,
               NTILE(10) OVER (ORDER BY n_chars, doc_id) AS len_decile
        FROM documents
    ), long AS (
        SELECT 'source' AS feature, source AS fval, lang FROM dl
        UNION ALL
        SELECT 'len_decile' AS feature, CAST(len_decile AS VARCHAR) AS fval,
               lang
        FROM dl
        UNION ALL
        SELECT 'has_digits' AS feature,
               CASE WHEN regexp_matches(text, '[0-9]') THEN 'y' ELSE 'n' END
                   AS fval,
               lang
        FROM dl
    ), parent AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * c) AS BIGINT) AS sc2
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM dl GROUP BY lang)
    ), cells AS (
        SELECT feature, fval, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM long GROUP BY 1, 2, 3
    ), byval AS (
        SELECT feature, fval,
               CAST(SUM(c) AS BIGINT) AS nb,
               CAST(SUM(c * c) AS BIGINT) AS sc2b
        FROM cells GROUP BY 1, 2
    ), terms AS (
        SELECT feature, fval, nb, sc2b, {_GG_TERM} AS term
        FROM byval CROSS JOIN parent
    ), perf AS (
        SELECT feature,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(SUM(term) AS BIGINT) AS tsum
        FROM terms GROUP BY feature
    )
    SELECT feature, n_values,
           {_GG_PARENT} AS gini_parent,
           {_GG_CHILD} AS gini_children,
           ({_GG_PARENT} - {_GG_CHILD}) AS gain
    FROM perf CROSS JOIN parent
    ORDER BY gain DESC, feature
    """,
)
def q_gini_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    # documents are corpus-sized: decile via the range-partitioned
    # ntile (plans/rank.py) — never a single-partition sort
    dl = global_ntile(
        d.select("doc_id", "lang", "source", "text", "n_chars"),
        ["n_chars", "doc_id"],
        10,
        bucket_col="len_decile",
    )
    long = (
        dl.selectExpr("'source' AS feature", "source AS fval", "lang")
        .unionAll(
            dl.selectExpr(
                "'len_decile' AS feature",
                "CAST(len_decile AS STRING) AS fval",
                "lang",
            )
        )
        .unionAll(
            dl.selectExpr(
                "'has_digits' AS feature",
                "CASE WHEN text RLIKE '[0-9]' THEN 'y' ELSE 'n' END AS fval",
                "lang",
            )
        )
    )
    parent = (
        dl.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
        )
    )
    cells = long.groupBy("feature", "fval", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    byval = cells.groupBy("feature", "fval").agg(
        F.sum("c").cast("bigint").alias("nb"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2b"),
    )
    terms = byval.crossJoin(F.broadcast(parent)).selectExpr(
        "feature", "fval", "nb", "sc2b", f"{_GG_TERM} AS term"
    )
    perf = terms.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum("term").cast("bigint").alias("tsum"),
    )
    return (
        perf.crossJoin(F.broadcast(parent))
        .selectExpr(
            "feature",
            "n_values",
            f"{_GG_PARENT} AS gini_parent",
            f"{_GG_CHILD} AS gini_children",
            f"({_GG_PARENT} - {_GG_CHILD}) AS gain",
        )
        .orderBy(F.desc("gain"), "feature")
    )


# --- bigram collocation mining by lift (round 4) --------------------------------
# Log-free collocation strength (PMI's exp-domain twin): for adjacent
# token pairs, lift = N * c(a,b) / (left(a) * right(b)) — a pure ratio
# of exact integer counts, where left/right are the bigram-corpus
# marginals. Bigrams are built IN-ROW with the q_lm_novelty array
# transform (no self-join); candidates are df-floored (c >= 5) before
# ranking; top 20 under a pinned (lift, a, b) order. Plan: one explode
# + three combinable aggregates; the marginal joins hit aggregated
# relations only.
_COL_LIFT = (
    "(CAST(nb AS DOUBLE) * CAST(c AS DOUBLE)"
    " / (CAST(la AS DOUBLE) * CAST(rb AS DOUBLE)))"
)


@_q(
    "q_collocations",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1]))
                 AS bigram
        FROM tok
    ), ab AS (
        SELECT split_part(bigram, ' ', 1) AS a,
               split_part(bigram, ' ', 2) AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM bg GROUP BY 1, 2
    ), lm AS (
        SELECT a, CAST(SUM(c) AS BIGINT) AS la FROM ab GROUP BY a
    ), rm AS (
        SELECT b, CAST(SUM(c) AS BIGINT) AS rb FROM ab GROUP BY b
    ), nb AS (
        SELECT CAST(SUM(c) AS BIGINT) AS nb FROM ab
    ), scored AS (
        SELECT ab.a, ab.b, ab.c, lm.la, rm.rb, nb.nb,
               {_COL_LIFT} AS lift
        FROM ab JOIN lm USING (a) JOIN rm USING (b) CROSS JOIN nb
        WHERE ab.c >= 5
    ), rk AS (
        SELECT a, b, c, lift,
               row_number() OVER (ORDER BY lift DESC, a, b) AS rn
        FROM scored
    )
    SELECT a, b, c, lift, CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 20
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # tr(): bigram transform + explode fused into the single scan task
    # (round-12 sweep); A/B 2.8 -> 2.0 s at sf0.1.
    d = tr(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bg = d.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    ab = bg.select(
        F.expr("split_part(bigram, ' ', 1)").alias("a"),
        F.expr("split_part(bigram, ' ', 2)").alias("b"),
    ).groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    lm = ab.groupBy("a").agg(F.sum("c").cast("bigint").alias("la"))
    rm = ab.groupBy("b").agg(F.sum("c").cast("bigint").alias("rb"))
    nb = ab.agg(F.sum("c").cast("bigint").alias("nb"))
    scored = (
        ab.where(F.col("c") >= 5)
        .join(lm, "a")
        .join(rm, "b")
        .crossJoin(F.broadcast(nb))
        .selectExpr("a", "b", "c", "la", "rb", "nb", f"{_COL_LIFT} AS lift")
    )
    rk = scored.select(
        "a",
        "b",
        "c",
        "lift",
        F.row_number()
        # bounded: bigram vocabulary — aggregate-sized, not the token stream
        .over(Window.orderBy(F.desc("lift"), "a", "b"))
        .alias("rn"),
    )
    return rk.where(F.col("rn") <= 20).selectExpr(
        "a", "b", "c", "lift", "CAST(rn AS INTEGER) AS rank"
    )


# --- rank-biased overlap between source vocabularies (round 4) -----------------
# Search-eval's top-weighted rank similarity, here comparing the top-20
# token rankings of the alphabetically first and last sources. With
# persistence p = 1/2 the weights are DYADIC, so each depth's term
# (1-p)·p^(d-1)·overlap@d/d = overlap_d / (d·2^d) quantizes exactly as
# the integer (overlap_d · 10^15) // (d · 2^d) — an order-free sum, one
# closing division. Truncated RBO@20 (documented; the tail beyond K
# carries weight 2^-K < 1e-6). Plan: two per-source frequency
# aggregates, rank windows on the O(|vocab|) relations, a K×K-bounded
# join, and a 20-row depth fold.
_RBO_K = 20


@_q(
    "q_rbo",
    f"""
    WITH srcs AS (
        SELECT MIN(source) AS sa, MAX(source) AS sb FROM documents
    ), fa AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents JOIN srcs ON documents.source = srcs.sa)
        GROUP BY token
    ), fb AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents JOIN srcs ON documents.source = srcs.sb)
        GROUP BY token
    ), ra AS (
        SELECT token,
               CAST(row_number() OVER (ORDER BY freq DESC, token)
                    AS BIGINT) AS r
        FROM fa QUALIFY r <= {_RBO_K}
    ), rb AS (
        SELECT token,
               CAST(row_number() OVER (ORDER BY freq DESC, token)
                    AS BIGINT) AS r
        FROM fb QUALIFY r <= {_RBO_K}
    ), common AS (
        SELECT CAST(greatest(ra.r, rb.r) AS BIGINT) AS mind
        FROM ra JOIN rb USING (token)
    ), depths AS (
        SELECT CAST(t.i AS BIGINT) AS d
        FROM UNNEST(range(1, {_RBO_K} + 1)) AS t(i)
    ), ov AS (
        SELECT d.d,
               CAST((SELECT COUNT(*) FROM common WHERE mind <= d.d)
                    AS BIGINT) AS x
        FROM depths d
    ), terms AS (
        SELECT CAST((x * 1000000000000000) // (d * (CAST(1 AS BIGINT) << CAST(d AS INTEGER)))
                    AS BIGINT) AS tq,
               CASE WHEN d = {_RBO_K} THEN x ELSE NULL END AS xk
        FROM ov
    )
    SELECT (SELECT sa FROM srcs) AS source_a,
           (SELECT sb FROM srcs) AS source_b,
           CAST({_RBO_K} AS BIGINT) AS k,
           CAST(MAX(xk) AS BIGINT) AS overlap_at_k,
           CAST(SUM(tq) AS DOUBLE) / 1000000000000000.0 AS rbo
    FROM terms
    """,
)
def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    srcs = d.agg(F.min("source").alias("sa"), F.max("source").alias("sb"))

    def _top(side: str):
        f = (
            d.join(F.broadcast(srcs), F.col("source") == F.col(side))
            .select(F.explode(F.split("text", " ")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        )
        r = f.select(
            "token",
            F.row_number()
            # bounded: token vocabulary — Heaps-sublinear aggregate, not the token stream
            .over(Window.orderBy(F.desc("freq"), "token"))
            .cast("bigint")
            .alias("r"),
        )
        return r.where(F.col("r") <= _RBO_K)

    ra = _top("sa")
    rb = _top("sb").selectExpr("token", "r AS r_b")
    common = ra.join(rb, "token").select(
        F.greatest(F.col("r"), F.col("r_b")).cast("bigint").alias("mind")
    )
    depths = local_rows(spark, [(i,) for i in range(1, _RBO_K + 1)], "d bigint")
    # left join so an empty intersection still yields x=0 at every depth
    # (a bare cross join would drop all depth rows).
    ov = (
        depths.join(common, F.lit(True), "left")
        .groupBy("d")
        .agg(
            F.sum(
                F.when(
                    F.col("mind").isNotNull() & (F.col("mind") <= F.col("d")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("x")
        )
    )
    terms = ov.selectExpr(
        "CAST((x * 1000000000000000) DIV (d * shiftleft(CAST(1 AS BIGINT),"
        " CAST(d AS INT))) AS BIGINT) AS tq",
        f"CASE WHEN d = {_RBO_K} THEN x ELSE NULL END AS xk",
    )
    agg = terms.agg(
        F.max("xk").cast("bigint").alias("overlap_at_k"),
        (F.sum("tq").cast("double") / F.lit(1_000_000_000_000_000.0)).alias(
            "rbo"
        ),
    )
    return agg.crossJoin(F.broadcast(srcs)).selectExpr(
        "sa AS source_a",
        "sb AS source_b",
        f"CAST({_RBO_K} AS BIGINT) AS k",
        "overlap_at_k",
        "rbo",
    )


# --- token burst detection between corpus halves (round 4) ---------------------
# Which vocabulary is RISING? Split the corpus by doc_id median into
# v1/v2, score every token by the add-one-smoothed frequency ratio
# (c2+1)/(c1+1) with a min-total-count floor, and rank the top 15
# risers under a pinned (ratio, token) order. All counts exact
# integers; the ratio is one division of identically-computed values.
# Plan: one token-frequency aggregate per half off one explode (the
# half flag rides the row), marginal joins on aggregated relations.
_TB_RATIO = "(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + 1 AS DOUBLE))"


@_q(
    "q_token_burst",
    f"""
    WITH med AS (
        SELECT CAST(MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2
                    AS BIGINT) AS split_id
        FROM documents
    ), tok AS (
        SELECT CASE WHEN doc_id <= split_id THEN 1 ELSE 2 END AS half,
               unnest(string_split(text, ' ')) AS token
        FROM documents CROSS JOIN med
    ), f AS (
        SELECT token,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
        FROM tok GROUP BY token
    ), s AS (
        SELECT token, c1, c2, {_TB_RATIO} AS ratio
        FROM f WHERE c1 + c2 >= 10
    ), rk AS (
        SELECT token, c1, c2, ratio,
               row_number() OVER (ORDER BY ratio DESC, token) AS rn
        FROM s
    )
    SELECT token, c1, c2, ratio, CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 15
    """,
)
def q_token_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    med = d.agg(
        F.expr(
            "CAST(MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) DIV 2"
            " AS BIGINT)"
        ).alias("split_id")
    )
    tok = (
        d.crossJoin(F.broadcast(med))
        .select(
            F.when(F.col("doc_id") <= F.col("split_id"), 1)
            .otherwise(2)
            .alias("half"),
            F.explode(F.split("text", " ")).alias("token"),
        )
    )
    f = tok.groupBy("token").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    s = f.where(F.col("c1") + F.col("c2") >= 10).selectExpr(
        "token", "c1", "c2", f"{_TB_RATIO} AS ratio"
    )
    rk = s.select(
        "*",
        F.row_number()
        # bounded: per-token ratio relation — vocabulary-sized aggregate
        .over(Window.orderBy(F.desc("ratio"), "token"))
        .alias("rn"),
    )
    return rk.where(F.col("rn") <= 15).selectExpr(
        "token", "c1", "c2", "ratio", "CAST(rn AS INTEGER) AS rank"
    )


# --- chi-square keyness: distinctive tokens per language (round 4) --------------
# Corpus-linguistics keyness without logs (log-likelihood G² is
# transcendental; Pearson chi² carries the same ranking): for every
# (token, lang) 2×2 table, chi² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)),
# computed in the shared-text double domain over exact integer cells
# ((ad−bc)² overflows int64 at corpus scale), candidates floored at
# a >= 5, top 10 per language under a pinned (chi², token) order.
# Plan: one token-frequency aggregate per (token, lang) + broadcast
# marginals; ranking on the floored candidate relation.
_KY_CHI2 = (
    "(CAST(nn AS DOUBLE)"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
    "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))"
)


@_q(
    "q_keyness",
    f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), tl AS (
        SELECT token, lang, CAST(COUNT(*) AS BIGINT) AS a
        FROM tok GROUP BY 1, 2
    ), tw AS (
        SELECT token, CAST(SUM(a) AS BIGINT) AS cw FROM tl GROUP BY token
    ), lg AS (
        SELECT lang, CAST(SUM(a) AS BIGINT) AS nl FROM tl GROUP BY lang
    ), nn AS (
        SELECT CAST(SUM(a) AS BIGINT) AS nn FROM tl
    ), cells AS (
        SELECT tl.token, tl.lang, tl.a,
               CAST(tw.cw - tl.a AS BIGINT) AS b,
               CAST(lg.nl - tl.a AS BIGINT) AS c,
               CAST(nn.nn - lg.nl - (tw.cw - tl.a) AS BIGINT) AS d,
               nn.nn
        FROM tl
        JOIN tw ON tl.token = tw.token
        JOIN lg ON tl.lang = lg.lang
        CROSS JOIN nn
        WHERE tl.a >= 5
    ), scored AS (
        SELECT token, lang, a, {_KY_CHI2} AS chi2 FROM cells
    ), rk AS (
        SELECT lang, token, a, chi2,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY chi2 DESC, token) AS rn
        FROM scored
    )
    SELECT lang, token, a AS count_in_lang, chi2, CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 10 ORDER BY lang, rank
    """,
)
def q_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    tl = tok.groupBy("token", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    tw = tl.groupBy("token").agg(F.sum("a").cast("bigint").alias("cw"))
    lg = tl.groupBy("lang").agg(F.sum("a").cast("bigint").alias("nl"))
    nn = tl.agg(F.sum("a").cast("bigint").alias("nn"))
    cells = (
        tl.where(F.col("a") >= 5)
        .join(tw, "token")
        .join(F.broadcast(lg), "lang")
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "token",
            "lang",
            "a",
            "CAST(cw - a AS BIGINT) AS b",
            "CAST(nl - a AS BIGINT) AS c",
            "CAST(nn - nl - (cw - a) AS BIGINT) AS d",
            "nn",
        )
    )
    scored = cells.selectExpr("token", "lang", "a", f"{_KY_CHI2} AS chi2")
    rk = scored.select(
        "lang",
        "token",
        "a",
        "chi2",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.desc("chi2"), "token"))
        .alias("rn"),
    )
    return (
        rk.where(F.col("rn") <= 10)
        .selectExpr(
            "lang",
            "token",
            "a AS count_in_lang",
            "chi2",
            "CAST(rn AS INTEGER) AS rank",
        )
        .orderBy("lang", "rank")
    )


# --- pairwise source vocabulary Jaccard (round 4) --------------------------------
# Corpus-composition overlap matrix: for every source pair, the
# Jaccard similarity of their TOKEN TYPE sets (|∩| / |∪| on exact
# integer set sizes). The intersection comes from a token-keyed join
# of the aggregated (source, token) distinct relation — never a
# doc-level pair join. Plan: one distinct aggregate, one token-keyed
# equi-join producing the O(pairs) counts, broadcast sizes.
@_q(
    "q_source_jaccard",
    """
    WITH st AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), sz AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY source
    ), inter AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.sa, i.sb, za.n AS vocab_a, zb.n AS vocab_b, i.inter,
           CAST(i.inter AS DOUBLE)
               / CAST(za.n + zb.n - i.inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sz za ON za.source = i.sa
    JOIN sz zb ON zb.source = i.sb
    ORDER BY sa, sb
    """,
)
def q_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    st = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    sz = st.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = st.alias("a")
    b = st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    za = sz.selectExpr("source AS sa", "n AS vocab_a")
    zb = sz.selectExpr("source AS sb", "n AS vocab_b")
    return (
        inter.join(F.broadcast(za), "sa")
        .join(F.broadcast(zb), "sb")
        .selectExpr(
            "sa",
            "sb",
            "vocab_a",
            "vocab_b",
            "inter",
            "CAST(inter AS DOUBLE)"
            " / CAST(vocab_a + vocab_b - inter AS DOUBLE) AS jaccard",
        )
        .orderBy("sa", "sb")
    )


# --- Chao1 vocabulary richness + Good-Turing missing mass (round 4) -------------
# How much vocabulary has the corpus NOT shown yet? Chao1's lower
# bound V + N1²/(2·N2) on total richness and the Good-Turing unseen
# probability mass N1/N — the coverage numbers a corpus card should
# carry next to q_hapax's spectrum. Both are single divisions of exact
# integer spectrum counts (no logs, no iteration). Plan: the same one
# token-frequency aggregate as q_hapax + an O(1) fold.
_C1_CHAO = (
    "(CAST(vocab AS DOUBLE) + CAST(n1 * n1 AS DOUBLE)"
    " / (2.0 * CAST(n2 AS DOUBLE)))"
)
_C1_GT = "(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))"


@_q(
    "q_chao1",
    f"""
    WITH f AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(freq) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM f
    )
    SELECT vocab, n_tokens, n1, n2,
           CASE WHEN n2 = 0 THEN NULL ELSE {_C1_CHAO} END AS chao1_richness,
           {_C1_GT} AS unseen_mass
    FROM agg
    """,
)
def q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    agg = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("freq") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    return agg.selectExpr(
        "vocab",
        "n_tokens",
        "n1",
        "n2",
        f"CASE WHEN n2 = 0 THEN NULL ELSE {_C1_CHAO} END AS chao1_richness",
        f"{_C1_GT} AS unseen_mass",
    )


# --- cross-source duplicate contamination (round 4) ------------------------------
# Dedup governance: of the exact-duplicate fingerprint groups (the
# q_dedup_exact md5 contract), how many span MORE THAN ONE source —
# i.e. how much duplication is cross-source contamination (mirrored
# scrapes) vs within-source noise? Exact integer counts; output one
# row. Plan: one fingerprint aggregate carrying count + distinct
# sources, one fold.
@_q(
    "q_cross_source_dups",
    """
    WITH fp AS (
        SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                   AS fp,
               source
        FROM documents
    ), grp AS (
        SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM fp GROUP BY fp
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dup_groups,
               CAST(SUM(CASE WHEN n_docs > 1 AND n_sources > 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS cross_source_groups,
               CAST(SUM(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END)
                    AS BIGINT) AS dup_docs
        FROM grp
    )
    SELECT n_groups, dup_groups, cross_source_groups, dup_docs,
           CASE WHEN dup_groups = 0 THEN NULL
                ELSE CAST(cross_source_groups AS DOUBLE)
                     / CAST(dup_groups AS DOUBLE) END AS cross_source_share
    FROM agg
    """,
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    fp = d.select(F.md5(norm).alias("fp"), "source")
    grp = fp.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    agg = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("dup_groups"),
        F.sum(
            F.when((F.col("n_docs") > 1) & (F.col("n_sources") > 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("cross_source_groups"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("dup_docs"),
    )
    return agg.selectExpr(
        "n_groups",
        "dup_groups",
        "cross_source_groups",
        "dup_docs",
        "CASE WHEN dup_groups = 0 THEN NULL"
        " ELSE CAST(cross_source_groups AS DOUBLE)"
        " / CAST(dup_groups AS DOUBLE) END AS cross_source_share",
    )


# ===================== round-5 additions ====================================


# --- within-document shingle self-repetition (round 5) ----------------------
# The document-internal half of the dedup story: corpus-level dedup
# (q_line_dedup, q_winnow_*) finds text repeated ACROSS documents, but a
# looping generator repeats itself WITHIN one document — the Gopher-era
# "duplicate n-gram fraction" filter. Per doc: total 3-token shingles,
# distinct shingles, and the duplicate fraction 1 - distinct/total.
# Exact integer counts, one shared-text division. Plan: one explode
# (shingles derived JVM-side via zip_with over sliced token arrays — no
# Python) + one (doc, shingle) hash aggregate + one doc rollup; at
# 100 TB all three are map-side combinable on doc-local keys, zero
# cross-doc traffic.
@_q(
    "q_doc_selfrep",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (
        SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS r(i)
        WHERE len(tk) >= 3
    ), per AS (
        SELECT doc_id, shingle, COUNT(*) AS c FROM sh GROUP BY doc_id, shingle
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup,
           1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
               AS dup_frac
    FROM per GROUP BY doc_id
    """,
)
def q_doc_selfrep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tr: the shingle explode + per-doc n-gram aggregation otherwise fuses
    # into the single scan task of the one-row-group documents file
    # (round-11 A/B: 1.15 -> 0.69 s; no-op at production row-group counts).
    d = tr(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(tk, 1, size(tk) - 2),"
                    " zip_with(slice(tk, 2, size(tk) - 2),"
                    "          slice(tk, 3, size(tk) - 2),"
                    "          (b, c) -> b || ' ' || c),"
                    " (a, bc) -> a || ' ' || bc)"
                )
            ).alias("shingle"),
        )
    )
    per = sh.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_shingles"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        (F.sum("c") - F.count(F.lit(1))).cast("bigint").alias("n_dup"),
        (
            F.lit(1.0)
            - F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")
        ).alias("dup_frac"),
    )


# --- dedup-induced source-mix bias audit (round 5) ---------------------------
# Dedup is not free: keep-first dedup preferentially deletes from
# whichever sources duplicate others, silently shifting the training
# mixture. This audit reports, per source, the corpus share BEFORE and
# AFTER keep-first dedup on the 32-char prefix fingerprint (the
# q_source_overlap blocking key — the fixture carries real cross-source
# prefix collisions at every scale), plus the mixture's total-variation
# shift as the headline number. Exactness: keep-first = (min doc_id per
# fingerprint) — a deterministic integer choice; shares are exact
# integer ratios; the TV term |n_after * N_before - n_before * N_after|
# accumulates as exact BIGINTs (<= N² ~ 2.5e7 at sf0.1) over a window,
# normalized once. Plan: one fingerprint groupBy (the exact-dedup
# shuffle) + two per-source counts + an O(|sources|) window — nothing
# touches raw text twice.
@_q(
    "q_dedup_bias",
    """
    WITH fp AS (
        SELECT doc_id, source, substr(text, 1, 32) AS f FROM documents
    ), kept AS (
        SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f
    ), before AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before FROM fp
        GROUP BY source
    ), after AS (
        SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_after
        FROM fp p JOIN kept k ON k.keep_id = p.doc_id
        GROUP BY p.source
    ), j AS (
        SELECT b.source, b.n_before, COALESCE(a.n_after, 0) AS n_after,
               CAST(SUM(b.n_before) OVER () AS BIGINT) AS tb,
               CAST(SUM(COALESCE(a.n_after, 0)) OVER () AS BIGINT) AS ta
        FROM before b LEFT JOIN after a ON a.source = b.source
    )
    SELECT source, n_before, CAST(n_after AS BIGINT) AS n_after,
           CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE) AS share_before,
           CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE) AS share_after,
           CAST(SUM(abs(n_after * tb - n_before * ta)) OVER () AS DOUBLE)
             / (2.0 * CAST(tb AS DOUBLE) * CAST(ta AS DOUBLE)) AS mixture_tv
    FROM j
    """,
)
def q_dedup_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    fp = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 32).alias("f")
    )
    kept = fp.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    before = fp.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    after = (
        fp.join(kept, fp.doc_id == kept.keep_id, "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_after"))
    )
    # bounded: per-source aggregate — O(|sources|) rows
    wall = Window.partitionBy()
    j = (
        before.join(after, "source", "left")
        .na.fill({"n_after": 0})
        .select(
            "source",
            "n_before",
            "n_after",
            F.sum("n_before").over(wall).cast("bigint").alias("tb"),
            F.sum("n_after").over(wall).cast("bigint").alias("ta"),
        )
    )
    j = j.withColumn(
        "term", F.abs(F.col("n_after") * F.col("tb") - F.col("n_before") * F.col("ta"))
    )
    return j.select(
        "source",
        "n_before",
        F.col("n_after").cast("bigint").alias("n_after"),
        (F.col("n_before").cast("double") / F.col("tb").cast("double")).alias(
            "share_before"
        ),
        (F.col("n_after").cast("double") / F.col("ta").cast("double")).alias(
            "share_after"
        ),
        (
            F.sum("term").over(wall).cast("double")
            / (F.lit(2.0) * F.col("tb").cast("double") * F.col("ta").cast("double"))
        ).alias("mixture_tv"),
    )


# --- payload byte histogram via the Arrow kernel (round 5) --------------------
# Drives functions/multimodal.byte_histogram through the driver gate
# with a first-principles oracle: the payload is the document's ASCII
# text bytes (with_media_struct), so bin = ord(char) // 16 and the
# oracle histograms codepoints with generate_series — bit-identical to
# the kernel's np.bincount for ASCII corpora (the fixture is verified
# all-ASCII; non-ASCII payloads would differ byte-vs-codepoint and
# belong to the rows-only decode family). Value-checks the Arrow
# batch plumbing the same way q_multimodal_resize pins its kernel.
@_q(
    "q_payload_histogram",
    """
    WITH ch AS (
        SELECT doc_id, ord(substr(text, g.i, 1)) // 16 AS bin
        FROM documents, UNNEST(generate_series(1, length(text))) AS g(i)
    )
    SELECT doc_id, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_bytes
    FROM ch GROUP BY doc_id, bin
    """,
)
def q_payload_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import (
        byte_histogram,
        with_media_struct,
    )

    docs = t(spark, sf_dir, "documents")
    return byte_histogram(with_media_struct(docs))


# --- Snorkel-style weak labeling (round 5) -------------------------------------
# Programmatic supervision: three deterministic labeling functions vote
# on whether a document is "high quality" (1) or not (0), abstaining
# (NULL) outside their competence: LF1 length (n_chars >= 200 -> 1,
# < 80 -> 0, else abstain), LF2 lexical diversity (distinct-token ratio
# >= 0.55 -> 1, <= 0.35 -> 0), LF3 repetition (top-token share <= 0.08
# -> 1, >= 0.2 -> 0). The weak label is the majority of non-abstaining
# votes (ties -> NULL), the standard label-model baseline. Output per
# doc: the three votes, vote counts, and the majority label — all
# integer comparisons on exact counts; thresholds are shared literals.
# Plan: one token aggregate per doc (combinable) + per-row CASE chains;
# zero joins beyond the doc-local rollup.
@_q(
    "q_weak_labels",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), tc AS (
        SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
    ), feat AS (
        SELECT d.doc_id, d.n_chars,
               CAST(SUM(tc.c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(tc.c) AS BIGINT) AS top_count
        FROM documents d JOIN tc ON tc.doc_id = d.doc_id
        GROUP BY d.doc_id, d.n_chars
    ), votes AS (
        SELECT doc_id,
               CASE WHEN n_chars >= 200 THEN 1
                    WHEN n_chars < 80 THEN 0 END AS lf_length,
               CASE WHEN n_distinct * 100 >= 55 * n_tokens THEN 1
                    WHEN n_distinct * 100 <= 35 * n_tokens THEN 0
               END AS lf_diversity,
               CASE WHEN top_count * 100 <= 8 * n_tokens THEN 1
                    WHEN top_count * 100 >= 20 * n_tokens THEN 0
               END AS lf_repetition
        FROM feat
    )
    SELECT doc_id, lf_length, lf_diversity, lf_repetition,
           CAST(COALESCE(lf_length, 0) + COALESCE(lf_diversity, 0)
                + COALESCE(lf_repetition, 0) AS BIGINT) AS n_pos,
           CAST((CASE WHEN lf_length IS NULL THEN 0 ELSE 1 END)
                + (CASE WHEN lf_diversity IS NULL THEN 0 ELSE 1 END)
                + (CASE WHEN lf_repetition IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_votes,
           CASE WHEN 2 * (COALESCE(lf_length, 0) + COALESCE(lf_diversity, 0)
                          + COALESCE(lf_repetition, 0))
                     > (CASE WHEN lf_length IS NULL THEN 0 ELSE 1 END)
                       + (CASE WHEN lf_diversity IS NULL THEN 0 ELSE 1 END)
                       + (CASE WHEN lf_repetition IS NULL THEN 0 ELSE 1 END)
                THEN 1
                WHEN 2 * (COALESCE(lf_length, 0) + COALESCE(lf_diversity, 0)
                          + COALESCE(lf_repetition, 0))
                     < (CASE WHEN lf_length IS NULL THEN 0 ELSE 1 END)
                       + (CASE WHEN lf_diversity IS NULL THEN 0 ELSE 1 END)
                       + (CASE WHEN lf_repetition IS NULL THEN 0 ELSE 1 END)
                THEN 0
           END AS weak_label
    FROM votes
    """,
)
def q_weak_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    feat = (
        d.select("doc_id", "n_chars")
        .join(tc, "doc_id")
        .groupBy("doc_id", "n_chars")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.max("c").cast("bigint").alias("top_count"),
        )
    )
    votes = feat.selectExpr(
        "doc_id",
        "CASE WHEN n_chars >= 200 THEN 1 WHEN n_chars < 80 THEN 0 END"
        " AS lf_length",
        "CASE WHEN n_distinct * 100 >= 55 * n_tokens THEN 1"
        " WHEN n_distinct * 100 <= 35 * n_tokens THEN 0 END AS lf_diversity",
        "CASE WHEN top_count * 100 <= 8 * n_tokens THEN 1"
        " WHEN top_count * 100 >= 20 * n_tokens THEN 0 END AS lf_repetition",
    )
    npos = (
        "COALESCE(lf_length, 0) + COALESCE(lf_diversity, 0)"
        " + COALESCE(lf_repetition, 0)"
    )
    nv = (
        "(CASE WHEN lf_length IS NULL THEN 0 ELSE 1 END)"
        " + (CASE WHEN lf_diversity IS NULL THEN 0 ELSE 1 END)"
        " + (CASE WHEN lf_repetition IS NULL THEN 0 ELSE 1 END)"
    )
    return votes.selectExpr(
        "doc_id",
        "lf_length",
        "lf_diversity",
        "lf_repetition",
        f"CAST({npos} AS BIGINT) AS n_pos",
        f"CAST({nv} AS BIGINT) AS n_votes",
        f"CASE WHEN 2 * ({npos}) > {nv} THEN 1"
        f" WHEN 2 * ({npos}) < {nv} THEN 0 END AS weak_label",
    )


# --- Heaps vocabulary-growth curve (round 5) -----------------------------------
# How fast does vocabulary grow with corpus size? The empirical Heaps
# curve: at each decile of the token stream (global token order = doc
# order then position), the number of DISTINCT tokens seen so far — the
# curve that sizes tokenizers and predicts OOV decay. Exactness: every
# point is an exact integer count of tokens whose FIRST occurrence
# position falls inside the prefix (min-position per token, compared to
# the decile cutoff with integer ceil division). Plan: one explode +
# one min-position aggregate per token (combinable) + a 10-row
# broadcast cutoff grid; the global position rides the range-partitioned
# ranker (plans/rank.py, q_train_order's shape) — per-range parallel
# rank + O(ranges) broadcast offsets, never a single-partition window.
@_q(
    "q_heaps_curve",
    """
    WITH tok AS (
        SELECT doc_id, tk[i] AS token,
               CAST(i AS BIGINT) AS pos_in_doc
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             UNNEST(generate_series(1, len(tk))) AS g(i)
    ), positioned AS (
        SELECT token,
               row_number() OVER (ORDER BY doc_id, pos_in_doc) AS gpos,
               CAST(COUNT(*) OVER () AS BIGINT) AS total
        FROM tok
    ), firsts AS (
        SELECT token, CAST(MIN(gpos) AS BIGINT) AS first_pos,
               CAST(MAX(total) AS BIGINT) AS total
        FROM positioned GROUP BY token
    )
    SELECT CAST(d.dec AS BIGINT) AS decile,
           CAST((MAX(f.total) * d.dec + 9) // 10 AS BIGINT) AS n_tokens_seen,
           CAST(SUM(CASE WHEN f.first_pos <= (f.total * d.dec + 9) // 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size
    FROM firsts f,
         (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) d(dec)
    GROUP BY d.dec
    """,
)
def q_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.plans.rank import global_rank

    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("p", "token"))
        .select("doc_id", "token", (F.col("p") + 1).alias("pos_in_doc"))
    )
    # Global token position + corpus size via the range-partitioned
    # ranker — the token stream (the repo's largest relation) never
    # passes through a single-partition window (plan pin:
    # tests/test_plans.py::test_heaps_curve_no_global_sort).
    positioned = global_rank(
        tok, ["doc_id", "pos_in_doc"], rank_col="gpos", total_col="total"
    ).select("token", "gpos", "total")
    firsts = positioned.groupBy("token").agg(
        F.min("gpos").cast("bigint").alias("first_pos"),
        F.max("total").cast("bigint").alias("total"),
    )
    grid = F.broadcast(
        local_rows(firsts.sparkSession, [(i,) for i in range(1, 11)], "dec int")
    )
    return (
        firsts.crossJoin(grid)
        .groupBy("dec")
        .agg(
            F.expr("CAST((MAX(total) * dec + 9) div 10 AS BIGINT)").alias(
                "n_tokens_seen"
            ),
            F.sum(
                F.expr(
                    "CASE WHEN first_pos <= (total * dec + 9) div 10"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("vocab_size"),
        )
        .selectExpr(
            "CAST(dec AS BIGINT) AS decile", "n_tokens_seen", "vocab_size"
        )
    )


# --- duplicate-cluster size distribution (round 5) ------------------------------
# The governance histogram behind every dedup decision: group documents
# by content fingerprint (32-char prefix, the q_dedup_bias key), then
# histogram the CLUSTER SIZES — how much of the corpus sits in
# singletons vs pair-dups vs mega-clusters, and what deleting
# keep-first would remove at each size. Exact integer counts off two
# combinable aggregates (fingerprint groupBy -> size groupBy);
# O(|distinct sizes|) output.
@_q(
    "q_dup_size_dist",
    """
    WITH fp AS (
        SELECT substr(text, 1, 32) AS f, CAST(COUNT(*) AS BIGINT) AS sz
        FROM documents GROUP BY 1
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM fp GROUP BY sz
    """,
)
def q_dup_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = (
        t(spark, sf_dir, "documents")
        .select(F.substring("text", 1, 32).alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    return fp.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    ).selectExpr(
        "CAST(sz AS BIGINT) AS cluster_size",
        "n_clusters",
        "CAST(sz * n_clusters AS BIGINT) AS n_docs",
        "CAST((sz - 1) * n_clusters AS BIGINT) AS n_removable",
    )


# --- Yule's K vocabulary-richness characteristic (round 6) -------------------
# The repetitiveness constant text-quality pipelines use beside Heaps'
# law (q_heaps_curve) and hapax share (q_hapax): K = 10^4 * (Σ m²V(m) −
# N) / N² over the whitespace-token frequency spectrum, where V(m) is
# the number of vocabulary items occurring exactly m times. Σ m²V(m) is
# just the sum of squared token frequencies — ONE combinable bigint
# aggregate over the (token → freq) relation; K is one shared-text
# division. Plan: explode → token count (map-side combinable) → 1-row
# fold; nothing corpus-sized is sorted or windowed.
@_q(
    "q_yule_k",
    """
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), f AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(c * c) AS BIGINT) AS sum_m2,
           10000.0 * (CAST(SUM(c * c) AS DOUBLE) - CAST(SUM(c) AS DOUBLE))
               / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
               AS yule_k
    FROM f
    """,
)
def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return f.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_m2"),
        (
            F.lit(10000.0)
            * (
                F.sum(F.col("c") * F.col("c")).cast("double")
                - F.sum("c").cast("double")
            )
            / (F.sum("c").cast("double") * F.sum("c").cast("double"))
        ).alias("yule_k"),
    )


# --- character-class profile per source (round 6) ----------------------------
# The encoding/noise audit a corpus intake runs first: per source, how
# many characters are letters / digits / spaces / other. Counts come
# from LENGTH differences after class-targeted regexp_replace removal —
# exact integers in both engines (DuckDB needs the 'g' flag for global
# replace; Spark is global by default). Ratios are single fixed
# divisions. Plan: per-row map work + one source aggregate — fully
# combinable, nothing corpus-sized shuffled.
@_q(
    "q_char_class_profile",
    """
    WITH per AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS total,
               CAST(length(text)
                    - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                    AS BIGINT) AS letters,
               CAST(length(text)
                    - length(regexp_replace(text, '[0-9]', '', 'g'))
                    AS BIGINT) AS digits,
               CAST(length(text)
                    - length(regexp_replace(text, '[ ]', '', 'g'))
                    AS BIGINT) AS spaces
        FROM documents
    )
    SELECT source,
           CAST(SUM(total) AS BIGINT) AS n_chars,
           CAST(SUM(letters) AS BIGINT) AS n_letters,
           CAST(SUM(digits) AS BIGINT) AS n_digits,
           CAST(SUM(spaces) AS BIGINT) AS n_spaces,
           CAST(SUM(total - letters - digits - spaces) AS BIGINT) AS n_other,
           CAST(SUM(letters) AS DOUBLE) / CAST(SUM(total) AS DOUBLE)
               AS letter_share
    FROM per GROUP BY source
    """,
)
def q_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = lambda pat: (  # noqa: E731
        F.length("text") - F.length(F.regexp_replace("text", pat, ""))
    ).cast("bigint")
    per = t(spark, sf_dir, "documents").select(
        "source",
        F.length("text").cast("bigint").alias("total"),
        n("[A-Za-z]").alias("letters"),
        n("[0-9]").alias("digits"),
        n("[ ]").alias("spaces"),
    )
    return per.groupBy("source").agg(
        F.sum("total").cast("bigint").alias("n_chars"),
        F.sum("letters").cast("bigint").alias("n_letters"),
        F.sum("digits").cast("bigint").alias("n_digits"),
        F.sum("spaces").cast("bigint").alias("n_spaces"),
        F.sum(
            F.col("total") - F.col("letters") - F.col("digits")
            - F.col("spaces")
        )
        .cast("bigint")
        .alias("n_other"),
        (F.sum("letters").cast("double") / F.sum("total").cast("double")).alias(
            "letter_share"
        ),
    )


# --- tokenizer fertility per language (round 6) ------------------------------
# The capacity metric behind context-length budgeting: characters per
# whitespace token and tokens per 100 characters, per language. All
# sufficient statistics are exact integers; each ratio is one fixed
# division. Plan: one per-row token count + one lang aggregate.
@_q(
    "q_tokenizer_fertility",
    """
    WITH per AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
               AS chars_per_token,
           100.0 * CAST(SUM(n_tokens) AS DOUBLE)
               / CAST(SUM(n_chars) AS DOUBLE) AS tokens_per_100_chars
    FROM per GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = t(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        (
            F.sum("n_chars").cast("double") / F.sum("n_tokens").cast("double")
        ).alias("chars_per_token"),
        (
            F.lit(100.0)
            * F.sum("n_tokens").cast("double")
            / F.sum("n_chars").cast("double")
        ).alias("tokens_per_100_chars"),
    )


# --- Fleiss' kappa over three quality raters (round 6) -----------------------
# Inter-rater agreement of three deterministic binary quality heuristics
# (length > 400 chars, contains a period, > 60 whitespace tokens) — the
# audit a labeling pipeline runs before trusting majority votes. With
# n = 3 raters and 2 categories, every sufficient statistic is an exact
# integer: per doc, c = yes-votes ∈ {0..3}; Σ[c(c−1) + (3−c)(2−c)] and
# Σc are BIGINTs; kappa = (P̄ − Pe)/(1 − Pe) is ONE shared-text chain
# over them. Plan: per-row flags + one global aggregate.
_FK_PBAR = "(CAST(sp AS DOUBLE) / (6.0 * n_docs))"
_FK_PY = "(CAST(sc AS DOUBLE) / (3.0 * n_docs))"
_FK_PE = f"({_FK_PY} * {_FK_PY} + (1.0 - {_FK_PY}) * (1.0 - {_FK_PY}))"
_FK_KAPPA = f"(({_FK_PBAR} - {_FK_PE}) / (1.0 - {_FK_PE}))"


@_q(
    "q_fleiss_kappa",
    f"""
    WITH votes AS (
        SELECT (CASE WHEN length(text) > 400 THEN 1 ELSE 0 END
              + CASE WHEN text LIKE '%.%' THEN 1 ELSE 0 END
              + CASE WHEN len(string_split(text, ' ')) > 60
                     THEN 1 ELSE 0 END) AS c
        FROM documents
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(c * (c - 1) + (3 - c) * (2 - c)) AS BIGINT) AS sp
        FROM votes
    )
    SELECT n_docs, sc, sp,
           {_FK_PBAR} AS p_bar,
           {_FK_PE} AS p_expected,
           {_FK_KAPPA} AS fleiss_kappa
    FROM s
    """,
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    votes = t(spark, sf_dir, "documents").select(
        (
            F.when(F.length("text") > 400, 1).otherwise(0)
            + F.when(F.col("text").like("%.%"), 1).otherwise(0)
            + F.when(F.size(F.split("text", " ")) > 60, 1).otherwise(0)
        ).alias("c")
    )
    s = votes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(
            F.col("c") * (F.col("c") - 1)
            + (3 - F.col("c")) * (2 - F.col("c"))
        )
        .cast("bigint")
        .alias("sp"),
    )
    return s.selectExpr(
        "n_docs",
        "sc",
        "sp",
        f"{_FK_PBAR} AS p_bar",
        f"{_FK_PE} AS p_expected",
        f"{_FK_KAPPA} AS fleiss_kappa",
    )


# --- per-language stopword profile (round 6) ---------------------------------
# Corpus-level function-word statistics per language: total tokens,
# stopword hits against the shared _STOPWORDS list, the share, and the
# single most frequent stopword (count-desc, token-asc tie break) — the
# separation table a heuristic language-ID audit reads. All counts are
# exact integers off one (lang, token) aggregate; the argmax ranks the
# bounded lang×stopword relation.
@_q(
    "q_stopword_profile",
    f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), tot AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok
        GROUP BY lang
    ), sw AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE list_contains({_SW_SQL}, token)
        GROUP BY 1, 2
    ), agg AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_stop FROM sw GROUP BY lang
    ), top AS (
        SELECT lang, token AS top_stopword
        FROM sw QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
                                           ORDER BY c DESC, token) = 1
    )
    SELECT tot.lang, tot.n_tokens,
           COALESCE(agg.n_stop, 0) AS n_stop,
           CAST(COALESCE(agg.n_stop, 0) AS DOUBLE) / tot.n_tokens
               AS stop_share,
           top.top_stopword
    FROM tot
    LEFT JOIN agg ON tot.lang = agg.lang
    LEFT JOIN top ON tot.lang = top.lang
    """,
)
def q_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    tok = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tot = tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    sw = (
        tok.where(F.col("token").isin(*_STOPWORDS))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = sw.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n_stop"))
    # bounded: lang × stopword relation — ≤ |langs|·10 rows
    top = sw.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("c"), "token")
        ),
    ).where(F.col("rn") == 1).select("lang", F.col("token").alias("top_stopword"))
    return (
        tot.join(agg, "lang", "left")
        .join(top, "lang", "left")
        .select(
            "lang",
            "n_tokens",
            F.coalesce("n_stop", F.lit(0)).cast("bigint").alias("n_stop"),
            (
                F.coalesce("n_stop", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("stop_share"),
            "top_stopword",
        )
    )


# --- most anomalous document length per source (round 6) ---------------------
# The per-source length-anomaly report. A fixed z cut is structurally
# vacuous on this near-uniform fixture (max |z| ≈ 2), so the operator
# SELECTS each source's most extreme document instead — never empty at
# any scale. The selection is fully integer: deviation |x·n − S| is a
# BIGINT, the per-source argmax is an integer max joined back with a
# MIN(doc_id) tie break; only the REPORTED z is a shared-text double
# over the exact (n, S, Q) statistics. Plan: one source aggregate + two
# integer-equality joins — no sort, no window.
_LO_Z = (
    "(CAST(n_chars * n - s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * sqrt(CAST(n * q - s * s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))))"
)


@_q(
    "q_length_outliers",
    f"""
    WITH st AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS s,
               CAST(SUM(n_chars * n_chars) AS BIGINT) AS q
        FROM documents GROUP BY source
    ), dev AS (
        SELECT d.source, d.doc_id, d.n_chars, st.n, st.s, st.q,
               ABS(d.n_chars * st.n - st.s) AS dv
        FROM documents d JOIN st USING (source)
    ), mx AS (
        SELECT source, CAST(MAX(dv) AS BIGINT) AS mdv FROM dev
        GROUP BY source
    ), pick AS (
        SELECT dev.source, CAST(MIN(doc_id) AS BIGINT) AS doc_id
        FROM dev JOIN mx ON dev.source = mx.source AND dev.dv = mx.mdv
        GROUP BY dev.source
    )
    SELECT dev.source, dev.doc_id, dev.n_chars, {_LO_Z} AS z
    FROM dev JOIN pick ON dev.source = pick.source
                      AND dev.doc_id = pick.doc_id
    """,
)
def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    st = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("q"),
    )
    dev = d.join(F.broadcast(st), "source").select(
        "source",
        "doc_id",
        "n_chars",
        "n",
        "s",
        "q",
        F.abs(F.col("n_chars") * F.col("n") - F.col("s")).alias("dv"),
    )
    mx = dev.groupBy("source").agg(F.max("dv").cast("bigint").alias("mdv"))
    pick = (
        dev.alias("dv2")
        .join(
            F.broadcast(mx).alias("mx"),
            (F.col("dv2.source") == F.col("mx.source"))
            & (F.col("dv2.dv") == F.col("mx.mdv")),
        )
        .groupBy(F.col("dv2.source").alias("source"))
        .agg(F.min("dv2.doc_id").cast("bigint").alias("doc_id"))
    )
    return dev.join(F.broadcast(pick), ["source", "doc_id"]).selectExpr(
        "source", "doc_id", "n_chars", f"{_LO_Z} AS z"
    )


# --- quality-threshold keep-rate curve (round 6) -----------------------------
# The tuning table behind the q_quality_classifier gate: per source and
# candidate logit threshold, how many documents survive? Thresholds are
# shared double literals; keep counts are exact integers (the logit is
# the same shared-text expression on both engines, so comparisons agree
# bit-for-bit). Plan: one scored scan × broadcast 5-row grid → one
# (source, threshold) aggregate.
@_q(
    "q_quality_curve",
    f"""
    WITH {_QC_SCORED_SQL}, lab AS (
        SELECT s.logit, d.source
        FROM scored s JOIN documents d USING (doc_id)
    ), grid AS (
        SELECT CAST(g.x AS DOUBLE) AS threshold
        FROM (VALUES (-0.5), (-0.25), (0.0), (0.25), (0.5)) g(x)
    )
    SELECT source, threshold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN logit >= threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN logit >= threshold THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS keep_share
    FROM lab CROSS JOIN grid GROUP BY source, threshold
    """,
)
def q_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    lab = scored.join(
        t(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id"
    )
    grid = F.broadcast(
        local_rows(
            lab.sparkSession,
            [(-0.5,), (-0.25,), (0.0,), (0.25,), (0.5,)],
            "threshold double",
        )
    )
    return (
        lab.crossJoin(grid)
        .groupBy("source", "threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("logit") >= F.col("threshold"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_keep"),
            (
                F.sum(
                    F.when(F.col("logit") >= F.col("threshold"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("keep_share"),
        )
    )


# --- canonical-representative dedup (round 6) --------------------------------
# Exact dedup with a QUALITY keep policy: within each content
# fingerprint group keep the LONGEST document (tie → smallest doc_id)
# instead of q_dedup_exact's min-id convention — the "keep best"
# selection a production dedup pass actually ships. One max_by over a
# (n_chars, −doc_id) struct per group: deterministic, combinable, no
# window. Reports kept docs with their group sizes (groups of 1
# included — the operator's output IS the canonical corpus).
@_q(
    "q_dedup_canonical",
    """
    WITH r AS (
        SELECT md5(text) AS fp, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                   AS group_size,
               CAST(MAX(n_chars) OVER (PARTITION BY md5(text)) AS BIGINT)
                   AS keep_n_chars
        FROM documents
    )
    SELECT fp, group_size, CAST(doc_id AS BIGINT) AS keep_doc_id,
           keep_n_chars
    FROM r WHERE rn = 1
    """,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
            )
            .cast("bigint")
            .alias("keep_doc_id"),
            F.max("n_chars").cast("bigint").alias("keep_n_chars"),
        )
        .select("fp", "group_size", "keep_doc_id", "keep_n_chars")
    )


# --- token position-bias profile (round 6) -----------------------------------
# WHERE in documents do the corpus' top tokens appear? Mean relative
# position (0 = doc start, 1 = end) per top-10 token — the burstiness/
# topicality signal position-weighted retrieval uses. Each occurrence's
# relative position quantizes to an exact integer ppm ((pos−1)·1e6 div
# (len−1)); the mean is one division of BIGINT sums. Top tokens rank
# the vocabulary (bounded: aggregate-sized, q_zipf_audit's relation).
@_q(
    "q_token_position_bias",
    """
    WITH tok AS (
        SELECT t.token, CAST(t.i AS BIGINT) AS pos,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS len
        FROM documents d,
             LATERAL (SELECT unnest(string_split(d.text, ' ')) AS token,
                             generate_subscripts(
                                 string_split(d.text, ' '), 1) AS i) t
    ), occ AS (
        SELECT token,
               CAST((pos - 1) * 1000000 // (len - 1) AS BIGINT) AS relq
        FROM tok WHERE len > 1
    ), top AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM occ GROUP BY token
        QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, token) <= 10
    )
    SELECT o.token, t.freq,
           CAST(SUM(o.relq) AS BIGINT) AS relq_sum,
           CAST(SUM(o.relq) AS DOUBLE) / (t.freq * 1000000.0)
               AS mean_rel_pos
    FROM occ o JOIN top t USING (token)
    GROUP BY o.token, t.freq
    """,
)
def q_token_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    toks = t(spark, sf_dir, "documents").select(
        F.posexplode(F.split("text", " ")).alias("p", "token"),
        F.size(F.split("text", " ")).cast("bigint").alias("len"),
    )
    occ = toks.where(F.col("len") > 1).select(
        "token",
        F.expr("CAST(p * 1000000 DIV (len - 1) AS BIGINT)").alias("relq"),
    )
    freq = occ.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    # bounded: token vocabulary — Heaps-sublinear aggregate, not the
    # token stream; top-10 selection via sort+limit (TakeOrdered)
    top = freq.orderBy(F.desc("freq"), "token").limit(10)
    return (
        occ.join(F.broadcast(top), "token")
        .groupBy("token", "freq")
        .agg(F.sum("relq").cast("bigint").alias("relq_sum"))
        .select(
            "token",
            "freq",
            "relq_sum",
            (
                F.col("relq_sum").cast("double")
                / (F.col("freq") * F.lit(1000000.0))
            ).alias("mean_rel_pos"),
        )
    )


# --- bigram redundancy / compressibility proxy (round 6) ---------------------
# How repetitive is each source's text, bigram-wise? redundancy = 1 −
# distinct_bigrams / total_bigrams — the cheap proxy that tracks
# gzip-ability and flags template farms before any compressor runs.
# Bigrams come from one zip_with over the token array (no self-join);
# counts are exact integers, the ratio one division.
@_q(
    "q_bigram_redundancy",
    """
    WITH bg AS (
        SELECT source, toks[i] || ' ' || toks[i + 1] AS bigram
        FROM (
            SELECT source, string_split(text, ' ') AS toks FROM documents
        ), UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS total_bigrams,
           CAST(COUNT(DISTINCT bigram) AS BIGINT) AS distinct_bigrams,
           1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE) / COUNT(*)
               AS redundancy
    FROM bg GROUP BY source
    """,
)
def q_bigram_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = t(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("toks")
    )
    bg = toks.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    return bg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_bigrams"),
        F.countDistinct("bigram").cast("bigint").alias("distinct_bigrams"),
        (
            F.lit(1.0)
            - F.countDistinct("bigram").cast("double") / F.count(F.lit(1))
        ).alias("redundancy"),
    )


# --- pairwise total-variation distance between sources (round 6) -------------
# How differently do sources use the vocabulary? TV distance between
# token distributions, computed EXACTLY with cleared denominators:
# 2*n_a*n_b*TV(a,b) = SUM_tokens |c_a*n_b - c_b*n_a| is a pure BIGINT
# (full outer join of the two sources' count vectors, missing counts
# treated as 0). The per-source count relation fans out over the
# BOUNDED O(|sources|^2) pair grid (a <=19x replication of the vocab
# aggregate, never the token stream), then one full outer join per
# (pair, token) and one pair aggregate - fully distributed, no driver
# loop.
@_q(
    "q_source_tv_matrix",
    """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), c AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ), n AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY source
    ), pairs AS (
        SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
        FROM n a JOIN n b ON a.source < b.source
    ), t1 AS (
        SELECT p.sa, p.sb, p.na, p.nb, c.token, c.c AS ca
        FROM pairs p JOIN c ON c.source = p.sa
    ), t2 AS (
        SELECT p.sa, p.sb, p.na, p.nb, c.token, c.c AS cb
        FROM pairs p JOIN c ON c.source = p.sb
    ), m AS (
        SELECT COALESCE(t1.sa, t2.sa) AS sa,
               COALESCE(t1.sb, t2.sb) AS sb,
               COALESCE(t1.na, t2.na) AS na,
               COALESCE(t1.nb, t2.nb) AS nb,
               COALESCE(t1.ca, 0) AS ca,
               COALESCE(t2.cb, 0) AS cb
        FROM t1 FULL JOIN t2
          ON t1.sa = t2.sa AND t1.sb = t2.sb AND t1.token = t2.token
    )
    SELECT sa, sb,
           CAST(SUM(ABS(ca * nb - cb * na)) AS BIGINT) AS tvq,
           CAST(SUM(ABS(ca * nb - cb * na)) AS DOUBLE)
               / (2.0 * CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE))
               AS tv_distance
    FROM m GROUP BY sa, sb
    """,
)
def q_source_tv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    c = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    na = n.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    nb = n.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    # bounded: source pair grid - O(|sources|^2) rows, broadcast
    pairs = F.broadcast(na.join(nb, F.col("sa") < F.col("sb")))
    t1 = pairs.join(
        c.select(F.col("source").alias("sa"), "token", F.col("c").alias("ca")),
        "sa",
    )
    t2 = pairs.join(
        c.select(F.col("source").alias("sb"), "token", F.col("c").alias("cb")),
        "sb",
    )
    m = t1.alias("t1").join(
        t2.alias("t2"),
        (F.col("t1.sa") == F.col("t2.sa"))
        & (F.col("t1.sb") == F.col("t2.sb"))
        & (F.col("t1.token") == F.col("t2.token")),
        "full",
    ).select(
        F.coalesce("t1.sa", "t2.sa").alias("sa"),
        F.coalesce("t1.sb", "t2.sb").alias("sb"),
        F.coalesce("t1.na", "t2.na").alias("na"),
        F.coalesce("t1.nb", "t2.nb").alias("nb"),
        F.coalesce("t1.ca", F.lit(0)).alias("ca"),
        F.coalesce("t2.cb", F.lit(0)).alias("cb"),
    )
    return m.groupBy("sa", "sb").agg(
        F.sum(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
        .cast("bigint")
        .alias("tvq"),
        (
            F.sum(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            ).cast("double")
            / (
                F.lit(2.0)
                * F.max("na").cast("double")
                * F.max("nb").cast("double")
            )
        ).alias("tv_distance"),
    )


# --- duplicate-cluster purity audit (round 6) --------------------------------
# Dedup governance beside q_dup_size_dist: for every exact-duplicate
# cluster of size >= 2, do the copies agree on source and language?
# Impure clusters are CROSS-source leaks — the signal that one feed
# mirrors another. All counts are exact integers off one fingerprint
# aggregate.
@_q(
    "q_dup_cluster_purity",
    """
    WITH g AS (
        SELECT md5(text) AS fp,
               CAST(COUNT(*) AS BIGINT) AS sz,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM documents GROUP BY md5(text)
        HAVING COUNT(*) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs_in_clusters,
           CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_source_pure,
           CAST(SUM(CASE WHEN n_langs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lang_pure,
           CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS source_purity,
           CAST(SUM(CASE WHEN n_sources > 1 THEN sz ELSE 0 END) AS BIGINT)
               AS cross_source_docs
    FROM g
    """,
)
def q_dup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("fp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sz"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .where(F.col("sz") >= 2)
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs_in_clusters"),
        F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_source_pure"),
        F.sum(F.when(F.col("n_langs") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_lang_pure"),
        (
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("source_purity"),
        F.sum(F.when(F.col("n_sources") > 1, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("cross_source_docs"),
    )


# --- out-of-vocabulary rate per source (round 6) -----------------------------
# The tokenizer-coverage metric: share of each source's token
# OCCURRENCES that fall outside the corpus-wide top-1000 vocabulary
# (count desc, token asc — deterministic cut via sort+limit, a
# TakeOrdered over the vocab aggregate). Exact integer counts; one
# division. A source with high OOV against the shared vocab needs its
# own tokenizer budget.
@_q(
    "q_oov_rate",
    """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), vocab AS (
        SELECT token FROM (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY token
        ) QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, token) <= 1000
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS oov_rate
    FROM tok LEFT JOIN vocab v USING (token)
    GROUP BY source
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    # bounded: vocab aggregate; top-1000 via sort+limit (TakeOrdered)
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(1000)
        .select("token", F.lit(1).alias("_in"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            (
                F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


# --- sentence-level structure stats (round 6) --------------------------------
# The linguistic unit between tokens and documents: per language,
# period-delimited sentence counts and mean sentence length in
# characters (non-empty segments only). Exact integers; means are
# single divisions. One per-row split + one lang aggregate.
@_q(
    "q_sentence_stats",
    """
    WITH per AS (
        SELECT lang,
               CAST(len(list_filter(string_split(text, '.'),
                                    s -> trim(s) <> '')) AS BIGINT)
                   AS n_sent,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sent) AS BIGINT) AS n_sentences,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_sent)
               AS chars_per_sentence,
           CAST(SUM(n_sent) AS DOUBLE) / COUNT(*) AS sentences_per_doc
    FROM per GROUP BY lang
    """,
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = t(spark, sf_dir, "documents").select(
        "lang",
        F.size(
            F.filter(
                F.split("text", "\\."), lambda s: F.trim(s) != F.lit("")
            )
        )
        .cast("bigint")
        .alias("n_sent"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_sent").cast("bigint").alias("n_sentences"),
        (F.sum("n_chars").cast("double") / F.sum("n_sent")).alias(
            "chars_per_sentence"
        ),
        (F.sum("n_sent").cast("double") / F.count(F.lit(1))).alias(
            "sentences_per_doc"
        ),
    )


# --- per-source vocabulary growth / TTR (round 7) ----------------------------
# Corpus-mix audit: per source, token volume, distinct vocabulary, and
# type-token ratio — the per-source companion to the corpus-level
# q_heaps_curve (a source whose TTR collapses is templated or
# duplicated; one whose TTR ~ 1 is noise). distinct counts are exact
# (COUNT(DISTINCT token) per source — a (source, token) pre-aggregate
# then a source rollup, both map-side combinable); ttr is one double
# division. Output O(|sources|).
@_q(
    "q_vocab_growth_by_source",
    """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), st AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr
    FROM st GROUP BY source
    """,
)
def q_vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias(
            "ttr"
        ),
    )


# --- leading-bigram boilerplate detector (round 7) ----------------------------
# Web-corpus boilerplate shows up as SHARED DOCUMENT OPENINGS long
# before full-text dedup fires: group documents by their first two
# tokens and report every opening shared by >= 2 documents, with the
# number of distinct sources it spans (cross-source repeats are the
# template signal). One hash groupBy on the lead bigram — the
# q_dedup_exact shuffle shape, map-side combinable; output is only the
# repeated openings.
@_q(
    "q_lead_bigram_boilerplate",
    """
    WITH l AS (
        SELECT doc_id, source,
               string_split(text, ' ')[1] || ' '
                 || string_split(text, ' ')[2] AS lead2
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    )
    SELECT lead2,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM l GROUP BY lead2 HAVING COUNT(*) >= 2
    """,
)
def q_lead_bigram_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")
    # Explicit >= 2-token guard (round-10 pre-audit find): on a 1-token
    # document Spark's concat_ws SKIPS the null second element ("solo")
    # while DuckDB's || PROPAGATES it (NULL) — the spec pins such docs
    # as having no opening bigram, in both texts.
    l2 = (
        t(spark, sf_dir, "documents")
        .where(F.size(toks) >= 2)
        .select(
            "doc_id",
            "source",
            F.concat_ws(
                " ", F.element_at(toks, 1), F.element_at(toks, 2)
            ).alias("lead2"),
        )
    )
    return (
        l2.groupBy("lead2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --- C5: audio clipping triage over synthesized PCM (round 7) -----------------
# The first REAL data-section audio kernel (the header readers stop at
# byte 44): per document, synthesize a complete 16-bit PCM WAV JVM-side
# (header + n deterministic samples, functions/multimodal.py:
# synth_wav_tone_payload), then count samples at or beyond the 32000
# clip threshold with a vectorized np.frombuffer Arrow kernel
# (audio_clip_stats; only the data section crosses to Python). The oracle restates the sample recurrence
# arithmetically: stored uint16 m_k = (seed + k*2654435761) % 65536,
# signed s_k = m_k - 65536 when m_k >= 32768, else m_k. Clip bounds:
# s_k >= 32000 iff m_k in [32000, 32767]; s_k <= -32000 iff m_k in
# [32768, 33536]; so clip iff 32000 <= m_k <= 33536. n is small
# (200-499 samples) so the DuckDB generate_series expansion stays
# bounded; at 100 TB the Spark side is one Arrow-batched pass over the
# payload bytes — decode stays in the kernel, never in the plan.
@_q(
    "q_audio_clip_detect",
    """
    WITH p AS (
        SELECT doc_id,
               CAST(doc_id * 97 AS BIGINT) AS seed,
               CAST(200 + doc_id % 300 AS BIGINT) AS n
        FROM documents
    ), s AS (
        SELECT p.doc_id, p.n,
               (p.seed + g.k * 2654435761) % 65536 AS m
        FROM p CROSS JOIN generate_series(0, 100000) AS g(k)
        WHERE g.k < p.n
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(CASE WHEN m BETWEEN 32000 AND 33536
                         THEN 1 ELSE 0 END) AS BIGINT) AS clip_count,
           CAST(MAX(CASE WHEN m >= 32768 THEN 65536 - m ELSE m END)
                AS BIGINT) AS max_abs,
           CAST(SUM(CASE WHEN m BETWEEN 32000 AND 33536
                         THEN 1 ELSE 0 END) AS DOUBLE) / MAX(n)
               AS clip_share
    FROM s GROUP BY doc_id
    """,
)
def q_audio_clip_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.multimodal import (
        audio_clip_stats,
        synth_wav_tone_payload,
    )

    # tr: WAV synthesis + the Arrow audio kernel otherwise run inside the
    # single scan task (2 tasks total, ~1.1 s/task — round-11 A/B:
    # 2.17 -> 1.08 s; no-op at production row-group counts, and at sf0.01,
    # whose documents file is under the 256 KiB floor).
    d = tr(spark, sf_dir, "documents").select(
        "doc_id",
        synth_wav_tone_payload(
            F.col("doc_id") * 97,
            F.lit(200) + F.col("doc_id") % 300,
        ).alias("payload"),
    )
    return audio_clip_stats(d, threshold=32000)
