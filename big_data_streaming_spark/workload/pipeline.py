"""Training-data pipeline operators beyond dedup/similarity: benchmark
contamination detection, PII scrubbing, repetition quality signals,
domain-mixture sampling, training-order shuffling, sequence packing, and
bigram-novelty scoring.

These are the remaining first-class citizens of a 100 TB pretraining
pipeline (north-star mandate, VERDICT round 1 "LLM-data-pipeline
operators" table): before training you (1) drop documents that leak the
eval benchmarks, (2) redact PII, (3) kill degenerate/repetitive text,
(4) rebalance the source mixture, (5) shuffle the training order,
(6) pack documents into fixed-token-budget sequences, (7) score n-gram
novelty against the corpus. Everything except the per-shard packing loop
is built-in functions only (whole-stage codegen, no Python) and carries
an exact DuckDB oracle.

Scale notes:
* Contamination is a shingle equi-join: corpus side shuffles once on the
  shingle hash; the benchmark side is tiny (eval sets are KBs) →
  broadcast. At 100 TB the corpus side streams through the join —
  never materialize the shingle set.
* PII scrub is a pure map (regexp_replace) — embarrassingly parallel,
  zero shuffles.
* Repetition signals need one explode + one (doc, token) aggregate —
  the same shape as TF-IDF's first stage; partial aggregation absorbs
  the token fan-out map-side.
* Mixture sampling and order shuffling are pure maps on a deterministic
  integer hash — the per-domain rates are a broadcast of O(domains) rows.
* Sequence packing is sequential *within a shard* but embarrassingly
  parallel across shards; shard count is the parallelism dial (thousands
  at 100 TB, each shard a few hundred MB of (doc_id, n_tokens) pairs —
  the text itself never enters the packing computation).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_streaming_spark.plans.rank import global_rank, track_persist
from big_data_streaming_spark.sources import local_rows
from big_data_streaming_spark.workload.common import registry, t, tr

QUERIES, ORACLES, _q = registry()


_SHINGLE = 8  # tokens per contamination shingle

# --- north star: benchmark contamination check ----------------------------
# "Benchmark" = a deterministic, SQL-expressible subset (doc_id % 10 = 0
# stands in for the eval set). A corpus document is contaminated when it
# shares ≥1 full 8-token shingle with any benchmark document. Output: the
# contaminated corpus docs with the overlap count — exact string-equality
# shingles, so Spark and DuckDB agree bit-for-bit.
@_q(
    "q_contamination",
    f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
    ), shingles AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, len(toks) - {_SHINGLE} + 1),
                   i -> array_to_string(toks[i + 1 : i + {_SHINGLE}], ' ')
               )) AS shingle
        FROM tok
        WHERE len(toks) >= {_SHINGLE}
    ), bench AS (
        SELECT DISTINCT shingle FROM shingles WHERE doc_id % 10 = 0
    )
    SELECT s.doc_id,
           COUNT(DISTINCT s.shingle) AS n_hit_shingles
    FROM shingles s JOIN bench b USING (shingle)
    WHERE s.doc_id % 10 <> 0
    GROUP BY s.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    shingles = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= _SHINGLE)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - _SHINGLE),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i + 1, _SHINGLE), " "
                    ),
                )
            ).alias("shingle"),
        )
    )
    bench = (
        shingles.where(F.col("doc_id") % 10 == 0).select("shingle").distinct()
    )
    return (
        shingles.where(F.col("doc_id") % 10 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_hit_shingles"))
    )


# --- north star: PII scrub -------------------------------------------------
# Regex redaction of emails and US-SSN-shaped tokens. The fixture corpus
# has no PII, so the query PLANTS one deterministic email per document
# (derived from doc_id) before scrubbing — the redaction path is then
# exercised on every row and the count is exactly checkable. Patterns are
# kept to the RE2-compatible common subset (no lookaround) so the Java
# and DuckDB regex engines agree.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


@_q(
    "q_pii_scrub",
    f"""
    WITH planted AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com ssn 123-45-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_SSN_RE}', '[SSN]', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_SSN_RE}')) AS INTEGER) AS n_ssns
    FROM planted
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return planted.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"), _SSN_RE, "[SSN]"
        ).alias("clean_text"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_SSN_RE), F.lit(0))).alias(
            "n_ssns"
        ),
    )


# --- north star: repetition quality signals (Gopher-style) ----------------
# Degenerate text screams through these two numbers: the fraction of
# tokens that are the single most-frequent token, and the distinct-token
# ratio. Tie-break on the lexicographically smallest token so the
# "top token" is deterministic across engines and partitionings.
@_q(
    "q_repetition_signals",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT doc_id, token, COUNT(*) AS c
        FROM tok GROUP BY doc_id, token
    ), ranked AS (
        SELECT doc_id, token, c,
               SUM(c) OVER (PARTITION BY doc_id) AS n_tokens,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_distinct,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, token)
                 AS rn
        FROM counts
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           token AS top_token,
           CAST(c AS BIGINT) AS top_count,
           round(c / n_tokens, 6) AS top_token_frac,
           round(n_distinct / n_tokens, 6) AS distinct_frac
    FROM ranked WHERE rn = 1
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wdoc = Window.partitionBy("doc_id")
    ranked = counts.select(
        "doc_id",
        "token",
        "c",
        F.sum("c").over(wdoc).alias("n_tokens"),
        F.count(F.lit(1)).over(wdoc).alias("n_distinct"),
        F.row_number()
        .over(wdoc.orderBy(F.col("c").desc(), F.col("token")))
        .alias("rn"),
    )
    nt = F.col("n_tokens").cast("double")
    return ranked.where(F.col("rn") == 1).select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.col("token").alias("top_token"),
        F.col("c").alias("top_count"),
        F.round(F.col("c") / nt, 6).alias("top_token_frac"),
        F.round(F.col("n_distinct") / nt, 6).alias("distinct_frac"),
    )


# A deterministic integer mixing hash both engines can evaluate exactly:
# Knuth multiplicative hash folded to [0, 1e6). The key is mod-reduced by
# 2^31-1 BEFORE the multiply so the product stays < 2^63 for ANY bigint
# doc_id (unreduced it overflows past key ~ 3.47e9: ANSI raises, non-ANSI
# wraps — the engines diverge exactly at 100 TB id ranges). For keys
# below 2^31 the reduce is the identity, so historical results are
# bit-unchanged. Spark and DuckDB agree bit-for-bit — no reliance on
# engine-specific hash functions.
_MIX_MOD = 1_000_000


def _mix_hash(col: F.Column) -> F.Column:
    return (
        (col % F.lit(2147483647)) * F.lit(2654435761)
    ) % F.lit(4294967296) % F.lit(_MIX_MOD)


_MIX_HASH_SQL = "(((doc_id % 2147483647) * 2654435761) % 4294967296) % 1000000"


# --- north star: domain-mixture rebalancing --------------------------------
# Downsample every source to the size of the smallest one (rate_s =
# min_count / count_s), selecting rows with the deterministic hash so the
# sample is reproducible run-to-run and engine-to-engine. The keep rule
# ``hash · count_s < min_count · 1e6`` is the rate comparison cleared of
# division — pure BIGINT, exactly mirrored in the oracle. At 100 TB the
# per-source counts are O(sources) rows (broadcast); the filter itself is
# a zero-shuffle map over the corpus.
@_q(
    "q_mix_domains",
    f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_source FROM documents GROUP BY source
    ), m AS (SELECT MIN(n_source) AS n_min FROM counts)
    SELECT d.doc_id, d.source,
           CAST(c.n_source AS BIGINT) AS n_source,
           CAST(m.n_min AS BIGINT) AS n_min
    FROM documents d
    JOIN counts c USING (source)
    CROSS JOIN m
    WHERE {_MIX_HASH_SQL} * c.n_source < m.n_min * {_MIX_MOD}
    """,
)
def q_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    n_min = counts.agg(F.min("n_source").alias("n_min"))
    return (
        d.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(n_min))
        .where(
            _mix_hash(F.col("doc_id")) * F.col("n_source")
            < F.col("n_min") * F.lit(_MIX_MOD)
        )
        .select("doc_id", "source", "n_source", "n_min")
    )


# --- north star: global training-order shuffle -----------------------------
# A reproducible global permutation of the corpus, computed the way a
# 100 TB corpus must: NO single-partition global window (a
# ``row_number() OVER (ORDER BY ...)`` collapses to one sort task).
# Instead the distributed zipWithIndex shape: range-partition on the
# mixing hash (contiguous key ranges per partition), rank within each
# range in parallel, then add per-range offsets (an O(partitions)
# broadcast). Positions depend only on the TOTAL order (hash, doc_id),
# not on where Spark's sampled range boundaries land — so the result is
# bit-identical run-to-run and equal to the oracle's global row_number.
_ORDER_RANGES = 8  # partitions of the range sort; thousands at 100 TB


@_q(
    "q_train_order",
    f"""
    SELECT CAST(row_number() OVER (ORDER BY {_MIX_HASH_SQL}, doc_id) AS BIGINT)
             AS train_pos,
           doc_id,
           CAST({_MIX_HASH_SQL} AS BIGINT) AS shuffle_key
    FROM documents
    """,
)
def q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", _mix_hash(F.col("doc_id")).alias("shuffle_key")
    )
    # The mixing hash is uniform on [0, _MIX_MOD), so the range split is
    # pure arithmetic — no sampling pass, no spark_partition_id, ONE
    # full-data exchange (the per-range ranking window's hash partition).
    # This shape is factored into plans/rank.py (round-6, VERDICT r5
    # task 2) and reused by every corpus-sized global rank in the repo.
    rng = F.floor((F.col("shuffle_key") * _ORDER_RANGES) / F.lit(_MIX_MOD))
    return global_rank(
        keyed,
        ["shuffle_key", "doc_id"],
        rank_col="train_pos",
        num_ranges=_ORDER_RANGES,
        range_id=rng,
    ).select("train_pos", "doc_id", "shuffle_key")


# --- north star: sequence packing ------------------------------------------
# Greedy contiguous packing of documents into fixed-token-budget training
# sequences. Sequential state (the running token budget) can't be a window
# function, so the corpus is sharded by doc_id and each shard packs
# independently in one Arrow-batched applyInPandas pass over (doc_id,
# n_tokens) pairs — the text itself never reaches Python. Shard count is
# the parallelism dial: 8 here, thousands at 100 TB. The oracle replays
# the same greedy recurrence as a DuckDB recursive CTE.
_PACK_BUDGET = 256
_PACK_SHARDS = 8


def _pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    seq_ids = []
    seq_id, acc = 0, 0
    for i, n in enumerate(pdf["n_tokens"]):
        if i == 0:
            acc = int(n)
        elif acc + int(n) <= _PACK_BUDGET:
            acc += int(n)
        else:
            seq_id += 1
            acc = int(n)
        seq_ids.append(seq_id)
    pdf["seq_id"] = seq_ids
    return pdf[["shard", "doc_id", "n_tokens", "seq_id"]]


@_q(
    "q_pack_sequences",
    f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id % {_PACK_SHARDS} AS shard, doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               row_number() OVER (PARTITION BY doc_id % {_PACK_SHARDS}
                                  ORDER BY doc_id) AS rn
        FROM documents
    ), pack AS (
        SELECT shard, doc_id, n_tokens, rn,
               0 AS seq_id, n_tokens AS acc
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
               CASE WHEN p.acc + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.seq_id ELSE p.seq_id + 1 END,
               CASE WHEN p.acc + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.acc + d.n_tokens ELSE d.n_tokens END
        FROM docs d JOIN pack p ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, doc_id, n_tokens,
           CAST(seq_id AS BIGINT) AS seq_id
    FROM pack
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return d.groupBy("shard").applyInPandas(
        _pack_shard,
        schema="shard bigint, doc_id bigint, n_tokens int, seq_id bigint",
    )


# --- north star: bigram novelty vs the corpus ------------------------------
# How much of a document is boilerplate? Count each document's bigrams,
# the ones unique to it in the whole corpus ("novel"), and the mean corpus
# frequency of its bigrams. All-integer aggregates (plus one final double
# division) so the oracle matches exactly. Bigrams come from an array
# transform — no shuffle to build them; the two real shuffles are the
# corpus bigram count and the join back. At 100 TB the join is the cost:
# partial aggregation absorbs duplicates map-side, and head bigrams
# ("of the") are the skew keys — AQE skew-join splitting handles them
# (pinned by tests/test_plans.py on the same build).
@_q(
    "q_lm_novelty",
    """
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1]))
                 AS bigram
        FROM tok
    ), cc AS (
        SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           COUNT(DISTINCT b.bigram) AS n_unique,
           CAST(SUM(CASE WHEN cc.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(CAST(SUM(cc.c) AS DOUBLE) / COUNT(*), 6)
             AS mean_bigram_freq
    FROM bg b JOIN cc USING (bigram)
    GROUP BY b.doc_id
    """,
)
def q_lm_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tr: the per-token novelty windowing otherwise fuses into the single
    # scan task of the one-row-group documents file (round-11 A/B:
    # 2.19 -> 1.51 s; no-op at production row-group counts).
    d = tr(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bg = d.select(
        "doc_id",
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
        ).alias("bigram"),
    )
    # Pre-aggregate to distinct (doc, bigram) pairs before anything heavy:
    # the corpus count becomes a rollup of this relation (scanned once —
    # persisted, same policy as functions/dedup.py), the join fan-in drops
    # from raw occurrences to distinct pairs, and the per-doc distinct
    # count becomes a plain COUNT instead of a count_distinct re-shuffle.
    # Measured 5.2 s → ~1.3 s at sf0.1.
    per_doc = track_persist(
        bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    )
    cc = per_doc.groupBy("bigram").agg(F.sum("cnt").alias("c"))
    return (
        per_doc.join(cc, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.when(F.col("c") == 1, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(F.col("c") * F.col("cnt")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("mean_bigram_freq"),
        )
    )


# --- north star: end-to-end training-prep v2 -------------------------------
# The round-2 operators composed as ONE dataflow — what a user actually
# runs before training: quality-classifier gate → exact dedup (min doc
# per fingerprint) → domain-mixture cap → reproducible training order.
# Every stage is deterministic, so the whole pipeline carries a single
# DuckDB oracle. Plan shape: two aggregation shuffles (dedup, counts) +
# one ranking exchange — the text never shuffles after the gate (only
# doc_id/source survive stage 1).
@_q(
    "q_training_prep_v2",
    f"""
    WITH feats AS (
        SELECT doc_id, source, text,
               string_split(text, ' ') AS toks,
               CAST(len(text) AS DOUBLE) AS n_chars,
               CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
                    AS DOUBLE) AS n_digits,
               CAST(len(regexp_extract_all(text, '[.,!?;:]{{2,}}')) AS DOUBLE)
                 AS punct_runs
        FROM documents
    ), scored AS (
        SELECT doc_id, source, text,
               -2.0 + 0.35 * (n_chars / len(toks))
                    + 4.0 * (CAST(len(list_filter(toks,
                              x -> list_contains({{_sw}}, x))) AS DOUBLE)
                             / len(toks))
                    + 1.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                             / len(toks))
                    - 3.0 * (n_digits / n_chars)
                    - 0.5 * punct_runs AS logit
        FROM feats
    ), kept AS (
        SELECT doc_id, source, text FROM scored WHERE logit >= 0
    ), reps AS (
        SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)
    ), docs2 AS (
        SELECT k.doc_id, k.source FROM kept k JOIN reps r USING (doc_id)
    ), counts AS (
        SELECT source, COUNT(*) AS n_source FROM docs2 GROUP BY source
    ), m AS (SELECT MIN(n_source) AS n_min FROM counts),
    sel AS (
        SELECT d.doc_id, d.source
        FROM docs2 d JOIN counts c USING (source) CROSS JOIN m
        WHERE (((d.doc_id % 2147483647) * 2654435761) % 4294967296) % {_MIX_MOD}
                * c.n_source < m.n_min * {_MIX_MOD}
    )
    SELECT CAST(row_number() OVER (
                 ORDER BY (((doc_id % 2147483647) * 2654435761) % 4294967296)
                              % {_MIX_MOD},
                          doc_id) AS BIGINT) AS train_pos,
           doc_id, source
    FROM sel
    """.replace("{_sw}", "['the','a','of','and','to','in','is','on','for','with']"),
)
def q_training_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.workload.text import (
        QUERIES as _TEXT_Q,
    )

    # Stage 1: quality gate — reuse the classifier query (same expressions,
    # same weights) and keep only passing doc_ids.
    scored = _TEXT_Q["q_quality_classifier"](spark, sf_dir)
    kept_ids = scored.where(F.col("keep")).select("doc_id")
    # The gated corpus feeds BOTH the fingerprint aggregate and the
    # representative join; without persist every consumer re-runs the
    # regex-heavy classifier subtree (measured: 27 exchanges in the
    # unpersisted plan, classifier evaluated 4×). Fingerprint the text
    # HERE so the persisted relation is (doc_id, source, fp) — the text
    # itself never enters the cache (shared-relation policy of
    # q_bigram_lm / minhash band-hash).
    d = track_persist(
        t(spark, sf_dir, "documents")
        .join(kept_ids, "doc_id")
        .select("doc_id", "source", F.md5("text").alias("fp"))
    )
    # Stage 2: exact dedup — min doc_id per content fingerprint; only
    # (doc_id, source) survive past here.
    reps = d.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    docs2 = track_persist(
        d.join(reps.select("doc_id"), "doc_id").select("doc_id", "source")
    )
    # Stage 3: domain-mixture cap (division-free BIGINT rate test).
    counts = docs2.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    n_min = counts.agg(F.min("n_source").alias("n_min"))
    sel = (
        docs2.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(n_min))
        .where(
            _mix_hash(F.col("doc_id")) * F.col("n_source")
            < F.col("n_min") * F.lit(_MIX_MOD)
        )
        .select("doc_id", "source")
    )
    # Stage 4: reproducible training order — the distributed
    # zipWithIndex shape, factored into plans/rank.py (arithmetic range
    # split: no sampling, no persist).
    keyed = sel.withColumn("shuffle_key", _mix_hash(F.col("doc_id")))
    rng = F.floor((F.col("shuffle_key") * _ORDER_RANGES) / F.lit(_MIX_MOD))
    return (
        global_rank(
            keyed,
            ["shuffle_key", "doc_id"],
            rank_col="train_pos",
            num_ranges=_ORDER_RANGES,
            range_id=rng,
        )
        .select(
            "train_pos",
            "doc_id",
            "source",
        )
    )


# --- north star: BPE tokenizer training (iterative top-pair merges) --------
# A REAL byte-pair-encoding trainer, not a stand-in: start from the
# character sequence of every distinct word ('h e l l o </w>'), then
# repeatedly (1) count adjacent symbol pairs weighted by word frequency,
# (2) merge the most frequent pair corpus-wide. The output is the merge
# table itself — the artifact a tokenizer ships.
#
# Merge semantics (the pinned spec, identical in Spark, DuckDB and the
# pure-Python test reference): one leftmost-non-overlapping string
# replace of ' l r ' per iteration. Canonical BPE merges back-to-back
# repeats of the same pair via zero-width boundary regex — RE2 (DuckDB)
# has no lookarounds, so that form is not portable; for natural text the
# difference only appears in degenerate runs like 'a b a b'.
#
# Scale: the corpus is touched by ONE distributed aggregate, corpus →
# word vocabulary (w, freq), which crosses to the driver once. The merges
# then run in memory on a w → sym map: every merge depends on the
# previous argmax, so each step is a global barrier, and a Spark job per
# step would pay fixed job overhead for a vocabulary-sized computation.
# Word-count-then-merge-in-memory is how standard BPE trainers work. The
# driver-memory bound is the vocabulary, the same one q_bpe_tokens'
# broadcast of the trained vocabulary already imposes.
_BPE_MERGES = 8


def _bpe_oracle(n: int = _BPE_MERGES) -> str:
    parts = [
        """
    WITH words AS MATERIALIZED (
        SELECT token AS w, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ), w0 AS MATERIALIZED (
        SELECT w, freq,
               coalesce(array_to_string(list_transform(range(1, len(w)+1),
                                                       i -> w[CAST(i AS INTEGER)]),
                                        ' '), '')
                 || ' </w>' AS sym
        FROM words
    )"""
    ]
    # w{i} rewrites only the words holding the pair, as bpe_train does:
    # trimming an untouched empty token (' </w>') would drop its '' symbol,
    # and after an early stop t{i} is empty, so the NULL pair keeps sym.
    for i in range(1, n + 1):
        l, r = f"(SELECT l FROM t{i})", f"(SELECT r FROM t{i})"
        pair, merged = f"' ' || {l} || ' ' || {r} || ' '", f"' ' || {l} || {r} || ' '"
        parts.append(f""",
    p{i} AS MATERIALIZED (
        SELECT tk[i] AS l, tk[i+1] AS r, SUM(freq) AS cnt
        FROM (SELECT freq, string_split(sym, ' ') AS tk FROM w{i-1}),
             UNNEST(generate_series(1, len(tk)-1)) AS g(i)
        GROUP BY 1, 2
    ),
    t{i} AS MATERIALIZED (
        SELECT l, r, CAST(cnt AS BIGINT) AS cnt
        FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
    ),
    w{i} AS MATERIALIZED (
        SELECT w, freq,
               CASE WHEN contains(' ' || sym || ' ', {pair})
                    THEN trim(replace(' ' || sym || ' ', {pair}, {merged}))
                    ELSE sym END AS sym
        FROM w{i-1}
    )""")
    selects = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, cnt AS pair_count FROM t{i}"
        for i in range(1, n + 1)
    )
    return "".join(parts) + "\n    " + selects


def _bpe_pairs(sym: str) -> list[tuple[str, str]]:
    tk = sym.split(" ")
    return list(zip(tk, tk[1:]))


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = _BPE_MERGES
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run up to ``n_merges`` BPE merge iterations; return (merge_log,
    final_vocab) where merge_log is [(step, left, right, merged,
    pair_count)] and final_vocab is the (w, freq, sym) DataFrame after
    all merges — the segmentation table ``q_bpe_tokens`` applies.
    Training stops early once no adjacent pair is left.

    The word vocabulary is aggregated in Spark and collected once; the
    merges run in memory on it, with pair counts kept incrementally
    (only words containing the winning pair are re-counted)."""
    freq = {
        r["w"]: r["freq"]
        for r in df.select(F.explode(F.split(text_col, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()
    }
    # An empty token (dirty whitespace) becomes ' </w>', i.e. the symbols
    # ['', '</w>'].
    sym = {w: " ".join(w) + " </w>" for w in freq}
    counts: Counter = Counter()
    for w, s in sym.items():
        for p in _bpe_pairs(s):
            counts[p] += freq[w]
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, l + r, cnt))
        old, new = f" {l} {r} ", f" {l}{r} "
        for w, s in sym.items():
            padded = f" {s} "
            if old not in padded:
                continue
            for p in _bpe_pairs(s):
                counts[p] -= freq[w]
            # Spark's and DuckDB's trim strip spaces only, not all whitespace
            sym[w] = s = padded.replace(old, new).strip(" ")
            for p in _bpe_pairs(s):
                counts[p] += freq[w]
        counts = +counts  # drop pairs whose count fell to zero
    vocab = local_rows(
        df.sparkSession,
        [(w, freq[w], s) for w, s in sym.items()],
        "w string, freq bigint, sym string",
    )
    return merges, vocab


@_q("q_bpe_train", _bpe_oracle())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = bpe_train(t(spark, sf_dir, "documents"))
    return local_rows(
        spark,
        merges,
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
    )


# --- north star: BPE token counting (apply the trained merges) -------------
# The "token counting" mandate upgraded from whitespace-split to the
# actual trained tokenizer: per-document BPE token counts = the length
# of each word's merged symbol sequence, joined back through the word
# vocabulary. The heavy corpus side is ONE explode + broadcast join +
# sum — the vocabulary (with subtoken counts) is tiny relative to the
# corpus, exactly how a shipped tokenizer is applied at 100 TB.
def _bpe_tokens_oracle(n: int = _BPE_MERGES) -> str:
    body = _bpe_oracle(n)
    # reuse the unrolled merge CTE chain, swap the final SELECT
    cut = body.index("SELECT 1 AS step")
    return body[:cut].rstrip() + f""",
    wc AS MATERIALIZED (
        SELECT w, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sub
        FROM w{n}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
    JOIN wc USING (w)
    GROUP BY doc_id
    """


@_q("q_bpe_tokens", _bpe_tokens_oracle())
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    _, vocab = bpe_train(d)
    wc = vocab.select(
        "w", F.size(F.split("sym", " ")).cast("bigint").alias("n_sub")
    )
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return (
        words.join(F.broadcast(wc), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )


# --- negative sampling for recommendation training -------------------------
# For each of the first 50 customers: 5 parts they have NEVER bought,
# chosen deterministically. The scale-correct shape, not the naive one:
# the candidate side is a HASH-SAMPLED slice of the item catalog
# (Lehmer residue, ~5%), so the users × candidates cross join is
# users × (catalog/20) instead of users × catalog; interactions are
# removed with an anti join; the per-user top-5 is ranked by a
# deterministic pair hash (Lehmer over a composite), so reruns and
# engines agree bit-for-bit. At 100 TB the candidate threshold is the
# dial: sample rate × catalog must stay broadcastable.
_NEG_USERS = 50
_NEG_K = 5


@_q(
    "q_negative_sampling",
    f"""
    WITH cand AS (
        SELECT p_partkey FROM part
        WHERE (p_partkey * 48271) % 2147483647 % 20 = 0
    ), users AS (
        SELECT c_custkey FROM customer WHERE c_custkey < {_NEG_USERS}
    ), interactions AS (
        SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS p_partkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), scored AS (
        SELECT u.c_custkey, c.p_partkey,
               (u.c_custkey * 1000003 + c.p_partkey) * 48271 % 2147483647
                   AS pair_hash
        FROM users u CROSS JOIN cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM interactions i
            WHERE i.c_custkey = u.c_custkey AND i.p_partkey = c.p_partkey
        )
    )
    SELECT c_custkey, p_partkey, CAST(pair_hash AS BIGINT) AS pair_hash,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY pair_hash, p_partkey) AS rnk
        FROM scored
    )
    WHERE rnk <= {_NEG_K}
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    cand = p.where((F.col("p_partkey") * 48271) % 2147483647 % 20 == 0).select(
        "p_partkey"
    )
    users = c.where(F.col("c_custkey") < _NEG_USERS).select("c_custkey")
    interactions = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"), F.col("l_partkey").alias("p_partkey"))
        .distinct()
    )
    scored = (
        users.crossJoin(F.broadcast(cand))
        .join(interactions, ["c_custkey", "p_partkey"], "left_anti")
        .withColumn(
            "pair_hash",
            ((F.col("c_custkey") * 1000003 + F.col("p_partkey")) * 48271
             % 2147483647).cast("bigint"),
        )
    )
    w = Window.partitionBy("c_custkey").orderBy("pair_hash", "p_partkey")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _NEG_K)
        .select("c_custkey", "p_partkey", "pair_hash", "rnk")
    )


# --- group-aware train/val/test split (leakage-safe by construction) ------
# The split every supervised pipeline needs and the one most get wrong:
# rows must be assigned by GROUP (all of a user's events land in one
# split) or temporal/user leakage inflates validation scores. Assignment
# is the same engine-portable Knuth multiplicative hash as
# q_sample_reservoir — a pure per-row expression, zero shuffle, no RNG
# state — cut at 80/10/10 of the 2^32 hash space. The output is the
# audit: per-split user and event counts plus a leak_free boolean that
# PROVES group-disjointness (sum of per-split distinct users == global
# distinct users — any user in two splits breaks the equality). Scale:
# one hash aggregate per grouping (map-side combinable); the audit
# relation is O(3), broadcast-crossed, never collected.
@_q(
    "q_group_split",
    """
    WITH a AS (
        SELECT CASE
                 WHEN ((user_id % 2147483647) * 2654435761) % 4294967296
                        < 3435973837
                   THEN 'train'
                 WHEN ((user_id % 2147483647) * 2654435761) % 4294967296
                        < 3865470566
                   THEN 'val'
                 ELSE 'test'
               END AS split,
               user_id, event_id
        FROM events
    ), per AS (
        SELECT split,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM a GROUP BY split
    ), g AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_users
        FROM events
    ), s AS (
        SELECT CAST(SUM(n_users) AS BIGINT) AS split_user_sum FROM per
    )
    SELECT per.split, per.n_users, per.n_events,
           s.split_user_sum = g.total_users AS leak_free
    FROM per, g, s
    """,
)
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    a = e.select(
        F.expr(
            "CASE WHEN ((user_id % 2147483647) * 2654435761) % 4294967296"
            " < 3435973837 THEN 'train'"
            " WHEN ((user_id % 2147483647) * 2654435761) % 4294967296"
            " < 3865470566 THEN 'val' ELSE 'test' END"
        ).alias("split"),
        "user_id",
        "event_id",
    )
    # Two-level rollup instead of per-split countDistinct: the
    # (split, user) relation feeds BOTH per-split stats in one more tiny
    # aggregate, and the cross-split user sum rides a single-partition
    # window over the O(3)-row result — no re-derivation of the events
    # subtree for the audit side (first cut re-ran the whole scan+agg for
    # the SUM branch: 7 shuffles → 4).
    u = a.groupBy("split", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev")
    )
    per = u.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
    )
    g = e.agg(F.countDistinct("user_id").cast("bigint").alias("total_users"))
    # bounded: per-split aggregate — 3 rows
    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.withColumn("split_user_sum", F.sum("n_users").over(w).cast("bigint"))
        .crossJoin(F.broadcast(g))
        .select(
            "split",
            "n_users",
            "n_events",
            (F.col("split_user_sum") == F.col("total_users")).alias("leak_free"),
        )
    )


# ===================== round-3 additions ====================================
# --- instruction-tuning loss masks (prompt/completion span split) ----------
# SFT data prep: every example needs to know which token span is prompt
# (loss-masked) and which is completion (trained on). The boundary here
# is the first occurrence of the marker token 'query' (the corpus's
# instruction-boundary stand-in); docs without it are all-prompt
# (mask_ratio 0 — they contribute no training signal and a real pipeline
# would drop them, which is why the ratio is the output). Pure scan-side
# arithmetic: array_position + three exact integers + ONE shared-text
# division. At 100 TB this is a zero-shuffle projection.
@_q(
    "q_loss_mask",
    """
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               COALESCE(list_position(string_split(text, ' '), 'query'), 0)
                   AS marker_pos
        FROM documents
    )
    SELECT doc_id, n_tokens,
           marker_pos > 0 AS has_marker,
           CAST(CASE WHEN marker_pos > 0 THEN marker_pos ELSE n_tokens END
                AS BIGINT) AS prompt_tokens,
           CAST(n_tokens - CASE WHEN marker_pos > 0 THEN marker_pos
                                ELSE n_tokens END AS BIGINT)
               AS completion_tokens,
           CAST(n_tokens - CASE WHEN marker_pos > 0 THEN marker_pos
                                ELSE n_tokens END AS DOUBLE)
               / CAST(n_tokens AS DOUBLE) AS mask_ratio
    FROM d
    """,
)
def q_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(tk).cast("bigint").alias("n_tokens"),
        # Spark's array_position already returns 0 when absent (DuckDB's
        # list_position returns NULL — coalesced in the oracle).
        F.array_position(tk, "query").alias("marker_pos"),
    )
    prompt = F.when(F.col("marker_pos") > 0, F.col("marker_pos")).otherwise(
        F.col("n_tokens")
    )
    return base.select(
        "doc_id",
        "n_tokens",
        (F.col("marker_pos") > 0).alias("has_marker"),
        prompt.cast("bigint").alias("prompt_tokens"),
        (F.col("n_tokens") - prompt).cast("bigint").alias("completion_tokens"),
        (
            (F.col("n_tokens") - prompt).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("mask_ratio"),
    )


# --- north star: temperature-scaled mixture weights (round 4) -------------
# The other standard mixture policy next to q_mix_domains' min-downsample:
# temperature sampling weights w_s = n_s^tau / SUM n^tau with tau = 0.5
# (the multilingual-LM "temperature" that upsamples small domains without
# flattening to uniform). sqrt is correctly rounded in IEEE-754, so
# sqrt(n) is bit-identical across engines — but a SUM of those doubles
# is order-dependent, so each sqrt is quantized to an exact 1e6-grain
# BIGINT first (the workload's standard quantize-then-integer-sum form);
# the weight is then ONE double division of exact integers. planned_docs
# applies the weights to a fixed 10k-sample budget with floor (exact).
# Plan: per-source counts (combinable agg, O(sources) rows), one 1-row
# total, broadcast both — zero corpus shuffle at any scale.
_TEMP_BUDGET = 10_000
_TEMP_SCALE = 1_000_000


@_q(
    "q_mix_temperature",
    f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        GROUP BY source
    ), q AS (
        SELECT source, n_docs,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {_TEMP_SCALE} + 0.5)
                    AS BIGINT) AS qs
        FROM counts
    ), tot AS (SELECT CAST(SUM(qs) AS BIGINT) AS qtot FROM q)
    SELECT source, n_docs,
           CAST(qs AS DOUBLE) / CAST(qtot AS DOUBLE) AS weight,
           CAST(floor((CAST(qs AS DOUBLE) / CAST(qtot AS DOUBLE))
                      * {_TEMP_BUDGET}) AS BIGINT) AS planned_docs
    FROM q CROSS JOIN tot
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    q = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * _TEMP_SCALE + 0.5)
        .cast("bigint")
        .alias("qs"),
    )
    tot = q.agg(F.sum("qs").cast("bigint").alias("qtot"))
    w = F.col("qs").cast("double") / F.col("qtot").cast("double")
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        w.alias("weight"),
        F.floor(w * _TEMP_BUDGET).cast("bigint").alias("planned_docs"),
    )


# --- filter-cascade funnel audit (round 4) --------------------------------
# The dataset-engineering report that precedes any corpus release: how
# many documents survive each successive quality gate, in order. Gates
# are DIVISION-FREE integer predicates so both engines agree exactly:
#   g1 length window       100 <= n_chars <= 2000
#   g2 lexical diversity   5 * distinct_tokens >= total_tokens
#   g3 repetition cap      4 * max_token_count <= total_tokens
#   g4 exact-dup winner    doc_id == min(doc_id) per identical text
# One pass computes all per-doc flags (token stats in a single grouped
# explode, dup winners via a groupBy-min join — both combinable), then
# ONE aggregate emits the 5-stage funnel as rows. At 100 TB: two
# shuffles total (token agg by doc, dedup agg by text) + a broadcast of
# nothing — the funnel itself is a 1-row-per-stage reduce.
@_q(
    "q_filter_cascade",
    """
    WITH ts AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_toks,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM (
            SELECT doc_id, tok, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ) GROUP BY doc_id
    ), winner AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ), flags AS (
        SELECT d.doc_id,
               CASE WHEN d.n_chars BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS g1,
               CASE WHEN 5 * ts.n_distinct >= ts.n_toks THEN 1 ELSE 0 END AS g2,
               CASE WHEN 4 * ts.max_cnt <= ts.n_toks THEN 1 ELSE 0 END AS g3,
               CASE WHEN w.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g4
        FROM documents d
        JOIN ts USING (doc_id)
        LEFT JOIN winner w ON w.doc_id = d.doc_id
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s0,
               CAST(SUM(g1) AS BIGINT) AS s1,
               CAST(SUM(g1 * g2) AS BIGINT) AS s2,
               CAST(SUM(g1 * g2 * g3) AS BIGINT) AS s3,
               CAST(SUM(g1 * g2 * g3 * g4) AS BIGINT) AS s4
        FROM flags
    )
    SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS stage, 'all' AS gate, s0 AS n_docs FROM agg
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'length', s1 FROM agg
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'diversity', s2 FROM agg
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'repetition', s3 FROM agg
        UNION ALL
        SELECT CAST(4 AS BIGINT), 'exact_dedup', s4 FROM agg
    )
    """,
)
def q_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    ts = tok.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_toks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    winner = d.groupBy("text").agg(F.min("doc_id").alias("wid"))
    flags = (
        d.join(ts, "doc_id")
        .join(winner.select(F.col("wid").alias("doc_id"), F.lit(1).alias("w")),
              "doc_id", "left")
        .select(
            F.when(F.col("n_chars").between(100, 2000), 1).otherwise(0).alias("g1"),
            F.when(5 * F.col("n_distinct") >= F.col("n_toks"), 1)
            .otherwise(0)
            .alias("g2"),
            F.when(4 * F.col("max_cnt") <= F.col("n_toks"), 1)
            .otherwise(0)
            .alias("g3"),
            F.when(F.col("w").isNotNull(), 1).otherwise(0).alias("g4"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("s0"),
        F.sum("g1").cast("bigint").alias("s1"),
        F.sum(F.col("g1") * F.col("g2")).cast("bigint").alias("s2"),
        F.sum(F.col("g1") * F.col("g2") * F.col("g3")).cast("bigint").alias("s3"),
        F.sum(F.col("g1") * F.col("g2") * F.col("g3") * F.col("g4"))
        .cast("bigint")
        .alias("s4"),
    )
    return agg.selectExpr(
        "stack(5, CAST(0 AS BIGINT), 'all', s0,"
        " CAST(1 AS BIGINT), 'length', s1,"
        " CAST(2 AS BIGINT), 'diversity', s2,"
        " CAST(3 AS BIGINT), 'repetition', s3,"
        " CAST(4 AS BIGINT), 'exact_dedup', s4) AS (stage, gate, n_docs)"
    )


# --- rendezvous (HRW) sharding + reshard-movement audit (round 4) ----------
# Data-placement primitive for serving a 100 TB corpus: each key goes to
# the shard with the highest md5(key ':' shard) — Highest Random Weight
# (rendezvous) hashing, the consistent-hashing scheme with provably
# minimal movement. The audit computes every doc's shard under N=8 and
# N=9 and proves the property on real data: per old shard, how many keys
# moved at all (~1/9 expected) and how many moved to a shard OTHER than
# the new one (`n_moved_wrong` — MUST be 0 by the HRW argmax argument:
# adding a candidate can only win or leave the old argmax standing).
# Cross-engine exact: md5 is bit-identical (verified primitive), the
# argmax compares hex strings lexicographically, ties are impossible
# (md5 collision), counts are integers. The per-row shard choice is a
# higher-order array expression inside whole-stage codegen — zero
# Python, zero shuffle; the audit aggregate is one combinable groupBy
# on 9 keys. At 100 TB this is exactly the assignment job a placement
# controller runs, embarrassingly parallel over the corpus scan.
_HRW_N_OLD, _HRW_N_NEW = 8, 9


def _hrw_oracle() -> str:
    def grid(n: int, tag: str) -> str:
        return f"""
    g{tag} AS (
        SELECT doc_id, CAST(r.s AS INT) AS s,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.s AS VARCHAR)) AS h
        FROM documents, range(0, {n}) r(s)
    ), a{tag} AS (
        SELECT doc_id, arg_max(s, h) AS shard{tag} FROM g{tag} GROUP BY doc_id
    )"""

    return f"""
    WITH {grid(_HRW_N_OLD, "8")}, {grid(_HRW_N_NEW, "9")}
    SELECT shard8,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
           CAST(SUM(CASE WHEN shard9 <> shard8
                          AND shard9 <> {_HRW_N_OLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_wrong
    FROM a8 JOIN a9 USING (doc_id)
    GROUP BY shard8
    """


def _hrw_shard(n: int):
    return F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda s: F.struct(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        s.cast("string"),
                    )
                ).alias("h"),
                s.cast("int").alias("shard"),
            ),
        )
    )["shard"]


@_q("q_rendezvous_shards", _hrw_oracle())
def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        _hrw_shard(_HRW_N_OLD).alias("shard8"),
        _hrw_shard(_HRW_N_NEW).alias("shard9"),
    )
    moved = F.col("shard9") != F.col("shard8")
    return d.groupBy("shard8").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(moved, 1).otherwise(0)).cast("bigint").alias("n_moved"),
        F.sum(
            F.when(moved & (F.col("shard9") != _HRW_N_OLD), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved_wrong"),
    )


# --- randomized-response private counts (round 4) ---------------------------
# Local differential privacy for a binary attribute, the governance
# complement to q_pii_scrub / q_kanonymity: each document reports its
# sensitive bit (lang = 'en') TRUTHFULLY only when its first hash coin
# says so, otherwise it reports a second hash coin — classic Warner
# randomized response with p(truth) = 1/2, noise mean 1/2, giving every
# individual row plausible deniability while the per-source aggregate
# stays estimable: E[obs] = T/2 + n/4, so T̂ = 2·obs − n/2. The "coins"
# are md5-derived (first 4 hex digits → 16-bit integer; bit 0 and bit 1)
# so the whole mechanism is deterministic and cross-engine exact — the
# hex→bigint bridge is the verified conv/CAST('0x'…) primitive, and the
# estimator's arithmetic is dyadic (×2, ×0.5 of integers), hence
# IEEE-exact in both engines. est_err audits the estimator against the
# held-out truth. 100 TB: one narrow projection + one combinable
# 5-column aggregate per source; zero shuffles beyond the groupBy.
@_q(
    "q_rr_privacy",
    """
    WITH r AS (
        SELECT source,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                    AS BIGINT) AS c
        FROM documents
    ), m AS (
        SELECT source, truth,
               CASE WHEN c % 2 = 1 THEN truth
                    WHEN c % 4 >= 2 THEN 1 ELSE 0 END AS reported
        FROM r
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(truth) AS BIGINT) AS n_true,
           CAST(SUM(reported) AS BIGINT) AS n_reported,
           2.0 * CAST(SUM(reported) AS DOUBLE)
             - 0.5 * CAST(COUNT(*) AS DOUBLE) AS est_true,
           (2.0 * CAST(SUM(reported) AS DOUBLE)
             - 0.5 * CAST(COUNT(*) AS DOUBLE))
             - CAST(SUM(truth) AS DOUBLE) AS est_err
    FROM m GROUP BY source
    """,
)
def q_rr_privacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        .alias("c"),
    )
    m = d.select(
        "source",
        "truth",
        F.when(F.col("c") % 2 == 1, F.col("truth"))
        .when(F.col("c") % 4 >= 2, F.lit(1))
        .otherwise(0)
        .alias("reported"),
    )
    est = (
        F.lit(2.0) * F.sum("reported").cast("double")
        - F.lit(0.5) * F.count(F.lit(1)).cast("double")
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("truth").cast("bigint").alias("n_true"),
        F.sum("reported").cast("bigint").alias("n_reported"),
        est.alias("est_true"),
        (est - F.sum("truth").cast("double")).alias("est_err"),
    )


# --- coherent multi-table sampling (round 4) ---------------------------------
# Sampling a star schema for a dev slice: hash-select 5% of CUSTOMERS,
# then take exactly their orders and those orders' line items. The
# 100 TB trick this query demonstrates AND verifies: orders don't need
# a join against the sampled customer set — hashing the FOREIGN KEY
# (o_custkey) with the same md5 rule selects the identical rows with
# zero shuffle (`join_free_consistent` must be TRUE; any drift between
# the two derivations is a driver value failure). Line items hang off
# orders by key join (their FK is o_orderkey, one hop removed). The
# md5→bigint bridge is the verified cross-engine primitive; all counts
# exact, fractions one division each.
_COH_MOD = 20  # keep key % 20 == 0 → 5%


def _coh_pick(col: str) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8) AS BIGINT)"
        f" % {_COH_MOD} = 0"
    )


@_q(
    "q_sample_coherent",
    f"""
    WITH sc AS (
        SELECT c_custkey FROM customer WHERE {_coh_pick('c_custkey')}
    ), so AS (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM sc)
    ), so_hash AS (
        SELECT o_orderkey FROM orders WHERE {_coh_pick('o_custkey')}
    ), sl AS (
        SELECT l.l_orderkey FROM lineitem l
        WHERE l.l_orderkey IN (SELECT o_orderkey FROM so)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT COUNT(*) FROM sc) AS BIGINT) AS n_sampled,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_total,
           CAST((SELECT COUNT(*) FROM sc) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM customer) AS DOUBLE) AS frac,
           (SELECT COUNT(*) FROM so) = (SELECT COUNT(*) FROM so_hash)
               AS join_free_consistent
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM so) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM so) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM orders) AS DOUBLE),
           (SELECT COUNT(*) FROM so) = (SELECT COUNT(*) FROM so_hash)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM sl) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM sl) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE),
           (SELECT COUNT(*) FROM so) = (SELECT COUNT(*) FROM so_hash)
    """,
)
def q_sample_coherent(spark: SparkSession, sf_dir: str) -> DataFrame:
    def pick(col):
        return (
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % _COH_MOD
            == 0
        )

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    sc = cust.where(pick("c_custkey")).select("c_custkey")
    so = orders.join(
        F.broadcast(sc), orders.o_custkey == sc.c_custkey, "left_semi"
    ).select("o_orderkey")
    so_hash = orders.where(pick("o_custkey")).select("o_orderkey")
    sl = li.join(
        F.broadcast(so), li.l_orderkey == so.o_orderkey, "left_semi"
    )
    counts = {
        "sc": sc.agg(F.count(F.lit(1)).alias("c")),
        "so": so.agg(F.count(F.lit(1)).alias("c")),
        "so_hash": so_hash.agg(F.count(F.lit(1)).alias("c")),
        "sl": sl.agg(F.count(F.lit(1)).alias("c")),
        "customer": cust.agg(F.count(F.lit(1)).alias("c")),
        "orders": orders.agg(F.count(F.lit(1)).alias("c")),
        "lineitem": li.agg(F.count(F.lit(1)).alias("c")),
    }
    # Seven one-row aggregates folded into one row via broadcast
    # cross-joins (each side is a single row — no data movement).
    row = None
    for name, df in counts.items():
        df = df.select(F.col("c").alias(f"c_{name}"))
        row = df if row is None else row.crossJoin(F.broadcast(df))
    consistent = (F.col("c_so") == F.col("c_so_hash")).alias(
        "join_free_consistent"
    )

    def line(table: str, sampled: str, total: str):
        return row.select(
            F.lit(table).alias("table_name"),
            F.col(f"c_{sampled}").cast("bigint").alias("n_sampled"),
            F.col(f"c_{total}").cast("bigint").alias("n_total"),
            (
                F.col(f"c_{sampled}").cast("double")
                / F.col(f"c_{total}").cast("double")
            ).alias("frac"),
            consistent,
        )

    return (
        line("customer", "sc", "customer")
        .unionByName(line("orders", "so", "orders"))
        .unionByName(line("lineitem", "sl", "lineitem"))
    )


# --- acceptance sampling QC gate (round 4) -----------------------------------
# Lot-acceptance quality control per source: deterministically sample
# 10 documents per source (md5 rank — the reproducible "random" draw,
# doc_id tie-break), count defects (n_chars < 150, the short-doc
# gate), and accept the lot only if defects ≤ c = 1 — the AQL
# single-sampling plan run as a query. The point at 100 TB: the QC
# decision reads ONLY the per-source sample (window top-10 on the
# md5 rank — a bounded per-group selection, map-side prunable with
# AQE), never the full lot. All integers + one BOOLEAN.
_AQL_N = 10
_AQL_C = 1
_AQL_MIN_CHARS = 150


@_q(
    "q_acceptance_sampling",
    f"""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN n_chars < {_AQL_MIN_CHARS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_defects,
           SUM(CASE WHEN n_chars < {_AQL_MIN_CHARS} THEN 1 ELSE 0 END)
               <= {_AQL_C} AS accepted
    FROM ranked WHERE rn <= {_AQL_N}
    GROUP BY source
    """,
)
def q_acceptance_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    d = (
        t(spark, sf_dir, "documents")
        .select("source", "n_chars", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= _AQL_N)
    )
    defects = F.sum(
        F.when(F.col("n_chars") < _AQL_MIN_CHARS, 1).otherwise(0)
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        defects.cast("bigint").alias("n_defects"),
        (defects <= _AQL_C).alias("accepted"),
    )


# --- priority sampling: weighted without-replacement draw (round 4) ----------
# Duffield-Lund-Thorup priority sampling — THE weighted
# without-replacement scheme for data pipelines: each item gets
# priority w/u with u a uniform (0,1] draw, and the k highest
# priorities are the sample (with w/τ estimators, τ = the (k+1)-th
# priority). Here u is md5-derived ((h+1)/2^32 from the first 8 hex
# digits — deterministic, reproducible, cross-engine exact via the
# verified hex→bigint bridge), w = n_chars. Everything is one narrow
# projection + a global top-(k+1) — TakeOrderedAndProject, no full
# sort at any scale. The sample itself (k=100 by priority desc, doc_id
# tie-break) and τ are both reported; weights stay exact integers, the
# priorities are single divisions.
_PS_K = 100


@_q(
    "q_priority_sampling",
    f"""
    WITH p AS (
        SELECT doc_id, n_chars,
               CAST(n_chars AS DOUBLE) /
                 ((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) AS DOUBLE) + 1.0) / 4294967296.0)
                   AS priority
        FROM documents
    ), r AS (
        SELECT doc_id, n_chars, priority,
               ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
        FROM p
    ), tau AS (
        SELECT priority AS t FROM r WHERE rn = {_PS_K} + 1
    )
    SELECT r.doc_id, CAST(r.n_chars AS BIGINT) AS weight, r.priority,
           tau.t AS tau,
           greatest(CAST(r.n_chars AS DOUBLE), tau.t) AS est_weight
    FROM r CROSS JOIN tau
    WHERE r.rn <= {_PS_K}
    """,
)
def q_priority_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        + 1.0
    ) / 4294967296.0
    p = d.select(
        "doc_id",
        "n_chars",
        (F.col("n_chars").cast("double") / u).alias("priority"),
    )
    # top-(K+1) selection: sort+limit plans as TakeOrderedAndProject
    # (no global sort); the rank window then runs over the bounded
    # (K+1)-row relation only.
    topk = p.orderBy(F.desc("priority"), "doc_id").limit(_PS_K + 1)
    # bounded: rank over the K+1-row top-k relation
    r = topk.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("priority"), "doc_id"))
        .alias("rn"),
    )
    tau = r.where(F.col("rn") == _PS_K + 1).select(
        F.col("priority").alias("tau")
    )
    return (
        r.where(F.col("rn") <= _PS_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            "priority",
            "tau",
            F.greatest(F.col("n_chars").cast("double"), F.col("tau")).alias(
                "est_weight"
            ),
        )
    )


# --- stratified k-fold assignment + balance audit (round 4) ------------------
# Reproducible 5-fold cross-validation splits stratified by lang: fold
# = md5-rank within each stratum mod 5, so every fold holds an equal
# (±1) share of every stratum by construction — and the audit PROVES it:
# per (lang, fold) counts plus the max-minus-min spread per lang, which
# the oracle pins to <= 1. Pure hash ranking (one per-stratum window),
# integer counts. 100 TB: fold assignment is per-row hash + a
# per-stratum rank — the rank can be replaced by direct hash mod 5
# when exact equality is relaxed; the audit stays one tiny aggregate.
_KF_FOLDS = 5


@_q(
    "q_stratified_kfold",
    f"""
    WITH r AS (
        SELECT lang,
               CAST((ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) - 1) % {_KF_FOLDS} AS INTEGER) AS fold
        FROM documents
    ), c AS (
        SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n
        FROM r GROUP BY lang, fold
    )
    SELECT lang, fold, n,
           CAST(MAX(n) OVER (PARTITION BY lang)
                - MIN(n) OVER (PARTITION BY lang) AS BIGINT) AS spread,
           (MAX(n) OVER (PARTITION BY lang)
            - MIN(n) OVER (PARTITION BY lang)) <= 1 AS balanced
    FROM c
    """,
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = t(spark, sf_dir, "documents").select(
        "lang",
        ((F.row_number().over(w) - 1) % _KF_FOLDS)
        .cast("int")
        .alias("fold"),
    )
    c = r.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wl = Window.partitionBy("lang")
    spread = F.max("n").over(wl) - F.min("n").over(wl)
    return c.select(
        "lang",
        "fold",
        "n",
        spread.cast("bigint").alias("spread"),
        (spread <= 1).alias("balanced"),
    )


# --- DSIR-style hashed-bigram importance weights (round 4) -------------------
# Data Selection via Importance Resampling (Xie et al. 2023, public):
# score every raw document by how target-like its hashed n-gram profile
# is, then sample by weight. Here the target distribution is the
# English slice, features are word bigrams hashed into 256 buckets with
# the same cheap deterministic ascii hash the feature-hashing query
# uses (hash QUALITY only moves collision rates, not operator
# correctness; at 100 TB swap scan-side xxhash64). Exactness: the
# add-one-smoothed per-bucket probability ratio
# (ct+1)(Nr+B) / ((cr+1)(Nt+B)) is ONE deterministic double division,
# floor-quantized at 1e-6 → per-doc importance sums are order-free
# exact integers; the reported weight is the ratio-mean (a monotone
# quantized surrogate for DSIR's mean log-ratio — log is
# transcendental, module exactness policy). Scale: bucket tables are
# O(B) and broadcast; the corpus is scanned once to featurize and once
# to score; nothing shuffles at row grain except the (doc, bucket)
# aggregate, which is map-side combinable.
_DSIR_B = 256
_DSIR_HASH = (
    "list_aggregate(list_transform(string_split(bg, ''),"
    " x -> ascii(x)), 'sum') * 131"
    " + strlen(bg) * 31"
    " + ascii(substr(bg, 1, 1)) * 7"
    " + ascii(substr(bg, strlen(bg), 1))"
)
_DSIR_RATIO = (
    "CAST(floor(1000000.0 * ((COALESCE(ct, 0) + 1) * (nr + 256))"
    " / ((cr + 1) * (nt + 256)) + 0.5) AS BIGINT)"
)


@_q(
    "q_dsir_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
    ), bg AS (
        SELECT doc_id, lang, tk[i] || ' ' || tk[i+1] AS bg
        FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS r(i)
    ), hashed AS (
        SELECT doc_id, lang,
               CAST(({_DSIR_HASH}) % {_DSIR_B} AS INTEGER) AS bucket
        FROM bg
    ), raw_b AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM hashed GROUP BY 1
    ), tgt_b AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
        FROM hashed WHERE lang = 'en' GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nr,
               CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS nt
        FROM hashed
    ), ratio AS (
        SELECT r.bucket, {_DSIR_RATIO} AS ratio_q
        FROM raw_b r
        -- every observed bucket has cr >= 1; absent target buckets
        -- contribute ct = 0 through the add-one smoothing
        LEFT JOIN tgt_b USING (bucket) CROSS JOIN tot
    ), scored AS (
        SELECT h.doc_id, h.lang,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(ratio.ratio_q) AS BIGINT) AS imp_q
        FROM hashed h JOIN ratio USING (bucket)
        GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_bigrams, imp_q,
           CAST(imp_q AS DOUBLE) / n_bigrams / 1000000.0 AS importance,
           CAST(row_number() OVER (
                ORDER BY CAST(imp_q AS DOUBLE) / n_bigrams / 1000000.0 DESC,
                         doc_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 50
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bg = (
        d.select("doc_id", "lang", F.split("text", " ").alias("tk"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "zip_with(slice(tk, 1, size(tk) - 1),"
                    " slice(tk, 2, size(tk) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("bg"),
        )
    )
    sum_ascii = F.aggregate(
        F.transform(F.split(F.col("bg"), ""), lambda c: F.ascii(c)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    hv = (
        sum_ascii * 131
        + F.length("bg") * 31
        + F.ascii(F.substring(F.col("bg"), 1, 1)) * 7
        + F.ascii(F.expr("substr(bg, length(bg), 1)"))
    )
    hashed = track_persist(bg.select(
        "doc_id",
        "lang",
        F.pmod(hv, F.lit(_DSIR_B)).cast("int").alias("bucket"),
    ))
    raw_b = hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cr")
    )
    tgt_b = (
        hashed.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    tot = hashed.agg(
        F.count(F.lit(1)).cast("bigint").alias("nr"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("bigint").alias("nt"),
    )
    ratio = (
        raw_b.join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.expr(
                "CAST(floor(1000000.0 * ((COALESCE(ct, 0) + 1) * (nr + 256))"
                " / ((cr + 1) * (nt + 256)) + 0.5) AS BIGINT)"
            ).alias("ratio_q"),
        )
    )
    scored = (
        hashed.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("ratio_q").cast("bigint").alias("imp_q"),
        )
    )
    imp = F.col("imp_q").cast("double") / F.col("n_bigrams") / F.lit(1000000.0)
    # top-50 selection: sort+limit plans as TakeOrderedAndProject (no
    # global sort); the rank window then runs over the bounded 50-row
    # relation only.
    top50 = scored.withColumn("importance", imp).orderBy(
        F.desc("importance"), "doc_id"
    ).limit(50)
    # bounded: rank over the 50-row top-k relation
    return (
        top50.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("importance"), "doc_id"))
            .cast("bigint"),
        )
        .select("doc_id", "lang", "n_bigrams", "imp_q", "importance", "rank")
    )


# --- per-event lag-feature materialization (round 4) -----------------------
# The feature-engineering pass a training pipeline runs before model
# fitting: for every event, its per-user sequence index, the previous
# value, the gap to the previous event in whole seconds, and the
# trailing-3 value mean. Exactness: values route through the cents
# domain so the rolling sum is an exact integer and the mean is one
# fixed-order division; gaps are floor(epoch) second differences
# (exact BIGINTs — the documented cross-engine gap idiom). Output is
# the full feature table under the (user_id, ts, event_id) total
# order. Plan: ONE hash exchange on user_id; every window reuses that
# partitioning (sequence, lag, rolling frame all share it), so the
# whole feature set costs one shuffle at any scale.
_LF_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"
_LF_ROLL = "(CAST(roll3_sum AS DOUBLE) / (CAST(roll3_n AS DOUBLE) * 100.0))"


@_q(
    "q_lag_features",
    f"""
    WITH c AS (
        SELECT CAST(event_id AS BIGINT) AS event_id, user_id, ts,
               CASE WHEN value IS NULL THEN NULL ELSE {_LF_CENTS} END AS c,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events
    ), w AS (
        SELECT event_id, user_id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT)
                   AS seq,
               LAG(c) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS lag_c,
               sec - LAG(sec) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS gap_seconds,
               CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT)
                   AS roll3_sum,
               CAST(COUNT(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT)
                   AS roll3_n
        FROM c
    )
    SELECT event_id, user_id, seq,
           CAST(lag_c AS DOUBLE) / 100.0 AS lag_value,
           gap_seconds,
           CASE WHEN roll3_n = 0 THEN NULL ELSE {_LF_ROLL} END AS roll3_mean
    FROM w
    """,
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    c = e.selectExpr(
        "CAST(event_id AS BIGINT) AS event_id",
        "user_id",
        "ts",
        f"CASE WHEN value IS NULL THEN NULL ELSE {_LF_CENTS} END AS c",
        "CAST(floor(unix_timestamp(ts)) AS BIGINT) AS sec",
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wo.rowsBetween(-3, -1)
    w = c.select(
        "event_id",
        "user_id",
        F.row_number().over(wo).cast("bigint").alias("seq"),
        F.lag("c").over(wo).alias("lag_c"),
        (F.col("sec") - F.lag("sec").over(wo)).alias("gap_seconds"),
        F.sum("c").over(wf).cast("bigint").alias("roll3_sum"),
        F.count("c").over(wf).cast("bigint").alias("roll3_n"),
    )
    return w.selectExpr(
        "event_id",
        "user_id",
        "seq",
        "CAST(lag_c AS DOUBLE) / 100.0 AS lag_value",
        "gap_seconds",
        f"CASE WHEN roll3_n = 0 THEN NULL ELSE {_LF_ROLL} END AS roll3_mean",
    )


# ===================== round-5 additions ====================================


# --- quantile normalization across sources (round 5) -------------------------
# The bioinformatics/feature-prep classic: force every source's n_chars
# distribution onto the GLOBAL distribution by rank — rank each doc
# within its source, then map that rank to the global value at the
# equivalent quantile position. All selection, no interpolation of
# values: global_pos = (r - 1) * (N - 1) // (m - 1) + 1 (pure integer),
# and the normalized value is the ELEMENT of the global sorted order at
# that position — both engines select the same exact integer. Sources
# with a single doc map to the global minimum (pos 1), stated in shared
# semantics. Plan: two rank windows + one equi-join on the global
# position. The global row_number window is the documented toy-scale
# shape; at 100 TB swap in the q_train_order range-partitioned ranking
# (identical output, no single-partition sort).
@_q(
    "q_quantile_normalize",
    """
    WITH src AS (
        SELECT doc_id, source, n_chars,
               CAST(row_number() OVER (PARTITION BY source
                                       ORDER BY n_chars, doc_id) AS BIGINT) AS r,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS m
        FROM documents
    ), gref AS (
        SELECT n_chars AS g_chars,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                   AS gpos,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM documents
    )
    SELECT s.doc_id, s.source, s.n_chars, s.r AS src_rank,
           g.g_chars AS normalized_chars
    FROM src s
    JOIN gref g
      ON g.gpos = CASE WHEN s.m = 1 THEN 1
                       ELSE (s.r - 1) * (g.n - 1) // (s.m - 1) + 1 END
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).cast("bigint").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("m"),
    )
    # Global reference distribution via the range-partitioned ranker
    # (plans/rank.py) — all documents never collapse into one sort task
    # (plan pin: tests/test_plans.py::test_quantile_normalize_no_global_sort).
    glob = global_rank(
        d, ["n_chars", "doc_id"], rank_col="gpos", total_col="n"
    ).select(F.col("n_chars").alias("g_chars"), "gpos", "n")
    joined = src.join(
        glob,
        F.col("gpos")
        == F.expr(
            "CASE WHEN m = 1 THEN 1 ELSE (r - 1) * (n - 1) div (m - 1) + 1 END"
        ),
    )
    return joined.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("r").alias("src_rank"),
        F.col("g_chars").alias("normalized_chars"),
    )


# --- context-length packing plan (round 6) -----------------------------------
# The capacity planner ahead of q_pack_sequences: for each candidate
# context length L, how many training sequences does naive per-document
# chunking need, and how much padding does it waste? ceil-division keeps
# everything integer (ceil(a/b) = (a+b-1) div b for positive ints);
# utilization is one fixed division. Plan: one per-doc token count ×
# broadcast 4-row L grid → one (L) aggregate; the text never moves.
@_q(
    "q_context_plan",
    """
    WITH toks AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        FROM documents
    ), grid AS (
        SELECT CAST(g.x AS BIGINT) AS ctx_len
        FROM (VALUES (64), (128), (256), (512)) g(x)
    )
    SELECT ctx_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM((nt + ctx_len - 1) // ctx_len) AS BIGINT) AS n_chunks,
           CAST(SUM((nt + ctx_len - 1) // ctx_len) * ctx_len
                - SUM(nt) AS BIGINT) AS padding_tokens,
           CAST(SUM(nt) AS DOUBLE)
               / CAST(SUM((nt + ctx_len - 1) // ctx_len) * ctx_len AS DOUBLE)
               AS utilization
    FROM toks CROSS JOIN grid GROUP BY ctx_len
    """,
)
def q_context_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = t(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("bigint").alias("nt")
    )
    grid = F.broadcast(
        local_rows(toks.sparkSession, [(64,), (128,), (256,), (512,)], "ctx_len long")
    )
    chunks = F.expr("(nt + ctx_len - 1) DIV ctx_len")
    return (
        toks.crossJoin(grid)
        .groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.sum(chunks).cast("bigint").alias("n_chunks"),
            (F.sum(chunks) * F.first("ctx_len") - F.sum("nt"))
            .cast("bigint")
            .alias("padding_tokens"),
            (
                F.sum("nt").cast("double")
                / (F.sum(chunks) * F.first("ctx_len")).cast("double")
            ).alias("utilization"),
        )
    )
