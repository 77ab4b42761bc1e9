"""Driver-contract query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) an
exact DuckDB oracle.

Conventions that make the oracle comparison byte-stable:
- every computed column is aliased identically in Spark and SQL;
- floats are ``round``-ed at a fixed precision in BOTH engines;
- only regex constructs with identical Java-regex/RE2 semantics are used
  JVM-side (``\\d+``, ``\\s+``, char classes); everything subtler lives in
  pandas UDFs inside the pipeline queries (which use rows-only checks).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .operators import dedup, documents as docops, similarity, text_analysis, turns
from . import pipeline, session


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational skeleton (SURVEY.md §2 operator slices over driver tables)
# ---------------------------------------------------------------------------

def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3: stable per-partition ordering + lead()."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("turn_rank"),
            F.lead("event_id").over(w).alias("next_event_id"),
        )
    )


SQL_TURN_ORDERING = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_rank,
       lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
FROM events
"""


def q_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/S6 page reassembly: in-order concat per group, deterministic via
    sort_array∘collect_list (never shuffle order)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                " ",
            ).alias("event_stream")
        )
    )


SQL_ORDERED_CONCAT = """
SELECT user_id,
       string_agg(event_type, ' ' ORDER BY ts, event_id) AS event_stream
FROM events GROUP BY user_id
"""


def q_part_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 part flatten on the driver tables: lineitem parts of an order
    joined in line-number order."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("l_linenumber", F.col("l_partkey").cast("string").alias("p"))
                        )
                    ),
                    lambda s: s["p"],
                ),
                " ",
            ).alias("part_stream"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


SQL_PART_FLATTEN = """
SELECT l_orderkey,
       string_agg(CAST(l_partkey AS VARCHAR), ' '
                  ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR)) AS part_stream,
       count(*) AS n_parts
FROM lineitem GROUP BY l_orderkey
"""


def q_regex_extract_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25 filename-key parse analog: digits out of a composite key."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.regexp_extract("o_orderpriority", "(\\d+)", 1).cast("int").alias("priority_num"),
        )
    )


SQL_REGEX_EXTRACT_KEY = """
SELECT o_orderkey,
       CAST(regexp_extract(o_orderpriority, '(\\d+)', 1) AS INT) AS priority_num
FROM orders
"""


def q_sentinel_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 missing-page sentinels: in-band sentinel strings for empty rows."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.when(
                F.col("value") <= 0,
                F.format_string("[MISSING_PAGE_EMPTY:%d]", F.col("event_id")),
            )
            .otherwise(F.col("event_type"))
            .alias("payload"),
        )
    )


SQL_SENTINEL_INJECTION = """
SELECT event_id,
       CASE WHEN value <= 0 THEN printf('[MISSING_PAGE_EMPTY:%d]', event_id)
            ELSE event_type END AS payload
FROM events
"""


def q_bbox_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/G4 column bounding-box union as min/max aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.round(F.min("l_extendedprice"), 2).alias("x1"),
        F.round(F.max(F.col("l_extendedprice") + F.col("l_quantity")), 2).alias("x2"),
        F.round(F.min("l_discount"), 2).alias("y1"),
        F.round(F.max(F.col("l_discount") + F.col("l_tax")), 2).alias("y2"),
    )


SQL_BBOX_UNION = """
SELECT l_suppkey,
       round(min(l_extendedprice), 2) AS x1,
       round(max(l_extendedprice + l_quantity), 2) AS x2,
       round(min(l_discount), 2) AS y1,
       round(max(l_discount + l_tax), 2) AS y2
FROM lineitem GROUP BY l_suppkey
"""


def q_length_meaningful_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 predicates as pushdown-friendly column expressions."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_len"),
        F.round(text_analysis.alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
    ).where((F.length("text") >= 150) & (text_analysis.alpha_ratio(F.col("text")) >= 0.7))


SQL_LENGTH_MEANINGFUL_FILTER = """
SELECT doc_id, length(text) AS n_len,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio
FROM documents
WHERE length(text) >= 150
  AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) >= 0.7
"""


def q_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W4 first-match-wins selection per partition (min_by)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min_by("event_type", "event_id").alias("first_event_type"))
    )


SQL_FIRST_MATCH = """
SELECT user_id, arg_min(event_type, event_id) AS first_event_type
FROM events GROUP BY user_id
"""


def q_last_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 reverse-scan last-match selection (max_by)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max_by("event_type", "event_id").alias("last_event_type"))
    )


SQL_LAST_MATCH = """
SELECT user_id, arg_max(event_type, event_id) AS last_event_type
FROM events GROUP BY user_id
"""


def q_broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 small-dim equi-join, explicitly broadcast, + aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_BROADCAST_JOIN_AGG = """
SELECT n_name, round(sum(l_extendedprice), 2) AS revenue, count(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/L5 resume skip: anti-join uncommitted work against the committed
    set (here: orders of customers who already have an 'F' order)."""
    orders = _t(spark, sf_dir, "orders")
    committed = orders.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return (
        orders.join(F.broadcast(committed), on="o_custkey", how="left_anti")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


SQL_ANTI_JOIN_RESUME = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE o_custkey NOT IN (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline relational aggregation (TPC-H Q1 shape): partial-agg
    friendly, fully codegen'd."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: session ids from lag + cumulative gap counter —
    the batch twin of the streaming session-window operator."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events")
    # timestampdiff(MICROSECOND) keeps the microsecond fraction (like DuckDB
    # epoch()) and is timezone-free on TIMESTAMP_NTZ; unix_timestamp()
    # truncates to whole seconds and misclassifies gaps that straddle the
    # 1800 s boundary by <1 s.
    with_gap = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .select(
            "user_id",
            "event_id",
            "ts",
            F.when(
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1_000_000,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("is_new_session"),
        )
    )
    return with_gap.select(
        "user_id",
        "event_id",
        F.sum("is_new_session")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("session_id"),
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         -- date_diff('microsecond', ...) returns BIGINT microseconds in every
         -- DuckDB release, exactly mirroring Spark's timestampdiff(MICROSECOND).
         -- epoch(ts) subtraction is version-sensitive (DOUBLE on 1.0, BIGINT
         -- truncation on older releases) and misclassifies gaps that straddle
         -- the 1800 s boundary by <1 s (e.g. a 1800.886 s gap).
         CASE WHEN date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
)
SELECT user_id, event_id,
       -- DuckDB's windowed sum() over INTEGER yields HUGEINT (int128), which
       -- degrades to float64 via .df() and decimal128(38,0) via Arrow — so a
       -- driver hashing through pandas/Arrow sees 0.0/Decimal('0') against
       -- Spark's long 0 even when values are identical. CAST pins int64
       -- through every fetch path.
       CAST(sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
FROM g
"""


def q_newline_squash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 newline squash as a dialect-safe JVM expression."""
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.trim(F.regexp_replace("text", "\\n{3,}", "\n\n")).alias("squashed"),
        )
    )


SQL_NEWLINE_SQUASH = """
SELECT doc_id, trim(regexp_replace(text, '\\n{3,}', e'\\n\\n', 'g')) AS squashed
FROM documents
"""


# ---------------------------------------------------------------------------
# text analysis / dedup / similarity (training-data pipeline operators)
# ---------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_analysis.token_count(F.col("text")).alias("n_tokens"))


SQL_TOKEN_COUNT = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
"""


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count (letter runs / digit runs / punctuation
    marks) — the portable stand-in for tokenizer-based length budgeting."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text_analysis.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens")
    )


SQL_BPE_TOKENS = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{text_analysis.BPE_ISH_PATTERN}')) AS n_bpe_tokens
FROM documents
"""


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality scoring profile."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.round(text_analysis.stopword_ratio(t), 4).alias("stop_ratio"),
        F.round(text_analysis.quality_score(t), 4).alias("quality"),
        text_analysis.predict_lang(t).alias("lang_pred"),
    )


_STOPS_SQL = ", ".join(f"'{w}'" for w in text_analysis.EN_STOPWORDS)
SQL_TEXT_PROFILE = f"""
WITH w AS (
  SELECT doc_id, text,
         len(list_filter(string_split(lower(text), ' '), x -> x IN ({_STOPS_SQL}))) * 1.0
           / len(string_split(lower(text), ' ')) AS sr,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) AS ar
  FROM documents
)
SELECT doc_id,
       round(sr, 4) AS stop_ratio,
       round(ar + sr * 2 + CASE WHEN length(text) >= 150 THEN 0.25 ELSE 0.0 END, 4) AS quality,
       CASE WHEN sr >= 0.08 THEN 'en' ELSE 'other' END AS lang_pred
FROM w
"""


def q_lang_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language-ID (n-gram heuristic)."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.round(text_analysis.lang_bigram_score(t), 4).alias("bigram_score"),
        text_analysis.predict_lang_ngram(t).alias("lang_ngram"),
    )


_BIGRAM_SUM_SQL = " + ".join(
    f"len(regexp_extract_all(lower(text), '{bg}'))" for bg in text_analysis.EN_BIGRAMS
)
SQL_LANG_NGRAM = f"""
SELECT doc_id,
       round(({_BIGRAM_SUM_SQL}) * 1.0 / length(text), 4) AS bigram_score,
       CASE WHEN ({_BIGRAM_SUM_SQL}) * 1.0 / length(text) >= 0.05
            THEN 'en' ELSE 'other' END AS lang_ngram
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text_analysis.normalized_fingerprint(F.col("text")).alias("fingerprint")
    )


SQL_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


SQL_EXACT_DEDUP = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keep_id, count(*) AS group_size
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


_SHINGLE_SQL = """
  SELECT DISTINCT doc_id,
         array_to_string(words[i : i + 2], ' ') AS shingle
  FROM (
    SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
    FROM documents
  ), UNNEST(generate_series(1, len(words) - 2)) AS t(i)
  WHERE len(words) >= 3
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = dedup.word_shingle_arrays(_t(spark, sf_dir, "documents"))
    return dedup.minhash_signatures_arrays(arrs)


SQL_MINHASH_SIGNATURES = f"""
WITH shingles AS ({_SHINGLE_SQL})
SELECT doc_id,
       min(md5(shingle || '#s0')) AS band_0,
       min(md5(shingle || '#s1')) AS band_1,
       min(md5(shingle || '#s2')) AS band_2,
       min(md5(shingle || '#s3')) AS band_3
FROM shingles GROUP BY doc_id
"""


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates with (b=4, r=2) banding: a pair must share BOTH
    min-hashes of some band — the scale-tuned S-curve (r=1 floods buckets at
    corpus scale)."""
    arrs = dedup.word_shingle_arrays(_t(spark, sf_dir, "documents"))
    return dedup.lsh_candidate_pairs(
        dedup.lsh_band_values_arrays(arrs, n_bands=4, rows_per_band=2)
    )


SQL_MINHASH_CANDIDATES = f"""
WITH shingles AS ({_SHINGLE_SQL}),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(md5(shingle || '#s{i}')) AS m{i}" for i in range(8))}
  FROM shingles GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         {", ".join(f"md5(m{2 * b} || '|' || m{2 * b + 1}) AS band_{b}" for b in range(4))}
  FROM sigs
),
unp AS (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_val FROM bands
  UNION ALL SELECT doc_id, 1, band_1 FROM bands
  UNION ALL SELECT doc_id, 2, band_2 FROM bands
  UNION ALL SELECT doc_id, 3, band_3 FROM bands
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM unp a JOIN unp b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
"""


def q_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup path end-to-end over ALL documents: banded LSH
    candidates (b=4, r=2) → exact n-gram Jaccard verification restricted to
    the candidate pairs (left-semi) — never an all-pairs scan."""
    arrs = dedup.word_shingle_arrays(_t(spark, sf_dir, "documents"))
    cands = dedup.lsh_candidate_pairs(
        dedup.lsh_band_values_arrays(arrs, n_bands=4, rows_per_band=2)
    )
    return dedup.jaccard_pairs(None, arrs, threshold=0.1, candidates=cands)


SQL_LSH_JACCARD = f"""
WITH shingles AS ({_SHINGLE_SQL}),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(md5(shingle || '#s{i}')) AS m{i}" for i in range(8))}
  FROM shingles GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         {", ".join(f"md5(m{2 * b} || '|' || m{2 * b + 1}) AS band_{b}" for b in range(4))}
  FROM sigs
),
unp AS (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_val FROM bands
  UNION ALL SELECT doc_id, 1, band_1 FROM bands
  UNION ALL SELECT doc_id, 2, band_2 FROM bands
  UNION ALL SELECT doc_id, 3, band_3 FROM bands
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM unp a JOIN unp b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
FROM inter i
JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) >= 0.1
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-window fingerprints (k=3-word shingles, w=4
    windows) over the first 100 docs — the posting table for overlap
    matching."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return dedup.winnow_fingerprints(d, k=3, w=4)


SQL_WINNOW_FINGERPRINTS = """
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents WHERE doc_id < 100
),
pos AS (
  SELECT doc_id,
         len(words) - 3 AS max_pos,
         UNNEST(generate_series(0, len(words) - 3)) AS p,
         words
  FROM w WHERE len(words) >= 6
),
hashed AS (
  SELECT doc_id, p, max_pos,
         md5(array_to_string(words[p + 1 : p + 3], ' ')) AS h
  FROM pos
),
winmin AS (
  SELECT doc_id, p, max_pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
  FROM hashed
)
SELECT DISTINCT doc_id, win_min AS fingerprint
FROM winmin WHERE p <= max_pos - 3
"""


def q_dedup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup APPLICATION: the keep-list after exact dedup (min doc_id per
    normalized fingerprint survives) — the filter you run a corpus through
    before training."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", text_analysis.normalized_fingerprint(F.col("text")).alias("fp")
    )
    keep = keyed.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return keyed.join(keep, on=["fp", "doc_id"], how="left_semi").select("doc_id")


SQL_DEDUP_FILTER = """
WITH keyed AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
keep AS (SELECT fp, min(doc_id) AS doc_id FROM keyed GROUP BY fp)
SELECT k.doc_id FROM keyed k JOIN keep USING (fp, doc_id)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard pairs >= 0.2 among the first 200 docs (bounded for the
    all-pairs oracle; the 100 TB path feeds LSH candidates instead)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sh = dedup.word_shingles(d)
    return dedup.jaccard_pairs(
        sh, threshold=0.2, shingle_arrays=dedup.word_shingle_arrays(d)
    )


SQL_NGRAM_JACCARD = f"""
WITH shingles AS (
  SELECT * FROM ({_SHINGLE_SQL}) WHERE doc_id < 200
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) >= 0.2
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_t(spark, sf_dir, "documents"), bits=16)


def _simhash_sql(bits: int = 16) -> str:
    votes = []
    for nib in range(bits // 4):
        nibble = f"(instr('0123456789abcdef', substr(md5(shingle), {nib + 1}, 1)) - 1)"
        for bit in range(4):
            power = 2 ** (3 - bit)
            i = nib * 4 + bit
            votes.append(
                f"sum((CAST(floor({nibble} / {power}) AS BIGINT) % 2) * 2 - 1) AS v{i}"
            )
    packed = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {2 ** (bits - 1 - i)} ELSE 0 END" for i in range(bits)
    )
    return f"""
WITH shingles AS ({_SHINGLE_SQL}),
votes AS (SELECT doc_id, {', '.join(votes)} FROM shingles GROUP BY doc_id)
SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM votes
"""


SQL_SIMHASH = _simhash_sql(16)


def _query_vec(emb: DataFrame) -> DataFrame:
    """The similarity queries' single-row query frame over the embeddings
    table ``emb``: the vec_id=0 embedding as ``qvec``.  Callers pass the
    frame they already read (each extra parquet read is a file listing and
    a footer read at plan time)."""
    return emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to the vec_id=0 embedding; the query vector
    joins in as a broadcast single-row dim table (no driver collect)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, _query_vec(emb), k=10)


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qvec AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(qvec AS DOUBLE[]), CAST(qvec AS DOUBLE[])))), 4) AS cosine
FROM embeddings CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (multi-probe), RECOMPUTE shape: every
    probe re-hashes each row's bucket over a full scan.  Kept as the
    oracle-contrast twin of ``q_ann_topk_pruned`` — the PRODUCTION shape is
    ``ann_topk_pruned`` over the ingest-materialised bucket-partitioned
    layout (result-identical, 3x faster at sf0.1, gap widens with table
    size).  Do not copy this shape to a scale deployment.

    The query vector is a broadcast single-row dim table — no driver
    collect; buckets come from portable md5-nibble projections, so DuckDB
    reproduces them exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_topk(emb, _query_vec(emb), k=10, n_planes=6)


def _bucket_sql(n_planes: int, source: str, out: str) -> str:
    """CTE fragment computing the signed-random-projection bucket per vec_id
    over ``source`` — the exact DuckDB twin of ``similarity.bucket_expr``."""
    dots = []
    for p in range(n_planes):
        nibs = " + ".join(
            f"(instr('0123456789abcdef', substr(md5('rp:' || CAST(idx - 1 AS VARCHAR)), {4 * p + j + 1}, 1)) - 1) * {16 ** (3 - j)}"
            for j in range(4)
        )
        dots.append(f"sum(val * (({nibs}) / 32767.5 - 1.0)) AS d{p}")
    bucket = " + ".join(
        f"(CASE WHEN d{p} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(n_planes)
    )
    return f"""
{out}_ex AS (
  SELECT vec_id, UNNEST(CAST(embedding AS DOUBLE[])) AS val,
         UNNEST(generate_series(1, len(embedding))) AS idx
  FROM {source}
),
{out}_d AS (SELECT vec_id, {", ".join(dots)} FROM {out}_ex GROUP BY vec_id),
{out} AS (SELECT vec_id, {bucket} AS bucket FROM {out}_d)
"""


def _ann_topk_sql(n_planes: int = 6, probe_hamming: int = 1, k: int = 10) -> str:
    ham = " + ".join(
        f"(CASE WHEN (b.bucket & {1 << p}) <> (qb.q_bucket & {1 << p}) THEN 1 ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH {_bucket_sql(n_planes, "embeddings", "b")},
qb AS (SELECT bucket AS q_bucket FROM b WHERE vec_id = 0),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
  FROM embeddings e JOIN b ON e.vec_id = b.vec_id CROSS JOIN qb
  WHERE ({ham}) <= {probe_hamming}
)
SELECT vec_id,
       round(list_dot_product(emb, qvec)
             / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qvec, qvec))), 4) AS cosine
FROM cand CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT {k}
"""


SQL_ANN_TOPK = _ann_topk_sql(n_planes=6, probe_hamming=1, k=10)


# Ingest-layout cache root: inside the repo's gitignored bench-data dir by
# default (stays within the working tree), overridable for deployments
# where the package runs from a read-only location (e.g. a --py-files zip)
_ANN_INGEST_ROOT = os.environ.get(
    "SPARK_GRAFT_INGEST_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "data", "ingest",
    ),
)


def _corpus_tag(sf_dir: str) -> str:
    """Cache tag for an ingest layout: basename for readability plus a short
    hash of the ABSOLUTE path, so two corpora whose directories share a name
    (e.g. /a/sf0.1 and /b/sf0.1) get distinct layouts instead of thrashing
    full re-ingests through the signature check every time queries alternate
    between them."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    base = os.path.basename(norm) or "corpus"
    return f"{base}-{hashlib.md5(norm.encode()).hexdigest()[:8]}"


def ann_ingest_path(sf_dir: str, n_planes: int = 6) -> str:
    return os.path.join(_ANN_INGEST_ROOT, _corpus_tag(sf_dir), f"embeddings_by_lsh{n_planes}")


def _source_signature(sf_dir: str, name: str = "embeddings") -> str:
    """Content signature of a source parquet (file or directory): sizes +
    mtimes of every data file.  The ingest cache survives across sessions
    in /tmp, so a committed layout must be invalidated when the SOURCE
    table is regenerated underneath it (same path, new data) — the
    table-format analog is the snapshot id an Iceberg MERGE would check."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    parts: list[str] = []
    if os.path.isdir(src):
        for entry in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, entry))
            parts.append(f"{entry}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{os.path.basename(src)}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def _adopt_legacy_layout(sf_dir: str, leaf: str, path: str, signature: str) -> None:
    """One-time adoption of a layout materialised under the pre-hash cache
    tag (bare corpus basename).  Adding the path hash to ``_corpus_tag``
    changed every cache path; without this, upgrading forces a full
    re-ingest per corpus and orphans the old directories on disk.  The
    legacy layout is renamed into the tagged location ONLY when its
    committed source signature matches this corpus — a layout that belonged
    to a different same-basename corpus fails the signature check, is left
    in place, and that corpus re-ingests under its own tag (the stale
    legacy directory is then dead weight, same as any invalidated cache)."""
    if os.path.exists(path):
        return
    norm = os.path.normpath(os.path.abspath(sf_dir))
    legacy_dir = os.path.join(_ANN_INGEST_ROOT, os.path.basename(norm) or "corpus")
    legacy = os.path.join(legacy_dir, leaf)
    if not _ingest_committed(legacy, signature):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.rename(legacy, path)
    try:
        os.rmdir(legacy_dir)  # only removes it once its last layout moved out
    except OSError:
        pass


def _ingest_committed(path: str, signature: str) -> bool:
    marker = os.path.join(path, "_INGEST_SOURCE")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    try:
        with open(marker) as f:
            return f.read() == signature
    except OSError:
        return False


def _mark_ingest(path: str, signature: str) -> None:
    with open(os.path.join(path, "_INGEST_SOURCE"), "w") as f:
        f.write(signature)


def _ensure_ingest(spark: SparkSession, sf_dir: str, path: str, write) -> str:
    """Idempotent ingest-time materialisation of an embeddings layout at
    ``path``: ``write(embeddings, path)`` runs once (committed = ``_SUCCESS``
    + matching source signature, so a regenerated source table re-ingests
    instead of serving a stale layout).  At 100 TB this is the ingest job;
    probes afterwards are partition pruning."""
    sig = _source_signature(sf_dir)
    session.warm_python_workers(spark)
    _adopt_legacy_layout(sf_dir, os.path.basename(path), path, sig)
    if not _ingest_committed(path, sig):
        write(_t(spark, sf_dir, "embeddings"), path)
        _mark_ingest(path, sig)
    return path


def ensure_ann_ingest(spark: SparkSession, sf_dir: str, n_planes: int = 6) -> str:
    """The ANN layout for ``sf_dir``: embeddings partitioned by
    ``lsh_bucket``."""
    return _ensure_ingest(
        spark, sf_dir, ann_ingest_path(sf_dir, n_planes),
        lambda emb, path: similarity.write_bucket_partitioned(emb, path, n_planes=n_planes),
    )


def q_ann_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_topk`` over the ingest-materialised bucket-partitioned layout:
    the multi-probe bucket set joins in as a broadcast dim table keyed on
    the ``lsh_bucket`` PARTITION column, so the scan dynamically prunes to
    the probed bucket directories instead of re-hashing every row's bucket
    per probe (plan-asserted in tests/test_plans.py).  Result-identical to
    ``ann_topk`` — same oracle SQL."""
    path = ensure_ann_ingest(spark, sf_dir, n_planes=6)
    query = _query_vec(_t(spark, sf_dir, "embeddings"))
    return similarity.ann_topk_pruned(spark.read.parquet(path), query, k=10, n_planes=6)


def q_embedding_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates via co-bucket all-pairs kNN.
    Portable bucket hashing → exact DuckDB oracle; no driver collect."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return similarity.pairwise_cosine_knn(emb, k=3)


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer centroid table shared by the IVF queries: the first
    8 vectors of the embeddings table ``emb``."""
    return emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )


def ivf_ingest_path(sf_dir: str) -> str:
    return os.path.join(_ANN_INGEST_ROOT, _corpus_tag(sf_dir), "embeddings_by_ivf8")


def ensure_ivf_ingest(spark: SparkSession, sf_dir: str) -> str:
    """The IVF layout for ``sf_dir``: embeddings partitioned by ``ivf_cell``
    (nearest of the 8 coarse centroids)."""
    return _ensure_ingest(
        spark, sf_dir, ivf_ingest_path(sf_dir),
        lambda emb, path: similarity.write_ivf_partitioned(emb, _ivf_centroids(emb), path),
    )


def q_ivf_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ivf_topk`` over the ingest-materialised ``ivf_cell``-partitioned
    layout: the probe joins the 2 nearest cells as a broadcast dim on the
    partition column, so the scan prunes to those cell directories instead
    of re-running the coarse quantizer over every row (plan-asserted).
    Result-identical to ``ivf_topk`` — same oracle SQL."""
    path = ensure_ivf_ingest(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_pruned(
        spark.read.parquet(path), _ivf_centroids(emb), _query_vec(emb), k=10, n_probe=2
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed approximate top-k (the non-LSH scale path): the first 8
    vectors act as the coarse-quantizer centroid table, the query probes its
    2 nearest cells, exact scoring runs only inside them."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, _ivf_centroids(emb), _query_vec(emb), k=10, n_probe=2)


_COS6 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)
SQL_IVF_TOPK = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid
  FROM embeddings WHERE vec_id < 8
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_COS6.format(a="v", b="centroid")} AS cell_cos
  FROM e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, centroid_id AS ivf_cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cell_cos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0),
qc AS (
  SELECT centroid_id AS cell
  FROM c CROSS JOIN q
  ORDER BY {_COS6.format(a="qvec", b="centroid")} DESC, centroid_id
  LIMIT 2
),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN assigned USING (vec_id)
  JOIN qc ON assigned.ivf_cell = qc.cell
)
SELECT vec_id,
       round(list_dot_product(v, qvec)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 4) AS cosine
FROM cand CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def _knn_pairs_sql(bucket_planes: int = 4, k: int = 3, max_id: int = 200) -> str:
    return f"""
WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {max_id}),
{_bucket_sql(bucket_planes, "sub", "b")},
pairs AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         round(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(ec.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[])))),
               4) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
  JOIN sub ea ON ea.vec_id = a.vec_id
  JOIN sub ec ON ec.vec_id = c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS "rank"
  FROM pairs
)
SELECT id_a, id_b, cosine, "rank" FROM ranked WHERE "rank" <= {k}
"""


SQL_EMBEDDING_KNN_PAIRS = _knn_pairs_sql(bucket_planes=4, k=3, max_id=200)


def q_spellfix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 spellcheck-filter analog: inject one unique junk token per doc,
    build the corpus-frequency dictionary (words seen ≥2 times), drop
    out-of-dictionary words, reassemble in order."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    noisy = d.select(
        "doc_id",
        F.concat("text", F.lit(" qzx"), F.col("doc_id").cast("string")).alias("text"),
    )
    vocab = text_analysis.corpus_vocabulary(noisy, min_count=2)
    return text_analysis.remove_unknown_words(noisy, vocab)


SQL_SPELLFIX_FILTER = """
WITH noisy AS (
  SELECT doc_id, text || ' qzx' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id < 200
),
words AS (
  SELECT doc_id,
         UNNEST(string_split(text, ' ')) AS w,
         UNNEST(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM noisy
),
vocab AS (SELECT w FROM words GROUP BY w HAVING count(*) >= 2)
SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS filtered_text
FROM words JOIN vocab USING (w)
GROUP BY doc_id
"""


def q_segment_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 similarity-argmax analog: per doc, the text third most similar to
    an 80-char probe (token-set cosine, first-strict-max tie rule)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    third = (F.length("text") / 3).cast("int") + 1
    segments = F.array(
        F.col("text").substr(F.lit(1), third),
        F.col("text").substr(third + 1, third),
        F.col("text").substr(third * 2 + 1, third),
    )
    base = d.select(
        "doc_id",
        segments.alias("segments"),
        F.col("text").substr(F.lit(21), F.lit(80)).alias("query"),
    )
    return similarity.most_similar_segment(base)


SQL_SEGMENT_ARGMAX = """
WITH base AS (
  -- floor, not CAST: DuckDB CAST(float AS INT) rounds; Spark cast truncates
  SELECT doc_id, text, CAST(floor(length(text) / 3) AS INT) + 1 AS third,
         substr(text, 21, 80) AS q
  FROM documents WHERE doc_id < 200
),
segs AS (
  SELECT doc_id, 0 AS seg_idx, substr(text, 1, third) AS segment, q FROM base
  UNION ALL SELECT doc_id, 1, substr(text, third + 1, third), q FROM base
  UNION ALL SELECT doc_id, 2, substr(text, 2 * third + 1, third), q FROM base
),
scored AS (
  SELECT doc_id, seg_idx,
         round(
           len(list_intersect(list_distinct(string_split(lower(segment), ' ')),
                              list_distinct(string_split(lower(q), ' '))))
           / sqrt(len(list_distinct(string_split(lower(segment), ' ')))
                  * len(list_distinct(string_split(lower(q), ' ')))), 4) AS seg_cosine
  FROM segs
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY seg_cosine DESC, seg_idx) AS rn
  FROM scored
)
SELECT doc_id, seg_idx AS best_seg_idx, seg_cosine AS best_cosine
FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# extraction pipeline on driver data.  ``documents_as_papers`` re-shapes the
# documents table into a deterministic 3-page "scientific paper" transcript —
# title line, abstract, 1-3 numbered body sections, sentinel pages, a
# references list, turn-0 metadata and a turn-2 layout side channel — built
# entirely from JVM column expressions, so a DuckDB oracle can independently
# predict per-turn statuses, block streams, section/reference counts and the
# EDocument metadata that the Python pipeline extracts back out.
# ---------------------------------------------------------------------------

_KEYWORDS_RAW = "graph learning; sparse attention, deep-nets"

# Repairable-page constants (doc_id % 5 == 1, non-sentinel): the left column's
# word stream is meaningful+long and absent from the page text, so its probes
# score 0 -> status 'incomplete'; the right column is too short to score
# (exempt).  Column repair then replaces the page with LEFT + ' ' + RIGHT.
_COL_LEFT = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu"
)
_COL_RIGHT = "one two three four five six seven eight nine ten eleven twelve"
_REPAIRED_PAGE1 = f"{_COL_LEFT} {_COL_RIGHT}"
_BROKEN_PAGE1 = "broken ocr output only fragments remain visible here.\n\n"


def documents_as_papers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → transcripts of synthetic 3-turn papers.

    Page plan (i = doc_id, t = text, s0 = substr(t,1,40)):
    - turn 0: ``# Paper i`` title, ``## Abstract`` + body ``A <s0>``, then
      ``k = i%3+1`` body section headings with text-derived bodies; the
      ``tool`` channel carries turn-0 document metadata (title / authors /
      creation_date / raw keyword string) when ``i%3 != 0``.
    - turn 1: missing-page sentinel when ``i%7 == 0``, else two filler
      paragraphs.
    - turn 2: a verification-scored paragraph (``body2`` = 4× trimmed s0),
      ``## References`` and ``r = i%4+1`` numbered entries; when ``i%2 == 0``
      the ``tool`` channel carries a level-2 layout block whose word stream
      equals ``body2`` (so the page verifies ``complete``).
    """
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    t = F.col("text")
    s0 = F.substring(t, 1, 40)
    body2 = F.concat_ws(" ", F.trim(s0), F.trim(s0), F.trim(s0), F.trim(s0))
    k = (i % 3) + 1
    r = (i % 4) + 1

    def sec(j: int):
        return F.when(
            k >= j,
            F.concat(
                F.lit(f"\n## Topic Alpha {j}\n\n"),
                F.substring(t, 1 + 10 * j, 30),
                F.lit(" end.\n\n"),
            ),
        ).otherwise(F.lit(""))

    def ref_entry(n: int):
        return F.when(
            r >= n,
            F.lit(f"[{n}] A. Author, Cited work {n}, Journal of Tests, 199{n}.\n\n"),
        ).otherwise(F.lit(""))

    page0 = F.concat(
        F.format_string("# Paper %d\n\n## Abstract\n\nA ", i),
        s0,
        F.lit("\n\n"),
        sec(1),
        sec(2),
        sec(3),
    )
    page1 = (
        F.when(i % 7 == 0, F.lit("[MISSING_PAGE_EMPTY:1]"))
        .when(i % 5 == 1, F.lit(_BROKEN_PAGE1))
        .otherwise(
            F.concat(
                F.lit("middle page discussion "),
                F.substring(t, 1, 25),
                F.lit(".\n\nfurther notes "),
                F.substring(t, 26, 25),
                F.lit(".\n\n"),
            )
        )
    )
    # 2-column layout channel for the repairable page: a level-1 page block
    # plus HALF_LEFT / HALF_RIGHT level-2 word streams
    repair_tool = (
        '[{"level": 1, "block_num": 0, "x": 0, "y": 0, "w": 1000, "h": 800, "text": ""},'
        f' {{"level": 2, "block_num": 1, "x": 10, "y": 10, "w": 400, "h": 700, "text": "{_COL_LEFT}"}},'
        f' {{"level": 2, "block_num": 2, "x": 550, "y": 10, "w": 400, "h": 700, "text": "{_COL_RIGHT}"}}]'
    )
    tool1 = F.when((i % 7 != 0) & (i % 5 == 1), F.lit(repair_tool)).otherwise(F.lit(""))
    page2 = F.concat(
        F.lit("closing remarks follow here.\n\n"),
        body2,
        F.lit("\n\n## References\n\n"),
        ref_entry(1),
        ref_entry(2),
        ref_entry(3),
        ref_entry(4),
    )

    authors_json = F.when(i % 2 == 0, F.lit('"Alice Alpha"')).otherwise(
        F.lit('"Alice Alpha", "Bob Beta"')
    )
    meta_tool = F.when(
        i % 3 != 0,
        F.format_string(
            '[{"level": 0, "meta": {"title": "Paper %d", "authors": [%s], '
            '"creation_date": %d.0, "keywords": "' + _KEYWORDS_RAW + '"}}]',
            i,
            authors_json,
            F.lit(1_600_000_000) + i,
        ),
    ).otherwise(F.lit(""))
    layout_tool = F.when(
        i % 2 == 0,
        F.concat(
            F.lit('[{"level": 2, "block_num": 1, "x": 0, "y": 0, "w": 100, '
                  '"h": 10, "text": "'),
            body2,
            F.lit('"}]'),
        ),
    ).otherwise(F.lit(""))

    turn = lambda idx, page, tool: F.struct(  # noqa: E731
        F.lit(idx).alias("turn_idx"), page.alias("text"), tool.alias("tool")
    )
    return (
        d.select(
            F.concat(F.lit("paper-"), i.cast("string")).alias("conv_id"),
            F.explode(
                F.array(
                    turn(0, page0, meta_tool),
                    turn(1, page1, tool1),
                    turn(2, page2, layout_tool),
                )
            ).alias("r"),
        )
        .select(
            "conv_id",
            F.col("r.turn_idx").cast("int").alias("turn_idx"),
            F.lit("assistant").alias("role"),
            F.col("r.text").alias("text"),
            F.col("r.tool").alias("tool"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
    )


# DuckDB twin of the page construction above (used by the block-stream
# oracle, which needs the literal page texts; the other oracles use the
# closed-form count/status formulas).
_PAPER_PAGES_SQL = f"""
src AS (
  SELECT doc_id, text,
         substr(text, 1, 40) AS s0,
         concat_ws(' ', trim(substr(text, 1, 40)), trim(substr(text, 1, 40)),
                   trim(substr(text, 1, 40)), trim(substr(text, 1, 40))) AS body2,
         (doc_id % 3) + 1 AS k,
         (doc_id % 4) + 1 AS r
  FROM documents
),
pages AS (
  SELECT doc_id, 0 AS turn_idx,
         printf('# Paper %d', doc_id) || e'\\n\\n## Abstract\\n\\nA ' || s0 || e'\\n\\n'
         || CASE WHEN k >= 1 THEN e'\\n## Topic Alpha 1\\n\\n' || substr(text, 11, 30) || e' end.\\n\\n' ELSE '' END
         || CASE WHEN k >= 2 THEN e'\\n## Topic Alpha 2\\n\\n' || substr(text, 21, 30) || e' end.\\n\\n' ELSE '' END
         || CASE WHEN k >= 3 THEN e'\\n## Topic Alpha 3\\n\\n' || substr(text, 31, 30) || e' end.\\n\\n' ELSE '' END
         AS text
  FROM src
  UNION ALL
  -- EFFECTIVE page-1 text: the repairable page (doc_id % 5 = 1) is already
  -- replaced by its column-repair output LEFT || ' ' || RIGHT
  SELECT doc_id, 1,
         CASE WHEN doc_id % 7 = 0 THEN '[MISSING_PAGE_EMPTY:1]'
              WHEN doc_id % 5 = 1 THEN '{_REPAIRED_PAGE1}'
              ELSE 'middle page discussion ' || substr(text, 1, 25)
                   || e'.\\n\\nfurther notes ' || substr(text, 26, 25) || e'.\\n\\n'
         END
  FROM src
  UNION ALL
  SELECT doc_id, 2,
         e'closing remarks follow here.\\n\\n' || body2 || e'\\n\\n## References\\n\\n'
         || CASE WHEN r >= 1 THEN e'[1] A. Author, Cited work 1, Journal of Tests, 1991.\\n\\n' ELSE '' END
         || CASE WHEN r >= 2 THEN e'[2] A. Author, Cited work 2, Journal of Tests, 1992.\\n\\n' ELSE '' END
         || CASE WHEN r >= 3 THEN e'[3] A. Author, Cited work 3, Journal of Tests, 1993.\\n\\n' ELSE '' END
         || CASE WHEN r >= 4 THEN e'[4] A. Author, Cited work 4, Journal of Tests, 1994.\\n\\n' ELSE '' END
  FROM src
)
"""


def q_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship narrow stage: per-turn tokenize/verify/repair over the paper
    transcripts.  Status and block counts are independently predicted by the
    DuckDB oracle (sentinel regex / layout-presence routing / paragraph
    counting)."""
    tr = documents_as_papers(spark, sf_dir)
    out = turns.extract_turns(tr, num_buckets=16)
    return out.select("conv_id", "turn_idx", "status", "n_blocks")


SQL_EXTRACT_TURNS = """
SELECT 'paper-' || CAST(doc_id AS VARCHAR) AS conv_id,
       turn_idx,
       CASE WHEN turn_idx = 1 AND doc_id % 7 = 0 THEN 'missing_empty'
            WHEN turn_idx = 1 AND doc_id % 5 = 1 THEN 'incomplete'
            WHEN turn_idx = 2 AND doc_id % 2 = 0 THEN 'complete'
            ELSE 'unverified' END AS status,
       CASE WHEN turn_idx = 0 THEN 3 + 2 * ((doc_id % 3) + 1)
            WHEN turn_idx = 1 THEN CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 1
                                        THEN 1 ELSE 2 END
            ELSE 3 + ((doc_id % 4) + 1) END AS n_blocks
FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS turns(turn_idx)
"""


def q_assemble_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship wide stage: per-conversation segmentation + reassembly.
    Section/reference/turn counts and the metadata title are independently
    predicted by the oracle from the page-construction formulas."""
    tr = documents_as_papers(spark, sf_dir)
    out = pipeline.run_pipeline(spark, tr, output_dir=None, num_buckets=16)
    return out["docs"].select("conv_id", "title", "n_sections", "n_refs", "n_turns")


SQL_ASSEMBLE_DOCS = """
SELECT 'paper-' || CAST(doc_id AS VARCHAR) AS conv_id,
       CASE WHEN doc_id % 3 = 0 THEN NULL
            ELSE 'Paper ' || CAST(doc_id AS VARCHAR) END AS title,
       (doc_id % 3) + 1 AS n_sections,
       (doc_id % 4) + 1 AS n_refs,
       3 AS n_turns
FROM documents
"""


def q_transcription_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship artifact itself: the canonical cleaned transcription
    (title + authors + abstract + capword'd sections + references list,
    newline-squashed).  For the synthetic papers every byte is
    formula-derived, so the DuckDB oracle rebuilds the ENTIRE transcription
    string independently — segmentation boundaries, cross-page section
    spans (incl. sentinel pages), reference entry parsing, and squash/strip
    all have to agree exactly for the hash to match.  Arbitrary-input
    byte-equality is additionally pytest-verified against the single-node
    oracle (tests/test_pipeline_equality.py)."""
    tr = documents_as_papers(spark, sf_dir)
    out = pipeline.run_pipeline(spark, tr, output_dir=None, num_buckets=16)
    return out["docs"].select("conv_id", "transcription")


def _transcription_sql() -> str:
    def sec_render(j: int, text_expr: str) -> str:
        return f"e'## Topic Alpha {j}\\n\\n' || {text_expr} || e'\\n\\n'"

    # section j body as extracted by segmentation: span from heading start to
    # the next heading (or the references heading), first paragraph break
    # stripped; the LAST section spans pages 0→2 joined with single spaces
    mid = {j: f"b{j} || e' end.\\n\\n'" for j in (1, 2)}
    last = {
        j: (
            f"b{j} || e' end.\\n\\n' || ' ' || page1 || ' ' || "
            "e'closing remarks follow here.\\n\\n' || body2 || e'\\n\\n'"
        )
        for j in (1, 2, 3)
    }
    sections = f"""CASE k
      WHEN 1 THEN {sec_render(1, last[1])}
      WHEN 2 THEN {sec_render(1, mid[1])} || {sec_render(2, last[2])}
      ELSE {sec_render(1, mid[1])} || {sec_render(2, mid[2])} || {sec_render(3, last[3])}
    END"""
    refs = " || ".join(
        f"CASE WHEN r >= {n} THEN '* [{n}] A. Author, Cited work {n}, "
        f"Journal of Tests, 199{n}.' || e'\\n' ELSE '' END"
        for n in range(1, 5)
    )
    return f"""
WITH src AS (
  SELECT doc_id, text,
         substr(text, 1, 40) AS s0,
         concat_ws(' ', trim(substr(text, 1, 40)), trim(substr(text, 1, 40)),
                   trim(substr(text, 1, 40)), trim(substr(text, 1, 40))) AS body2,
         (doc_id % 3) + 1 AS k,
         (doc_id % 4) + 1 AS r,
         substr(text, 11, 30) AS b1,
         substr(text, 21, 30) AS b2,
         substr(text, 31, 30) AS b3,
         CASE WHEN doc_id % 7 = 0 THEN '[MISSING_PAGE_EMPTY:1]'
              WHEN doc_id % 5 = 1 THEN '{_REPAIRED_PAGE1}'
              ELSE 'middle page discussion ' || substr(text, 1, 25)
                   || e'.\\n\\nfurther notes ' || substr(text, 26, 25) || e'.\\n\\n'
         END AS page1
  FROM documents
),
built AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN ''
         ELSE printf('# Paper %d', doc_id) || e'\\n\\n' END
    || CASE WHEN doc_id % 3 = 0 THEN ''
            WHEN doc_id % 2 = 0 THEN e'**Alice Alpha**\\n\\n'
            ELSE e'**Alice Alpha, Bob Beta**\\n\\n' END
    || e'#### Abstract\\n\\nA ' || s0 || e'\\n\\n'
    || {sections}
    || e'## References\\n\\n' || {refs}
    AS raw
  FROM src
)
SELECT 'paper-' || CAST(doc_id AS VARCHAR) AS conv_id,
       regexp_replace(regexp_replace(
         regexp_replace(raw, '\\n{{3,}}', e'\\n\\n', 'g'),
         '^\\s+', ''), '\\s+$', '') AS transcription
FROM built
"""


SQL_TRANSCRIPTION_FULL = _transcription_sql()


def q_paper_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spans table with exact segmentation COORDINATES: every span's
    (turn_idx, character position) is predicted by the oracle from the
    page-construction arithmetic — heading offsets, abstract-end clamps, the
    cross-page last-section end at the references heading line."""
    tr = documents_as_papers(spark, sf_dir)
    out = pipeline.run_pipeline(spark, tr, output_dir=None, num_buckets=16)
    # positions coalesce to -1: the driver's hash sorts rows column-wise and
    # a NULL in a non-unique sort prefix breaks cross-engine row ordering
    return out["spans"].select(
        "conv_id", "span_idx", "span_type",
        F.coalesce("start_turn", F.lit(-1)).alias("start_turn"),
        F.coalesce("start_pos", F.lit(-1)).alias("start_pos"),
        F.coalesce("end_turn", F.lit(-1)).alias("end_turn"),
        F.coalesce("end_pos", F.lit(-1)).alias("end_pos"),
        "title",
        F.coalesce("number", F.lit("")).alias("number"),
    )


# position arithmetic (0-based offsets into the constructed pages):
#   page0 prefix '# Paper {id}\n\n## Abstract\n\nA ' = 25 + len(id) chars;
#   abstract body 'A ' + s0 ends at 65+len(id); section j's leading '\n' is
#   P_1 = 67+len(id), P_{j+1} = P_j + 26 + blen_j (sec block = '\n## Topic
#   Alpha j\n\n' 19 + body blen_j + ' end.' 5 + '\n\n' 2); the last section
#   ends at (turn 2, heading_pos = 30 + len(body2) + 2).
SQL_PAPER_SPANS = """
WITH base AS (
  SELECT doc_id,
         (doc_id % 3) + 1 AS k,
         length(CAST(doc_id AS VARCHAR)) AS idlen,
         greatest(0, least(30, length(text) - 10)) AS blen1,
         greatest(0, least(30, length(text) - 20)) AS blen2,
         30 + (4 * length(trim(substr(text, 1, 40))) + 3) + 2 AS hp
  FROM documents
),
pos AS (
  SELECT doc_id, k, hp,
         67 + idlen AS p1,
         67 + idlen + 26 + blen1 AS p2,
         67 + idlen + 26 + blen1 + 26 + blen2 AS p3
  FROM base
),
sections AS (
  SELECT doc_id, j,
         CAST(j + 1 AS INT) AS span_idx,
         'section' AS span_type,
         0 AS start_turn,
         CASE j WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS start_pos,
         CASE WHEN j < k THEN 0 ELSE 2 END AS end_turn,
         CASE WHEN j = k THEN hp
              WHEN j = 1 THEN p2 ELSE p3 END AS end_pos,
         'Topic Alpha ' || CAST(j AS VARCHAR) AS title,
         '' AS number
  FROM pos CROSS JOIN (VALUES (1), (2), (3)) AS js(j)
  WHERE j <= k
)
SELECT 'paper-' || CAST(doc_id AS VARCHAR) AS conv_id,
       1 AS span_idx, 'abstract' AS span_type,
       -1 AS start_turn, -1 AS start_pos,
       -1 AS end_turn, -1 AS end_pos,
       'Abstract' AS title, '' AS number
FROM documents
UNION ALL
SELECT 'paper-' || CAST(doc_id AS VARCHAR), span_idx, span_type,
       start_turn, start_pos, end_turn, end_pos, title, number
FROM sections
"""


def q_edoc_json_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serialized EDocument artifact itself: the oracle rebuilds the
    ENTIRE ``json.dumps(indent=4)`` string — section map with exact
    positions and cross-page texts, metadata (title/authors/creation_date/
    keywords), abstract and references blocks with every Reference field —
    so serde layout, field order, null semantics and position arithmetic are
    all byte-checked."""
    tr = documents_as_papers(spark, sf_dir)
    out = pipeline.run_pipeline(spark, tr, output_dir=None, num_buckets=16)
    return out["docs"].select("conv_id", "edoc_json")


def _edoc_json_sql() -> str:
    def lit(s: str) -> str:
        esc = s.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n")
        return f"e'{esc}'"

    def esc_json(expr: str) -> str:
        # only newlines need JSON-escaping in the constructed pages
        return f"replace({expr}, chr(10), e'\\\\n')"

    def num(expr: str) -> str:
        return f"CAST({expr} AS VARCHAR)"

    # raw (unescaped) section text expressions, mirroring segmentation spans
    mid = {j: f"b{j} || e' end.\\n\\n'" for j in (1, 2)}
    last = {
        j: (
            f"b{j} || e' end.\\n\\n' || ' ' || page1 || ' ' || "
            "e'closing remarks follow here.\\n\\n' || body2 || e'\\n\\n'"
        )
        for j in (1, 2, 3)
    }

    def sec(j: int) -> str:
        start = f"p{j}"
        end_turn = "0" if j < 3 else "2"
        if j < 3:
            end_turn = f"CASE WHEN {j} < k THEN 0 ELSE 2 END"
            end_pos = f"CASE WHEN {j} = k THEN hp ELSE p{j + 1} END"
            text = f"CASE WHEN {j} = k THEN {last[j]} ELSE {mid[j]} END"
        else:
            end_turn = "2"
            end_pos = "hp"
            text = last[3]
        return " || ".join(
            [
                lit(
                    f'        "{j}": {{\n'
                    '            "start_position": [\n'
                    "                0,\n                "
                ),
                num(start),
                lit(
                    "\n            ],\n"
                    '            "end_position": [\n                '
                ),
                num(end_turn),
                lit(",\n                "),
                num(end_pos),
                lit('\n            ],\n            "text": "'),
                esc_json(f"({text})"),
                lit(
                    f'",\n            "title": "Topic Alpha {j}",\n'
                    '            "number": ""\n        }'
                ),
            ]
        )

    sections = (
        f"{sec(1)} || CASE WHEN k >= 2 THEN {lit(',')} || chr(10) || {sec(2)} "
        f"ELSE '' END || CASE WHEN k >= 3 THEN {lit(',')} || chr(10) || {sec(3)} "
        "ELSE '' END"
    )

    one_author = (
        "[\n            {\n"
        '                "surname": "alpha",\n'
        '                "given_name": "alice"\n'
        "            }\n        ]"
    )
    two_authors = (
        "[\n            {\n"
        '                "surname": "alpha",\n'
        '                "given_name": "alice"\n'
        "            },\n            {\n"
        '                "surname": "beta",\n'
        '                "given_name": "bob"\n'
        "            }\n        ]"
    )
    keywords_block = (
        "[\n"
        '            "Graph Learning",\n'
        '            "Sparse Attention",\n'
        '            "Deep-Nets"\n'
        "        ]"
    )
    title_expr = (
        "CASE WHEN doc_id % 3 = 0 THEN 'null' "
        "ELSE '\"Paper ' || CAST(doc_id AS VARCHAR) || '\"' END"
    )
    authors_expr = (
        f"CASE WHEN doc_id % 3 = 0 THEN 'null' "
        f"WHEN doc_id % 2 = 0 THEN {lit(one_author)} ELSE {lit(two_authors)} END"
    )
    creation_expr = (
        "CASE WHEN doc_id % 3 = 0 THEN 'null' "
        "ELSE CAST(CAST(1600000000 + doc_id AS DOUBLE) AS VARCHAR) END"
    )
    keywords_expr = (
        f"CASE WHEN doc_id % 3 = 0 THEN 'null' ELSE {lit(keywords_block)} END"
    )

    def ref_entry(n: int) -> str:
        return lit(
            f'                "{n}": {{\n'
            '                    "title": null,\n'
            '                    "authors": null,\n'
            '                    "publisher": null,\n'
            '                    "publication_type": null,\n'
            '                    "year": null,\n'
            '                    "date": null,\n'
            '                    "doi": null,\n'
            '                    "url": null,\n'
            '                    "keywords": null,\n'
            f'                    "raw": "A. Author, Cited work {n}, '
            f'Journal of Tests, 199{n}.",\n'
            '                    "reference_complexity_level": 0,\n'
            f'                    "ref_number": {n}\n'
            "                }"
        )

    ref_entries = f"{ref_entry(1)}" + "".join(
        f" || CASE WHEN r >= {n} THEN {lit(',')} || chr(10) || {ref_entry(n)} "
        "ELSE '' END"
        for n in (2, 3, 4)
    )

    whole = " || ".join(
        [
            lit('{\n    "sections": {\n'),
            f"({sections})",
            lit('\n    },\n    "metadata": {\n        "title": '),
            f"({title_expr})",
            lit(',\n        "authors": '),
            f"({authors_expr})",
            lit(',\n        "creation_date": '),
            f"({creation_expr})",
            lit(',\n        "pdf_directory": null,\n        "pdf_filename": "'),
            "('paper-' || CAST(doc_id AS VARCHAR))",
            lit('",\n        "keywords": '),
            f"({keywords_expr})",
            lit(
                ',\n        "abstract": {\n'
                '            "start_position": [\n'
                "                0,\n                "
            ),
            num("23 + idlen"),
            lit(
                "\n            ],\n"
                '            "end_position": [\n'
                "                0,\n                "
            ),
            num("65 + idlen"),
            lit('\n            ],\n            "text": "A '),
            "s0",
            lit(
                '",\n            "title": "## Abstract",\n'
                '            "number": null\n        },\n'
                '        "references": {\n'
                '            "start_position": [\n'
                "                2,\n                "
            ),
            num("hp + 15"),
            lit(
                "\n            ],\n"
                '            "end_position": null,\n'
                '            "text": null,\n'
                '            "title": "## References",\n'
                '            "number": null,\n'
                '            "references": {\n'
            ),
            f"({ref_entries})",
            lit(
                "\n            }\n        },\n"
                '        "doi": null,\n'
                '        "publisher": null,\n'
                '        "publication_type": null,\n'
                '        "url": null\n    }\n}'
            ),
        ]
    )

    return f"""
WITH src AS (
  SELECT doc_id,
         (doc_id % 3) + 1 AS k,
         (doc_id % 4) + 1 AS r,
         length(CAST(doc_id AS VARCHAR)) AS idlen,
         substr(text, 1, 40) AS s0,
         substr(text, 11, 30) AS b1,
         substr(text, 21, 30) AS b2,
         substr(text, 31, 30) AS b3,
         concat_ws(' ', trim(substr(text, 1, 40)), trim(substr(text, 1, 40)),
                   trim(substr(text, 1, 40)), trim(substr(text, 1, 40))) AS body2,
         CASE WHEN doc_id % 7 = 0 THEN '[MISSING_PAGE_EMPTY:1]'
              WHEN doc_id % 5 = 1 THEN '{_REPAIRED_PAGE1}'
              ELSE 'middle page discussion ' || substr(text, 1, 25)
                   || e'.\\n\\nfurther notes ' || substr(text, 26, 25) || e'.\\n\\n'
         END AS page1
  FROM documents
),
pos AS (
  SELECT *,
         67 + idlen AS p1,
         67 + idlen + 26 + length(b1) + 0 AS p2,
         67 + idlen + 26 + length(b1) + 26 + length(b2) AS p3,
         30 + length(body2) + 2 AS hp
  FROM src
)
SELECT 'paper-' || CAST(doc_id AS VARCHAR) AS conv_id,
       {whole} AS edoc_json
FROM pos
"""


SQL_EDOC_JSON_FULL = _edoc_json_sql()


def q_citation_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-entry field extraction (T7 + elaborator parse analog):
    IEEE-ish citation strings synthesised from the part table, then title /
    venue / year extracted back with engine-portable regexes."""
    p = _t(spark, sf_dir, "part")
    raw = F.format_string(
        '[%d] A. Alpha, and B. Beta, "%s," _IEEE Trans. %s_, vol. %d, '
        "no. 2, pp. 1-9, %d.",
        F.col("p_partkey"),
        F.col("p_name"),
        F.col("p_brand"),
        (F.col("p_size") % 50) + 1,
        (F.col("p_partkey") % 30) + 1990,
    )
    w = p.select("p_partkey", raw.alias("raw"))
    return w.select(
        "p_partkey",
        F.regexp_extract("raw", '"(.+?),?"', 1).alias("title"),
        F.regexp_extract("raw", "_([^_]+)_", 1).alias("venue"),
        F.regexp_extract("raw", "((?:19|20)\\d{2})\\.$", 1).cast("int").alias("year"),
        F.regexp_extract("raw", "^\\[(\\d+)\\]", 1).cast("int").alias("ref_number"),
    )


SQL_CITATION_PARSE = """
WITH w AS (
  SELECT p_partkey,
         printf('[%d] A. Alpha, and B. Beta, "%s," _IEEE Trans. %s_, vol. %d, no. 2, pp. 1-9, %d.',
                p_partkey, p_name, p_brand, (p_size % 50) + 1, (p_partkey % 30) + 1990) AS raw
  FROM part
)
SELECT p_partkey,
       regexp_extract(raw, '"(.+?),?"', 1) AS title,
       regexp_extract(raw, '_([^_]+)_', 1) AS venue,
       CAST(regexp_extract(raw, '((?:19|20)\\d{2})\\.$', 1) AS INT) AS year,
       CAST(regexp_extract(raw, '^\\[(\\d+)\\]', 1) AS INT) AS ref_number
FROM w
"""


def q_ref_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CrossRef-style reference enrichment (the elaborator's network
    seam made testable, elaborator_class.py:83-174): parsed citations join a
    broadcast catalog snapshot on normalised title (+ exact year when known)
    and fill doi/url/publisher/publication_type/date; a catalog creation
    date overrides the parsed year.  Null-title refs stay unenriched,
    null-year refs match any year — every branch of the reference's match
    rule is exercised deterministically (mod-7 kills titles, mod-11 kills
    years, the catalog covers even part keys, dates every third).
    Unmatched fields surface as '' / -1 sentinels (driver-hash sort
    stability)."""
    from .operators import references as refops

    parsed = q_citation_parse(spark, sf_dir)
    refs = parsed.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("title"))
        .alias("title"),
        F.when(F.col("p_partkey") % 11 == 0, F.lit(None).cast("int"))
        .otherwise(F.col("year"))
        .alias("year"),
        F.lit(None).cast("string").alias("doi"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("publisher"),
        F.lit(None).cast("string").alias("publication_type"),
        F.lit(None).cast("double").alias("date"),
    )
    p = _t(spark, sf_dir, "part")
    catalog = p.where(F.col("p_partkey") % 2 == 0).select(
        F.upper(F.col("p_name")).alias("title"),
        ((F.col("p_partkey") % 30) + 1990).cast("int").alias("year"),
        F.format_string("10.1000/%d", F.col("p_partkey")).alias("doi"),
        F.format_string("https://doi.org/10.1000/%d", F.col("p_partkey")).alias("url"),
        F.concat(F.lit("Publisher "), (F.col("p_partkey") % 5).cast("string")).alias(
            "publisher"
        ),
        F.lit("journal-article").alias("publication_type"),
        F.when(
            F.col("p_partkey") % 3 == 0,
            (F.lit(1500000000) + F.col("p_partkey")).cast("double"),
        ).alias("date"),
    )
    out = refops.enrich_references_offline(refs, catalog)
    return out.select(
        "p_partkey",
        F.coalesce("title", F.lit("")).alias("title"),
        F.coalesce(F.col("year").cast("int"), F.lit(-1)).alias("year"),
        F.coalesce("doi", F.lit("")).alias("doi"),
        F.coalesce("url", F.lit("")).alias("url"),
        F.coalesce("publisher", F.lit("")).alias("publisher"),
        F.coalesce("publication_type", F.lit("")).alias("publication_type"),
        F.coalesce("date", F.lit(-1.0)).alias("date"),
    )


SQL_REF_ENRICHMENT = """
WITH w AS (
  SELECT p_partkey,
         printf('[%d] A. Alpha, and B. Beta, "%s," _IEEE Trans. %s_, vol. %d, no. 2, pp. 1-9, %d.',
                p_partkey, p_name, p_brand, (p_size % 50) + 1, (p_partkey % 30) + 1990) AS raw
  FROM part
),
parsed AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 7 = 0 THEN NULL
              ELSE regexp_extract(raw, '"(.+?),?"', 1) END AS title,
         CASE WHEN p_partkey % 11 = 0 THEN NULL
              ELSE CAST(regexp_extract(raw, '((?:19|20)\\d{2})\\.$', 1) AS INT) END AS year
  FROM w
),
catalog AS (
  SELECT upper(p_name) AS c_title,
         CAST((p_partkey % 30) + 1990 AS INT) AS c_year,
         printf('10.1000/%d', p_partkey) AS doi,
         printf('https://doi.org/10.1000/%d', p_partkey) AS url,
         'Publisher ' || CAST(p_partkey % 5 AS VARCHAR) AS publisher,
         'journal-article' AS publication_type,
         CASE WHEN p_partkey % 3 = 0 THEN CAST(1500000000 + p_partkey AS DOUBLE) END AS cdate
  FROM part WHERE p_partkey % 2 = 0
),
by_ty AS (
  SELECT * FROM (
    SELECT lower(trim(c_title)) AS ct, c_year, doi, url, publisher, publication_type, cdate,
           row_number() OVER (PARTITION BY lower(trim(c_title)), c_year ORDER BY doi) AS rn
    FROM catalog) WHERE rn = 1
),
by_t AS (
  SELECT * FROM (
    SELECT lower(trim(c_title)) AS ct, doi, url, publisher, publication_type, cdate,
           row_number() OVER (PARTITION BY lower(trim(c_title)) ORDER BY doi) AS rn
    FROM catalog) WHERE rn = 1
)
SELECT p.p_partkey,
       coalesce(p.title, '') AS title,
       coalesce(CAST(CASE
         WHEN p.year IS NOT NULL AND ty.cdate IS NOT NULL THEN year(to_timestamp(ty.cdate))
         WHEN p.year IS NULL AND t.cdate IS NOT NULL THEN year(to_timestamp(t.cdate))
         ELSE p.year END AS INT), -1) AS year,
       coalesce(CASE WHEN p.year IS NOT NULL THEN ty.doi ELSE t.doi END, '') AS doi,
       coalesce(CASE WHEN p.year IS NOT NULL THEN ty.url ELSE t.url END, '') AS url,
       coalesce(CASE WHEN p.year IS NOT NULL THEN ty.publisher ELSE t.publisher END, '') AS publisher,
       coalesce(CASE WHEN p.year IS NOT NULL THEN ty.publication_type ELSE t.publication_type END, '') AS publication_type,
       coalesce(CASE WHEN p.year IS NOT NULL THEN ty.cdate ELSE t.cdate END, -1.0) AS date
FROM parsed p
LEFT JOIN by_ty ty ON p.title IS NOT NULL AND p.year IS NOT NULL
                   AND lower(trim(p.title)) = ty.ct AND p.year = ty.c_year
LEFT JOIN by_t t ON p.title IS NOT NULL AND p.year IS NULL
                 AND lower(trim(p.title)) = t.ct
"""


def q_ref_enrichment_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline analog of the elaborator's RANKED CrossRef scan
    (elaborator_class.py:145-174): CrossRef returns results ordered by
    relevance, the reference takes the top ``limit=3`` and enriches from the
    FIRST exact (case-insensitive) title match among them — a near-miss
    that outranks the true title can push it out of the scanned window.
    Offline, the relevance score is title-token Jaccard, deterministically
    tie-broken (score desc, candidate title asc, doi asc).

    The output carries the ranking evidence, not just the hit: the top-1
    candidate (``best_title``/``best_score`` — CrossRef's first suggestion)
    plus the exact-match enrichment (``doi``/``matched_rank``) when one of
    the top-3 titles matches exactly; refs whose best fuzzy candidate is
    NOT an exact match stay unenriched — the fuzzy-suggest/exact-accept gap
    that distinguishes this from ``ref_enrichment``'s equality join.

    Scale shape: candidates come from an inverted token index — catalog
    tokens exploded and BROADCAST, ref tokens exploded and hash-joined on
    the token — so scoring is linear in token-sharing pairs, never
    all-pairs; the window ranks per-ref candidate sets (small by
    construction).  The same LSH-style candidate-generation shape as the
    dedup operators."""
    parsed = q_citation_parse(spark, sf_dir)
    # mod-7 kills titles (no query without a title, :86-87); mod-3 appends a
    # noise token — the OCR'd-title-with-junk case: its best candidate
    # scores n/(n+1), is SUGGESTED but never ACCEPTED (no exact match)
    refs = parsed.where(F.col("p_partkey") % 13 == 1).select(
        "p_partkey",
        F.when(F.col("p_partkey") % 7 == 0, F.lit(None).cast("string"))
        .when(F.col("p_partkey") % 3 == 0, F.concat(F.col("title"), F.lit(" study")))
        .otherwise(F.col("title"))
        .alias("title"),
    )
    rt = F.lower(F.trim(F.col("title")))
    refs_tok = refs.where(F.col("title").isNotNull()).select(
        "p_partkey",
        rt.alias("rt"),
        F.array_distinct(F.split(rt, " ")).alias("rtoks"),
    )
    p = _t(spark, sf_dir, "part")
    name = F.lower(F.trim(F.col("p_name")))
    # mod-29 word-reverses the catalog title: identical token SET (Jaccard
    # 1.0) but a different string — the relevance-tied candidate that can
    # outrank the exact title in the top-3 window, exactly the shadowing the
    # reference's ranked-scan-then-exact-match semantics admits
    ct = F.when(
        F.col("p_partkey") % 29 == 2,
        F.concat_ws(" ", F.reverse(F.split(name, " "))),
    ).otherwise(name)
    cat = p.where(F.col("p_partkey") % 2 == 0).select(
        ct.alias("ct"),
        F.array_distinct(F.split(ct, " ")).alias("ctoks"),
        F.format_string("10.1000/%d", F.col("p_partkey")).alias("doi"),
    )
    cat_index = cat.select(F.explode("ctoks").alias("tok"), "ct", "ctoks", "doi")
    cand = (
        refs_tok.select("p_partkey", "rt", "rtoks", F.explode("rtoks").alias("tok"))
        .join(F.broadcast(cat_index), "tok")
        .select("p_partkey", "rt", "rtoks", "ct", "ctoks", "doi")
        .distinct()
    )
    score = (
        F.size(F.array_intersect("rtoks", "ctoks")).cast("double")
        / F.size(F.array_distinct(F.concat("rtoks", "ctoks")))
    ).alias("score")
    w = Window.partitionBy("p_partkey").orderBy(
        F.desc("score"), F.asc("ct"), F.asc("doi")
    )
    ranked = cand.select("p_partkey", "rt", "ct", "doi", score).withColumn(
        "rn", F.row_number().over(w)
    )
    top3 = ranked.where(F.col("rn") <= 3)
    best = top3.where(F.col("rn") == 1).select(
        "p_partkey",
        F.col("ct").alias("best_title"),
        F.round("score", 4).alias("best_score"),
    )
    hit = (
        top3.where(F.col("rt") == F.col("ct"))
        .groupBy("p_partkey")
        .agg(F.min_by(F.struct("doi", "rn"), "rn").alias("_m"))
        .select("p_partkey", F.col("_m.doi").alias("_doi"), F.col("_m.rn").alias("_rn"))
    )
    return (
        refs.join(best, on="p_partkey", how="left")
        .join(hit, on="p_partkey", how="left")
        .select(
            "p_partkey",
            F.coalesce("title", F.lit("")).alias("title"),
            F.coalesce("best_title", F.lit("")).alias("best_title"),
            F.coalesce("best_score", F.lit(-1.0)).alias("best_score"),
            F.coalesce("_doi", F.lit("")).alias("doi"),
            F.coalesce(F.col("_rn").cast("int"), F.lit(-1)).alias("matched_rank"),
        )
    )


SQL_REF_ENRICHMENT_RANKED = """
WITH w AS (
  SELECT p_partkey,
         printf('[%d] A. Alpha, and B. Beta, "%s," _IEEE Trans. %s_, vol. %d, no. 2, pp. 1-9, %d.',
                p_partkey, p_name, p_brand, (p_size % 50) + 1, (p_partkey % 30) + 1990) AS raw
  FROM part WHERE p_partkey % 13 = 1
),
parsed AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 7 = 0 THEN NULL
              WHEN p_partkey % 3 = 0 THEN regexp_extract(raw, '"(.+?),?"', 1) || ' study'
              ELSE regexp_extract(raw, '"(.+?),?"', 1) END AS title
  FROM w
),
refs AS (
  SELECT p_partkey, title, lower(trim(title)) AS rt,
         list_distinct(string_split(lower(trim(title)), ' ')) AS rtoks
  FROM parsed WHERE title IS NOT NULL
),
catalog AS (
  SELECT CASE WHEN p_partkey % 29 = 2
              THEN array_to_string(list_reverse(string_split(lower(trim(p_name)), ' ')), ' ')
              ELSE lower(trim(p_name)) END AS ct,
         list_distinct(string_split(CASE WHEN p_partkey % 29 = 2
              THEN array_to_string(list_reverse(string_split(lower(trim(p_name)), ' ')), ' ')
              ELSE lower(trim(p_name)) END, ' ')) AS ctoks,
         printf('10.1000/%d', p_partkey) AS doi
  FROM part WHERE p_partkey % 2 = 0
),
cand AS (
  SELECT r.p_partkey, r.rt, c.ct, c.doi,
         CAST(len(list_intersect(r.rtoks, c.ctoks)) AS DOUBLE)
           / len(list_distinct(list_concat(r.rtoks, c.ctoks))) AS score
  FROM refs r JOIN catalog c ON list_has_any(r.rtoks, c.ctoks)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY p_partkey
                               ORDER BY score DESC, ct, doi) AS rn
  FROM cand
),
top3 AS (SELECT * FROM ranked WHERE rn <= 3),
best AS (SELECT p_partkey, ct AS best_title, round(score, 4) AS best_score
         FROM top3 WHERE rn = 1),
hit AS (
  SELECT p_partkey, doi, rn FROM (
    SELECT p_partkey, doi, rn,
           row_number() OVER (PARTITION BY p_partkey ORDER BY rn) AS pick
    FROM top3 WHERE rt = ct) WHERE pick = 1
)
SELECT p.p_partkey,
       coalesce(p.title, '') AS title,
       coalesce(b.best_title, '') AS best_title,
       coalesce(b.best_score, -1.0) AS best_score,
       coalesce(h.doi, '') AS doi,
       coalesce(CAST(h.rn AS INT), -1) AS matched_rank
FROM parsed p
LEFT JOIN best b ON p.p_partkey = b.p_partkey
LEFT JOIN hit h ON p.p_partkey = h.p_partkey
"""


def q_edoc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S11 EDocument JSON serde round-trip: docs' ``edoc_json`` parsed
    back with an explicit StructType (from_json) and re-projected.  The
    oracle predicts every metadata field (incl. the T16 keyword split) from
    the paper-construction formulas — a malformed serde or misplaced field
    hash-mismatches."""
    tr = documents_as_papers(spark, sf_dir)
    docs = pipeline.run_pipeline(spark, tr, output_dir=None, num_buckets=16)["docs"]
    edoc_schema = (
        "struct<metadata:struct<title:string,pdf_filename:string,"
        "creation_date:double,keywords:array<string>,"
        "authors:array<struct<surname:string,given_name:string>>>>"
    )
    parsed = docs.select(
        "conv_id",
        F.from_json(F.col("edoc_json"), edoc_schema).alias("edoc"),
    )
    return parsed.select(
        "conv_id",
        F.col("edoc.metadata.title").alias("meta_title"),
        F.col("edoc.metadata.pdf_filename").alias("pdf_filename"),
        F.size(F.coalesce("edoc.metadata.authors", F.array())).alias("n_authors"),
        F.col("edoc.metadata.creation_date").alias("creation_date"),
        F.size(F.coalesce("edoc.metadata.keywords", F.array())).alias("n_keywords"),
        F.element_at("edoc.metadata.keywords", 1).alias("first_keyword"),
    )


SQL_EDOC_ROUNDTRIP = """
SELECT 'paper-' || CAST(doc_id AS VARCHAR) AS conv_id,
       CASE WHEN doc_id % 3 = 0 THEN NULL
            ELSE 'Paper ' || CAST(doc_id AS VARCHAR) END AS meta_title,
       'paper-' || CAST(doc_id AS VARCHAR) AS pdf_filename,
       CASE WHEN doc_id % 3 = 0 THEN 0 ELSE (doc_id % 2) + 1 END AS n_authors,
       CASE WHEN doc_id % 3 = 0 THEN NULL
            ELSE CAST(1600000000 + doc_id AS DOUBLE) END AS creation_date,
       CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 3 END AS n_keywords,
       CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'Graph Learning' END AS first_keyword
FROM documents
"""


def q_block_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20/T21 typed block tokenization (opt-in heavy column) exploded to one
    row per block.  The oracle rebuilds the exact page texts in SQL and
    replays the lookaround-free part of the tokenizer (paragraph split, blank
    drop, header classification + prefix strip)."""
    tr = documents_as_papers(spark, sf_dir)
    out = turns.tokenize_blocks(tr, num_buckets=16)
    return out.select(
        "conv_id",
        "turn_idx",
        F.posexplode("blocks").alias("block_idx", "b"),
    ).select(
        "conv_id",
        "turn_idx",
        "block_idx",
        F.col("b.block_type").alias("block_type"),
        F.length("b.content").alias("content_len"),
    )


SQL_BLOCK_STREAM = f"""
WITH {_PAPER_PAGES_SQL},
parts AS (
  SELECT doc_id, turn_idx,
         UNNEST(string_split(text, e'\\n\\n')) AS content,
         UNNEST(generate_series(1, len(string_split(text, e'\\n\\n')))) AS i
  FROM pages
),
kept AS (
  SELECT doc_id, turn_idx, i, content
  FROM parts WHERE regexp_matches(content, '\\S')
),
idx AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id, turn_idx ORDER BY i) - 1 AS INT)
              AS block_idx
  FROM kept
)
SELECT 'paper-' || CAST(doc_id AS VARCHAR) AS conv_id, turn_idx, block_idx,
       CASE WHEN content LIKE '###%' THEN 'header3'
            WHEN content LIKE '##%' THEN 'header2'
            WHEN content LIKE '#%' THEN 'header1'
            ELSE 'text' END AS block_type,
       CASE WHEN content LIKE '###%' THEN length(trim(substr(content, 4)))
            WHEN content LIKE '##%' THEN length(trim(substr(content, 3)))
            WHEN content LIKE '#%' THEN length(trim(substr(content, 2)))
            ELSE length(content) END AS content_len
FROM idx
"""


def q_rich_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18/T19 inline rich-text span tokenization (equation/code/bold/italic
    state machine) over document texts with deterministically injected inline
    markup — the oracle predicts the full token stream (types, annotations,
    lengths), so the tagger + state machine are independently checked."""
    import pandas as pd

    from .oracle import markup

    def tokenize(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for i, tok in enumerate(markup.rich_text_tokens(text or "")):
                    rows.append(
                        (int(doc_id), i, tok["span_type"],
                         tok["annotation"] or "plain",  # non-null: the driver
                         # hash sorts rows on this column (first alphabetical)
                         len(tok["content"]))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "token_idx", "span_type", "annotation", "content_len"],
            )

    d = _t(spark, sf_dir, "documents")
    marked = F.concat(
        F.substring("text", 1, 8),
        F.lit(" **bold span here** plus \\(E=mc2\\) end `code` tail "),
        F.substring("text", 13, 30),
    )
    return d.select("doc_id", marked.alias("text")).mapInPandas(
        tokenize,
        schema="doc_id long, token_idx int, span_type string, annotation string, content_len int",
    )


# token stream: leading untagged substr(1,8)+' ', bold 'bold span here',
# ' plus ', equation 'E=mc2', ' end ', code 'code', trailing ' tail '+substr(13,30)
SQL_RICH_TEXT_SPANS = """
SELECT doc_id, token_idx, span_type, annotation,
       CASE token_idx
            WHEN 0 THEN length(substr(text, 1, 8)) + 1
            WHEN 6 THEN 6 + length(substr(text, 13, 30))
            ELSE fixed_len END AS content_len
FROM documents CROSS JOIN (
  VALUES (0, 'text', 'plain', 0),
         (1, 'text', 'bold', 14),
         (2, 'text', 'plain', 6),
         (3, 'equation', 'plain', 5),
         (4, 'text', 'plain', 5),
         (5, 'text', 'code', 4),
         (6, 'text', 'plain', 0)
) AS toks(token_idx, span_type, annotation, fixed_len)
"""


def q_layout_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 block classification + A2 bbox union over a synthetic layout table
    derived deterministically from lineitem geometry columns."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(2000)
    )
    blocks = li.select(
        F.col("l_orderkey").alias("page_id"),
        (F.col("l_partkey") % 2000).alias("x"),
        (F.col("l_suppkey") % 3000).alias("y"),
        (F.col("l_linenumber") * 300).alias("w"),
        F.lit(200).alias("h"),
    )
    page_w = 2550
    cls = F.when(
        F.col("w") < 0.5 * page_w,
        F.when(
            F.col("x") < 0.5 * page_w,
            F.when(F.col("x") + F.col("w") < 0.5 * page_w, F.lit("half_left")).otherwise(
                F.lit("other")
            ),
        ).otherwise(F.lit("half_right")),
    ).otherwise(F.lit("full"))
    return (
        blocks.withColumn("block_type", cls)
        .groupBy("page_id", "block_type")
        .agg(
            F.min("x").alias("x1"),
            F.max(F.col("x") + F.col("w")).alias("x2"),
            F.min("y").alias("y1"),
            F.max(F.col("y") + F.col("h")).alias("y2"),
            F.count(F.lit(1)).alias("n_blocks"),
        )
    )


SQL_LAYOUT_BLOCKS = """
WITH blocks AS (
  SELECT l_orderkey AS page_id,
         l_partkey % 2000 AS x, l_suppkey % 3000 AS y,
         l_linenumber * 300 AS w, 200 AS h
  FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 2000)
),
typed AS (
  SELECT *,
         CASE WHEN w < 0.5 * 2550 THEN
                CASE WHEN x < 0.5 * 2550 THEN
                       CASE WHEN x + w < 0.5 * 2550 THEN 'half_left' ELSE 'other' END
                     ELSE 'half_right' END
              ELSE 'full' END AS block_type
  FROM blocks
)
SELECT page_id, block_type,
       min(x) AS x1, max(x + w) AS x2, min(y) AS y1, max(y + h) AS y2,
       count(*) AS n_blocks
FROM typed GROUP BY page_id, block_type
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "turn_ordering": (q_turn_ordering, SQL_TURN_ORDERING),
    "ordered_concat": (q_ordered_concat, SQL_ORDERED_CONCAT),
    "part_flatten": (q_part_flatten, SQL_PART_FLATTEN),
    "regex_extract_key": (q_regex_extract_key, SQL_REGEX_EXTRACT_KEY),
    "sentinel_injection": (q_sentinel_injection, SQL_SENTINEL_INJECTION),
    "bbox_union": (q_bbox_union, SQL_BBOX_UNION),
    "length_meaningful_filter": (q_length_meaningful_filter, SQL_LENGTH_MEANINGFUL_FILTER),
    "first_match": (q_first_match, SQL_FIRST_MATCH),
    "last_match": (q_last_match, SQL_LAST_MATCH),
    "broadcast_join_agg": (q_broadcast_join_agg, SQL_BROADCAST_JOIN_AGG),
    "anti_join_resume": (q_anti_join_resume, SQL_ANTI_JOIN_RESUME),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "newline_squash": (q_newline_squash, SQL_NEWLINE_SQUASH),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "bpe_tokens": (q_bpe_tokens, SQL_BPE_TOKENS),
    "text_profile": (q_text_profile, SQL_TEXT_PROFILE),
    "lang_ngram": (q_lang_ngram, SQL_LANG_NGRAM),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "minhash_candidates": (q_minhash_candidates, SQL_MINHASH_CANDIDATES),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "lsh_jaccard": (q_lsh_jaccard, SQL_LSH_JACCARD),
    "winnow_fingerprints": (q_winnow_fingerprints, SQL_WINNOW_FINGERPRINTS),
    "dedup_filter": (q_dedup_filter, SQL_DEDUP_FILTER),
    "simhash": (q_simhash, SQL_SIMHASH),
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "layout_blocks": (q_layout_blocks, SQL_LAYOUT_BLOCKS),
    "spellfix_filter": (q_spellfix_filter, SQL_SPELLFIX_FILTER),
    "segment_argmax": (q_segment_argmax, SQL_SEGMENT_ARGMAX),
    "citation_parse": (q_citation_parse, SQL_CITATION_PARSE),
    "ann_topk": (q_ann_topk, SQL_ANN_TOPK),
    "ann_topk_pruned": (q_ann_topk_pruned, SQL_ANN_TOPK),
    "ref_enrichment": (q_ref_enrichment, SQL_REF_ENRICHMENT),
    "ref_enrichment_ranked": (q_ref_enrichment_ranked, SQL_REF_ENRICHMENT_RANKED),
    "ivf_topk_pruned": (q_ivf_topk_pruned, SQL_IVF_TOPK),
    "ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
    "embedding_knn_pairs": (q_embedding_knn_pairs, SQL_EMBEDDING_KNN_PAIRS),
    "extract_turns": (q_extract_turns, SQL_EXTRACT_TURNS),
    "assemble_docs": (q_assemble_docs, SQL_ASSEMBLE_DOCS),
    "block_stream": (q_block_stream, SQL_BLOCK_STREAM),
    "rich_text_spans": (q_rich_text_spans, SQL_RICH_TEXT_SPANS),
    "edoc_roundtrip": (q_edoc_roundtrip, SQL_EDOC_ROUNDTRIP),
    "transcription_full": (q_transcription_full, SQL_TRANSCRIPTION_FULL),
    "paper_spans": (q_paper_spans, SQL_PAPER_SPANS),
    "edoc_json_full": (q_edoc_json_full, SQL_EDOC_JSON_FULL),
}
