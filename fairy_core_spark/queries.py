"""Driver-contract query registry: every SQL-expressible operator from
SURVEY.md §2 (plus the training-data-pipeline ops) as a (Spark callable,
DuckDB oracle SQL) pair over the /root/testdata star schema.

Contract rules honored here:
- every computed column aliased identically in Spark and SQL;
- money aggregates go through DECIMAL(18,2) sums (exact in both engines)
  and surface as DOUBLE (identical IEEE value both sides);
- float similarity/quality scores are rounded before ranking/output;
- rankings always carry a deterministic integer tie-break;
- spatial/image/LSH ops that SQL can't express are registered without an
  oracle (driver records rows-only checks).

The lat/lon synth used by spatial queries is pure integer arithmetic on
keys — byte-identical in Spark and DuckDB:
    lat = ((k * 7919)   % 120000) / 1000.0 - 60.0
    lon = ((k * 104729) % 360000) / 1000.0 - 180.0
Rectangle "polygons" use offset bounds (x.xxx55) so no synthesized point
ever lands exactly on a boundary (ray-cast vs BETWEEN edge semantics).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fairy_core_spark.operators.dedup import (
    _HASH_A,
    _MERSENNE_P,
    _perm_params,
    exact_dup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_df,
)

try:  # generated by scripts/gen_contract_goldens.py; absent only mid-bootstrap
    from fairy_core_spark.goldens.contract_goldens import (
        HEX7_CELLS4_SF001,
        HEX7_CELLS_SF001,
        HEX7_RING1_SF001,
        IMAGE_ALTHASH_3000,
        IMAGE_DIHEDRAL_640,
        IMAGE_PHASH_3000,
        TILE_CELLS_SF001,
    )
except ImportError:  # pragma: no cover - bootstrap path
    HEX7_CELLS_SF001 = HEX7_CELLS4_SF001 = IMAGE_PHASH_3000 = TILE_CELLS_SF001 = None
    IMAGE_ALTHASH_3000 = HEX7_RING1_SF001 = IMAGE_DIHEDRAL_640 = None
from fairy_core_spark.operators.rules import (
    enum_pred,
    non_empty_trimmed_pred,
    nullish_pred,
    range_pred,
    url_invalid_pred,
)
from fairy_core_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk
from fairy_core_spark.operators.text import (
    lang_id,
    quality_score,
    registered_domain_sql as _registered_domain_sql,
    token_count,
)
from fairy_core_spark.sources.tables import read_parquet

QueryFn = Callable[[SparkSession, str], DataFrame]
_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


# Every entry reads its tables through here, and a session reads the same
# few files again and again: read_parquet infers each file's schema once,
# so only the first read of an unchanged file pays an inference job.
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# -------- session-scoped memo of persisted frames shared across entries.
# The driver walks many entries in ONE SparkSession; several recompute the
# same expensive intermediate (minhash LSH pairs feed dedup_minhash_lsh,
# dedup_dup_groups, corpus_clean and corpus_clean_spans; two phash entries
# synthesize the same 3000-image table). Memoizing the persisted DataFrame
# keyed by applicationId turns that repeated work into one computation per
# session without changing any entry's semantics — each entry still returns
# the exact same rows. Keys include every parameter that shapes the frame.
_MEMO: dict[tuple, DataFrame] = {}


def _memo_df(spark: SparkSession, key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    from pyspark import StorageLevel

    app = spark.sparkContext.applicationId
    # evict entries from previous SparkSessions: their persisted frames are
    # unreachable (dead app) and holding them pins both the DataFrames and
    # the dict forever in long-lived processes (test suites, notebooks)
    stale = [k for k in _MEMO if k[0] != app]
    for k in stale:
        _MEMO.pop(k, None)
    k = (app, *key)
    df = _MEMO.get(k)
    if df is None:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        _MEMO[k] = df
    return df


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs over documents with the gate-standard params —
    the shared upstream of four registry entries."""
    return _memo_df(
        spark,
        ("minhash_pairs", sf_dir, 16, 4),
        lambda: minhash_lsh_candidates(
            _t(spark, sf_dir, "documents"), "text", "doc_id", num_perm=16, n_bands=4
        ),
    )


def _dup_groups_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fairy_core_spark.operators.dedup import connected_components

    return _memo_df(
        spark,
        ("dup_groups", sf_dir, 16, 4),
        lambda: connected_components(_minhash_pairs(spark, sf_dir)),
    )


def _images_cached(spark: SparkSession, n: int, dirty_every: int | None = None) -> DataFrame:
    from fairy_core_spark.datagen.images import images_df

    return _memo_df(
        spark, ("images", n, dirty_every), lambda: images_df(spark, n, dirty_every=dirty_every)
    )


# ---------------------------------------------------------------- rules


@_q(
    "rule_required_nullish",
    """
    SELECT
      CAST(SUM(CASE WHEN c_name IS NULL OR TRIM(CAST(c_name AS VARCHAR)) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_name,
      CAST(SUM(CASE WHEN c_mktsegment IS NULL OR TRIM(CAST(c_mktsegment AS VARCHAR)) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_segment,
      COUNT(*) AS n_rows
    FROM customer
    """,
)
def rule_required_nullish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reference `required` cell test (rulepack_runner.py:601-636) as a
    fused aggregate over customer."""
    df = _t(spark, sf_dir, "customer")
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("long")  # noqa: E731
    return df.agg(
        cnt(nullish_pred("c_name")).alias("n_bad_name"),
        cnt(nullish_pred("c_mktsegment")).alias("n_bad_segment"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "rule_unique_keep_first",
    """
    SELECT o_custkey AS key, COUNT(*) - 1 AS n_flagged
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def rule_unique_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`unique` keep-first semantics (rulepack_runner.py:392-421): flagged
    rows per duplicated key = count - 1."""
    df = _t(spark, sf_dir, "orders")
    return (
        df.groupBy(F.col("o_custkey").alias("key"))
        .agg((F.count(F.lit(1)) - 1).alias("n_flagged"))
        .where(F.col("n_flagged") > 0)
    )


@_q(
    "rule_dup_rows_composite",
    """
    SELECT l_orderkey AS k1, l_partkey AS k2, COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
)
def rule_dup_rows_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`no_duplicate_rows` over a composite key (rulepack_runner.py:359-389)."""
    df = _t(spark, sf_dir, "lineitem")
    return (
        df.groupBy(F.col("l_orderkey").alias("k1"), F.col("l_partkey").alias("k2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


@_q(
    "rule_enum_violations",
    """
    SELECT event_type AS bad_value, COUNT(*) AS n
    FROM events
    WHERE event_type IS NULL
       OR lower(trim(event_type)) NOT IN ('click','view','purchase','signup')
    GROUP BY 1
    """,
)
def rule_enum_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`enum` with normalize {trim, casefold} (rulepack_runner.py:424-471);
    NULL counts as violation."""
    df = _t(spark, sf_dir, "events")
    pred = enum_pred(
        "event_type",
        ["click", "view", "purchase", "signup"],
        {"trim": True, "casefold": True},
    )
    return (
        df.where(pred)
        .groupBy(F.col("event_type").alias("bad_value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "rule_range_violations",
    """
    SELECT l_discount AS bad_value, COUNT(*) AS n
    FROM lineitem
    WHERE l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.08
    GROUP BY 1
    """,
)
def rule_range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`range` inclusive bounds; null/non-numeric violates
    (rulepack_runner.py:474-519)."""
    df = _t(spark, sf_dir, "lineitem")
    return (
        df.where(range_pred("l_discount", 0.0, 0.08, True))
        .groupBy(F.col("l_discount").alias("bad_value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "rule_fk_clean",
    """
    SELECT DISTINCT l_partkey AS missing_value
    FROM lineitem
    WHERE l_partkey IS NOT NULL
      AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
    """,
)
def rule_fk_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`foreign_key` distinct-missing-values semantics
    (rulepack_runner.py:525-568); clean pair -> empty result."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    lv = li.select(F.col("l_partkey").alias("missing_value")).where(
        F.col("missing_value").isNotNull()
    ).distinct()
    rv = part.select(F.col("p_partkey").alias("missing_value")).where(
        F.col("missing_value").isNotNull()
    ).distinct()
    return lv.join(rv, "missing_value", "left_anti")


@_q(
    "rule_fk_orphans",
    """
    SELECT DISTINCT user_id AS missing_value
    FROM events
    WHERE user_id IS NOT NULL
      AND user_id NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)
    """,
)
def rule_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """same anti-join with a deliberately mismatched pair -> real misses."""
    ev = _t(spark, sf_dir, "events")
    sup = _t(spark, sf_dir, "supplier")
    lv = ev.select(F.col("user_id").alias("missing_value")).where(
        F.col("missing_value").isNotNull()
    ).distinct()
    rv = sup.select(F.col("s_suppkey").alias("missing_value")).where(
        F.col("missing_value").isNotNull()
    ).distinct()
    return lv.join(rv, "missing_value", "left_anti")


@_q(
    "rule_regex_fullmatch",
    """
    SELECT
      CAST(SUM(CASE WHEN NOT regexp_full_match(c_name, 'Customer#[0-9]{9}') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_format,
      CAST(SUM(CASE WHEN regexp_matches(c_name, '#000') THEN 1 ELSE 0 END) AS BIGINT) AS n_forbidden,
      COUNT(*) AS n_rows
    FROM customer
    """,
)
def rule_regex_fullmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`regex` both modes (rulepack_runner.py:728-823): not_matches =
    anchored fullmatch, matches = search-anywhere."""
    df = _t(spark, sf_dir, "customer")
    c = F.col("c_name").cast("string")
    not_full = ~c.rlike(r"^(?:Customer#[0-9]{9})$")
    forbidden = c.rlike(r"#000")
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("long")  # noqa: E731
    return df.agg(
        cnt(not_full).alias("n_bad_format"),
        cnt(forbidden).alias("n_forbidden"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "rule_url_classes",
    """
    WITH u AS (
      SELECT p_partkey % 4 AS url_class,
             CASE p_partkey % 4
               WHEN 0 THEN 'www.example.com/' || p_brand
               WHEN 1 THEN 'https://example.com/part/' || CAST(p_partkey AS VARCHAR)
               WHEN 2 THEN 'ftp://files.example.com/' || CAST(p_partkey AS VARCHAR)
               ELSE ''
             END AS url
      FROM part
    )
    SELECT url_class,
           -- reference _url_syntax_ok semantics (rulepack_runner.py:639-660)
           -- evaluated per class: www.-> https:// prefix valid; https valid;
           -- ftp scheme not allowed; empty has no scheme
           CAST(SUM(CASE WHEN url_class IN (0, 1) THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
           COUNT(*) AS n
    FROM u GROUP BY url_class
    """,
)
def rule_url_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`url` operator driven over four synthesized URL classes; the oracle
    pins each class's expected validity under the reference semantics."""
    df = _t(spark, sf_dir, "part")
    url = (
        F.when(F.col("p_partkey") % 4 == 0, F.concat(F.lit("www.example.com/"), F.col("p_brand")))
        .when(
            F.col("p_partkey") % 4 == 1,
            F.concat(F.lit("https://example.com/part/"), F.col("p_partkey").cast("string")),
        )
        .when(
            F.col("p_partkey") % 4 == 2,
            F.concat(F.lit("ftp://files.example.com/"), F.col("p_partkey").cast("string")),
        )
        .otherwise(F.lit(""))
    )
    tagged = df.select((F.col("p_partkey") % 4).alias("url_class"), url.alias("url"))
    inv = url_invalid_pred("url", ["http", "https"])
    return tagged.groupBy("url_class").agg(
        F.sum(F.when(inv, 1).otherwise(0)).cast("long").alias("n_invalid"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "rule_non_empty_trimmed",
    """
    SELECT
      CAST(SUM(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blank_text,
      CAST(SUM(CASE WHEN props IS NULL OR LENGTH(TRIM(props)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blank_props
    FROM documents, events
    WHERE doc_id = event_id % 500
    """,
)
def rule_non_empty_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`non_empty_trimmed` (rulepack_runner.py:699-725) across a join of two
    tables (also exercises the equi-join path)."""
    docs = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")
    joined = docs.join(ev, docs["doc_id"] == ev["event_id"] % 500)
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("long")  # noqa: E731
    return joined.agg(
        cnt(non_empty_trimmed_pred("text")).alias("n_blank_text"),
        cnt(non_empty_trimmed_pred("props")).alias("n_blank_props"),
    )


@_q(
    "rule_dates_iso8601",
    """
    SELECT
      CAST(SUM(CASE WHEN NOT regexp_full_match(strftime(o_orderdate, '%Y-%m-%d'), '\\d{4}-\\d{2}-\\d{2}')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dates,
      COUNT(*) AS n_rows
    FROM orders
    """,
)
def rule_dates_iso8601(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO preflight dates_are_iso8601 (rna.py:275-308) over stringified
    order dates."""
    df = _t(spark, sf_dir, "orders")
    s = F.date_format("o_orderdate", "yyyy-MM-dd")
    bad = ~s.rlike(r"^\d{4}-\d{2}-\d{2}$")
    return df.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_bad_dates"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "rr_range_nulls_pass",
    """
    SELECT
      CAST(SUM(CASE WHEN (TRY_CAST(CAST(c_acctbal AS VARCHAR) AS DOUBLE) < 0.0
                       OR TRY_CAST(CAST(c_acctbal AS VARCHAR) AS DOUBLE) > 5000.0)
                     OR (c_acctbal IS NOT NULL
                         AND TRY_CAST(CAST(c_acctbal AS VARCHAR) AS DOUBLE) IS NULL)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
      CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls_passing,
      COUNT(*) AS n_rows
    FROM customer
    """,
)
def rr_range_nulls_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the RuleResult-dialect numeric range (checks.py:234-266): NULLS PASS
    — the opposite of the runner dialect's rule_range_violations where
    null/non-numeric violates. Both dialects are implemented
    (operators/checks.py vs operators/rules.py); this entry pins the delta
    in the driver gate, not just in pytest."""
    df = _t(spark, sf_dir, "customer")
    orig = F.col("c_acctbal")
    d = orig.cast("string").try_cast("double")
    oob = (d < 0.0) | (d > 5000.0)
    nonnum = d.isNull() & orig.isNotNull()
    bad = F.coalesce(oob, F.lit(False)) | nonnum
    return df.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_bad"),
        F.sum(F.when(orig.isNull(), 1).otherwise(0)).cast("long").alias("n_nulls_passing"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "preflight_id_crosscheck",
    """
    SELECT
      (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NULL) AS n_blank,
      (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem
        WHERE l_suppkey IS NOT NULL
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)) AS n_unknown
    """,
)
def preflight_id_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """id_crosscheck two-finding shape (rna.py:160-211): blank ids and ids
    unknown to the reference table."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    n_blank = li.where(F.col("l_suppkey").isNull()).count()
    unknown = (
        li.select("l_suppkey").where(F.col("l_suppkey").isNotNull()).distinct()
        .join(sup.select(F.col("s_suppkey").alias("l_suppkey")), "l_suppkey", "left_anti")
        .count()
    )
    return spark.createDataFrame([(n_blank, unknown)], "n_blank bigint, n_unknown bigint")


@_q(
    "preflight_paired_complete",
    """
    SELECT user_id
    FROM events
    GROUP BY user_id
    HAVING MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1
       AND MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 0
    """,
)
def preflight_paired_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """paired_end_complete shape (rna.py:214-272): groups having R1 without
    R2 (here: click without purchase)."""
    df = _t(spark, sf_dir, "events")
    has = lambda v: F.max(F.when(F.col("event_type") == v, 1).otherwise(0))  # noqa: E731
    return (
        df.groupBy("user_id")
        .agg(has("click").alias("h1"), has("purchase").alias("h2"))
        .where((F.col("h1") == 1) & (F.col("h2") == 0))
        .select("user_id")
    )


@_q(
    "preflight_processed_present",
    """
    SELECT user_id
    FROM events
    WHERE value > 400
    GROUP BY user_id
    HAVING MAX(CASE WHEN event_type LIKE '%lick%' THEN 1 ELSE 0 END) = 1
       AND GREATEST(MAX(CASE WHEN event_type LIKE '%chase%' THEN 1 ELSE 0 END),
                    MAX(CASE WHEN event_type LIKE '%ignup%' THEN 1 ELSE 0 END)) = 0
    """,
)
def preflight_processed_present(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processed_data_present shape (rna.py:311-358): groups whose files
    match the raw glob by *substring containment* but match no processed
    glob — mirrors operators/preflight.check_processed_data_present
    (contains + greatest over multiple globs), distinct from the equality
    test in paired_end_complete. The value>400 prefilter selects a sparse
    'file subset' so the finding set is non-empty at sf0.01."""
    df = _t(spark, sf_dir, "events").where(F.col("value") > 400)
    has = lambda sub: F.max(F.col("event_type").contains(sub).cast("int"))  # noqa: E731
    return (
        df.groupBy("user_id")
        .agg(
            has("lick").alias("h_raw"),
            F.greatest(has("chase"), has("ignup")).alias("h_proc"),
        )
        .where((F.col("h_raw") == 1) & (F.col("h_proc") == 0))
        .select("user_id")
    )


@_q(
    "preflight_grouped_any",
    """
    SELECT user_id
    FROM events
    GROUP BY user_id
    HAVING MAX(CASE WHEN event_type IN ('view','click','purchase') THEN 1 ELSE 0 END) = 0
    """,
)
def preflight_grouped_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """at_least_one_nonempty_per_row recast per-group (rna.py:122-157):
    users with no engagement event at all."""
    df = _t(spark, sf_dir, "events")
    hit = F.max(
        F.when(F.col("event_type").isin("view", "click", "purchase"), 1).otherwise(0)
    )
    return df.groupBy("user_id").agg(hit.alias("h")).where(F.col("h") == 0).select("user_id")


# ---------------------------------------------------------------- analytics


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2025-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape; money through exact DECIMAL sums surfaced as DOUBLE
    (bit-identical across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2025-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "q3_top_revenue_orders",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      AND c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast the filtered dimension, shuffle only the
    fact aggregation; deterministic LIMIT via (revenue, key) tie-break."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q(
    "window_topk_per_type",
    """
    SELECT event_type, event_id, value, rnk FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
      FROM events
    ) WHERE rnk <= 3
    """,
)
def window_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        df.select("event_type", "event_id", "value", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@_q(
    "sessionize_users",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(1 + SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM (
      SELECT user_id,
             EXTRACT(EPOCH FROM ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
      FROM events
    )
    GROUP BY user_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionization via lag + gap>30min cumsum (guide 'Common OLAP
    patterns'); one shuffle on user_id shared by window and groupBy."""
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ -> epoch seconds (exact microsecond multiples both engines)
    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)
    gap = epoch - F.lag(epoch).over(w)
    return (
        df.select("user_id", gap.alias("gap_s"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (1 + F.sum(F.when(F.col("gap_s") > 1800, 1).otherwise(0))).alias("n_sessions"),
        )
    )


@_q(
    "agg_segment_rollup",
    """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
           MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "customer")
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@_q(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way join with a region filter pushed to the
    smallest dimension, local-supplier constraint (customer and supplier in
    the same nation). Dimensions broadcast; only the fact tables shuffle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(cust), (orders["o_custkey"] == cust["c_custkey"])
              & (cust["c_nationkey"] == sup["s_nationkey"]))
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_q(
    "agg_rollup_nation",
    """
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM supplier, nation, region
    WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hierarchical ROLLUP (region -> nation -> grand total): Spark's
    rollup() lowers to one Expand + partial-aggregable hash aggregate —
    the multi-granularity report pattern without three scans."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    j = sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]).join(
        F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
    )


@_q(
    "window_cumulative_spend",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS DOUBLE) AS cum_spend
    FROM orders
    """,
)
def window_cumulative_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-customer running spend: one shuffle on the partition key, exact
    DECIMAL accumulation surfaced as DOUBLE (cross-engine deterministic)."""
    df = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("cum_spend"),
    )


@_q(
    "pivot_event_counts",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot with an explicit value list (no discovery scan — at 100 TB the
    implicit-distinct pivot is two jobs); absent cells filled with 0."""
    df = _t(spark, sf_dir, "events")
    out = (
        df.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup"])
        .count()
        .na.fill(0)
    )
    return out.select(
        "user_id",
        *[F.col(c).cast("long").alias(c) for c in ("click", "view", "purchase", "signup")],
    )


@_q(
    "asof_last_purchase",
    """
    SELECT event_id, purchase_id FROM (
      SELECT c.event_id, p.event_id AS purchase_id,
             ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY p.ts DESC, p.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts <= c.ts
    ) WHERE rn = 1
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join (backward): for each click, the user's latest purchase
    at-or-before it. The engine runs the union->one-window form (one
    shuffle, no per-key join blow-up); the oracle is the naive join+rank —
    same rows by construction, tie broken on purchase id."""
    from fairy_core_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_event")
    )
    got = asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        tie_col="purchase_event", how="inner",
    )
    return got.select("event_id", F.col("r_purchase_event").alias("purchase_id"))


@_q(
    "range_join_value_bands",
    """
    WITH bands AS (
      SELECT p_partkey AS band_id,
             ((p_partkey * 37) % 4800) / 10.0 AS lo,
             ((p_partkey * 37) % 4800) / 10.0 + 12.5 AS hi
      FROM part WHERE p_partkey % 50 = 0
    )
    SELECT e.event_id, b.band_id
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range join via binned equi-join + exact refine (the 1-D analogue of
    the spatial cell join); the oracle is the plain theta join. Bounds are
    integer-derived doubles, bit-identical across engines."""
    from fairy_core_spark.operators.joins import interval_join_binned

    ev = _t(spark, sf_dir, "events")
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 50 == 0)
    lo = ((F.col("p_partkey") * 37) % 4800) / 10.0
    bands = part.select(
        F.col("p_partkey").alias("band_id"), lo.alias("lo"), (lo + 12.5).alias("hi")
    )
    got = interval_join_binned(ev, bands, "value", "lo", "hi", bin_width=8.0)
    return got.select("event_id", "band_id")


@_q(
    "skew_salted_distinct_users",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def skew_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """salted exact distinct-count (operators/skew.py): values sharded by
    hash so no reducer sees a hot key's full value set; shard counts add
    exactly, pinned against the plain COUNT(DISTINCT) oracle."""
    from fairy_core_spark.operators.skew import salted_distinct_count

    ev = _t(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id", n_salts=8).select(
        F.col("event_type"), F.col("n_distinct")
    )


@_q(
    "agg_exact_median",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact median per group: Spark's percentile (exact, linear
    interpolation) vs DuckDB quantile_cont — same definition, compared at
    6dp. Spark's exact percentile collects each group's values to its
    reducer; at 100 TB prefer approx_percentile or a two-pass histogram —
    the exact form is the small-group/report path."""
    df = _t(spark, sf_dir, "orders")
    return df.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "asof_next_signup",
    """
    SELECT event_id, signup_id FROM (
      SELECT c.event_id, s.event_id AS signup_id,
             ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY s.ts ASC, s.event_id ASC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON c.user_id = s.user_id AND s.ts >= c.ts
    ) WHERE rn = 1
    """,
)
def asof_next_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join FORWARD direction: for each click, the user's earliest
    signup at-or-after it (tie -> min signup id); oracle is the naive
    join+rank form."""
    from fairy_core_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    got = asof_join(
        clicks, signups, key="user_id", left_ts="ts", right_ts="ts",
        direction="forward", tie_col="signup_event", how="inner",
    )
    return got.select("event_id", F.col("r_signup_event").alias("signup_id"))


@_q(
    "rr_enum_nulls_pass",
    """
    SELECT
      CAST(SUM(CASE WHEN event_type IS NOT NULL
                     AND lower(trim(event_type)) NOT IN ('click','view','purchase','signup')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
      CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls_passing,
      COUNT(*) AS n_rows
    FROM events
    """,
)
def rr_enum_nulls_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the RuleResult-dialect enum (checks.py: NULLS PASS) — opposite of
    the runner dialect's rule_enum_violations where NULL violates; second
    driver-gate pin of the two-dialect delta."""
    df = _t(spark, sf_dir, "events")
    c = F.col("event_type")
    normed = F.lower(F.trim(c))
    bad = c.isNotNull() & ~normed.isin("click", "view", "purchase", "signup")
    return df.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_bad"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("long").alias("n_nulls_passing"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ------------------------------------------------------ text / dedup / ANN


@_q(
    "text_token_count",
    """
    SELECT doc_id,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


@_q(
    "text_quality",
    """
    WITH f AS (
      SELECT doc_id,
        CASE WHEN TRIM(text)='' THEN 0
             ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tok,
        LENGTH(text) AS n_chr,
        LENGTH(text) - LENGTH(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
        len(list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                        t -> t IN ('the','and','of','to','a'))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
      ROUND(
        0.5 * LEAST(n_tok / 64.0, 1.0)
        + 0.3 * (1.0 - LEAST(CASE WHEN n_chr = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chr END * 4.0, 1.0))
        + 0.2 * LEAST(CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tok END * 5.0, 1.0)
      , 6) AS quality
    FROM f
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", quality_score(F.col("text")).alias("quality"))


@_q(
    "text_langid",
    """
    WITH hits AS (
      SELECT doc_id, regexp_split_to_array(lower(TRIM(text)), '\\s+') AS toks FROM documents
    ), scored AS (
      SELECT doc_id,
        len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS h_de,
        len(list_filter(toks, t -> t IN ('the','and','of','to','a'))) AS h_en,
        len(list_filter(toks, t -> t IN ('el','la','de','que','y'))) AS h_es,
        len(list_filter(toks, t -> t IN ('le','la','et','les','des'))) AS h_fr
      FROM hits
    )
    SELECT lang_pred, COUNT(*) AS n FROM (
      SELECT doc_id,
        CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
             WHEN h_es >= h_fr THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM scored
    ) GROUP BY lang_pred
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stopword-argmax language id; ties resolve to the lexicographically
    first code in both engines."""
    df = _t(spark, sf_dir, "documents")
    return (
        df.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, COUNT(*) AS n, MIN(doc_id) AS keeper_id
    FROM documents GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return exact_dup_groups(df, "text", "doc_id").select(
        "content_hash", "n", F.col("keeper_id").cast("long").alias("keeper_id")
    )


@_q(
    "dedup_ngram_jaccard",
    """
    WITH t AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               list_filter(regexp_split_to_array(TRIM(text), '\\s+'), tok -> tok <> ''),
               tok -> ('0x' || substring(md5(tok), 1, 15))::BIGINT)) AS toks
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(df, "text", "doc_id", "source", threshold=0.5)


def _minhash_oracle_parts(num_perm: int = 16, n_bands: int = 4) -> tuple[str, str]:
    """(cte_list, final_select) of the minhash replay — split so callers
    can flatten the CTEs into their own WITH [RECURSIVE] list (DuckDB
    rejects a nested WITH inside a recursive CTE body)."""
    r = num_perm // n_bands
    mins = ",\n             ".join(
        f"COALESCE(list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE_P})), 0) AS m{i}"
        for i, (a, b) in enumerate(_perm_params(num_perm))
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(f"m{b * r + j}::VARCHAR" for j in range(r))
        + " AS bucket FROM sig"
        for b in range(n_bands)
    )
    ctes = f"""base AS (
      SELECT doc_id, CASE WHEN text IS NULL OR TRIM(text) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS toks
      FROM documents
    ), tok_h AS (
      SELECT doc_id,
             list_transform(toks, t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % {_MERSENNE_P}) AS th
      FROM base
    ), hashed AS (
      -- shingle hash = polynomial fold of 3 adjacent token hashes (engine's
      -- shingle_hashes: shingle strings are never built)
      SELECT doc_id, list_distinct(
        CASE WHEN len(th) >= 3
             THEN list_transform(range(1, len(th) - 1),
                                 i -> (((th[i] * {_HASH_A} + th[i + 1]) % {_MERSENNE_P}) * {_HASH_A}
                                       + th[i + 2]) % {_MERSENNE_P})
             ELSE []::BIGINT[] END) AS hs
      FROM tok_h
    ), sig AS (
      SELECT doc_id, {mins}
      FROM hashed
    ), banded AS (
      {band_rows}
    )"""
    final = """
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    """
    return ctes, final


def _minhash_oracle_sql(num_perm: int = 16, n_bands: int = 4) -> str:
    """DuckDB replay of the full minhash pipeline: shingle -> md5-60bit ->
    affine permutations -> per-band bucket strings -> bucket self-join."""
    ctes, final = _minhash_oracle_parts(num_perm, n_bands)
    return f"WITH {ctes} {final}"


def _simhash_oracle_sql() -> str:
    """DuckDB replay of native simhash: md5 token hash (two 32-bit halves ->
    signed 64-bit via arithmetic, since 1<<63 overflows DuckDB), 64 plain
    bit sums + count (bit k set iff 2*ones > n — same majority as the
    +/-1-sign form), assembly with a min-long term for the sign bit."""
    sums = ",\n             ".join(
        ["COUNT(hv) AS n"] + [f"SUM((hv >> {i}) & 1) AS s{i}" for i in range(64)]
    )
    bits = "\n           + ".join(
        [f"CASE WHEN 2 * s{i} > n THEN (1::BIGINT << {i}) ELSE 0 END" for i in range(63)]
        + ["CASE WHEN 2 * s63 > n THEN -9223372036854775808 ELSE 0 END"]
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(CASE WHEN text IS NULL OR TRIM(text) = '' THEN []::VARCHAR[]
                                 ELSE regexp_split_to_array(TRIM(text), '\\s+') END) AS t
      FROM documents
    ), h AS (
      SELECT doc_id,
             (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS hv
      FROM (SELECT doc_id,
                   ('0x' || substring(md5(t), 1, 8))::BIGINT AS hi,
                   ('0x' || substring(md5(t), 9, 8))::BIGINT AS lo
            FROM tok)
    ), s AS (
      SELECT doc_id, {sums}
      FROM h GROUP BY doc_id
    ), v AS (
      SELECT doc_id, {bits} AS simhash
      FROM s
    )
    SELECT d.doc_id, CAST(COALESCE(v.simhash, 0) AS BIGINT) AS simhash
    FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
    """


@_q("dedup_minhash_lsh", _minhash_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir)


_CLEAN_FEAT_CTES = """fq AS (
      SELECT doc_id,
        CASE WHEN TRIM(text)='' THEN 0
             ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tok,
        LENGTH(text) AS n_chr,
        LENGTH(text) - LENGTH(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
        len(list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                        t -> t IN ('the','and','of','to','a'))) AS n_stop,
        regexp_split_to_array(lower(TRIM(text)), '\\s+') AS ltoks
      FROM documents
    ), feat AS (
      SELECT doc_id,
        ROUND(
          0.5 * LEAST(n_tok / 64.0, 1.0)
          + 0.3 * (1.0 - LEAST(CASE WHEN n_chr = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chr END * 4.0, 1.0))
          + 0.2 * LEAST(CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tok END * 5.0, 1.0)
        , 6) AS quality,
        CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
             WHEN h_es >= h_fr THEN 'es'
             ELSE 'fr' END AS lang
      FROM (SELECT *,
              len(list_filter(ltoks, t -> t IN ('der','die','und','das','ist'))) AS h_de,
              len(list_filter(ltoks, t -> t IN ('the','and','of','to','a'))) AS h_en,
              len(list_filter(ltoks, t -> t IN ('el','la','de','que','y'))) AS h_es,
              len(list_filter(ltoks, t -> t IN ('le','la','et','les','des'))) AS h_fr
            FROM fq)
    )"""


def _corpus_clean_oracle_sql() -> str:
    """Full pipeline replay: quality + langid features, minhash pair
    transitive closure for canonical dup selection, then the keep filter."""
    ctes, final = _minhash_oracle_parts()
    return f"""
    WITH RECURSIVE {ctes}, pairs AS ({final}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ), groups AS (
      SELECT node AS doc_id, MIN(lab) AS group_id FROM reach GROUP BY node
    ), {_CLEAN_FEAT_CTES}
    SELECT f.doc_id, f.lang, f.quality
    FROM feat f LEFT JOIN groups g ON f.doc_id = g.doc_id
    WHERE f.lang = 'en' AND f.quality >= 0.6
      AND (g.doc_id IS NULL OR g.group_id = f.doc_id)
    """


@_q("corpus_clean", _corpus_clean_oracle_sql())
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the composed training-data filter: keep English docs of quality
    >= 0.6 that are either dup-free or their dup group's canonical
    member — langid + quality (one projection) composed with minhash
    LSH -> connected components (the dedup_dup_groups machinery) via a
    left-anti join on the non-canonical members."""
    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("quality"),
    )
    kept = feats.where((F.col("lang") == "en") & (F.col("quality") >= 0.6))
    drop = (
        _dup_groups_df(spark, sf_dir)
        .where(F.col("doc_id") != F.col("group_id"))
        .select("doc_id")
    )
    return kept.join(drop, "doc_id", "left_anti")


def _dup_groups_oracle_sql() -> str:
    """Minhash pair oracle -> transitive closure by recursive CTE ->
    per-node component minimum — an implementation-independent replay of
    distributed min-label propagation."""
    ctes, final = _minhash_oracle_parts()
    return f"""
    WITH RECURSIVE {ctes}, pairs AS ({final}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS group_id FROM reach GROUP BY node
    """


def _sample_split_oracle_sql() -> str:
    from fairy_core_spark.operators.sampling import hash_split_case_sql

    return f"SELECT doc_id, {hash_split_case_sql('doc_id')} AS split FROM documents"


@_q("sample_split_documents", _sample_split_oracle_sql())
def sample_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic content-stable train/test split (operators/sampling.py
    hash_split): same doc -> same split on every run and every engine."""
    from fairy_core_spark.operators.sampling import hash_split

    df = _t(spark, sf_dir, "documents")
    return hash_split(df, "doc_id").select("doc_id", "split")


def _leakage_split_oracle_sql() -> str:
    from fairy_core_spark.operators.sampling import hash_split_case_sql

    ctes, final = _minhash_oracle_parts()
    case = hash_split_case_sql("COALESCE(g.group_id, d.doc_id)")
    return f"""
    WITH RECURSIVE {ctes}, pairs AS ({final}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ), grp AS (
      SELECT node AS doc_id, MIN(lab) AS group_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, {case} AS split
    FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc_id
    """


@_q("sample_split_leakage_safe", _leakage_split_oracle_sql())
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train/test split keyed on the minhash dup GROUP (operators/sampling.
    leakage_safe_split): near-duplicate documents can never straddle the
    split boundary — the standard leakage guard a naive per-doc hash split
    misses. Composes the memoized connected-components frame; the oracle
    replays the full chain (minhash pairs -> recursive-CTE closure ->
    group-keyed hash split) in DuckDB."""
    from fairy_core_spark.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    groups = _dup_groups_df(spark, sf_dir)
    return leakage_safe_split(docs, groups).select("doc_id", "split")


def _quota_sqrt_oracle_sql() -> str:
    from fairy_core_spark.operators.sampling import quota_sample_scaled_sql

    inner = "(SELECT doc_id, source FROM documents)"
    return quota_sample_scaled_sql(inner, "source", "doc_id", m=3)


@_q("sample_quota_sqrt", _quota_sqrt_oracle_sql())
def sample_quota_sqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sublinear per-domain quota (operators/sampling.quota_sample_scaled):
    cap = 3 * isqrt(domain size) — the sqrt-temperature mixture heuristic
    that suppresses head domains while keeping the tail whole. isqrt is
    floor-sqrt with an integer fix-up so Spark and the DuckDB oracle agree
    exactly; group size rides the rank window's partition (one shuffle)."""
    from fairy_core_spark.operators.sampling import quota_sample_scaled

    df = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return quota_sample_scaled(df, "source", "doc_id", m=3)


def _token_rarity_oracle_sql() -> str:
    return """
    WITH toks AS (
      SELECT doc_id, t.tok FROM documents,
        UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), freq AS (
      SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(f) AS BIGINT) AS sum_token_freq,
           CAST(MIN(f) AS BIGINT) AS min_token_freq
    FROM toks JOIN freq USING (tok) GROUP BY doc_id
    """


@_q("text_token_rarity", _token_rarity_oracle_sql())
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-doc corpus-frequency profile (operators/text.token_rarity):
    integer-exact unigram-surprisal stand-in — n_tokens + sum/min of each
    token's global corpus count; rare-vocabulary docs read low, boilerplate
    reads high. No floats anywhere, so the oracle is exact."""
    from fairy_core_spark.operators.text import token_rarity

    return token_rarity(_t(spark, sf_dir, "documents"))


_STRATA_FRACTIONS = {"src0": 1.0, "src1": 0.25}


def _stratified_oracle_sql() -> str:
    from fairy_core_spark.operators.sampling import hash_bucket_sql

    whens = " ".join(
        f"WHEN '{s}' THEN {int(round(f * 10000))}" for s, f in _STRATA_FRACTIONS.items()
    )
    return f"""
    SELECT doc_id, source FROM documents
    WHERE {hash_bucket_sql('doc_id')} < CASE source {whens} ELSE 1000 END
    """


@_q("sample_stratified_documents", _stratified_oracle_sql())
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-source deterministic downsampling (corpus mixing recipe: keep
    all of src0, a quarter of src1, 10% of the rest)."""
    from fairy_core_spark.operators.sampling import stratified_hash_sample

    df = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        df, "doc_id", "source", _STRATA_FRACTIONS, default=0.1
    ).select("doc_id", "source")


def _quota_oracle_sql() -> str:
    from fairy_core_spark.operators.sampling import quota_sample_sql

    return quota_sample_sql(
        "(SELECT doc_id, source FROM documents)", "source", "doc_id", 10
    )


@_q("sample_quota_per_source", _quota_oracle_sql())
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-domain quota cap (web-corpus staple: at most N docs per
    source/domain — quota 10 of 25 per source here, so the cap bites), chosen by content-stable md5 rank so the kept set
    never shifts with partitioning — operators/sampling.quota_sample;
    the oracle replays the identical hash + ROW_NUMBER arithmetic."""
    from fairy_core_spark.operators.sampling import quota_sample

    df = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return quota_sample(df, "source", "doc_id", 10)


_QUOTA_HOST_SQL = (
    "'sub' || CAST(doc_id % 20 AS VARCHAR) || '.src' || "
    "CAST(doc_id % 3 AS VARCHAR) || '.co.uk'"
)


def _quota_rd_oracle_sql() -> str:
    from fairy_core_spark.operators.sampling import quota_sample_sql

    inner = (
        f"(SELECT doc_id, {_registered_domain_sql(_QUOTA_HOST_SQL)} AS domain "
        "FROM documents)"
    )
    return quota_sample_sql(inner, "domain", "doc_id", 15)


@_q("sample_quota_registered_domain", _quota_rd_oracle_sql())
def sample_quota_registered_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the production web-corpus form of per-domain quota: key on the PSL
    REGISTERED domain, not the full host — 60 distinct subdomain hosts
    (sub{0..19}.src{0..2}.co.uk) collapse to 3 registered domains
    (src{0..2}.co.uk), quota 15 keeps 45 of 500 rows. Full-host keying
    would keep ~all rows (each host under the cap) — the exact convention
    gap ADVICE flagged. Composition: registered_domain (shipped PSL
    snapshot) -> quota_sample (content-stable md5 rank window); DuckDB
    replays both verbatim."""
    from fairy_core_spark.operators.sampling import quota_sample
    from fairy_core_spark.operators.text import registered_domain

    host = F.concat(
        F.lit("sub"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".src"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".co.uk"),
    )
    df = _t(spark, sf_dir, "documents").select(
        "doc_id", registered_domain(host).alias("domain")
    )
    return quota_sample(df, "domain", "doc_id", 15)


@_q("dedup_dup_groups", _dup_groups_oracle_sql())
def dedup_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash LSH pairs -> connected components -> (doc_id, group_id):
    the canonical-document selection step of a dedup pipeline (keep
    group_id, drop the other members)."""
    return _dup_groups_df(spark, sf_dir)


@_q("dedup_simhash", _simhash_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return simhash_df(df, "text", "doc_id")


_ANN_BRUTE_SQL = """
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(CASE WHEN list_dot_product(q.embedding, q.embedding) > 0
                                    AND list_dot_product(c.embedding, c.embedding) > 0
                               THEN list_cosine_similarity(q.embedding, c.embedding)
                               ELSE 0 END, 6) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    ) WHERE rank <= 5
    """


@_q("ann_cosine_topk", _ANN_BRUTE_SQL)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-k baseline; ranking on 6dp-rounded similarity
    with neighbor-id tie-break (deterministic across engines)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return cosine_topk_bruteforce(emb, q, k=5).select("query_id", "neighbor_id", "rank")


def _cosine_dups_oracle_sql(dim: int = 64, n_planes: int = 4, seed: int = 7,
                            threshold: float = 0.4, n_tables: int = 4) -> str:
    """DuckDB replay of the OR-amplified random-hyperplane LSH + cosine
    refine: n_tables independent sign-bucket tables (plane literals repr
    full-precision — exact float64 round-trip; dot products as unrolled
    left-associated double sums, bit-identical to Spark's zip_with/aggregate
    fold), candidates unioned + distinct'd across tables, then one cosine
    per surviving pair rounded to 6dp (the proven cross-engine contract)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim))
    dots = []
    for p in planes:
        dots.append(
            "0.0 + "
            + "\n             + ".join(
                f"(embedding[{i + 1}]::DOUBLE * {p[i]!r})" for i in range(dim)
            )
        )
    bit_cols = ",\n           ".join(
        f"CASE WHEN ({d}) > 0 THEN 1 ELSE 0 END AS b{i}" for i, d in enumerate(dots)
    )
    bucket_rows = []
    for t in range(n_tables):
        bucket = f"b{t * n_planes}"
        for kk in range(1, n_planes):
            bucket = f"({bucket}) * 2 + b{t * n_planes + kk}"
        bucket_rows.append(f"SELECT vec_id, {t} AS tbl, {bucket} AS bucket FROM sides")
    banded = "\n      UNION ALL\n      ".join(bucket_rows)
    # cosine in explicit double arithmetic (list_cosine_similarity returns
    # float32 on FLOAT[] columns), same left fold as Spark's aggregate
    dot_ab = "0.0 + " + " + ".join(
        f"(va.embedding[{i}]::DOUBLE * vb.embedding[{i}]::DOUBLE)" for i in range(1, dim + 1)
    )
    norm = lambda s: "SQRT(0.0 + " + " + ".join(  # noqa: E731
        f"({s}.embedding[{i}]::DOUBLE * {s}.embedding[{i}]::DOUBLE)" for i in range(1, dim + 1)
    ) + ")"
    return f"""
    WITH sides AS (
      SELECT vec_id, embedding,
           {bit_cols}
      FROM embeddings
    ), banded AS (
      {banded}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM banded a JOIN banded b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), pairs AS (
      SELECT c.id_a, c.id_b,
             ROUND(CASE WHEN ({norm('va')} * {norm('vb')}) > 0
                        THEN ({dot_ab}) / ({norm('va')} * {norm('vb')})
                        ELSE 0.0 END, 6) AS cosine
      FROM cand c
      JOIN embeddings va ON va.vec_id = c.id_a
      JOIN embeddings vb ON vb.vec_id = c.id_b
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {threshold}
    """


@_q("dedup_embedding_cosine", _cosine_dups_oracle_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-cosine near-dup pairs via OR-amplified sign-bucket LSH
    (4 planes x 4 tables here). The synthetic embeddings have no true
    near-dups (max pairwise cosine ~0.51), so the contract entry runs at
    threshold 0.4 to exercise the multi-table bucket-join + distinct +
    refine machinery on a non-trivial result; production defaults stay
    0.95 / 8 planes / 8 tables (planted-pair recall ~0.99, pinned in
    tests/test_dedup.py)."""
    from fairy_core_spark.operators.dedup import embedding_cosine_dups

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_dups(
        emb, "embedding", "vec_id", threshold=0.4, n_planes=4, seed=7, dim=64, n_tables=4
    )


def _ivf_oracle_sql(dim: int = 64, cent_mod: int = 31, n_probe: int = 4, k: int = 5) -> str:
    """Full-SQL IVF replay with deterministic centroids (every cent_mod-th
    vector): nearest-centroid assignment by squared euclidean distance
    (unrolled left-associated double sum — bit-identical to Spark's
    zip_with/aggregate fold), n_probe bucket probing, cosine re-rank."""
    dist = "\n             + ".join(
        f"(e.embedding[{i}]::DOUBLE - c.cvec[{i}]::DOUBLE)"
        f" * (e.embedding[{i}]::DOUBLE - c.cvec[{i}]::DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"""
    WITH cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cvec
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % {cent_mod} = 0 ORDER BY vec_id LIMIT 16)
    ), dists AS (
      SELECT e.vec_id, c.cidx,
             0.0 + {dist} AS d
      FROM embeddings e CROSS JOIN cent c
    ), corpus_assign AS (
      SELECT vec_id, cidx FROM (
        SELECT vec_id, cidx,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn
        FROM dists
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id, cidx FROM (
        SELECT vec_id, cidx,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn
        FROM dists WHERE vec_id < 10
      ) WHERE rn <= {n_probe}
    ), cand AS (
      SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN corpus_assign a ON p.cidx = a.cidx AND a.vec_id <> p.vec_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             ROUND(CASE WHEN list_dot_product(q.embedding, q.embedding) > 0
                         AND list_dot_product(n.embedding, n.embedding) > 0
                    THEN list_cosine_similarity(q.embedding, n.embedding)
                    ELSE 0 END, 6) AS cosine
      FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
                JOIN embeddings n ON n.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@_q("ann_ivf_topk", _ivf_oracle_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with contract-deterministic centroids (every 31st vector, sorted)
    so the whole assign->probe->rank path is replayable in SQL. The library
    default (k-means train_centroids) stays the production path; recall vs
    brute force is covered by tests/test_dedup_text.py."""
    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.where(F.col("vec_id") % 31 == 0)
        .orderBy("vec_id")
        .limit(16)
        .select("embedding")
        .collect()
    )
    centroids = np.array([list(r["embedding"]) for r in cent_rows], dtype=np.float64)
    q = emb.where(F.col("vec_id") < 10)
    return ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4, centroids=centroids).select(
        "query_id", "neighbor_id", "rank"
    )


# ---------------------------------------------------------------- spatial

_RECTS = [
    # (polygon_id, lat0, lat1, lon0, lon1) — bounds offset from the 0.001
    # synthesis grid so no point lies exactly on an edge
    (f"rect{i:02d}",
     -59.99955 + (i % 4) * 30.0,
     -59.99955 + (i % 4) * 30.0 + 22.0003,
     -179.99955 + (i // 4) * 120.0,
     -179.99955 + (i // 4) * 120.0 + 90.0007)
    for i in range(12)
]


def _synth_points(df: DataFrame, key: str) -> DataFrame:
    lat = ((F.col(key) * 7919) % 120000) / 1000.0 - 60.0
    lon = ((F.col(key) * 104729) % 360000) / 1000.0 - 180.0
    return df.select(F.col(key).alias("point_id"), lat.alias("lat"), lon.alias("lon"))


def _synth_points_sql(table: str, key: str) -> str:
    return (
        f"SELECT {key} AS point_id, (({key} * 7919) % 120000) / 1000.0 - 60.0 AS lat, "
        f"(({key} * 104729) % 360000) / 1000.0 - 180.0 AS lon FROM {table}"
    )


def _synth_event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + deterministic synthetic positions (the _synth_points
    millidegree hash keyed on event_id), keeping user_id/ts/event_id —
    the shared input of the trajectory entries. SQL twin below."""
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (((F.col("event_id") * 7919) % 120000) / 1000.0 - 60.0).alias("lat"),
        (((F.col("event_id") * 104729) % 360000) / 1000.0 - 180.0).alias("lon"),
    )


_SYNTH_EVENT_POINTS_SQL = """
      SELECT user_id, ts, event_id,
        ((event_id * 7919) % 120000) / 1000.0 - 60.0 AS lat,
        ((event_id * 104729) % 360000) / 1000.0 - 180.0 AS lon
      FROM events"""


def _wm_tile_sql(zoom: int, src: str, passthrough: str) -> str:
    """Web-Mercator x/y tile columns in SQL — the IDENTICAL IEEE
    expression tree spatial/webmercator.tile_x_col/tile_y_col build
    (shared deg->rad double, same op order, clamped), shared by every
    webmercator oracle so a formula fix can't desync one copy."""
    import math as _m

    n = 1 << zoom
    return f"""SELECT {passthrough},
        LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {float(n)!r}) AS BIGINT), 0), {n - 1}) AS x,
        LEAST(GREATEST(CAST(FLOOR(
          (1.0 - LN(TAN(phi) + 1.0 / COS(phi)) / PI()) / 2.0 * {float(n)!r}
        ) AS BIGINT), 0), {n - 1}) AS y
      FROM (SELECT {passthrough}, lon,
              LEAST(GREATEST(lat, -85.05112878), 85.05112878) * {_m.pi / 180.0!r} AS phi
            FROM {src})"""


def _wm_qk_sql(zoom: int) -> str:
    """Base-4 quadkey digit chain over (x, y) — SQL twin of
    spatial/webmercator.quadkey_col."""
    return " || ".join(
        f"CAST(((y >> {bit}) & 1) * 2 + ((x >> {bit}) & 1) AS VARCHAR)"
        for bit in range(zoom - 1, -1, -1)
    )


def _rects_pdf() -> pd.DataFrame:
    rows = []
    for pid, lat0, lat1, lon0, lon1 in _RECTS:
        ring = [
            {"lat": lat0, "lon": lon0},
            {"lat": lat0, "lon": lon1},
            {"lat": lat1, "lon": lon1},
            {"lat": lat1, "lon": lon0},
            {"lat": lat0, "lon": lon0},
        ]
        rows.append({"polygon_id": pid, "ring": ring})
    return pd.DataFrame(rows)


def _rects_values_sql() -> str:
    vals = ", ".join(
        f"('{pid}', {lat0!r}, {lat1!r}, {lon0!r}, {lon1!r})"
        for pid, lat0, lat1, lon0, lon1 in _RECTS
    )
    return f"(VALUES {vals}) AS rects(polygon_id, lat0, lat1, lon0, lon1)"


@_q(
    "spatial_pip_join",
    f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')})
    SELECT point_id, polygon_id
    FROM pts JOIN {_rects_values_sql()}
      ON lat > lat0 AND lat < lat1 AND lon > lon0 AND lon < lon1
    """,
)
def spatial_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """point-in-polygon via the engine's broadcast R-tree ray-cast join;
    the oracle reduces to BETWEENs because the fixture polygons are
    rectangles — the engine runs the fully general PIP machinery."""
    from fairy_core_spark.spatial.ops import spatial_join_broadcast

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    return spatial_join_broadcast(
        pts.withColumn("point_id", F.col("point_id").cast("string")),
        _rects_pdf(),
        id_col="point_id",
    ).select(F.col("point_id").cast("long").alias("point_id"), "polygon_id")


@_q(
    "spatial_pip_anti",
    f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')})
    SELECT point_id FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM {_rects_values_sql()}
      WHERE p.lat > lat0 AND p.lat < lat1 AND p.lon > lon0 AND p.lon < lon1
    )
    """,
)
def spatial_pip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geofence EXCLUSION — points contained by no polygon (drop-ocean /
    outside-all-regions filtering, the complement every PIP consumer
    eventually needs). Zero shuffle: the broadcast PIP annotation
    projection (spatial/ops.spatial_annotate_broadcast, one Arrow pass)
    plus an empty-containment filter — no join, no row multiplication;
    at 100 TB this is a pure scan-side projection like the PIP join
    itself. Same strict-boundary ray-cast containment as
    spatial_pip_join (annotate==join pair-set equality is tested), so
    the complement is exact."""
    from fairy_core_spark.spatial.ops import spatial_annotate_broadcast

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    ann = spatial_annotate_broadcast(pts, _rects_pdf())
    return ann.where(F.size("polygon_ids") == 0).select("point_id")


@_q(
    "spatial_knn",
    f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    q AS (SELECT * FROM pts WHERE point_id < 15),
    scored AS (
      SELECT q.point_id AS query_id, p.point_id AS neighbor_id,
        2 * 6371000.0 * ASIN(SQRT(
          POW(SIN(RADIANS(p.lat - q.lat) / 2), 2)
          + COS(RADIANS(q.lat)) * COS(RADIANS(p.lat))
            * POW(SIN(RADIANS(p.lon - q.lon) / 2), 2)
        )) AS d
      FROM q JOIN pts p ON p.point_id <> q.point_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grid-partitioned kNN with cell-ring expansion vs the oracle's
    brute-force haversine window."""
    from fairy_core_spark.spatial.ops import knn_join

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    queries = pts.where(F.col("point_id") < 15).withColumnRenamed("point_id", "query_id")
    got = knn_join(
        pts.withColumnRenamed("point_id", "id"),  # self-match dropped below
        queries,
        k=4,  # fetch one extra, drop self, re-rank to 3
        id_col="id",
        query_id_col="query_id",
    )
    no_self = got.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("distance_m"), F.asc("neighbor_id"))
    return (
        no_self.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank")
    )


@_q(
    "spatial_radius_join",
    f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    q AS (SELECT * FROM pts WHERE point_id < 100)
    SELECT q.point_id AS query_id, p.point_id AS neighbor_id
    FROM q JOIN pts p
      ON 2 * 6371000.0 * ASIN(SQRT(
           POW(SIN(RADIANS(p.lat - q.lat) / 2), 2)
           + COS(RADIANS(q.lat)) * COS(RADIANS(p.lat))
             * POW(SIN(RADIANS(p.lon - q.lon) / 2), 2)
         )) <= 800000.0
    """,
)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """radius (distance) join via one-ring cell cover + haversine refine vs
    the oracle's brute-force theta join. Pair set only: the distance value
    itself is float-formula-sensitive across engines at the last ulp, the
    membership predicate is not (no synth point sits within rounding range
    of the 800 km boundary)."""
    from fairy_core_spark.spatial.ops import radius_join

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    queries = pts.where(F.col("point_id") < 100).withColumnRenamed("point_id", "query_id")
    got = radius_join(
        pts.withColumnRenamed("point_id", "id"),
        queries,
        radius_m=800000.0,
        id_col="id",
        query_id_col="query_id",
    )
    return got.select("query_id", "neighbor_id")


# Published S2 face anchors (point_id, lat, lon, face): face = dominant axis
# of the unit vector (x=cos(lat)cos(lon), y=cos(lat)sin(lon), z=sin(lat)) per
# the published S2 face layout (+x,+y,+z,-x,-y,-z); every point sits well
# inside its face (no boundary ties). The level-0 cell id under the published
# encoding is face<<61 | 1<<60 (two's-complement for faces 4-5) — hand-
# derivable with no reference to this engine, so the VALUES oracle below is
# non-circular. Deeper-level bit math stays pinned by tests/test_s2.py
# (roundtrip / hierarchy / known anchors) and is driver-exercised through
# spatial_tile_rollup / spatial_knn / spatial_radius_join.
_S2_FACE_ANCHORS = [
    (0, 0.0, 0.0, 0), (1, 10.0, 20.0, 0), (2, -30.0, -15.0, 0),
    (3, 0.0, 90.0, 1), (4, 20.0, 80.0, 1), (5, -10.0, 110.0, 1),
    (6, 90.0, 0.0, 2), (7, 80.0, 37.0, 2), (8, 60.0, -120.0, 2),
    (9, 0.0, 180.0, 3), (10, 15.0, 170.0, 3), (11, -25.0, -160.0, 3),
    (12, 0.0, -90.0, 4), (13, 5.0, -95.0, 4), (14, -40.0, -70.0, 4),
    (15, -90.0, 0.0, 5), (16, -85.0, 100.0, 5), (17, -55.0, 30.0, 5),
]


def _cell_encode_oracle_sql() -> str:
    def cell0(face: int) -> int:
        c = (face << 61) | (1 << 60)
        return c - (1 << 64) if c >= (1 << 63) else c

    vals = ", ".join(f"({pid}, {cell0(face)})" for pid, _la, _lo, face in _S2_FACE_ANCHORS)
    return f"""
    SELECT point_id, CAST(cell AS BIGINT) AS cell
    FROM (VALUES {vals}) AS t(point_id, cell)
    """


@_q("spatial_cell_encode", _cell_encode_oracle_sql())
def spatial_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 encode gated against PUBLISHED face-layout values (see
    _S2_FACE_ANCHORS): the engine encodes the 18 anchor points at level 0
    and must reproduce the hand-derived face<<61|1<<60 ids."""
    from fairy_core_spark.spatial.ops import with_cell

    pts = spark.createDataFrame(
        [(pid, la, lo) for pid, la, lo, _f in _S2_FACE_ANCHORS],
        "point_id long, lat double, lon double",
    )
    return with_cell(pts, level=0).select("point_id", "cell")


def _zorder_oracle_sql() -> str:
    """Replay the Morton spread + geohash base32 read in DuckDB bit math
    (same shifts/masks — the ALGORITHM is pinned non-circularly by the
    published geohash vector + independent subdivision-loop reference in
    tests/test_zorder.py; this entry proves the distributed evaluation is
    bit-identical cross-engine)."""
    from fairy_core_spark.spatial.zorder import _SPREAD, GEOHASH_B32

    steps = []
    prev = "q"
    for i, (shift, mask) in enumerate(_SPREAD, 1):
        steps.append(
            f"s{i} AS (SELECT point_id, "
            f"((a | (a << {shift})) & {mask}) AS a, "
            f"((b | (b << {shift})) & {mask}) AS b FROM {prev})"
        )
        prev = f"s{i}"
    chars = " || ".join(
        f"substr('{GEOHASH_B32}', CAST(((z >> {55 - 5 * k}) & 31) AS INTEGER) + 1, 1)"
        for k in range(8)
    )
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    q AS (
      SELECT point_id,
        LEAST(GREATEST(CAST(FLOOR((lat - -90.0) / 180.0 * 1073741824.0) AS BIGINT), 0), 1073741823) AS a,
        LEAST(GREATEST(CAST(FLOOR((lon - -180.0) / 360.0 * 1073741824.0) AS BIGINT), 0), 1073741823) AS b
      FROM pts),
    {', '.join(steps)},
    zc AS (SELECT point_id, ((b << 1) | a) AS z FROM {prev})
    SELECT point_id, z AS zcode, {chars} AS geohash8 FROM zc
    """


@_q("spatial_zorder_encode", _zorder_oracle_sql())
def spatial_zorder_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order + geohash cell scheme (spatial/zorder.py): 100% JVM-native
    Column bit math — no Python anywhere in the plan (asserted in
    tests/test_zorder.py) — so DuckDB replays it bit-for-bit."""
    from fairy_core_spark.spatial.zorder import geohash_col, morton_code

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    return pts.select(
        "point_id",
        morton_code(F.col("lat"), F.col("lon")).alias("zcode"),
        geohash_col(F.col("lat"), F.col("lon"), 8).alias("geohash8"),
    )


_BBOX_L_SQL = """
    SELECT c_custkey AS l_id,
      ((c_custkey * 7919) % 110000) / 1000.0 - 60.0 AS lat0,
      ((c_custkey * 7919) % 110000) / 1000.0 - 60.0 + 1.0 + (c_custkey % 5) AS lat1,
      ((c_custkey * 104729) % 340000) / 1000.0 - 180.0 AS lon0,
      ((c_custkey * 104729) % 340000) / 1000.0 - 180.0 + 2.0 + (c_custkey % 7) AS lon1
    FROM customer"""
_BBOX_R_SQL = """
    SELECT s_suppkey AS r_id,
      ((s_suppkey * 7919) % 100000) / 1000.0 - 55.0 AS lat0,
      ((s_suppkey * 7919) % 100000) / 1000.0 - 55.0 + 3.0 + (s_suppkey % 4) AS lat1,
      ((s_suppkey * 104729) % 300000) / 1000.0 - 170.0 AS lon0,
      ((s_suppkey * 104729) % 300000) / 1000.0 - 170.0 + 5.0 + (s_suppkey % 6) AS lon1
    FROM supplier"""


def _bbox_join_oracle_sql() -> str:
    """Implementation-independent theta join: the oracle never sees the
    grid binning or the min-corner emission trick — any overlap the
    binned plan missed or duplicated would hash-mismatch."""
    return f"""
    WITH lrects AS ({_BBOX_L_SQL}), rrects AS ({_BBOX_R_SQL})
    SELECT l.l_id, r.r_id
    FROM lrects l, rrects r
    WHERE l.lat0 <= r.lat1 AND r.lat0 <= l.lat1
      AND l.lon0 <= r.lon1 AND r.lon0 <= l.lon1
    """


@_q("spatial_bbox_join", _bbox_join_oracle_sql())
def spatial_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-overlay (bbox x bbox) join via grid binning + min-corner
    dedup-free emission (spatial/ops.py:bbox_join) against a brute-force
    SQL theta-join oracle."""
    from fairy_core_spark.spatial.ops import bbox_join

    def rects(df: DataFrame, key: str, out: str, mlat: int, offlat: float,
              hlat: int, mlon: int, offlon: float, hlon: int) -> DataFrame:
        k = F.col(key)
        lat0 = ((k * 7919) % mlat) / 1000.0 - offlat
        lon0 = ((k * 104729) % mlon) / 1000.0 - offlon
        return df.select(
            k.alias(out),
            lat0.alias("lat0"),
            (lat0 + 1.0 * (1 if out == "l_id" else 3) + (k % hlat)).alias("lat1"),
            lon0.alias("lon0"),
            (lon0 + 1.0 * (2 if out == "l_id" else 5) + (k % hlon)).alias("lon1"),
        )

    lrects = rects(_t(spark, sf_dir, "customer"), "c_custkey", "l_id",
                   110000, 60.0, 5, 340000, 180.0, 7)
    rrects = rects(_t(spark, sf_dir, "supplier"), "s_suppkey", "r_id",
                   100000, 55.0, 4, 300000, 170.0, 6)
    return bbox_join(lrects, rrects)


def _tile_rollup_oracle_sql() -> str:
    """The (point -> level-4 tile) mapping is frozen once from the engine
    (scripts/gen_contract_goldens.py; cell values independently pinned by
    known-cell unit tests); the rollup itself — grouping, counting, exact
    integer millidegree sums — is genuinely recomputed by DuckDB."""
    if TILE_CELLS_SF001 is None:
        return None
    vals = ", ".join(f"({p}, {t})" for p, t in TILE_CELLS_SF001)
    return f"""
    SELECT tile_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((point_id * 7919) % 120000 - 60000) AS BIGINT) AS sum_lat_mdeg,
           CAST(SUM((point_id * 104729) % 360000 - 180000) AS BIGINT) AS sum_lon_mdeg
    FROM (VALUES {vals}) AS m(point_id, tile_id)
    GROUP BY tile_id
    """


@_q("spatial_tile_rollup", _tile_rollup_oracle_sql())
def spatial_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raster->vector tile rollup; stats are exact integer millidegree sums
    (the synth lat/lon are integer-millidegree by construction) so the
    cross-engine comparison is float-free."""
    from fairy_core_spark.spatial.ops import with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=4, out="tile_id")
    lat_mdeg = (F.col("point_id") * 7919) % 120000 - 60000
    lon_mdeg = (F.col("point_id") * 104729) % 360000 - 180000
    return tiled.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(lat_mdeg).alias("sum_lat_mdeg"),
        F.sum(lon_mdeg).alias("sum_lon_mdeg"),
    )


def _s2_pyramid_oracle_sql() -> str:
    """Frozen level-4 tiles (same mapping as spatial_tile_rollup); DuckDB
    recomputes each coarser level's parent — ``(cell & -new_lsb) | new_lsb``
    with new_lsb = 1 << 2*(30-level), the published S2 sentinel-bit
    hierarchy, exact in two's complement for negative face-4/5 ids — and
    the per-(res, cell) aggregates via UNION ALL."""
    if TILE_CELLS_SF001 is None:
        return None
    vals = ", ".join(f"({p}, {t})" for p, t in TILE_CELLS_SF001)
    lvl_exprs = ["SELECT 4 AS res, tile_id AS cell, point_id FROM m"]
    for lvl in (2, 0):
        lsb = 1 << (2 * (30 - lvl))
        lvl_exprs.append(
            f"SELECT {lvl} AS res, (tile_id & {-lsb}) | {lsb} AS cell,"
            " point_id FROM m"
        )
    union = "\n      UNION ALL\n      ".join(lvl_exprs)
    return f"""
    WITH m(point_id, tile_id) AS (VALUES {vals}),
    pyr AS (
      {union}
    )
    SELECT res, cell, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((point_id * 7919) % 120000 - 60000) AS BIGINT) AS sum_lat_mdeg
    FROM pyr GROUP BY res, cell
    """


@_q("spatial_s2_pyramid", _s2_pyramid_oracle_sql())
def spatial_s2_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the S2 twin of spatial_tile_pyramid: one Arrow encode at level 4,
    coarser cells via the sentinel-bit parent as pure Column math
    (spatial/ops.s2_parent_col), one Generate(stack) + one shuffle for
    levels 4/2/0."""
    from fairy_core_spark.spatial.ops import s2_pyramid, with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=4, out="tile_id")
    lat_mdeg = (F.col("point_id") * 7919) % 120000 - 60000
    return (
        s2_pyramid(tiled, cell_col="tile_id", levels=(4, 2, 0))
        .groupBy("res", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(lat_mdeg).alias("sum_lat_mdeg"),
        )
    )


def _hex7_rollup_oracle_sql() -> str:
    """Same freezing pattern as the S2 tile rollup: the (point -> hex7
    res-2 cell) mapping is frozen once from the engine (cell math pinned
    independently by tests/test_hex7.py: exact lattice roundtrip, coset
    system, aperture-7 growth); the rollup — grouping, counting, exact
    integer millidegree sums — is genuinely recomputed by DuckDB."""
    if HEX7_CELLS_SF001 is None:
        return None
    vals = ", ".join(f"({p}, {t})" for p, t in HEX7_CELLS_SF001)
    return f"""
    SELECT hex_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((point_id * 7919) % 120000 - 60000) AS BIGINT) AS sum_lat_mdeg,
           CAST(SUM((point_id * 104729) % 360000 - 180000) AS BIGINT) AS sum_lon_mdeg
    FROM (VALUES {vals}) AS m(point_id, hex_id)
    GROUP BY hex_id
    """


@_q("spatial_hex7_rollup", _hex7_rollup_oracle_sql())
def spatial_hex7_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hexagonal tile rollup through the aperture-7 icosahedral index
    (spatial/hex7.py — the H3-class sibling scheme, SURVEY.md §2.6);
    stats are exact integer millidegree sums, float-free cross-engine."""
    from fairy_core_spark.spatial.ops import with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=2, out="hex_id", scheme="hex7")
    lat_mdeg = (F.col("point_id") * 7919) % 120000 - 60000
    lon_mdeg = (F.col("point_id") * 104729) % 360000 - 180000
    return tiled.groupBy("hex_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(lat_mdeg).alias("sum_lat_mdeg"),
        F.sum(lon_mdeg).alias("sum_lon_mdeg"),
    )


@_q(
    "spatial_hex7_pip_join",
    f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')})
    SELECT point_id, polygon_id
    FROM pts JOIN {_rects_values_sql()}
      ON lat > lat0 AND lat < lat1 AND lon > lon0 AND lon < lon1
    """,
)
def spatial_hex7_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """containment via the hexagonal index's at-scale plan: hex7 polyfill
    covering (spatial/hex7.polyfill mode="cover") -> broadcast equi-join
    on cell -> exact ray-cast refine (spatial/ops.spatial_join_cells
    scheme="hex7") — the non-broadcast fallback when polygons are too
    many to ship whole. Same implementation-independent rectangle
    theta-join oracle as spatial_pip_join; any hole in the polyfill
    covering shows up here as missing pairs."""
    from fairy_core_spark.spatial.ops import spatial_join_cells

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    return spatial_join_cells(
        pts.withColumn("point_id", F.col("point_id").cast("string")),
        _rects_pdf(),
        id_col="point_id",
        level=2,
        scheme="hex7",
    ).select(F.col("point_id").cast("long").alias("point_id"), "polygon_id")


def _hex7_parent_rollup_oracle_sql() -> str:
    """Frozen (point -> res-4 hex cell) mapping (same freezing pattern as
    the other cell rollups; the encode itself is pinned independently by
    tests/test_hex7.py + tests/test_goldens_drift.py); DuckDB genuinely
    recomputes BOTH the cellToParent bit math (res field rewrite + digit
    mask — the identical integer expression hex7_ops.hex7_parent_col
    plans as a Catalyst Column) and the rollup aggregates."""
    if HEX7_CELLS4_SF001 is None:
        return None
    keep_mask = ((1 << 59) - 1) & ~((1 << (42 - 3 * 2)) - 1)
    res_field = 2 << 59
    vals = ", ".join(f"({p}, {c})" for p, c in HEX7_CELLS4_SF001)
    return f"""
    SELECT {res_field} | (cell4 & {keep_mask}) AS hex_parent,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((point_id * 7919) % 120000 - 60000) AS BIGINT) AS sum_lat_mdeg,
           CAST(SUM((point_id * 104729) % 360000 - 180000) AS BIGINT) AS sum_lon_mdeg
    FROM (VALUES {vals}) AS m(point_id, cell4)
    GROUP BY hex_parent
    """


@_q("spatial_hex7_parent_rollup", _hex7_parent_rollup_oracle_sql())
def spatial_hex7_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """res-4 hex encode (the one Arrow projection) rolled up to res-2
    parents with PURE Column bit math (spatial/hex7_ops.hex7_parent_col —
    cellToParent never leaves whole-stage codegen), then a map-side-
    combinable groupBy. The at-scale shape for multi-res hex rollups:
    encode once at the finest res, derive every coarser level JVM-side."""
    from fairy_core_spark.spatial.hex7_ops import hex7_parent_col
    from fairy_core_spark.spatial.ops import with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=4, out="cell4", scheme="hex7")
    lat_mdeg = (F.col("point_id") * 7919) % 120000 - 60000
    lon_mdeg = (F.col("point_id") * 104729) % 360000 - 180000
    return (
        tiled.withColumn("hex_parent", hex7_parent_col(F.col("cell4"), 2))
        .groupBy("hex_parent")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(lat_mdeg).alias("sum_lat_mdeg"),
            F.sum(lon_mdeg).alias("sum_lon_mdeg"),
        )
    )


def _hex7_pyramid_oracle_sql() -> str:
    """Same frozen res-4 mapping as the parent rollup; DuckDB recomputes
    the WHOLE pyramid — each level's cellToParent mask/res-rewrite and the
    per-(res, cell) aggregates — via UNION ALL, which is exactly the
    many-scan plan the one-Expand Spark shape replaces."""
    if HEX7_CELLS4_SF001 is None:
        return None
    vals = ", ".join(f"({p}, {c})" for p, c in HEX7_CELLS4_SF001)
    below = (1 << 59) - 1
    lvl_exprs = []
    for lvl in (4, 3, 2):
        keep = below & ~((1 << (42 - 3 * lvl)) - 1)
        lvl_exprs.append(
            f"SELECT {lvl} AS res, {lvl << 59} | (cell4 & {keep}) AS cell,"
            " point_id FROM m"
        )
    union = "\n      UNION ALL\n      ".join(lvl_exprs)
    return f"""
    WITH m(point_id, cell4) AS (VALUES {vals}),
    pyr AS (
      {union}
    )
    SELECT res, cell, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((point_id * 7919) % 120000 - 60000) AS BIGINT) AS sum_lat_mdeg
    FROM pyr GROUP BY res, cell
    """


@_q("spatial_tile_pyramid", _hex7_pyramid_oracle_sql())
def spatial_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-resolution tile pyramid: ONE Arrow encode at res 4, then
    hex7_pyramid emits (res, cell) for res 4/3/2 through a single codegen
    Generate(stack)
    (coarser cells are pure codegen bit math), and one groupBy aggregates
    every level in one shuffle — the heatmap-pyramid / continuous-
    aggregate shape, vs the oracle's UNION-ALL-of-three-scans plan."""
    from fairy_core_spark.spatial.hex7_ops import hex7_pyramid
    from fairy_core_spark.spatial.ops import with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=4, out="cell4", scheme="hex7")
    lat_mdeg = (F.col("point_id") * 7919) % 120000 - 60000
    return (
        hex7_pyramid(tiled, cell_col="cell4", levels=(4, 3, 2))
        .groupBy("res", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(lat_mdeg).alias("sum_lat_mdeg"),
        )
    )


def _dup_spans_oracle_sql(window: int = 5, min_count: int = 2) -> str:
    """DuckDB replay of the positional window fold (same md5-60bit token
    hash + polynomial combine as the minhash oracle, WITHOUT the distinct)
    plus the corpus count / join-back / per-doc rollup."""
    expr = "th[i]"
    for k in range(1, window):
        expr = f"(({expr}) * {_HASH_A} + th[i + {k}]) % {_MERSENNE_P}"
    return f"""
    WITH base AS (
      SELECT doc_id, CASE WHEN text IS NULL OR TRIM(text) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS toks
      FROM documents
    ), tok_h AS (
      SELECT doc_id,
             list_transform(toks, t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % {_MERSENNE_P}) AS th
      FROM base
    ), win AS (
      SELECT doc_id, CASE WHEN len(th) >= {window}
             THEN list_transform(range(1, len(th) - {window - 2}), i -> {expr})
             ELSE []::BIGINT[] END AS ws
      FROM tok_h
    ), expl AS (
      SELECT doc_id, unnest(ws) AS w FROM win
    ), counts AS (
      SELECT w, COUNT(*) AS c FROM expl GROUP BY w
    ), per AS (
      SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS nw,
             CAST(SUM(CASE WHEN c >= {min_count} THEN 1 ELSE 0 END) AS BIGINT) AS nd
      FROM expl e JOIN counts USING (w) GROUP BY e.doc_id
    )
    SELECT d.doc_id, COALESCE(nw, 0) AS n_windows, COALESCE(nd, 0) AS n_dup_windows,
           COALESCE(ROUND(nd * 1.0 / nw, 6), 0.0) AS dup_frac
    FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN per ON d.doc_id = per.doc_id
    """


@_q("text_dup_spans", _dup_spans_oracle_sql())
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowed exact-substring duplication detector (operators/dedup.py
    duplicated_spans — the distributed stand-in for suffix-array substring
    dedup, Lee et al. 2022): per-doc duplicated-span fraction over 5-token
    windows; a span counts as duplicated at >= 2 corpus occurrences."""
    from fairy_core_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, window=5, min_count=2)


def _corpus_clean_spans_oracle_sql() -> str:
    """corpus_clean's full replay plus the substring-duplication filter —
    the dup-spans pipeline rides as an inner-WITH subquery (its CTE names
    shadow the outer ones per standard SQL scoping)."""
    base = _corpus_clean_oracle_sql()
    if base is None:
        return None
    return (
        base
        + f"""
      AND f.doc_id NOT IN (
        SELECT doc_id FROM ({_dup_spans_oracle_sql()}) WHERE dup_frac >= 0.6
      )
    """
    )


@_q("corpus_clean_spans", _corpus_clean_spans_oracle_sql())
def corpus_clean_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_clean composed with the windowed substring-duplication
    filter: additionally drop documents whose 5-token spans are >= 60%
    corpus-duplicated (boilerplate). Shows the training-data filters
    stacking in one plan: features projection + CC anti-join +
    span-fraction anti-join."""
    from fairy_core_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    heavy = (
        duplicated_spans(docs, window=5, min_count=2)
        .where(F.col("dup_frac") >= 0.6)
        .select("doc_id")
    )
    return corpus_clean(spark, sf_dir).join(heavy, "doc_id", "left_anti")


def _win_ctes(window: int, source_filter: str = "") -> str:
    """Shared CTE text: documents -> token hashes -> positional window
    hashes at ``window`` (the md5-60bit polynomial fold, exactly
    window_hashes)."""
    expr = "th[i]"
    for k in range(1, window):
        expr = f"(({expr}) * {_HASH_A} + th[i + {k}]) % {_MERSENNE_P}"
    return f"""base AS (
      SELECT doc_id, CASE WHEN text IS NULL OR TRIM(text) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS toks
      FROM documents {source_filter}
    ), tok_h AS (
      SELECT doc_id,
             list_transform(toks, t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % {_MERSENNE_P}) AS th
      FROM base
    ), win AS (
      SELECT doc_id, CASE WHEN len(th) >= {window}
             THEN list_transform(range(1, len(th) - {window - 2}), i -> {expr})
             ELSE []::BIGINT[] END AS ws
      FROM tok_h
    )"""


def _repetition_oracle_sql(window: int = 3) -> str:
    return f"""
    WITH {_win_ctes(window)}, expl AS (
      SELECT doc_id, unnest(ws) AS w FROM win
    ), per_w AS (
      SELECT doc_id, w, COUNT(*) AS m FROM expl GROUP BY doc_id, w
    ), stats AS (
      SELECT doc_id, CAST(SUM(m) AS BIGINT) AS nw,
             CAST(COUNT(*) AS BIGINT) AS nd, MAX(m) AS top_m
      FROM per_w GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(nw, 0) AS n_windows,
           COALESCE(nd, 0) AS n_distinct_windows,
           COALESCE(ROUND((nw - nd) * 1.0 / nw, 6), 0.0) AS dup_window_frac,
           COALESCE(ROUND(top_m * 1.0 / nw, 6), 0.0) AS top_window_frac
    FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN stats ON d.doc_id = stats.doc_id
    """


@_q("text_repetition_stats", _repetition_oracle_sql())
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """within-document repetition quality stats (the Gopher-style
    repetition filters; operators/dedup.repetition_stats): repeated- and
    top-window fractions over 3-token windows — no cross-document state,
    both shuffles carry (id, 8-byte hash)."""
    from fairy_core_spark.operators.dedup import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), window=3)


def _decontaminate_oracle_sql(window: int = 5) -> str:
    """Benchmark = every 25th doc (deterministic, both engines agree);
    survivors = the rest minus any doc sharing a window with it."""
    return f"""
    WITH {_win_ctes(window)}, bench AS (
      SELECT DISTINCT unnest(ws) AS w FROM win WHERE doc_id % 25 = 0
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(ws) AS w FROM win
                                   WHERE doc_id % 25 <> 0) t
      WHERE w IN (SELECT w FROM bench)
    )
    SELECT doc_id, source FROM documents
    WHERE doc_id % 25 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    """


@_q("corpus_decontaminate", _decontaminate_oracle_sql())
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark decontamination (operators/dedup.decontaminate): drop
    every training doc sharing any 5-token span with the benchmark set
    (here: every 25th document, deterministically — eval-overlap removal
    for LLM corpora). Benchmark hash set stays broadcast-small; train
    text never shuffles."""
    from fairy_core_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 25 == 0)
    train = docs.where(F.col("doc_id") % 25 != 0)
    return decontaminate(train, bench, window=5).select("doc_id", "source")


# deterministic URL augmentation (documents carry no URL column; both
# engines build the same messy URL so canonicalization has real work)
_URL_AUG_SQL = (
    "'HTTPS://WWW.Src' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443/doc/' || "
    "CAST(doc_id AS VARCHAR) || '?utm_source=t&b=' || CAST(doc_id % 5 AS VARCHAR) || "
    "'&a=' || CAST(doc_id % 3 AS VARCHAR) || '#sec'"
)


def _canonical_url_oracle_sql() -> str:
    """DuckDB replay of operators/text.canonical_url's contract steps
    (same regexes — RE2/Java common subset; DuckDB backrefs use \\1)."""
    u = f"regexp_replace(({_URL_AUG_SQL}), '#.*$', '')"
    return f"""
    WITH s0 AS (
      SELECT doc_id, {u} AS u FROM documents
    ), s1 AS (
      SELECT doc_id, u,
             regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS head0
      FROM s0
    ), s2 AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(lower(head0), '^(https://[^/?#]*):443$', '\\1'),
               '^(http://[^/?#]*):80$', '\\1') AS head,
             substring(u, length(head0) + 1) AS rest,
             lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1)) AS domain
      FROM s1
    ), s3 AS (
      SELECT doc_id, head, domain,
             regexp_extract(rest, '^[^?]*', 0) AS path,
             array_to_string(list_sort(list_filter(
               str_split(regexp_extract(rest, '^[^?]*\\?(.*)$', 1), '&'),
               p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS q2
      FROM s2
    )
    SELECT doc_id,
           head || path || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS canonical,
           domain,
           {_registered_domain_sql('domain')} AS registered_domain
    FROM s3
    """


@_q("text_canonical_urls", _canonical_url_oracle_sql())
def text_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + domain extraction (operators/text.py
    canonical_url/url_domain — the web-corpus dedup/quota key): strip
    fragment, lowercase scheme://authority, drop default ports, drop
    utm_* params, sort the rest. All native regexp/array ops, zero
    Python; the contract's step list is replayed verbatim by DuckDB.
    registered_domain applies the shipped PSL snapshot (longest suffix
    + one label; www.srcN.com -> srcN.com here) — the key per-domain
    quota sampling groups on in production."""
    from fairy_core_spark.operators.text import (
        canonical_url,
        registered_domain,
        url_domain,
    )

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.Src"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM:443/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=t&b="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&a="),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("#sec"),
        ).alias("url"),
    )
    return aug.select(
        "doc_id",
        canonical_url(F.col("url")).alias("canonical"),
        url_domain(F.col("url")).alias("domain"),
        registered_domain(url_domain(F.col("url"))).alias("registered_domain"),
    )


# deterministic PII augmentation (both engines build the same dirty text:
# the raw documents corpus contains no emails/IPs/phones, so the entry
# would otherwise only prove the identity transform)
_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example from 10.' || "
    "CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN ' call +12 345 6789 01' ELSE '' END"
)


def _pii_oracle_sql() -> str:
    from fairy_core_spark.operators.text import PII_PATTERNS

    cur = f"({_PII_AUG_SQL})"
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '<{name}>', 'g')"
    cols = ",\n           ".join(counts)
    return f"""
    SELECT doc_id,
           {cols},
           {cur} AS redacted
    FROM documents
    """


@_q("text_redact_pii", _pii_oracle_sql())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py redact_pii): per-class match
    counts + redacted text, all native regexp — zero Python, pure
    projection at any scale. Patterns live in the Java-regex/RE2 common
    subset and the class ORDER is contractual (each class counts on the
    text as left by the previous redaction); DuckDB replays the identical
    augment -> count -> replace chain."""
    from fairy_core_spark.operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" call +12 345 6789 01")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return redact_pii(aug).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "redacted"
    )


# ----------------------------------------------------------- image (rows-only)


def _image_validate_oracle_sql() -> str:
    """Hand-derived expected counts for images_df(1000, dirty_every=50),
    worked from the datagen spec alone (non-circular w.r.t. the decode
    engine): 20 dirty rows (i%50==49), variant cycling (i//50)%4 -> 5 each
    of null_caption / dim_mismatch / truncated / bad_fmt.
      caption_ok fails on the 5 null captions;
      decode_ok  fails on 5 truncated + 5 bad_fmt = 10;
      range_ok   is only provable on decoded rows -> 10;
      dims_ok    fails on those 10 + 5 dim_mismatch = 15;
      phash_ok / psnr_ok require decode AND matching dims -> 15 each."""
    rows = [
        ("image.decode_ok", 10), ("image.dims_ok", 15), ("image.range_ok", 10),
        ("image.caption_ok", 5), ("image.phash_ok", 15), ("image.psnr_ok", 15),
    ]
    vals = ", ".join(f"({rid!r}, {v})" for rid, v in rows)
    return f"""
    SELECT rule_id, CAST(violations AS BIGINT) AS violations,
           CAST(1000 AS BIGINT) AS rows
    FROM (VALUES {vals}) AS t(rule_id, violations)
    """


@_q("image_validate", _image_validate_oracle_sql())
def image_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stage-1 image validation counts over a synthesized dirty table
    (decode sanity, dim mismatch, caption null, phash integrity), gated
    against counts hand-derived from the datagen spec (see the oracle
    docstring); pixel-level semantics stay pinned by tests/test_images.py."""
    from fairy_core_spark.operators.images import decode_sanity_report

    imgs = _images_cached(spark, 1000, dirty_every=50)
    return decode_sanity_report(imgs)


def _phash_dups_oracle_sql() -> str:
    """(image_id -> phash) is frozen once from the engine's DCT phash
    (scripts/gen_contract_goldens.py; phash math pinned separately by
    scalar/batch parity tests); the dup-group semantics — groupBy, n>1,
    keep-first keeper — are genuinely recomputed by DuckDB."""
    if IMAGE_PHASH_3000 is None:
        return None
    vals = ", ".join(f"({iid!r}, {ph})" for iid, ph in IMAGE_PHASH_3000)
    return f"""
    SELECT phash, CAST(COUNT(*) AS BIGINT) AS n, MIN(image_id) AS keeper_id
    FROM (VALUES {vals}) AS imgs(image_id, phash)
    GROUP BY phash HAVING COUNT(*) > 1
    """


@_q("image_phash_dups", _phash_dups_oracle_sql())
def image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fairy_core_spark.operators.dedup import phash_exact_dups

    imgs = _images_cached(spark, 3000)
    return phash_exact_dups(imgs)


def _phash_near_dups_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB replay of the 4x16-bit band LSH + Hamming refine over the
    frozen phash golden: bands via shift/mask, candidate pairs via the
    band self-join, exact popcount(xor) refine — the full near-dup
    machinery is cross-checked, only the phash values are frozen."""
    if IMAGE_PHASH_3000 is None:
        return None
    vals = ", ".join(f"({iid!r}, {ph})" for iid, ph in IMAGE_PHASH_3000)
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT image_id, phash, {b} AS band,"
        f" (phash >> {b * 16}) & 65535 AS val FROM imgs"
        for b in range(4)
    )
    return f"""
    WITH imgs(image_id, phash) AS (VALUES {vals}),
    banded AS (
      {bands}
    )
    SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.val = b.val AND a.image_id < b.image_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
    """


@_q("image_phash_near_dups", _phash_near_dups_oracle_sql())
def image_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-duplicate image pairs by phash Hamming <= 3 via the 4x16-bit
    band pigeonhole self-join + native popcount refine."""
    from fairy_core_spark.operators.dedup import phash_near_dups

    imgs = _images_cached(spark, 3000)
    got = phash_near_dups(imgs, max_hamming=3)
    return got.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _dup_keeper_oracle_sql(max_hamming: int = 3) -> str:
    """Full DuckDB replay of the disposition machinery over the frozen
    phash golden: band LSH pairs, transitive closure by recursive CTE,
    per-component min label, pixel counts derived IN SQL from the
    datagen id formula (w = SIZES[src_i%3], h = SIZES[(src_i//3)%3],
    src_i = i-1 on the every-1000th duplicate rows — datagen/images.py
    synth_image_row), then the quality-ranked keeper window. Only the
    phash values are frozen; everything the operator does is
    recomputed."""
    if IMAGE_PHASH_3000 is None:
        return None
    vals = ", ".join(f"({iid!r}, {ph})" for iid, ph in IMAGE_PHASH_3000)
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT image_id, phash, {b} AS band,"
        f" (phash >> {b * 16}) & 65535 AS val FROM imgs"
        for b in range(4)
    )
    return f"""
    WITH RECURSIVE imgs(image_id, phash) AS (VALUES {vals}),
    banded AS (
      {bands}
    ),
    pairs AS (
      SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.val = b.val AND a.image_id < b.image_id
      WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    grp AS (SELECT node AS image_id, MIN(lab) AS group_id FROM reach GROUP BY node),
    dims AS (
      SELECT image_id,
             CAST(CASE src_i % 3 WHEN 0 THEN 32 WHEN 1 THEN 48 ELSE 64 END
                  * CASE (src_i // 3) % 3 WHEN 0 THEN 32 WHEN 1 THEN 48 ELSE 64 END
                  AS BIGINT) AS px
      FROM (SELECT image_id,
                   CASE WHEN i % 1000 = 999 AND i > 0 THEN i - 1 ELSE i END AS src_i
            FROM (SELECT image_id, CAST(SUBSTRING(image_id, 4) AS BIGINT) AS i
                  FROM imgs))
    ),
    ranked AS (
      SELECT g.image_id, g.group_id, d.px,
             ROW_NUMBER() OVER (
               PARTITION BY g.group_id ORDER BY d.px DESC, g.image_id ASC
             ) AS rk
      FROM grp g JOIN dims d USING (image_id)
    )
    SELECT image_id, group_id,
           MAX(CASE WHEN rk = 1 THEN image_id END)
             OVER (PARTITION BY group_id) AS keeper_id,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
    FROM ranked
    """


@_q("image_dup_keeper", _dup_keeper_oracle_sql())
def image_dup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keep/drop disposition for near-dup image groups
    (operators/dedup.phash_dup_keeper): Hamming<=3 phash components via
    band LSH + min-label propagation, keeper = highest-resolution copy
    (max w*h, ties -> min id). The actionable end of image dedup — the
    drop list is is_keeper = 0. One extra group_id shuffle on top of the
    pair machinery; pixels never shuffle."""
    from fairy_core_spark.operators.dedup import phash_dup_keeper

    imgs = _images_cached(spark, 3000)
    return phash_dup_keeper(imgs, max_hamming=3)


def _alt_hash_dups_oracle_sql() -> str:
    """(image_id -> dhash, ahash) frozen once from the engine's gradient/
    mean hashes (scripts/gen_contract_goldens.py; the hash math is pinned
    separately by hand-derived vectors in tests/test_alt_hash.py); the
    dup-group semantics — dhash groupBy, n>1, keep-first keeper, ahash
    agreement count — are genuinely recomputed by DuckDB."""
    if IMAGE_ALTHASH_3000 is None:
        return None
    vals = ", ".join(f"({iid!r}, {dh}, {ah})" for iid, dh, ah in IMAGE_ALTHASH_3000)
    return f"""
    SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n, MIN(image_id) AS keeper_id,
           CAST(COUNT(DISTINCT ahash) AS BIGINT) AS n_ahash
    FROM (VALUES {vals}) AS imgs(image_id, dhash, ahash)
    GROUP BY dhash HAVING COUNT(*) > 1
    """


@_q("image_alt_hash_dups", _alt_hash_dups_oracle_sql())
def image_alt_hash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate-image groups by dHash (gradient hash), the web-pipeline
    staple complementing DCT phash: one Arrow decode+hash projection
    (functions/alt_hash.py), then groupBy(dhash) with keep-first keeper
    and a cross-hash consistency count (distinct aHash per group). Scale:
    hash pass is shuffle-free; the groupBy shuffles 8-byte keys only."""
    from fairy_core_spark.functions.alt_hash import alt_hashes

    imgs = _images_cached(spark, 3000)
    return (
        alt_hashes(imgs)
        .groupBy("dhash")
        .agg(
            F.count("*").alias("n"),
            F.min("image_id").alias("keeper_id"),
            F.countDistinct("ahash").alias("n_ahash"),
        )
        .where(F.col("n") > 1)
    )


def _image_meta_regen_sql(n: int, dirty_every: int | None = None) -> str:
    """DuckDB regeneration of the synthetic image table's METADATA columns
    (image_id, w, h, fmt, caption) from first principles: every one is pure
    integer arithmetic of the row id (datagen/images.py:synth_image_row), so
    the oracle needs NO frozen values — generate_series replays the datagen
    spec and any drift in either side fails the gate. The list literals are
    built from the datagen module's own constants, so a fixture change
    propagates to the oracle automatically (non-circular: DuckDB recomputes
    the arithmetic; only the token/size/fmt alphabets are shared)."""
    from fairy_core_spark.datagen.images import _FMTS, _SIZES, _TOKENS

    toks = ", ".join(f"'{t}'" for t in _TOKENS)
    sizes = ", ".join(str(s) for s in _SIZES)
    fmts = ", ".join(f"'{f}'" for f in _FMTS)
    body = " || ' ' || ".join(
        f"([{toks}])[((src_i >> {3 * k}) % {len(_TOKENS)}) + 1]" for k in range(3)
    )
    if dirty_every:
        de = int(dirty_every)
        dirt = f"(i % {de} = {de - 1})"
        variant = f"((i // {de}) % 4)"
        caption = (
            f"CASE WHEN {dirt} AND {variant} = 0 THEN NULL "
            f"ELSE 'caption for ' || image_id || ': ' || body END"
        )
        w = f"w0 + CASE WHEN {dirt} AND {variant} = 1 THEN 1 ELSE 0 END"
        fmt = f"CASE WHEN {dirt} AND {variant} = 3 THEN 'jpeg' ELSE fmt0 END"
    else:
        caption = "'caption for ' || image_id || ': ' || body"
        w, fmt = "w0", "fmt0"
    return f"""
    WITH ids AS (
      SELECT i,
             CASE WHEN i % 1000 = 999 AND i > 0 THEN i - 1 ELSE i END AS src_i
      FROM generate_series(0, {int(n) - 1}) AS t(i)
    ), base AS (
      SELECT i,
             'img' || lpad(CAST(i AS VARCHAR), 10, '0') AS image_id,
             ([{sizes}])[(src_i % {len(_SIZES)}) + 1] AS w0,
             ([{sizes}])[((src_i // 3) % {len(_SIZES)}) + 1] AS h,
             ([{fmts}])[(src_i % {len(_FMTS)}) + 1] AS fmt0,
             {body} AS body
      FROM ids
    )
    SELECT image_id, {w} AS w, h, {fmt} AS fmt, {caption} AS caption
    FROM base
    """


def _image_meta_filter_oracle_sql() -> str:
    """Oracle replay of image_meta_filter over the regenerated metadata:
    the same first-match CASE with integer cross-multiplied aspect test —
    no float compares on either side, so the match is exact."""
    return f"""
    WITH imgs AS ({_image_meta_regen_sql(1000, dirty_every=50)}),
    flagged AS (
      SELECT fmt,
        CASE
          WHEN caption IS NULL OR TRIM(caption) = ''
               OR COALESCE(len(regexp_split_to_array(
                    trim(CASE WHEN strpos(caption, ': ') > 0 THEN substr(caption, strpos(caption, ': ') + 2) END), '\\s+')), 0) < 3
            THEN 'caption_missing'
          WHEN fmt NOT IN ('ppm', 'png', 'qnt') THEN 'bad_fmt'
          WHEN GREATEST(w, h) * 2 > LEAST(w, h) * 3 THEN 'bad_aspect'
          WHEN LEAST(w, h) < 48 THEN 'too_small'
        END AS reject_reason,
        image_id
      FROM imgs
    )
    SELECT fmt, reject_reason, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(image_id) AS first_id
    FROM flagged GROUP BY fmt, reject_reason
    """


@_q("image_meta_filter", _image_meta_filter_oracle_sql())
def image_meta_filter_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pre-decode corpus filter over image METADATA only (caption presence/
    token floor, fmt allow-list, aspect bound, min side) rolled up per
    (fmt, reject_reason) — the cheap stage a 10^12-image pipeline runs
    before paying for any pixel work. Pure Column projection + one 2-key
    groupBy; the bytes column never leaves the scan. Oracle regenerates the
    dirty fixture (n=1000, dirty_every=50 — the image_validate frame, so
    the gate pays zero extra synthesis) from the datagen spec and replays
    the filter CASE verbatim."""
    from fairy_core_spark.operators.images import image_meta_filter

    imgs = _images_cached(spark, 1000, dirty_every=50)
    return (
        image_meta_filter(imgs)
        .groupBy("fmt", "reject_reason")
        .agg(F.count("*").alias("n"), F.min("image_id").alias("first_id"))
    )


def _caption_dups_oracle_sql() -> str:
    return f"""
    WITH imgs AS ({_image_meta_regen_sql(3000)}),
    bodies AS (
      SELECT image_id, CASE WHEN strpos(caption, ': ') > 0 THEN substr(caption, strpos(caption, ': ') + 2) END AS caption_body
      FROM imgs WHERE caption IS NOT NULL
    )
    SELECT caption_body, CAST(COUNT(*) AS BIGINT) AS n, MIN(image_id) AS keeper_id
    FROM bodies WHERE caption_body IS NOT NULL
    GROUP BY 1 HAVING COUNT(*) > 1
    """


@_q("caption_dedup_exact", _caption_dups_oracle_sql())
def caption_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image-caption pairs sharing an identical caption body (alt-text
    dedup, the text twin of image_phash_dups) with keep-first keeper.
    Shares the memoized clean 3000-image frame with the hash-dedup entries;
    the oracle regenerates captions from the datagen spec (zero frozen
    values) and recomputes the strip/group/keeper machinery in SQL."""
    from fairy_core_spark.operators.images import caption_exact_dups

    return caption_exact_dups(_images_cached(spark, 3000))


def _caption_consistency_oracle_sql() -> str:
    """Joins the SQL-regenerated metadata (captions from the datagen id
    formula — no frozen text) with the frozen phash golden and replays
    both group-consistency rollups; only phash values are frozen."""
    if IMAGE_PHASH_3000 is None:
        return None
    vals = ", ".join(f"({iid!r}, {ph})" for iid, ph in IMAGE_PHASH_3000)
    return f"""
    WITH meta AS ({_image_meta_regen_sql(3000)}),
    ph(image_id, phash) AS (VALUES {vals}),
    base AS (
      SELECT p.phash, CASE WHEN strpos(m.caption, ': ') > 0 THEN substr(m.caption, strpos(m.caption, ': ') + 2) END AS body
      FROM meta m JOIN ph p USING (image_id)
      WHERE m.caption IS NOT NULL
        AND strpos(m.caption, ': ') > 0
    ),
    byp AS (
      SELECT 'phash' AS kind, CAST(phash AS VARCHAR) AS key,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(COUNT(DISTINCT body) AS BIGINT) AS n_distinct_other
      FROM base GROUP BY 2 HAVING COUNT(*) > 1
    ),
    byc AS (
      SELECT 'caption' AS kind, body AS key,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(COUNT(DISTINCT phash) AS BIGINT) AS n_distinct_other
      FROM base GROUP BY 2 HAVING COUNT(*) > 1
    )
    SELECT kind, key, n_members, n_distinct_other,
           CAST(CASE WHEN n_distinct_other = 1 THEN 1 ELSE 0 END AS BIGINT)
             AS is_consistent
    FROM (SELECT * FROM byp UNION ALL SELECT * FROM byc)
    """


@_q("image_caption_consistency", _caption_consistency_oracle_sql())
def image_caption_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross-modal dup-consistency audit
    (operators/images.caption_phash_consistency): exact-pixel dup groups
    scored by caption agreement and caption-body dup groups scored by
    image agreement — the attribution-noise / boilerplate-alt-text
    signal neither single-modality dedup sees. Two combined groupBys
    over (8-byte phash, short body); bytes never shuffle."""
    from fairy_core_spark.operators.images import caption_phash_consistency

    imgs = _images_cached(spark, 3000)
    return caption_phash_consistency(imgs)


def _compaction_plan_oracle_sql() -> str:
    from fairy_core_spark.operators.maintenance import compaction_plan_sql

    files = (
        "(SELECT doc_id AS file_id, doc_id % 4 AS part,"
        " (doc_id * 9973) % 1900000 + 100000 AS bytes FROM documents)"
    )
    plan = compaction_plan_sql(
        files, 1_000_000, file_col="file_id", bytes_col="bytes",
        partition_cols=("part",),
    )
    return f"""
    SELECT part, action, group_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS group_bytes,
           MIN(file_id) AS first_file
    FROM ({plan}) GROUP BY part, action, group_id
    """


@_q("maintenance_compaction_plan", _compaction_plan_oracle_sql())
def maintenance_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """small-file compaction planning over a synthetic file manifest (the
    Iceberg binPack maintenance step as pure metadata arithmetic): files
    >= 1 MB keep, smaller ones bin by per-partition cumulative fill
    (operators/maintenance.compaction_plan — one window over manifest
    rows, deterministic in (part, file_id) only), rolled up per group.
    The oracle replays the identical window via compaction_plan_sql."""
    from fairy_core_spark.operators.maintenance import compaction_plan

    files = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % 4).alias("part"),
        ((F.col("doc_id") * 9973) % 1900000 + 100000).alias("bytes"),
    )
    plan = compaction_plan(
        files, 1_000_000, file_col="file_id", partition_cols=("part",)
    )
    return plan.groupBy("part", "action", "group_id").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("group_bytes"),
        F.min("file_id").alias("first_file"),
    )


_MANIFEST_OLD_SQL = (
    "(SELECT 'f' || doc_id AS path, (doc_id * 991) % 50000 + 1000 AS bytes"
    " FROM documents WHERE doc_id % 7 <> 0)"
)
_MANIFEST_NEW_SQL = (
    "(SELECT 'f' || doc_id AS path, (doc_id * 991) % 50000 + 1000"
    " + CASE WHEN doc_id % 11 = 0 THEN 7 ELSE 0 END AS bytes"
    " FROM documents WHERE doc_id % 5 <> 0)"
)


@_q(
    "maintenance_manifest_diff",
    f"""
    WITH o AS {_MANIFEST_OLD_SQL}, n AS {_MANIFEST_NEW_SQL},
    d AS (
      SELECT COALESCE(o.path, n.path) AS path, o.bytes AS bytes_old,
             n.bytes AS bytes_new,
             CASE WHEN o.bytes IS NULL THEN 'added'
                  WHEN n.bytes IS NULL THEN 'removed'
                  WHEN o.bytes <> n.bytes THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.path = n.path
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n, MIN(path) AS first_path
    FROM d GROUP BY status
    """,
)
def maintenance_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot-to-snapshot manifest diff (operators/maintenance.
    manifest_diff — the incremental-processing primitive: downstream jobs
    touch only added/changed files), rolled up per status. Old/new
    manifests synthesized deterministically from documents so DuckDB
    replays the full-outer-join classification verbatim."""
    from fairy_core_spark.operators.maintenance import manifest_diff

    docs = _t(spark, sf_dir, "documents")
    base_bytes = (F.col("doc_id") * 991) % 50000 + 1000
    old = docs.where(F.col("doc_id") % 7 != 0).select(
        F.concat(F.lit("f"), F.col("doc_id")).alias("path"),
        base_bytes.alias("bytes"),
    )
    new = docs.where(F.col("doc_id") % 5 != 0).select(
        F.concat(F.lit("f"), F.col("doc_id")).alias("path"),
        (base_bytes + F.when(F.col("doc_id") % 11 == 0, 7).otherwise(0)).alias(
            "bytes"
        ),
    )
    return (
        manifest_diff(old, new)
        .groupBy("status")
        .agg(F.count("*").alias("n"), F.min("path").alias("first_path"))
    )


def _clustering_depth_oracle_sql() -> str:
    from fairy_core_spark.operators.maintenance import clustering_depth_sql

    stats = (
        "(SELECT doc_id % 4 AS part, (doc_id * 37) % 1000 AS min_key,"
        " (doc_id * 37) % 1000 + (doc_id * 13) % 50 + 1 AS max_key"
        " FROM documents)"
    )
    return clustering_depth_sql(stats, partition_cols=("part",))


@_q("maintenance_clustering_depth", _clustering_depth_oracle_sql())
def maintenance_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max overlap depth of file key ranges per partition (operators/
    maintenance.clustering_depth — the re-cluster trigger metric: depth d
    at key k means a point lookup opens d files), sweep-line as one
    window over manifest-stat rows; the oracle replays the identical
    events + window via clustering_depth_sql."""
    from fairy_core_spark.operators.maintenance import clustering_depth

    stats = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).alias("part"),
        ((F.col("doc_id") * 37) % 1000).alias("min_key"),
        ((F.col("doc_id") * 37) % 1000 + (F.col("doc_id") * 13) % 50 + 1).alias(
            "max_key"
        ),
    )
    return clustering_depth(stats, partition_cols=("part",))


def _multimodal_dups_oracle_sql() -> str:
    """phash edges come from the frozen per-image hashes; caption edges
    from the pure-SQL metadata regeneration; DuckDB then recomputes the
    star-edge construction AND the transitive closure (recursive CTE) —
    only the hash values themselves are frozen."""
    if IMAGE_PHASH_3000 is None:
        return None
    vals = ", ".join(f"({iid!r}, {ph})" for iid, ph in IMAGE_PHASH_3000)
    return f"""
    WITH RECURSIVE hashes(image_id, phash) AS (VALUES {vals}),
    caps AS (
      SELECT image_id, CASE WHEN strpos(caption, ': ') > 0 THEN substr(caption, strpos(caption, ': ') + 2) END AS body
      FROM ({_image_meta_regen_sql(3000)}) WHERE caption IS NOT NULL
        AND strpos(caption, ': ') > 0
    ),
    ph_m AS (
      SELECT phash, MIN(image_id) AS k, COUNT(*) AS n FROM hashes
      GROUP BY phash HAVING COUNT(*) > 1
    ),
    cap_m AS (
      SELECT body, MIN(image_id) AS k, COUNT(*) AS n FROM caps
      GROUP BY body HAVING COUNT(*) > 1
    ),
    edges0 AS (
      SELECT h.image_id AS a, m.k AS b FROM hashes h JOIN ph_m m USING (phash)
      WHERE h.image_id <> m.k
      UNION
      SELECT c.image_id AS a, m.k AS b FROM caps c JOIN cap_m m USING (body)
      WHERE c.image_id <> m.k
    ),
    edges AS (
      SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS image_id, MIN(lab) AS group_id FROM reach GROUP BY node
    """


@_q("image_multimodal_dup_groups", _multimodal_dups_oracle_sql())
def image_multimodal_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-signal image-caption dedup: a pair is duplicate when EITHER
    the pixel signal (exact phash) OR the text signal (caption body)
    matches — union the two star edge lists (member -> group keeper:
    linear in group width, connectivity-identical to the clique) and run
    the same distributed connected components as the text family. Fixed-
    width image ids make lexicographic MIN == numeric order in both
    engines."""
    from fairy_core_spark.operators.dedup import connected_components
    from fairy_core_spark.operators.images import caption_body

    imgs = _images_cached(spark, 3000)
    ph_m = (
        imgs.groupBy("phash")
        .agg(F.min("image_id").alias("k"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )
    ph_edges = (
        imgs.join(ph_m, "phash")
        .where(F.col("image_id") != F.col("k"))
        .select(F.col("image_id").alias("id_a"), F.col("k").alias("id_b"))
    )
    caps = imgs.where(F.col("caption").isNotNull()).select(
        "image_id", caption_body().alias("body")
    )
    cap_m = (
        caps.groupBy("body")
        .agg(F.min("image_id").alias("k"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )
    cap_edges = (
        caps.join(cap_m, "body")
        .where(F.col("image_id") != F.col("k"))
        .select(F.col("image_id").alias("id_a"), F.col("k").alias("id_b"))
    )
    groups = connected_components(ph_edges.unionByName(cap_edges))
    return groups.select(F.col("doc_id").alias("image_id"), "group_id")


def _hotspot_oracle_sql() -> str:
    """Frozen inputs: the (point -> level-2 hex cell) mapping and the
    ring-1 geometric adjacency of the occupied cells (both pinned
    independently by tests/test_hex7.py and the drift guard). Everything
    the operator actually computes — per-cell counts, the neighbor join,
    the global moments, the cross-multiplied integer hot test — is
    genuinely recomputed by DuckDB."""
    if HEX7_CELLS_SF001 is None or HEX7_RING1_SF001 is None:
        return None
    cells = ", ".join(f"({p}, {t})" for p, t in HEX7_CELLS_SF001)
    edges = ", ".join(f"({a}, {b})" for a, b in HEX7_RING1_SF001)
    return f"""
    WITH pts(point_id, hex_id) AS (VALUES {cells}),
    counts AS (
      SELECT hex_id, CAST(COUNT(*) AS BIGINT) AS x FROM pts GROUP BY hex_id
    ),
    edges AS (
      SELECT * FROM (VALUES {edges}) e(cell, nbr)
      UNION ALL SELECT hex_id, hex_id FROM counts
    ),
    neigh AS (
      SELECT e.cell AS hex_id, CAST(COUNT(*) AS BIGINT) AS k_neighbors,
             CAST(SUM(c.x) AS BIGINT) AS neighbor_sum
      FROM edges e JOIN counts c ON c.hex_id = e.nbr GROUP BY e.cell
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells, CAST(SUM(x) AS BIGINT) AS total
      FROM counts
    )
    SELECT n.hex_id, c.x AS n_points, n.k_neighbors, n.neighbor_sum,
           CAST(CASE WHEN 2 * n.neighbor_sum * t.n_cells
                          > 3 * n.k_neighbors * t.total
                     THEN 1 ELSE 0 END AS INT) AS is_hot
    FROM neigh n JOIN counts c USING (hex_id) CROSS JOIN tot t
    """


@_q("spatial_hotspot_cells", _hotspot_oracle_sql())
def spatial_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord-style hotspot detection per occupied hex7 level-2 tile
    (spatial/ops.hotspot_cells): ring-1 neighborhood counts and the
    exact integer hot flag at 3/2x the global mean. The float Gi*
    z-score is a library extra, dropped here so the cross-engine
    contract stays integer-exact."""
    from fairy_core_spark.spatial.ops import hotspot_cells, with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=2, out="hex_id", scheme="hex7")
    return hotspot_cells(tiled, cell_col="hex_id", hot_num=3, hot_den=2).select(
        "hex_id", "n_points", "k_neighbors", "neighbor_sum", "is_hot"
    )


@_q(
    "funnel_view_click_purchase",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(1
             + (CASE WHEN t_click > t_view THEN 1 ELSE 0 END)
             + (CASE WHEN t_click > t_view AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS reached_stage
    FROM per_user WHERE t_view IS NOT NULL
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ordered event funnel (event-analytics staple, ext beyond the
    reference): per user, the furthest stage reached through
    view -> click -> purchase using each stage's FIRST occurrence and
    strict event-time ordering (a click at or before the first view does
    not advance the funnel; a NULL stage never advances — both engines
    agree because NULL > x is not true in either). One map-side-combined
    groupBy on user_id — no window, no self-join, scales as a single
    shuffle of 3 timestamps per user."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    first = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    stage2 = F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
    stage3 = F.when(
        (F.col("t_click") > F.col("t_view"))
        & (F.col("t_purchase") > F.col("t_click")),
        1,
    ).otherwise(0)
    return first.where(F.col("t_view").isNotNull()).select(
        "user_id", (F.lit(1) + stage2 + stage3).cast("long").alias("reached_stage")
    )


def _cluster_cells_oracle_sql() -> str:
    """Frozen inputs: the point->cell mapping and the ring-1 adjacency
    (both drift-guarded, pinned by tests/test_hex7.py). DuckDB genuinely
    recomputes the density threshold, the qualifying-endpoint edge
    restriction, the SYMMETRIC transitive closure (recursive CTE), and
    the min-label cluster ids."""
    if HEX7_CELLS_SF001 is None or HEX7_RING1_SF001 is None:
        return None
    cells = ", ".join(f"({p}, {t})" for p, t in HEX7_CELLS_SF001)
    edges = ", ".join(f"({a}, {b})" for a, b in HEX7_RING1_SF001)
    return f"""
    WITH RECURSIVE pts(point_id, hex_id) AS (VALUES {cells}),
    counts AS (
      SELECT hex_id, CAST(COUNT(*) AS BIGINT) AS n_points FROM pts
      GROUP BY hex_id HAVING COUNT(*) >= 2
    ),
    base AS (
      SELECT e.cell, e.nbr FROM (VALUES {edges}) e(cell, nbr)
      JOIN counts a ON a.hex_id = e.cell
      JOIN counts b ON b.hex_id = e.nbr
    ),
    edges AS (SELECT cell, nbr FROM base UNION SELECT nbr, cell FROM base),
    reach(node, lab) AS (
      SELECT hex_id, hex_id FROM counts
      UNION
      SELECT e.nbr, r.lab FROM reach r JOIN edges e ON e.cell = r.node
    )
    SELECT c.hex_id, CAST(MIN(r.lab) AS BIGINT) AS cluster_id, c.n_points
    FROM reach r JOIN counts c ON c.hex_id = r.node
    GROUP BY c.hex_id, c.n_points
    """


@_q("spatial_cluster_cells", _cluster_cells_oracle_sql())
def spatial_cluster_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grid-based spatial clustering (spatial/ops.cluster_cells — the
    DBSCAN-on-a-hex-grid shape): level-2 hex7 cells holding >= 2 points
    are core; ring-1-adjacent core cells share a cluster; cluster_id =
    MIN cell id in the connected component via the same distributed
    min-label propagation the dedup family uses."""
    from fairy_core_spark.spatial.ops import cluster_cells, with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=2, out="hex_id", scheme="hex7")
    return cluster_cells(tiled, cell_col="hex_id", min_points=2)


def _quota_cell_oracle_sql() -> str:
    """Frozen point->cell mapping (drift-guarded by tests/test_hex7.py);
    DuckDB genuinely recomputes the content-stable md5 rank window and
    the quota cut."""
    from fairy_core_spark.operators.sampling import quota_sample_sql

    if HEX7_CELLS_SF001 is None:
        return None
    cells = ", ".join(f"({p}, {t})" for p, t in HEX7_CELLS_SF001)
    inner = f"(SELECT * FROM (VALUES {cells}) AS t(point_id, hex_id))"
    return quota_sample_sql(inner, "hex_id", "point_id", 1)


@_q("spatial_quota_per_cell", _quota_cell_oracle_sql())
def spatial_quota_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo-balanced corpus downsample (training-data staple the north
    rule's image+geo pipeline needs): ONE representative point per
    level-2 hex tile, chosen by the content-stable md5 rank — the
    spatial twin of per-domain quota (operators/sampling.quota_sample
    keyed on the hex7 cell instead of the registered domain). Dense
    metro tiles stop dominating the corpus; the kept set never shifts
    with partitioning or backfills. Scale shape: encode is a pure
    projection, then ONE window shuffle on the cell key; WindowGroupLimit
    turns rank<=1 into a partial top-1 before the exchange."""
    from fairy_core_spark.operators.sampling import quota_sample
    from fairy_core_spark.spatial.ops import with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=2, out="hex_id", scheme="hex7")
    return quota_sample(
        tiled.select("point_id", "hex_id"), "hex_id", "point_id", 1
    )


_PROP_ZOOM, _PROP_BUDGET = 4, 150


def _prop_sample_oracle_sql() -> str:
    """Nothing frozen: DuckDB recomputes the tile key (shared formula
    twin), the integer div/mod Hamilton apportionment (HUGEINT product),
    the leftover-seat ranking and the md5 pick via the shared
    proportional_allocation_sql builder."""
    from fairy_core_spark.operators.sampling import proportional_allocation_sql

    n = 1 << _PROP_ZOOM
    inner = f"""(
      WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
      t AS ({_wm_tile_sql(_PROP_ZOOM, 'pts', 'point_id')})
      SELECT point_id, x * {n} + y AS tile_key FROM t
    )"""
    return proportional_allocation_sql(
        inner, "tile_key", "point_id", _PROP_BUDGET
    )


@_q("spatial_proportional_sample", _prop_sample_oracle_sql())
def spatial_proportional_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo-proportional corpus downsample
    (operators/sampling.proportional_allocation_sample): shrink to a
    fixed budget while PRESERVING the corpus's geographic mix —
    largest-remainder (Hamilton) apportionment over the tile histogram
    in exact decimal(38,0) div/mod (sum(allocation) == budget whenever
    budget <= rows), then the content-stable md5 pick per tile. The
    complement of spatial_quota_per_cell: quotas flatten the mix, this
    keeps it proportional. Apportionment runs on the SMALL tile frame;
    rows shuffle once (the pick window)."""
    from fairy_core_spark.operators.sampling import proportional_allocation_sample
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_PROP_ZOOM, quadkey=False).select(
        "point_id",
        (F.col("tile_x") * (1 << _PROP_ZOOM) + F.col("tile_y")).alias("tile_key"),
    )
    return proportional_allocation_sample(
        tiled, "tile_key", "point_id", _PROP_BUDGET
    )


def _cell_embedding_oracle_sql() -> str:
    """Frozen point->cell mapping (vec_id 0..499 shares the synth-point
    id space) + fully recomputed fixed-point sums: generate_series
    indexes the array, floor(float->double * 1e6) is exact IEEE in both
    engines, the int64 sum is associative."""
    if HEX7_CELLS_SF001 is None:
        return None
    cells = ", ".join(f"({p}, {t})" for p, t in HEX7_CELLS_SF001 if p < 500)
    return f"""
    WITH cellmap AS (SELECT * FROM (VALUES {cells}) AS t(point_id, hex_id)),
    e AS (
      SELECT vec_id, g.pos - 1 AS pos,
             CAST(FLOOR(CAST(embedding[g.pos] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
      FROM embeddings, generate_series(1, 8) AS g(pos)
    )
    SELECT hex_id, pos, CAST(SUM(q) AS BIGINT) AS sum_q,
           CAST(COUNT(q) AS BIGINT) AS n
    FROM e JOIN cellmap ON cellmap.point_id = e.vec_id
    GROUP BY 1, 2
    """


@_q("spatial_cell_embedding_sums", _cell_embedding_oracle_sql())
def spatial_cell_embedding_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-tile embedding signature (operators/similarity.cell_vector_sums
    over level-2 hex tiles): exact-integer centroid sums per (cell,
    dimension) — the tile-level semantic summary for retrieval routing /
    per-region drift monitoring. Sliced to the first 8 dims in the gate
    entry (cost only; the operator handles full width). Cells come from
    the same synth-point formula the spatial family shares, keyed on
    vec_id."""
    from fairy_core_spark.operators.similarity import cell_vector_sums
    from fairy_core_spark.spatial.ops import with_cell

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (((F.col("vec_id") * 7919) % 120000) / 1000.0 - 60.0).alias("lat"),
        (((F.col("vec_id") * 104729) % 360000) / 1000.0 - 180.0).alias("lon"),
    )
    tiled = with_cell(emb, level=2, out="hex_id", scheme="hex7")
    return cell_vector_sums(tiled, cell_col="hex_id", dims=8)


def _block_split_oracle_sql() -> str:
    """Frozen point->cell mapping + the hash_split CASE replay keyed on
    the CELL id — DuckDB recomputes the bucket arithmetic."""
    from fairy_core_spark.operators.sampling import hash_split_case_sql

    if HEX7_CELLS_SF001 is None:
        return None
    cells = ", ".join(f"({p}, {t})" for p, t in HEX7_CELLS_SF001)
    case = hash_split_case_sql("hex_id", {"train": 8000, "test": 2000})
    return f"""
    SELECT point_id, hex_id, {case} AS split
    FROM (VALUES {cells}) AS t(point_id, hex_id)
    """


@_q("spatial_block_split", _block_split_oracle_sql())
def spatial_block_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spatially-blocked train/test split (the geospatial-ML leakage
    guard): the split key is the level-2 hex TILE, not the image — every
    point in a cell lands in the same split, so the test set is
    spatially disjoint from train and spatial autocorrelation can't leak
    across the boundary (the spatial twin of sample_split_leakage_safe,
    which blocks on near-dup groups). Pure projection — encode is Column
    bit math feeding the md5-bucket CASE; zero shuffle, partition- and
    backfill-stable."""
    from fairy_core_spark.operators.sampling import hash_split
    from fairy_core_spark.spatial.ops import with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_cell(pts, level=2, out="hex_id", scheme="hex7")
    return hash_split(
        tiled.select("point_id", "hex_id"), "hex_id",
        {"train": 8000, "test": 2000},
    )


@_q(
    "retention_weekly_cohorts",
    """
    WITH t AS (
      SELECT user_id, ts, MIN(ts) OVER (PARTITION BY user_id) AS t0
      FROM events
    )
    SELECT strftime(t0, '%Y-%m') AS cohort_month,
           CAST(FLOOR(datediff('day', CAST(t0 AS DATE), CAST(ts AS DATE)) / 7.0)
                AS BIGINT) AS age_weeks,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM t GROUP BY 1, 2
    """,
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cohort retention matrix (event-analytics staple, ext beyond the
    reference): users grouped by the month of their FIRST event; for
    each cohort, distinct active users at each whole-week age. The
    first-event timestamp rides a window min over the SAME user_id
    shuffle the distinct-count aggregation needs — two shuffles total,
    no self-join; ages are integer day arithmetic (float-free ordering,
    exact cross-engine)."""
    t0 = F.min("ts").over(Window.partitionBy("user_id"))
    ev = _t(spark, sf_dir, "events").withColumn("t0", t0)
    return (
        ev.select(
            F.date_format("t0", "yyyy-MM").alias("cohort_month"),
            F.floor(F.datediff(F.to_date("ts"), F.to_date("t0")) / 7)
            .cast("long")
            .alias("age_weeks"),
            "user_id",
        )
        .groupBy("cohort_month", "age_weeks")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _webmercator_oracle_sql() -> str:
    """DuckDB replays the slippy-map formula with the identical IEEE
    expression tree (explicit deg->rad multiply by the same double; LN/
    TAN/COS are the only libm crossings — boundary-hitting would need a
    point within ulps of an irrational tile edge; pinned empirically at
    sf 0.001/0.01/0.1). Tile/quadkey SQL shared via _wm_tile_sql /
    _wm_qk_sql."""
    zoom = 7
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(zoom, 'pts', 'point_id')})
    SELECT x AS tile_x, y AS tile_y, {_wm_qk_sql(zoom)} AS quadkey,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM t GROUP BY 1, 2, 3
    """


@_q("spatial_webmercator_rollup", _webmercator_oracle_sql())
def spatial_webmercator_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-Mercator XYZ tile + quadkey rollup (spatial/webmercator.py) —
    the slippy-map scheme every tile server addresses imagery by, as one
    codegen projection + one map-side-combined groupBy. Quadkey prefixes
    give multi-resolution containment; raw (x, y) min/max footer stats
    give bbox pruning when written quadkey-sorted."""
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    return (
        with_tiles(pts, zoom=7)
        .groupBy("tile_x", "tile_y", "quadkey")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Haversine meters — the IDENTICAL expression tree trajectory.py's
    haversine_m builds (shared deg->rad double, same op order, clamped
    sqrt), so the only cross-engine deltas are libm sin/cos/asin ulps,
    absorbed by the integer-meter rounding."""
    import math as _m

    d2r = repr(_m.pi / 180.0)
    sdphi = f"SIN(({lat2} - {lat1}) * {d2r} / 2.0)"
    sdlmb = f"SIN(({lon2} - {lon1}) * {d2r} / 2.0)"
    a = f"{sdphi} * {sdphi} + COS({lat1} * {d2r}) * COS({lat2} * {d2r}) * {sdlmb} * {sdlmb}"
    from fairy_core_spark.spatial.trajectory import R_EARTH_M

    return f"{2.0 * R_EARTH_M!r} * ASIN(SQRT(LEAST(GREATEST({a}, 0.0), 1.0)))"


@_q(
    "traj_user_path_stats",
    f"""
    WITH pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    h AS (
      SELECT user_id, lat, lon,
        LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
        FIRST_VALUE(lat) OVER wf AS flat, FIRST_VALUE(lon) OVER wf AS flon,
        LAST_VALUE(lat) OVER wf AS llat, LAST_VALUE(lon) OVER wf AS llon
      FROM pos
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             wf AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
    hops AS (
      SELECT user_id, flat, flon, llat, llon,
        CASE WHEN plat IS NOT NULL THEN
          CAST(ROUND({_hav_sql('plat', 'plon', 'lat', 'lon')}, 0) AS BIGINT)
        END AS hop_m
      FROM h)
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_points,
      CAST(COUNT(hop_m) AS BIGINT) AS n_hops,
      CAST(COALESCE(SUM(hop_m), 0) AS BIGINT) AS path_m,
      CAST(ROUND({_hav_sql('MAX(flat)', 'MAX(flon)', 'MAX(llat)', 'MAX(llon)')}, 0) AS BIGINT) AS net_m
    FROM hops GROUP BY user_id
    """,
)
def traj_user_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user trajectory summary (spatial/trajectory.py): events get
    deterministic synthetic positions (same millidegree hash as
    _synth_points, keyed on event_id), then path_stats computes traveled
    distance (per-hop integer-meter haversine — order-proof int64 sum),
    hop count, and first->last displacement in ONE shuffle (the closing
    groupBy reuses the window's user_id hash partitioning)."""
    from fairy_core_spark.spatial.trajectory import path_stats

    return path_stats(_synth_event_points(spark, sf_dir), tiebreak_col="event_id")


@_q(
    "traj_dwell_episodes",
    f"""
    WITH pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    pos2 AS (
      SELECT p.user_id, p.ts, p.event_id, MIN(rects.polygon_id) AS region
      FROM pos p LEFT JOIN {_rects_values_sql()}
        ON p.lat > rects.lat0 AND p.lat < rects.lat1
       AND p.lon > rects.lon0 AND p.lon < rects.lon1
      GROUP BY 1, 2, 3),
    d AS (
      SELECT user_id, ts, event_id, region,
        CASE WHEN region IS DISTINCT FROM LAG(region) OVER w THEN 1 ELSE 0 END AS is_new
      FROM pos2 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    e AS (
      SELECT user_id, ts, region,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eid
      FROM d),
    g AS (
      SELECT user_id, eid, region, MIN(ts) AS enter_ts, MAX(ts) AS exit_ts,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM e WHERE region IS NOT NULL GROUP BY 1, 2, 3)
    SELECT user_id,
      CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY enter_ts, eid) AS BIGINT) AS episode_seq,
      region, enter_ts, exit_ts, n_points,
      epoch_us(exit_ts) - epoch_us(enter_ts) AS dwell_us
    FROM g
    """,
)
def traj_dwell_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geofence dwell episodes (spatial/trajectory.dwell_episodes):
    events get synthetic positions, each point its containing rectangle
    (the shared non-overlapping _RECTS fence set, exact comparisons —
    no float risk anywhere in this entry), then consecutive same-region
    runs per user collapse to episodes with enter/exit timestamps and
    exact integer-microsecond dwell. ONE shuffle: boundary window,
    running-sum episode ids, episode groupBy, and enter-order seq all
    ride the user_id hash partitioning."""
    from fairy_core_spark.spatial.trajectory import dwell_episodes

    ev = _synth_event_points(spark, sf_dir)
    region = F.least(
        *[
            F.when(
                (F.col("lat") > lat0)
                & (F.col("lat") < lat1)
                & (F.col("lon") > lon0)
                & (F.col("lon") < lon1),
                F.lit(pid),
            )
            for pid, lat0, lat1, lon0, lon1 in _RECTS
        ]
    )
    return dwell_episodes(
        ev.withColumn("region", region), tiebreak_col="event_id"
    )


def _webmercator_pyramid_oracle_sql() -> str:
    """Same IEEE expression tree as the zoom-10 encode (shared
    _wm_tile_sql/_wm_qk_sql); coarser zooms are quadkey prefixes
    (containment = prefix), replayed as substrings."""
    zoom = 10
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(zoom, 'pts', 'point_id')}),
    q AS (SELECT {_wm_qk_sql(zoom)} AS qk FROM t)
    SELECT zoom, quadkey, CAST(COUNT(*) AS BIGINT) AS n_points FROM (
      SELECT 10 AS zoom, qk AS quadkey FROM q
      UNION ALL SELECT 7, substring(qk, 1, 7) FROM q
      UNION ALL SELECT 4, substring(qk, 1, 4) FROM q
    ) GROUP BY 1, 2
    """


@_q("spatial_webmercator_pyramid", _webmercator_pyramid_oracle_sql())
def spatial_webmercator_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-Mercator member of the pyramid trio (hex7 / S2 / quadkey):
    encode once at zoom 10, explode every coarser zoom as quadkey
    prefixes through ONE codegen Generate(stack), aggregate the whole
    pyramid in a single shuffle."""
    from fairy_core_spark.spatial.webmercator import pyramid, with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=10).select("point_id", "quadkey")
    return (
        pyramid(tiled, zooms=(10, 7, 4))
        .groupBy(F.col("res").alias("zoom"), F.col("cell").alias("quadkey"))
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def _od_matrix_oracle_sql() -> str:
    """Zoom-6 webmercator quadkeys (shared _wm_tile_sql/_wm_qk_sql)
    + first/last per (user, day) + one flow aggregate."""
    zoom = 6
    return f"""
    WITH pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    t AS ({_wm_tile_sql(zoom, 'pos', 'user_id, ts, event_id, CAST(ts AS DATE) AS day')}),
    q AS (SELECT user_id, day, ts, event_id, {_wm_qk_sql(zoom)} AS qk FROM t),
    trips AS (
      SELECT DISTINCT user_id, day,
        FIRST_VALUE(qk) OVER w AS origin, LAST_VALUE(qk) OVER w AS dest
      FROM q
      WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
    SELECT origin, dest, CAST(COUNT(*) AS BIGINT) AS n_trips
    FROM trips GROUP BY 1, 2
    """


@_q("traj_od_matrix", _od_matrix_oracle_sql())
def traj_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """origin-destination flow matrix (spatial/trajectory.od_matrix over
    spatial/webmercator tiles): each (user, day) is one trip from its
    first zoom-6 quadkey to its last; flows aggregate trips. Two
    shuffles: the trip window (its dropDuplicates rides the same
    partitioning) and the (origin, dest) flow groupBy, which carries
    only short quadkey pairs."""
    from fairy_core_spark.spatial.trajectory import od_matrix
    from fairy_core_spark.spatial.webmercator import with_tiles

    ev = _synth_event_points(spark, sf_dir).withColumn("day", F.to_date("ts"))
    tiled = with_tiles(ev, zoom=6).select(
        "user_id", "ts", "event_id", "day", "quadkey"
    )
    return od_matrix(tiled, bucket_col="day", tiebreak_col="event_id")


def _colocation_pair_ctes() -> str:
    """CTE chain recomputing the colocation pair set: zoom-4 webmercator
    quadkeys (shared _wm_tile_sql/_wm_qk_sql) + distinct presence +
    hot-key cap + canonical self-join + pair count — every stage genuine.
    Ends with ``cpairs(entity_a, entity_b, n_shared)``; shared by the
    pairs and groups oracles."""
    zoom, cap, min_shared = 4, 5, 2
    return f"""pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    t AS ({_wm_tile_sql(zoom, 'pos', 'user_id, ts, CAST(ts AS DATE) AS day')}),
    pres AS (SELECT DISTINCT {_wm_qk_sql(zoom)} AS qk, day, user_id FROM t
             WHERE user_id IS NOT NULL),
    kept AS (
      SELECT qk, day, user_id FROM (
        SELECT pres.*, COUNT(*) OVER (PARTITION BY qk, day) AS __k FROM pres
      ) WHERE __k <= {cap}
    ),
    cpairs AS (
      SELECT a.user_id AS entity_a, b.user_id AS entity_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b ON a.qk = b.qk AND a.day = b.day
                             AND a.user_id < b.user_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    )"""


def _colocation_oracle_sql() -> str:
    return f"""
    WITH {_colocation_pair_ctes()}
    SELECT entity_a, entity_b, n_shared FROM cpairs
    """


def _coloc_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-standard colocation pair frame — shared (memoized) upstream
    of the pairs and groups entries."""
    from fairy_core_spark.spatial.trajectory import colocation_pairs
    from fairy_core_spark.spatial.webmercator import with_tiles

    def build() -> DataFrame:
        ev = _synth_event_points(spark, sf_dir).withColumn("day", F.to_date("ts"))
        tiled = with_tiles(ev, zoom=4).select("user_id", "day", "quadkey")
        return colocation_pairs(
            tiled,
            loc_col="quadkey",
            bucket_col="day",
            min_shared=2,
            max_entities_per_key=5,
        )

    return _memo_df(spark, ("coloc_pairs", sf_dir, 4, 2, 5), build)


@_q("traj_colocation_pairs", _colocation_oracle_sql())
def traj_colocation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spatiotemporal co-occurrence (spatial/trajectory.colocation_pairs
    over webmercator tiles): canonical pairs of users seen in the same
    (zoom-4 quadkey, day) at least twice, with the hot-key guard set
    low enough (5) to genuinely drop the densest tile-days — the
    contact/co-visitation staple with the quadratic blow-up bounded by
    construction. Presence dedup first, so raw pings never reach the
    self-join; the pair groupBy carries only (id, id) tuples."""
    return _coloc_pairs_df(spark, sf_dir)


def _colocation_groups_oracle_sql() -> str:
    """Pair set genuinely recomputed (shared _colocation_pair_ctes twin),
    then the SYMMETRIC transitive closure by recursive CTE and the
    min-label group ids + window group sizes — the same shape the
    cluster-cells oracle uses, here over the co-visitation graph."""
    return f"""
    WITH RECURSIVE {_colocation_pair_ctes()},
    edges AS (
      SELECT entity_a AS u, entity_b AS v FROM cpairs
      UNION SELECT entity_b, entity_a FROM cpairs
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach(node, lab) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    labs AS (SELECT node AS user_id, MIN(lab) AS group_id FROM reach GROUP BY node)
    SELECT user_id, group_id,
           CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
    FROM labs
    """


@_q("traj_colocation_groups", _colocation_groups_oracle_sql())
def traj_colocation_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """co-visitation communities: the colocation pair graph collapsed to
    connected components (operators/dedup.connected_components — the
    SAME distributed min-label + pointer-jumping machinery the dedup
    family uses, reapplied to a social/contact graph) with per-group
    member counts — the "travel party / repeated-contact cluster"
    staple downstream of pair mining. The pair frame is memoized and
    shared with traj_colocation_pairs (one computation feeds both
    entries); rounds shuffle only (id, label) tuples; the size window
    is one exchange on group_id."""
    from fairy_core_spark.operators.dedup import connected_components

    pairs = _coloc_pairs_df(spark, sf_dir)
    groups = connected_components(
        pairs.select(F.col("entity_a").alias("id_a"), F.col("entity_b").alias("id_b"))
    )
    w = Window.partitionBy("group_id")
    return groups.select(F.col("doc_id").alias("user_id"), "group_id").withColumn(
        "group_size", F.count(F.lit(1)).over(w).cast("long")
    )


# ------------------------------------------------- published H3 layout --

# Deterministic published-layout H3 ids synthesized from events.event_id:
# res 9, base cell = event_id % 122, digits 1..9 = the BASE-8 digit string
# of event_id's low 27 bits — i.e. the whole digit block is one shift,
# (event_id % 2^27) << 18. Base-8 (not base-7) is deliberate twice over:
# (a) digit values of 7 occur inside the res range, so is_valid_col's
# digit-range rejection genuinely fires (alongside the pentagon deleted-K
# rule, which fires via base cells hitting the 12 pentagon ids); (b) the
# construction inlines as ~6 integer ops, so Catalyst's re-inlining of the
# cell expression at each of is_valid_col's field reads stays far under
# Janino's 64 KB method limit — the base-7 variant (9 div/mod terms) blew
# past it and silently dropped the fused stage to interpreted mode.
_H3_RES = 9
_H3_PARENT_RES = 5
_H3_MODE_RES_CONST = (1 << 59) | (_H3_RES << 52)
_H3_UNUSED_9 = sum(7 << 3 * (15 - d) for d in range(_H3_RES + 1, 16))
_H3_UNUSED_PARENT = sum(7 << 3 * (15 - d) for d in range(_H3_PARENT_RES + 1, 16))
_H3_PENTS = "4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117"


def _h3_layout_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id")
    h = (
        F.lit(_H3_MODE_RES_CONST)
        .bitwiseOR((F.col("event_id") % 122).cast("long") * F.lit(1 << 45))
        .bitwiseOR((F.col("event_id") % F.lit(1 << 27)).cast("long") * F.lit(1 << 18))
        .bitwiseOR(F.lit(_H3_UNUSED_9))
    )
    return ev.select(h.cast("long").alias("cell"))


def _h3_layout_oracle_sql() -> str:
    """Independent DuckDB recomputation: same id construction, the
    digit-range rule (no base-8 digit of the low 27 bits may be 7) and the
    pentagon deleted-K rule (first nonzero digit of a pentagon-based id is
    never 1) as CASE scans over the 9 digits, and cell_to_parent as the
    published bit math (clear the res nibble, set parent res, OR the
    unused-digit fill for digits 6..15)."""
    digs = ", ".join(
        f"(event_id // {8 ** (_H3_RES - d)}) % 8 AS d{d}" for d in range(1, _H3_RES + 1)
    )
    fnz = " ".join(f"WHEN d{d} <> 0 THEN d{d}" for d in range(1, _H3_RES + 1))
    in_range = " AND ".join(f"d{d} <= 6" for d in range(1, _H3_RES + 1))
    return f"""
    WITH src AS (SELECT event_id % 122 AS bc,
                        (event_id % {1 << 27}) AS lo, {digs} FROM events),
    ids AS (SELECT bc, {in_range} AS digits_ok,
                   CASE {fnz} ELSE 0 END AS fnz,
                   {_H3_MODE_RES_CONST} + bc * {1 << 45}
                     + lo * {1 << 18} + {_H3_UNUSED_9} AS h
            FROM src),
    valid AS (SELECT h FROM ids
              WHERE digits_ok AND NOT (bc IN ({_H3_PENTS}) AND fnz = 1))
    SELECT ((h & {~(0xF << 52)}) | {_H3_PARENT_RES << 52} | {_H3_UNUSED_PARENT})
             AS parent_cell,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM valid GROUP BY 1
    """


@_q("h3_layout_parent_rollup", _h3_layout_oracle_sql())
def h3_layout_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-H3 index-layout ops (spatial/h3_layout.py) over external
    ids: validate with the full predicate (mode/res/base-cell/digit-range/
    pentagon deleted-K — is_valid_col), roll valid cells up to their res-5
    parents with the pure-Column parent bit math (parent_col), count per
    parent. Zero Python, zero extra shuffle beyond the one rollup groupBy
    carrying 8-byte ids — the plan a 10^12-id H3 rollup needs. The oracle
    recomputes construction, validity and parent independently in SQL."""
    from fairy_core_spark.spatial import h3_layout as h3

    ids = _h3_layout_ids(spark, sf_dir)
    return (
        ids.where(h3.is_valid_col(F.col("cell")))
        .select(h3.parent_col(F.col("cell"), _H3_PARENT_RES).alias("parent_cell"))
        .groupBy("parent_cell")
        .agg(F.count(F.lit(1)).alias("n_cells"))
    )


_HEATMAP_ZOOM = 6


def _heatmap_oracle_sql() -> str:
    """DuckDB replays the full convolution: tile formula (shared
    _wm_tile_sql twin), counts, the 9-offset binomial scatter with the
    zero-padding edge drop, and both integer sums — no frozen values."""
    hi = (1 << _HEATMAP_ZOOM) - 1
    offs = ", ".join(
        f"({dx}, {dy}, {(2 - abs(dx)) * (2 - abs(dy))})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_HEATMAP_ZOOM, 'pts', 'point_id')}),
    counts AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
    scat AS (
      SELECT x + dx AS x, y + dy AS y, n * w AS wn,
             CASE WHEN dx = 0 AND dy = 0 THEN n ELSE 0 END AS self_n
      FROM counts CROSS JOIN (VALUES {offs}) AS offs(dx, dy, w)
      WHERE x + dx BETWEEN 0 AND {hi} AND y + dy BETWEEN 0 AND {hi}
    )
    SELECT x AS tile_x, y AS tile_y,
           CAST(SUM(self_n) AS BIGINT) AS n_points,
           CAST(SUM(wn) AS BIGINT) AS density_x16
    FROM scat GROUP BY 1, 2
    """


@_q("spatial_heatmap_smooth", _heatmap_oracle_sql())
def spatial_heatmap_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binomial-kernel 3x3 density convolution over Web-Mercator tiles
    (spatial/ops.smoothed_tile_density) — the Gaussian-blur heatmap
    raster, integer-exact via the x16-scaled kernel. Two map-side-
    combined groupBys; the scatter explodes the OCCUPIED-tile frame
    (bounded by 4^zoom), never the points."""
    from fairy_core_spark.spatial.ops import smoothed_tile_density
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_HEATMAP_ZOOM, quadkey=False)
    return smoothed_tile_density(tiled, zoom=_HEATMAP_ZOOM).select(
        "tile_x", "tile_y", "n_points", "density_x16"
    )


_VIEWPORT = (5.0, 42.0, -100.0, -40.0)  # lat0, lat1, lon0, lon1
_VIEWPORT_ZOOM = 9


def _viewport_oracle_sql() -> str:
    """The corner tiles are recomputed IN SQL by running the two bbox
    corners through the same shared tile formula (a 2-row VALUES source
    through _wm_tile_sql) — the oracle carries no precomputed tile
    bounds, only the bbox constants the engine call itself takes."""
    lat0, lat1, lon0, lon1 = _VIEWPORT
    corners = (
        f"(SELECT * FROM (VALUES (0, {lat1!r}, {lon0!r}), (1, {lat0!r}, {lon1!r})) "
        f"AS c(cid, lat, lon))"
    )
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_VIEWPORT_ZOOM, 'pts', 'point_id')}),
    ct AS ({_wm_tile_sql(_VIEWPORT_ZOOM, corners, 'cid')}),
    b AS (SELECT MAX(CASE WHEN cid = 0 THEN x END) AS x_lo,
                 MAX(CASE WHEN cid = 0 THEN y END) AS y_lo,
                 MAX(CASE WHEN cid = 1 THEN x END) AS x_hi,
                 MAX(CASE WHEN cid = 1 THEN y END) AS y_hi
          FROM ct)
    SELECT x AS tile_x, y AS tile_y, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM t, b
    WHERE x BETWEEN x_lo AND x_hi AND y BETWEEN y_lo AND y_hi
    GROUP BY 1, 2
    """


@_q("spatial_viewport_tiles", _viewport_oracle_sql())
def spatial_viewport_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """viewport query — per-tile counts inside a lat/lon bbox via
    webmercator.bbox_tile_filter: the predicate is two int64 BETWEENs in
    TILE space (corners through py_tile driver-side), so on a
    quadkey-clustered layout parquet footer min/max stats prune row
    groups before any geometry runs. The map-serving hot path at 100 TB:
    scan (pruned) -> codegen filter -> one map-side-combined groupBy."""
    from fairy_core_spark.spatial.webmercator import bbox_tile_filter, with_tiles

    lat0, lat1, lon0, lon1 = _VIEWPORT
    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_VIEWPORT_ZOOM, quadkey=False)
    return (
        tiled.where(bbox_tile_filter(lat0, lat1, lon0, lon1, _VIEWPORT_ZOOM))
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


_IDW_ZOOM, _IDW_RADIUS = 6, 2


def _idw_oracle_sql() -> str:
    """DuckDB replays the full interpolation: tile formula (shared twin),
    occupied counts, the (2r+1)^2-offset scatter with LCM-scaled integer
    weights, the edge drop, the empty-tile filter and the rounded
    division — no frozen values."""
    import math as _m

    hi = (1 << _IDW_ZOOM) - 1
    r = _IDW_RADIUS
    d2s = sorted(
        {
            dx * dx + dy * dy
            for dx in range(-r, r + 1)
            for dy in range(-r, r + 1)
            if (dx, dy) != (0, 0)
        }
    )
    lcm = _m.lcm(*d2s)
    offs = ", ".join(
        f"({dx}, {dy}, {0 if (dx, dy) == (0, 0) else lcm // (dx * dx + dy * dy)})"
        for dx in range(-r, r + 1)
        for dy in range(-r, r + 1)
    )
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_IDW_ZOOM, 'pts', 'point_id')}),
    occ AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
    scat AS (
      SELECT x + dx AS x, y + dy AS y, n * w AS nw, w,
             CASE WHEN dx = 0 AND dy = 0 THEN n ELSE 0 END AS self_n
      FROM occ CROSS JOIN (VALUES {offs}) AS offs(dx, dy, w)
      WHERE x + dx BETWEEN 0 AND {hi} AND y + dy BETWEEN 0 AND {hi}
    ),
    agg AS (
      SELECT x, y, SUM(self_n) AS s,
             CAST(SUM(nw) AS BIGINT) AS idw_num,
             CAST(SUM(w) AS BIGINT) AS idw_den
      FROM scat GROUP BY 1, 2
    )
    SELECT x AS tile_x, y AS tile_y, idw_num, idw_den,
           ROUND(idw_num * 1.0 / idw_den, 6) AS idw_value
    FROM agg WHERE s = 0 AND idw_den > 0
    """


@_q("spatial_idw_fill", _idw_oracle_sql())
def spatial_idw_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inverse-distance-weighted gap filling (spatial/ops.idw_fill) —
    the raster interpolation surface at empty tiles from occupied
    neighbours within Chebyshev radius 2: weights L/d^2 with L = the
    disk's LCM, so numerator/denominator are INTEGER-exact and the
    estimate is aggregation-order-proof; only the final surface value
    divides (ROUND 6, the repo's float contract). Same two-combined-
    groupBy scatter shape as the heatmap — shuffles carry int64
    triples, never points."""
    from fairy_core_spark.spatial.ops import idw_fill
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_IDW_ZOOM, quadkey=False)
    return idw_fill(tiled, zoom=_IDW_ZOOM, radius=_IDW_RADIUS)


_HILBERT_ORDER = 9


def _hilbert_oracle_sql() -> str:
    """Tile formula via the shared twin; the Hilbert fold replayed as a
    RECURSIVE CTE stepping the bit level (per-level state in rows — the
    expression-safe spelling of the same public algorithm). Nothing
    frozen."""
    from fairy_core_spark.spatial.hilbert import hilbert_recursive_sql

    return f"""
    WITH RECURSIVE pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_HILBERT_ORDER, 'pts', 'point_id')}),
    src AS (SELECT point_id, x, y FROM t),
    {hilbert_recursive_sql(_HILBERT_ORDER, 'src', 'point_id')}
    SELECT t.point_id, t.x AS tile_x, t.y AS tile_y, h.d AS hilbert
    FROM t JOIN hilbert_done h USING (point_id)
    """


@_q("spatial_hilbert_encode", _hilbert_oracle_sql())
def spatial_hilbert_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve tile position (spatial/hilbert.py) — the third
    space-filling curve beside Z-order/geohash and quadkey, with the
    strongest locality (consecutive positions are ALWAYS grid-adjacent,
    property-tested over the full grid): one vectorized Arrow
    projection, zero shuffle (a pure-Column spelling would duplicate
    per-level state subtrees exponentially under CollapseProject). The
    oracle replays the fold as a recursive CTE."""
    from fairy_core_spark.spatial.hilbert import with_hilbert
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_HILBERT_ORDER, quadkey=False)
    return with_hilbert(tiled, order=_HILBERT_ORDER).select(
        "point_id", "tile_x", "tile_y", "hilbert"
    )


# Pacific viewport: west edge 150E, east edge 150W — crosses the dateline
_VIEWPORT_W = (-45.0, 45.0, 150.0, -150.0)  # lat0, lat1, lon_w, lon_e
_VIEWPORT_W_ZOOM = 7


def _viewport_wrapped_oracle_sql() -> str:
    """Same corner-recompute discipline as _viewport_oracle_sql, with four
    corners (NW/SE of each dateline half) through the shared tile formula
    and the two rectangles OR-ed — no precomputed tile bounds."""
    lat0, lat1, lon_w, lon_e = _VIEWPORT_W
    corners = (
        f"(SELECT * FROM (VALUES (0, {lat1!r}, {lon_w!r}), (1, {lat0!r}, 180.0), "
        f"(2, {lat1!r}, -180.0), (3, {lat0!r}, {lon_e!r})) AS c(cid, lat, lon))"
    )
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_VIEWPORT_W_ZOOM, 'pts', 'point_id')}),
    ct AS ({_wm_tile_sql(_VIEWPORT_W_ZOOM, corners, 'cid')}),
    b AS (SELECT MAX(CASE WHEN cid = 0 THEN x END) AS wx_lo,
                 MAX(CASE WHEN cid = 0 THEN y END) AS y_lo,
                 MAX(CASE WHEN cid = 1 THEN x END) AS wx_hi,
                 MAX(CASE WHEN cid = 1 THEN y END) AS y_hi,
                 MAX(CASE WHEN cid = 2 THEN x END) AS ex_lo,
                 MAX(CASE WHEN cid = 3 THEN x END) AS ex_hi
          FROM ct)
    SELECT x AS tile_x, y AS tile_y, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM t, b
    WHERE y BETWEEN y_lo AND y_hi
      AND (x BETWEEN wx_lo AND wx_hi OR x BETWEEN ex_lo AND ex_hi)
    GROUP BY 1, 2
    """


@_q("spatial_viewport_wrapped", _viewport_wrapped_oracle_sql())
def spatial_viewport_wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """antimeridian-crossing viewport query — per-tile counts inside a
    Pacific bbox (west edge 150E, east edge 150W) via
    webmercator.bbox_tile_filter_wrapped: the dateline split becomes the
    OR of two closed tile rectangles (four int64 BETWEENs), each half
    still footer-prunable on a quadkey-clustered layout. The one
    viewport shape the repo's non-wrapping bbox ops refuse by
    contract."""
    from fairy_core_spark.spatial.webmercator import (
        bbox_tile_filter_wrapped,
        with_tiles,
    )

    lat0, lat1, lon_w, lon_e = _VIEWPORT_W
    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_VIEWPORT_W_ZOOM, quadkey=False)
    return (
        tiled.where(
            bbox_tile_filter_wrapped(lat0, lat1, lon_w, lon_e, _VIEWPORT_W_ZOOM)
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


_SPREAD_ZOOM = 6


def _dup_geo_spread_oracle_sql() -> str:
    """DuckDB recomputes the synthetic phash (doc_id % 125 — groups of 4
    at the 500-row documents table), the two-anchor position hash
    (doc_id % 250 through the shared millidegree formula), the tile
    assignment, and the distinct-tile spread per group."""
    imgs = (
        "SELECT doc_id, doc_id % 125 AS phash, "
        "((doc_id % 250) * 7919) % 120000 / 1000.0 - 60.0 AS lat, "
        "((doc_id % 250) * 104729) % 360000 / 1000.0 - 180.0 AS lon "
        "FROM documents"
    )
    return f"""
    WITH imgs AS ({imgs}),
    t AS ({_wm_tile_sql(_SPREAD_ZOOM, 'imgs', 'doc_id, phash')}),
    g AS (
      SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_images,
             CAST(COUNT(DISTINCT x * {1 << _SPREAD_ZOOM} + y) AS BIGINT) AS n_tiles
      FROM t GROUP BY phash HAVING COUNT(*) >= 2
    )
    SELECT phash, n_images, n_tiles,
           CAST(CASE WHEN n_tiles >= 2 THEN 1 ELSE 0 END AS BIGINT) AS is_spread
    FROM g
    """


@_q("image_dup_geo_spread", _dup_geo_spread_oracle_sql())
def image_dup_geo_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo-spread of exact-phash duplicate groups
    (operators/dedup.phash_geo_spread) — the geo-spam / stock-photo
    signal: the same perceptual hash recurring across distant tiles.
    Fixture: documents stand in for the north image table with a
    deterministic synthetic phash (doc_id % 125 -> groups of 4) and a
    two-anchor position hash (doc_id % 250), so every value is
    recomputed by both engines, none frozen. One map-side-combined
    groupBy on the 8-byte phash; HAVING prunes singletons."""
    from fairy_core_spark.operators.dedup import phash_geo_spread
    from fairy_core_spark.spatial.webmercator import with_tiles

    docs = _t(spark, sf_dir, "documents")
    imgs = docs.select(
        "doc_id",
        (F.col("doc_id") % 125).alias("phash"),
        ((((F.col("doc_id") % 250) * 7919) % 120000) / 1000.0 - 60.0).alias("lat"),
        ((((F.col("doc_id") % 250) * 104729) % 360000) / 1000.0 - 180.0).alias("lon"),
    )
    tiled = with_tiles(imgs, zoom=_SPREAD_ZOOM, quadkey=False)
    keyed = tiled.withColumn(
        "tile_key", F.col("tile_x") * (1 << _SPREAD_ZOOM) + F.col("tile_y")
    )
    return phash_geo_spread(keyed, phash_col="phash", tile_col="tile_key")


_ZONAL_ZOOM = 7


def _zonal_oracle_sql() -> str:
    """DuckDB replays the whole chain with NOTHING frozen but the rect
    constants the engine call itself takes: tile assignment (shared
    _wm_tile_sql twin), occupied-tile counts, the per-zone corner tiles
    (each rect's NW/SE corners run through the SAME tile formula), the
    closed-rectangle zone join, and the left-join zero for empty zones."""
    corner_vals = ", ".join(
        f"('{pid}', 0, {lat1!r}, {lon0!r}), ('{pid}', 1, {lat0!r}, {lon1!r})"
        for pid, lat0, lat1, lon0, lon1 in _RECTS
    )
    corners = (
        f"(SELECT * FROM (VALUES {corner_vals}) AS c(zone_id, cid, lat, lon))"
    )
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_ZONAL_ZOOM, 'pts', 'point_id')}),
    counts AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
    ct AS ({_wm_tile_sql(_ZONAL_ZOOM, corners, 'zone_id, cid')}),
    zones AS (
      SELECT zone_id,
             MAX(CASE WHEN cid = 0 THEN x END) AS x_lo,
             MAX(CASE WHEN cid = 0 THEN y END) AS y_lo,
             MAX(CASE WHEN cid = 1 THEN x END) AS x_hi,
             MAX(CASE WHEN cid = 1 THEN y END) AS y_hi
      FROM ct GROUP BY zone_id
    )
    SELECT zone_id, CAST(COUNT(counts.x) AS BIGINT) AS n_tiles,
           CAST(COALESCE(SUM(counts.n), 0) AS BIGINT) AS n_points
    FROM zones LEFT JOIN counts
      ON counts.x BETWEEN x_lo AND x_hi AND counts.y BETWEEN y_lo AND y_hi
    GROUP BY zone_id
    """


@_q("spatial_zonal_stats", _zonal_oracle_sql())
def spatial_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zonal statistics in tile space (webmercator.zonal_tile_stats) —
    per zone bbox, occupied-tile count and point mass over its closed
    tile rectangle: the raster half of raster<->vector zonal stats.
    Points collapse to the occupied-tile frame first; the zone
    assignment is a broadcast range join in pure int64 codegen (no
    floating geometry at run time); empty zones emit (0, 0)."""
    from fairy_core_spark.spatial.webmercator import with_tiles, zonal_tile_stats

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_ZONAL_ZOOM, quadkey=False)
    return zonal_tile_stats(tiled, _RECTS, zoom=_ZONAL_ZOOM)


_CHANGE_ZOOM = 5
_CHANGE_SPLIT = "2024-01-16 00:00:00"


def _tile_change_oracle_sql() -> str:
    return f"""
    WITH pts AS ({_SYNTH_EVENT_POINTS_SQL.strip()}),
    t AS ({_wm_tile_sql(_CHANGE_ZOOM, 'pts', 'ts')})
    SELECT x AS tile_x, y AS tile_y,
           CAST(SUM(CASE WHEN ts <  TIMESTAMP '{_CHANGE_SPLIT}' THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CHANGE_SPLIT}' THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CHANGE_SPLIT}' THEN 1 ELSE 0 END)
              - SUM(CASE WHEN ts <  TIMESTAMP '{_CHANGE_SPLIT}' THEN 1 ELSE 0 END) AS BIGINT) AS delta
    FROM t GROUP BY 1, 2
    """


@_q("spatial_tile_change", _tile_change_oracle_sql())
def spatial_tile_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-tile temporal change detection — the monitoring rollup behind
    'where did activity move': one pass over events with conditional
    partial sums per epoch (before/after a split timestamp), so the
    shuffle carries (x, y, two longs) and the scan never runs twice.
    At 100 TB the epochs generalize to a GROUP BY time bucket riding the
    same single map-side-combined groupBy."""
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_event_points(spark, sf_dir)
    tiled = with_tiles(pts, zoom=_CHANGE_ZOOM, quadkey=False)
    split = F.lit(_CHANGE_SPLIT).cast("timestamp")
    before = F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).cast("long")
    after = F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).cast("long")
    return tiled.groupBy("tile_x", "tile_y").agg(
        before.alias("n_before"),
        after.alias("n_after"),
        (after - before).alias("delta"),
    )


_TOPSRC_ZOOM = 4
_TOPSRC_K = 2


def _tile_top_sources_oracle_sql() -> str:
    return f"""
    WITH imgs AS (
      SELECT doc_id, source,
             ((doc_id * 7919) % 120000) / 1000.0 - 60.0 AS lat,
             ((doc_id * 104729) % 360000) / 1000.0 - 180.0 AS lon
      FROM documents
    ),
    t AS ({_wm_tile_sql(_TOPSRC_ZOOM, 'imgs', 'doc_id, source')}),
    counts AS (
      SELECT x, y, source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM t GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT x, y, source, n_docs,
             ROW_NUMBER() OVER (PARTITION BY x, y
                                ORDER BY n_docs DESC, source ASC) AS rk
      FROM counts
    )
    SELECT x AS tile_x, y AS tile_y, source, n_docs, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_TOPSRC_K}
    """


@_q("spatial_tile_top_sources", _tile_top_sources_oracle_sql())
def spatial_tile_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dominant content sources per tile — the per-region provenance mix
    a corpus curator audits before sampling: counts per (tile, source),
    then top-k per tile through ONE rank window with a DETERMINISTIC
    total order (count desc, source asc — ties never flap across
    engines or partitionings). Spark plans the k-limit as
    WindowGroupLimit, so the partial top-k runs BEFORE the window
    exchange — at 100 TB the shuffle carries at most k rows per
    (tile, source-prefix) partial, not the full source histogram."""
    pts = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (((F.col("doc_id") * 7919) % 120000) / 1000.0 - 60.0).alias("lat"),
        (((F.col("doc_id") * 104729) % 360000) / 1000.0 - 180.0).alias("lon"),
    )
    from fairy_core_spark.spatial.webmercator import with_tiles

    tiled = with_tiles(pts, zoom=_TOPSRC_ZOOM, quadkey=False)
    counts = tiled.groupBy("tile_x", "tile_y", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = (
        Window.partitionBy("tile_x", "tile_y")
        .orderBy(F.col("n_docs").desc(), F.col("source").asc())
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _TOPSRC_K)
        .select("tile_x", "tile_y", "source", "n_docs", "rk")
    )


_ADAPT_ZMIN, _ADAPT_ZMAX, _ADAPT_CAP = 2, 8, 50


def _adaptive_tiles_oracle_sql() -> str:
    """DuckDB replays the whole quadtree: tile + quadkey formulas (shared
    twins), finest counts, per-level prefix sums, the parent-count test,
    and both emission rules (first-fit + hot leaf) — nothing frozen."""
    levels = ", ".join(f"({z})" for z in range(_ADAPT_ZMIN, _ADAPT_ZMAX + 1))
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_ADAPT_ZMAX, 'pts', 'point_id')}),
    finest AS (
      SELECT {_wm_qk_sql(_ADAPT_ZMAX)} AS qk, CAST(COUNT(*) AS BIGINT) AS n
      FROM t GROUP BY 1
    ),
    nodes AS (
      SELECT z, substr(qk, 1, z) AS cell, CAST(SUM(n) AS BIGINT) AS n_points
      FROM finest CROSS JOIN (VALUES {levels}) AS lv(z)
      GROUP BY 1, 2
    ),
    withp AS (
      SELECT a.z, a.cell, a.n_points, b.n_points AS pn
      FROM nodes a LEFT JOIN nodes b
        ON substr(a.cell, 1, length(a.cell) - 1) = b.cell
    )
    SELECT CAST(z AS BIGINT) AS zoom, cell, n_points,
           CAST(CASE WHEN z = {_ADAPT_ZMAX} AND n_points > {_ADAPT_CAP}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_hot_leaf
    FROM withp
    WHERE (n_points <= {_ADAPT_CAP}
           AND (z = {_ADAPT_ZMIN} OR pn > {_ADAPT_CAP}))
       OR (z = {_ADAPT_ZMAX} AND n_points > {_ADAPT_CAP})
    """


@_q("spatial_adaptive_tiles", _adaptive_tiles_oracle_sql())
def spatial_adaptive_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """adaptive quadtree tiling (webmercator.adaptive_tiles) — split a
    tile while it holds more than max_count points, down to zmax: the
    data-driven analog of H3 compact, covering a skewed corpus with a
    prefix-free tile set orders of magnitude smaller than the uniform
    finest grid. Raw rows collapse to the finest-tile frame once; all
    quadtree levels come from one codegen Generate(stack) over that
    small frame; the parent test is a substring equi-join. Prefix-
    freeness + mass conservation pinned by property tests."""
    from fairy_core_spark.spatial.webmercator import adaptive_tiles, with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_ADAPT_ZMAX)
    return adaptive_tiles(
        tiled, zmin=_ADAPT_ZMIN, zmax=_ADAPT_ZMAX, max_count=_ADAPT_CAP
    )


_IOU_NUM, _IOU_DEN = 3, 4

_BOX_SQL = """
      SELECT doc_id AS box_id,
             doc_id // 5 AS img,
             doc_id % 5 AS b,
             (doc_id // 5) * 37 % 500 AS bx,
             (doc_id // 5) * 91 % 400 AS by,
             50 + (doc_id // 5) % 60 AS w,
             40 + (doc_id // 5) % 45 AS h
      FROM documents"""


def _bbox_iou_oracle_sql() -> str:
    """DuckDB replays the ENTIRE chain with nothing frozen: the synthetic
    box table (five boxes per image from the doc_id formulas — two
    clusters, jitters of a few pixels so the integer IoU test lands on
    both sides of 3/4 as w/h vary), the exact-integer IoU theta
    self-join, transitive closure by recursive CTE, and the
    area-then-min-id keeper window."""
    return f"""
    WITH RECURSIVE raw AS ({_BOX_SQL}),
    boxes AS (
      SELECT box_id, img,
             bx + CASE b WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 5
                         WHEN 3 THEN 200 ELSE 203 END AS x0,
             by + CASE b WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 4
                         WHEN 3 THEN 200 ELSE 202 END AS y0,
             w + b AS bw, h AS bh
      FROM raw
    ),
    pairs AS (
      SELECT a.box_id AS id_a, b.box_id AS id_b
      FROM boxes a JOIN boxes b
        ON a.img = b.img AND a.box_id < b.box_id
      WHERE LEAST(a.x0 + a.bw, b.x0 + b.bw) - GREATEST(a.x0, b.x0) > 0
        AND LEAST(a.y0 + a.bh, b.y0 + b.bh) - GREATEST(a.y0, b.y0) > 0
        AND (LEAST(a.x0 + a.bw, b.x0 + b.bw) - GREATEST(a.x0, b.x0))
          * (LEAST(a.y0 + a.bh, b.y0 + b.bh) - GREATEST(a.y0, b.y0))
          * {_IOU_DEN}
          >= {_IOU_NUM} * (a.bw * a.bh + b.bw * b.bh
              - (LEAST(a.x0 + a.bw, b.x0 + b.bw) - GREATEST(a.x0, b.x0))
              * (LEAST(a.y0 + a.bh, b.y0 + b.bh) - GREATEST(a.y0, b.y0)))
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    grp AS (SELECT node AS box_id, MIN(lab) AS group_id FROM reach GROUP BY node),
    ranked AS (
      SELECT g.box_id, x.img AS image_id, g.group_id,
             ROW_NUMBER() OVER (
               PARTITION BY g.group_id
               ORDER BY x.bw * x.bh DESC, g.box_id ASC
             ) AS rk
      FROM grp g JOIN boxes x USING (box_id)
    )
    SELECT box_id, image_id, group_id,
           MAX(CASE WHEN rk = 1 THEN box_id END)
             OVER (PARTITION BY group_id) AS keeper_id,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
    FROM ranked
    """


@_q("image_bbox_iou_dedup", _bbox_iou_oracle_sql())
def image_bbox_iou_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate-annotation removal for detection labels
    (operators/boxes.iou_dedup_groups) — within each connected component
    of the exact-integer IoU>=3/4 pair graph, keep the largest-area box
    (ties min id), drop the rest: the label-merge step after unioning
    annotation sources over a detection corpus. Fixture: five synthetic
    boxes per image derived from doc_id (two spatial clusters per image;
    pixel jitters sized so the IoU test genuinely lands on both sides of
    the threshold as box dims vary) — every coordinate is recomputed by
    both engines, none frozen. The candidate join is an equi-join on
    image id (never all-pairs across the corpus), with an explicit
    hot-image cap; IoU never divides (inter*den >= num*union in int64)."""
    from fairy_core_spark.operators.boxes import iou_dedup_groups

    docs = _t(spark, sf_dir, "documents")
    img = F.floor(F.col("doc_id") / 5).cast("long")
    b = (F.col("doc_id") % 5).cast("long")
    bx = (img * 37) % 500
    by = (img * 91) % 400
    w = 50 + img % 60
    h = 40 + img % 45
    dx = (
        F.when(b == 0, 0).when(b == 1, 2).when(b == 2, 5).when(b == 3, 200)
        .otherwise(203)
    )
    dy = (
        F.when(b == 0, 0).when(b == 1, 1).when(b == 2, 4).when(b == 3, 200)
        .otherwise(202)
    )
    boxes = docs.select(
        F.col("doc_id").alias("box_id"),
        img.alias("image_id"),
        (bx + dx).alias("x0"),
        (by + dy).alias("y0"),
        (bx + dx + w + b).alias("x1"),
        (by + dy + h).alias("y1"),
    )
    return iou_dedup_groups(boxes, iou_num=_IOU_NUM, iou_den=_IOU_DEN)


_AR_BATCH, _AR_SHARDS = 16, 8


def _ar_bucket_oracle_sql() -> str:
    """DuckDB replays nearest-ratio snapping (common-denominator integer
    scores over lcm=144), the md5-60 shard/rank discipline, and the
    complete-batch cut — nothing frozen; dims derive from doc_id."""
    hv = "('0x' || substring(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 15))::BIGINT"
    return f"""
    WITH dims AS (
      SELECT doc_id, 32 + (doc_id * 7) % 993 AS w, 32 + (doc_id * 13) % 741 AS h
      FROM documents
    ),
    scored AS (
      SELECT doc_id, w, h,
             ABS(w * 1 - 1 * h) * 144 AS s0,
             ABS(w * 3 - 4 * h) * 48 AS s1,
             ABS(w * 4 - 3 * h) * 36 AS s2,
             ABS(w * 9 - 16 * h) * 16 AS s3,
             ABS(w * 16 - 9 * h) * 9 AS s4,
             {hv} AS hv
      FROM dims
    ),
    assigned AS (
      SELECT doc_id, w, h, hv,
             CASE WHEN s0 = m THEN 0 WHEN s1 = m THEN 1 WHEN s2 = m THEN 2
                  WHEN s3 = m THEN 3 ELSE 4 END AS bucket
      FROM (SELECT *, LEAST(s0, s1, s2, s3, s4) AS m FROM scored)
    ),
    ranked AS (
      SELECT doc_id, w, h, bucket, hv % {_AR_SHARDS} AS shard,
             ROW_NUMBER() OVER (PARTITION BY bucket, hv % {_AR_SHARDS}
                                ORDER BY hv ASC, doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY bucket, hv % {_AR_SHARDS}) AS n
      FROM assigned
    )
    SELECT doc_id AS image_id, w, h, CAST(bucket AS INTEGER) AS bucket,
           CAST(CASE bucket WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 3
                WHEN 3 THEN 16 ELSE 9 END AS BIGINT) AS ratio_n,
           CAST(CASE bucket WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 4
                WHEN 3 THEN 9 ELSE 16 END AS BIGINT) AS ratio_d,
           CAST(shard AS INTEGER) AS shard, CAST(rk AS BIGINT) AS rk,
           CAST((rk - 1) // {_AR_BATCH} AS BIGINT) AS batch_id
    FROM ranked WHERE rk <= n - n % {_AR_BATCH}
    """


@_q("image_ar_bucket_batches", _ar_bucket_oracle_sql())
def image_ar_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aspect-ratio bucketing + deterministic batch assignment
    (operators/images.ar_bucket_batches) — the multi-aspect training
    staple: snap each image to the nearest of five target ratios by
    EXACT common-denominator integer distance (no floats), shard by
    md5, rank content-stably inside (bucket, shard), pack into
    fixed-size batches and drop incomplete tails. Fixture dims derive
    from doc_id so both engines recompute everything. Batches form per
    (bucket, shard) rather than globally per bucket — the window
    shuffle spreads over n_shards partitions per ratio instead of
    funneling the corpus through five."""
    from fairy_core_spark.operators.images import ar_bucket_batches

    docs = _t(spark, sf_dir, "documents")
    dims = docs.select(
        F.col("doc_id").alias("image_id"),
        (32 + (F.col("doc_id") * 7) % 993).alias("w"),
        (32 + (F.col("doc_id") * 13) % 741).alias("h"),
    )
    return ar_bucket_batches(dims, batch_size=_AR_BATCH, n_shards=_AR_SHARDS)


_MORAN_ZOOM = 5


def _morans_oracle_sql() -> str:
    """DuckDB recomputes the entire statistic: tile assignment (shared
    _wm_tile_sql twin), occupied-cell counts, N-scaled integer
    deviations, the queen-adjacency offset join, and both 1-row
    moments; the final division is the only float op on both sides."""
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_MORAN_ZOOM, 'pts', 'point_id')}),
    counts AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
    moments AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
                       CAST(SUM(n) AS BIGINT) AS tot FROM counts),
    dev AS (SELECT x, y, nc * n - tot AS d FROM counts, moments),
    pairs AS (
      SELECT a.d AS da, b.d AS db
      FROM dev a
      JOIN (VALUES {offs}) AS o(dx, dy) ON TRUE
      JOIN dev b ON b.x = a.x + o.dx AND b.y = a.y + o.dy
    ),
    pagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
                    CAST(COALESCE(SUM(da * db), 0) AS BIGINT) AS num FROM pairs),
    dagg AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev)
    SELECT nc AS n_cells, tot AS total, w_pairs, num, den,
           CASE WHEN w_pairs > 0 AND den > 0
                THEN CAST(nc * num AS DOUBLE) / (w_pairs * den) END AS morans_i
    FROM moments, pagg, dagg
    """


@_q("spatial_morans_i", _morans_oracle_sql())
def spatial_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """global Moran's I spatial-autocorrelation statistic
    (spatial/ops.morans_i) — the one-number "is activity clustered or
    dispersed" audit over occupied webmercator tiles with binary queen
    adjacency: the global complement of the per-cell Gi* hotspot entry.
    Everything that decides the value is exact int64 (deviations
    pre-scaled by N so the mean never divides; num/den integer moments);
    the single final division is the only float op and runs identically
    in both engines. One map-side-combined groupBy + an 8-offset codegen
    explode joined back on the int tile key — linear, no driver state."""
    from fairy_core_spark.spatial.ops import morans_i
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    tiled = with_tiles(pts, zoom=_MORAN_ZOOM, quadkey=False)
    return morans_i(tiled)


_POLY_OFFS = [(3, 0), (1, 2), (-1, 3), (-2, 1), (-2, -1), (0, -2)]


def _polygon_stats_oracle_sql() -> str:
    """DuckDB replays the synthetic hexagon construction (center + scaled
    offsets from n_nationkey), the lead/first_value ring closure, and
    the integer shoelace moments — the centroid division is the only
    float op on both sides."""
    offs = ", ".join(f"({k}, {ox}, {oy})" for k, (ox, oy) in enumerate(_POLY_OFFS))
    return f"""
    WITH base AS (
      SELECT CAST(n_nationkey AS VARCHAR) AS polygon_id,
             (CAST(n_nationkey AS BIGINT) * 104729) % 350000 - 175000 AS cx,
             (CAST(n_nationkey AS BIGINT) * 7919) % 110000 - 55000 AS cy,
             100 * (1 + CAST(n_nationkey AS BIGINT) % 5) AS s
      FROM nation
    ),
    verts AS (
      SELECT polygon_id, k, cx + ox * s AS x, cy + oy * s AS y
      FROM base CROSS JOIN (VALUES {offs}) AS o(k, ox, oy)
    ),
    closed AS (
      SELECT polygon_id, x, y,
             COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER wf) AS nx,
             COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER wf) AS ny
      FROM verts
      WINDOW w AS (PARTITION BY polygon_id ORDER BY k),
             wf AS (PARTITION BY polygon_id ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    agg AS (
      SELECT polygon_id, CAST(COUNT(*) AS BIGINT) AS n_vertices,
             CAST(SUM(x * ny - nx * y) AS BIGINT) AS area2,
             CAST(SUM((x + nx) * (x * ny - nx * y)) AS BIGINT) AS cx6,
             CAST(SUM((y + ny) * (x * ny - nx * y)) AS BIGINT) AS cy6
      FROM closed GROUP BY polygon_id
    )
    SELECT polygon_id, n_vertices, area2, cx6, cy6,
           CASE WHEN area2 != 0 THEN CAST(cx6 AS DOUBLE) / (3 * area2) END AS centroid_x,
           CASE WHEN area2 != 0 THEN CAST(cy6 AS DOUBLE) / (3 * area2) END AS centroid_y
    FROM agg
    """


@_q("spatial_polygon_stats", _polygon_stats_oracle_sql())
def spatial_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact shoelace polygon area + centroid (spatial/ops.polygon_stats)
    — per-feature vector summarization over integer-vertex rings: twice
    the signed area and the 6A-scaled centroid numerators are exact
    int64 moments (engine-portable), the centroid itself one final float
    division per axis. Fixture: a star-shaped integer hexagon per nation
    (center + scaled asymmetric offsets, all derived from n_nationkey)
    so both engines recompute every vertex. One posexplode + one window
    + one map-side-combined groupBy — a single shuffle keyed by polygon,
    linear in total vertices."""
    from fairy_core_spark.spatial.ops import polygon_stats

    nation = _t(spark, sf_dir, "nation")
    cx = (F.col("n_nationkey") * 104729) % 350000 - 175000
    cy = (F.col("n_nationkey") * 7919) % 110000 - 55000
    s = 100 * (1 + F.col("n_nationkey") % 5)
    ring = F.array(
        *[
            F.struct(
                (cx + ox * s).cast("long").alias("x"),
                (cy + oy * s).cast("long").alias("y"),
            )
            for ox, oy in _POLY_OFFS
        ]
    )
    polys = nation.select(
        F.col("n_nationkey").cast("string").alias("polygon_id"),
        ring.alias("ring"),
    )
    return polygon_stats(polys)


_TFIDF_K = 3


def _tfidf_oracle_sql() -> str:
    """DuckDB replays tokenization (the shared regexp-split twin), tf,
    doc_freq, corpus N, the integer-div score and the rank window —
    nothing frozen, no floats anywhere."""
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok AS term FROM documents,
        UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    scored AS (
      SELECT doc_id, term, tf, doc_freq,
             (tf * 1000000 * nd) // doc_freq AS score
      FROM tf JOIN dfreq USING (term), n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rk
      FROM scored
    )
    SELECT doc_id, term, tf, doc_freq, score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_TFIDF_K}
    """


@_q("text_tfidf_topk", _tfidf_oracle_sql())
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document top-k characteristic terms (operators/text.tfidf_topk)
    — keyword extraction by an integer-exact tf-idf ordering: score =
    (tf * scale * N) div doc_freq, a quantized linear idf that never
    smears across engines; ties fall to term ASC. Explode -> (doc, term)
    map-side-combined groupBy -> vocab-sized doc_freq join (AQE
    broadcast) -> one rank window partitioned by document (plans as
    WindowGroupLimit: partial top-k before the exchange). Document text
    never shuffles."""
    from fairy_core_spark.operators.text import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=_TFIDF_K)


_RAST_ZOOM = 6

_SYNTH_SEGMENTS_SQL = """
      SELECT s_suppkey AS seg_id,
        ((s_suppkey * 7919) % 120000) / 1000.0 - 60.0 AS lat0,
        ((s_suppkey * 104729) % 360000) / 1000.0 - 180.0 AS lon0,
        ((s_suppkey * 104729) % 120000) / 1000.0 - 60.0 AS lat1,
        ((s_suppkey * 7919) % 360000) / 1000.0 - 180.0 AS lon1
      FROM supplier"""


def _rasterize_ctes(zoom: int, segs_cte: str = "segs") -> str:
    """CTE chain replaying webmercator.rasterize_segments over
    ``{segs_cte}(seg_id, lat0, lon0, lat1, lon1)``: both endpoint tile
    snaps (shared _wm_tile_sql twin), the DDA step count, the half-up
    FLOOR rounding in the IDENTICAL double expression shape, the
    degenerate branch, and the final distinct — nothing frozen. Ends
    with ``rast(seg_id, tile_x, tile_y)``. Shared by the rasterize and
    map-match oracles so a walk fix can't desync one copy."""
    step = "CAST(FLOOR((2.0 * {d} * s.t + n) / (2 * n)) AS BIGINT)"
    return f"""e0 AS ({_wm_tile_sql(zoom, f'(SELECT seg_id, lat0 AS lat, lon0 AS lon FROM {segs_cte})', 'seg_id')}),
    e1 AS ({_wm_tile_sql(zoom, f'(SELECT seg_id, lat1 AS lat, lon1 AS lon FROM {segs_cte})', 'seg_id')}),
    rbase AS (
      SELECT e0.seg_id, e0.x AS x0, e0.y AS y0,
             e1.x - e0.x AS rdx, e1.y - e0.y AS rdy,
             GREATEST(ABS(e1.x - e0.x), ABS(e1.y - e0.y)) AS n
      FROM e0 JOIN e1 USING (seg_id)
    ),
    walked AS (
      SELECT seg_id,
             x0 + {step.format(d='rdx')} AS tile_x,
             y0 + {step.format(d='rdy')} AS tile_y
      FROM rbase, LATERAL UNNEST(generate_series(0, n)) AS s(t)
      WHERE n > 0
      UNION ALL
      SELECT seg_id, x0 AS tile_x, y0 AS tile_y FROM rbase WHERE n = 0
    ),
    rast AS (SELECT DISTINCT seg_id, tile_x, tile_y FROM walked)"""


def _rasterize_oracle_sql() -> str:
    return f"""
    WITH segs AS ({_SYNTH_SEGMENTS_SQL.strip()}),
    {_rasterize_ctes(_RAST_ZOOM)}
    SELECT seg_id, tile_x, tile_y FROM rast
    """


@_q("spatial_rasterize_roads", _rasterize_oracle_sql())
def spatial_rasterize_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vector->raster for line features
    (spatial/webmercator.rasterize_segments) — each synthetic road
    segment becomes the DISTINCT set of slippy-map tiles its 8-connected
    DDA digital line passes through: the road-density / coverage-map
    primitive complementing point tiling and polygon rasterization.
    Endpoints derive from s_suppkey (both engines recompute them); the
    half-up minor-axis rounding is the same FLOOR-of-double expression
    on both sides, exact by construction (the quotient is never within
    2^-21 of an integer it doesn't hit). Pure codegen sequence/explode —
    no Python, no joins; work is bounded by tile-space length."""
    from fairy_core_spark.spatial.webmercator import rasterize_segments

    sup = _t(spark, sf_dir, "supplier")
    segs = sup.select(
        F.col("s_suppkey").alias("seg_id"),
        (((F.col("s_suppkey") * 7919) % 120000) / 1000.0 - 60.0).alias("lat0"),
        (((F.col("s_suppkey") * 104729) % 360000) / 1000.0 - 180.0).alias("lon0"),
        (((F.col("s_suppkey") * 104729) % 120000) / 1000.0 - 60.0).alias("lat1"),
        (((F.col("s_suppkey") * 7919) % 360000) / 1000.0 - 180.0).alias("lon1"),
    )
    return rasterize_segments(segs, zoom=_RAST_ZOOM)


_VT_ZOOM, _VT_EXTENT = 13, 4096


def _vector_tile_oracle_sql() -> str:
    """DuckDB replays the fraction/tile/pixel chain with the IDENTICAL
    IEEE expression shapes (shared with _wm_tile_sql's formulas) —
    nothing frozen, clamps included."""
    import math as _m

    n = 1 << _VT_ZOOM
    fx = f"(lon + 180.0) / 360.0 * {float(n)!r}"
    fy = (
        f"(1.0 - LN(TAN(phi) + 1.0 / COS(phi)) / PI()) / 2.0 * {float(n)!r}"
    )
    tile = "LEAST(GREATEST(CAST(FLOOR({f}) AS BIGINT), 0), {hi})"
    px = (
        "LEAST(GREATEST(CAST(FLOOR(({f} - {t}) * 4096.0) AS BIGINT), 0), 4095)"
    )
    tx = tile.format(f="xf", hi=n - 1)
    ty = tile.format(f="yf", hi=n - 1)
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    fr AS (
      SELECT point_id, {fx} AS xf, {fy} AS yf
      FROM (SELECT point_id, lon,
              LEAST(GREATEST(lat, -85.05112878), 85.05112878) * {_m.pi / 180.0!r} AS phi
            FROM pts)
    ),
    t AS (SELECT point_id, xf, yf, {tx} AS tile_x, {ty} AS tile_y FROM fr)
    SELECT point_id, tile_x, tile_y,
           {px.format(f='xf', t='tile_x')} AS px,
           {px.format(f='yf', t='tile_y')} AS py
    FROM t
    """


@_q("spatial_vector_tile_coords", _vector_tile_oracle_sql())
def spatial_vector_tile_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vector-tile-local pixel coordinates
    (spatial/webmercator.vector_tile_coords) — the MVT-style export
    step: each point gets its zoom-13 tile plus integer pixel offsets
    in the tile's 4096x4096 local grid. Tile columns are the identical
    expressions as the shared slippy formulas; the pixel offset is one
    deterministic FLOOR-of-double per axis with the same shape on both
    engines. Pure codegen projection — zero Python, zero shuffle (the
    downstream tile writer repartitions, not this operator)."""
    from fairy_core_spark.spatial.webmercator import vector_tile_coords

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    return vector_tile_coords(pts, zoom=_VT_ZOOM, extent=_VT_EXTENT).select(
        "point_id", "tile_x", "tile_y", "px", "py"
    )


_SHARD_TARGET = 4096


def _shard_plan_oracle_sql() -> str:
    """DuckDB replays the md5-60 order, the inclusive running sum, and
    the integer-div shard assignment — nothing frozen."""
    hv = "('0x' || substring(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 15))::BIGINT"
    return f"""
    WITH sized AS (
      SELECT doc_id, source, CAST(LENGTH(text) AS BIGINT) AS n_bytes,
             {hv} AS hv
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_bytes,
             SUM(n_bytes) OVER (PARTITION BY source ORDER BY hv ASC, doc_id ASC
                                ROWS UNBOUNDED PRECEDING) AS cum_bytes
      FROM sized
    )
    SELECT doc_id, source, n_bytes, CAST(cum_bytes AS BIGINT) AS cum_bytes,
           CAST((cum_bytes - n_bytes) // {_SHARD_TARGET} AS BIGINT) AS shard_id
    FROM cum
    """


@_q("corpus_shard_plan", _shard_plan_oracle_sql())
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style export shard planning
    (operators/sampling.shard_plan) — every document deterministically
    assigned to a ~target-byte output shard before any data moves:
    content-stable md5 order inside each source, inclusive running-sum
    window, shard = cum_bytes_before div target. Exact integers
    end-to-end; ONE window shuffle keyed by the group (the quota-
    sampling shape — parallelism = source count, which is how real
    exports are laid out)."""
    from fairy_core_spark.operators.sampling import shard_plan

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_bytes")
    )
    return shard_plan(docs, target_bytes=_SHARD_TARGET)


def _geo_lang_mix_oracle_sql() -> str:
    """DuckDB replays the whole cross-modal audit: synthetic geotag
    (shared millidegree hash on doc_id), rectangle containment, the
    text_langid stopword-argmax CASE, exact floor-permille shares and
    the (n DESC, lang ASC) dominance window — nothing frozen."""
    return f"""
    WITH pts AS (
      SELECT doc_id, text,
        ((doc_id * 7919) % 120000) / 1000.0 - 60.0 AS lat,
        ((doc_id * 104729) % 360000) / 1000.0 - 180.0 AS lon
      FROM documents
    ), inpoly AS (
      SELECT polygon_id, text
      FROM pts JOIN {_rects_values_sql()}
        ON lat > lat0 AND lat < lat1 AND lon > lon0 AND lon < lon1
    ), scored AS (
      SELECT polygon_id,
        len(list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                        t -> t IN ('der','die','und','das','ist'))) AS h_de,
        len(list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                        t -> t IN ('the','and','of','to','a'))) AS h_en,
        len(list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                        t -> t IN ('el','la','de','que','y'))) AS h_es,
        len(list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                        t -> t IN ('le','la','et','les','des'))) AS h_fr
      FROM inpoly
    ), langed AS (
      SELECT polygon_id,
        CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
             WHEN h_es >= h_fr THEN 'es'
             ELSE 'fr' END AS lang
      FROM scored
    ), counts AS (
      SELECT polygon_id, lang, COUNT(*) AS n FROM langed GROUP BY 1, 2
    )
    SELECT polygon_id, lang, n,
      CAST(FLOOR(n * 1000.0 / SUM(n) OVER (PARTITION BY polygon_id)) AS BIGINT)
        AS share_permille,
      CASE WHEN ROW_NUMBER() OVER (
             PARTITION BY polygon_id ORDER BY n DESC, lang ASC) = 1
           THEN 1 ELSE 0 END AS is_dominant
    FROM counts
    """


def _term_affinity_oracle_sql() -> str:
    """DuckDB replays geotags, tiles, the shared tokenization twin
    (lowercased), all three totals, the integer-div lift and the rank
    window — nothing frozen, no floats anywhere."""
    zoom = 6
    return f"""
    WITH pts AS (
      SELECT text,
        ((doc_id * 7919) % 120000) / 1000.0 - 60.0 AS lat,
        ((doc_id * 104729) % 360000) / 1000.0 - 180.0 AS lon
      FROM documents
    ), t AS ({_wm_tile_sql(zoom, 'pts', 'text')}),
    toks AS (
      SELECT x, y, tk.tok AS term
      FROM t, UNNEST(regexp_split_to_array(lower(TRIM(text)), '\\s+')) AS tk(tok)
      WHERE tk.tok <> ''
    ),
    tt AS (
      SELECT x, y, term, CAST(COUNT(*) AS BIGINT) AS n_tt
      FROM toks GROUP BY 1, 2, 3
    ),
    tile_tot AS (SELECT x, y, CAST(SUM(n_tt) AS BIGINT) AS n_tile FROM tt GROUP BY 1, 2),
    term_tot AS (SELECT term, CAST(SUM(n_tt) AS BIGINT) AS n_term FROM tt GROUP BY 1),
    n AS (SELECT CAST(SUM(n_tt) AS BIGINT) AS _n FROM tt),
    scored AS (
      SELECT tt.x, tt.y, tt.term, tt.n_tt,
             (tt.n_tt * _n * 1000) // (n_tile * n_term) AS lift_scaled
      FROM tt JOIN tile_tot USING (x, y) JOIN term_tot USING (term), n
      WHERE tt.n_tt >= 2
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY x, y ORDER BY lift_scaled DESC, term ASC) AS rk
      FROM scored
    )
    SELECT x, y, term, n_tt, lift_scaled, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """


@_q("geo_term_affinity", _term_affinity_oracle_sql())
def geo_term_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regional vocabulary miner (operators/geo_text.tile_term_affinity):
    top-3 regionally-characteristic caption terms per zoom-6 tile by the
    exact-integer scaled lift (n_tt * N * 1000) div (n_tile * n_term) —
    quantized P(term|tile)/P(term), ties to term ASC. One (x, y, term)
    combined groupBy; tile/term totals are small aggregates of that
    frame; the rank window plans as WindowGroupLimit. Caption text never
    shuffles. Fixture: shared millidegree geotag hash on doc_id."""
    from fairy_core_spark.operators.geo_text import tile_term_affinity

    docs = _t(spark, sf_dir, "documents").select(
        "text",
        (((F.col("doc_id") * 7919) % 120000) / 1000.0 - 60.0).alias("lat"),
        (((F.col("doc_id") * 104729) % 360000) / 1000.0 - 180.0).alias("lon"),
    )
    return tile_term_affinity(docs, zoom=6, k=3, min_count=2, scale=1000)


def _visit_cadence_oracle_sql() -> str:
    """DuckDB replays tiles, epoch_us, the lag-gap chain, the low-median
    rank pick and the min/max windows — nothing frozen. Gap multiset =
    consecutive differences of the sorted per-tile time sequence, so
    equal-timestamp order cannot change any output value."""
    zoom = 6
    return f"""
    WITH pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    t AS ({_wm_tile_sql(zoom, 'pos', 'ts')}),
    s AS (SELECT x, y, epoch_us(ts) AS us FROM t),
    g AS (
      SELECT x, y,
        us - LAG(us) OVER (PARTITION BY x, y ORDER BY us) AS gap,
        COUNT(*) OVER (PARTITION BY x, y) AS n_visits
      FROM s
    ), f AS (
      SELECT x, y, n_visits, gap,
        ROW_NUMBER() OVER (PARTITION BY x, y ORDER BY gap) AS rn,
        COUNT(*) OVER (PARTITION BY x, y) AS n_gaps,
        MIN(gap) OVER (PARTITION BY x, y) AS min_gap_us,
        MAX(gap) OVER (PARTITION BY x, y) AS max_gap_us
      FROM g WHERE gap IS NOT NULL
    )
    SELECT x, y, CAST(n_visits AS BIGINT) AS n_visits,
      CAST(n_gaps AS BIGINT) AS n_gaps,
      CAST(gap AS BIGINT) AS median_gap_us,
      CAST(min_gap_us AS BIGINT) AS min_gap_us,
      CAST(max_gap_us AS BIGINT) AS max_gap_us
    FROM f WHERE rn = CAST(FLOOR((n_gaps + 1) / 2.0) AS BIGINT)
    """


@_q("traj_tile_cadence", _visit_cadence_oracle_sql())
def traj_tile_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-tile visit cadence (spatial/trajectory.tile_visit_cadence):
    exact-microsecond inter-arrival gaps per zoom-6 tile with LOW-median
    / min / max — the freshness signal behind re-crawl scheduling and
    collection-gap audits. Gaps are differences of the SORTED per-tile
    time sequence (tie-order-proof); ONE (x, y) exchange reused by both
    window passes. Fixture: shared synthetic event geotags."""
    from fairy_core_spark.spatial.trajectory import tile_visit_cadence

    pos = _synth_event_points(spark, sf_dir)
    return tile_visit_cadence(pos, zoom=6)


def _colocated_near_oracle_sql() -> str:
    """DuckDB replays the synthetic phash (pair hash + 1/2/3-bit flip),
    shared geotags per pair anchor, zoom-6 tiles, the 4x16 band
    self-join WITH tile keys, and the popcount refine — nothing
    frozen."""
    zoom = 6
    ph = (
        "(((doc_id >> 1) * 2654435761) % 281474976710656) * 8 + "
        "CASE WHEN doc_id % 2 = 1 THEN "
        "CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 7 END ELSE 0 END"
    )
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT image_id, phash, x, y, {b} AS band,"
        f" (phash >> {b * 16}) & 65535 AS val FROM t"
        for b in range(4)
    )
    return f"""
    WITH imgs AS (
      SELECT doc_id AS image_id, {ph} AS phash,
        ((((doc_id >> 1) % 250) * 7919) % 120000) / 1000.0 - 60.0 AS lat,
        ((((doc_id >> 1) % 250) * 104729) % 360000) / 1000.0 - 180.0 AS lon
      FROM documents
    ), t AS ({_wm_tile_sql(zoom, 'imgs', 'image_id, phash')}),
    banded AS (
      {bands}
    )
    SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
           bit_count(xor(a.phash, b.phash)) AS hamming, a.x, a.y
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.val = b.val
     AND a.x = b.x AND a.y = b.y AND a.image_id < b.image_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """


@_q("image_colocated_near_dups", _colocated_near_oracle_sql())
def image_colocated_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """colocated visual near-duplicates
    (operators/dedup.phash_near_dups with tile bucket_cols): phash
    Hamming <= 3 pairs restricted to the SAME zoom-6 tile — the "same
    scene re-uploaded nearby" miner; tile keys ride the band buckets,
    so buckets get TIGHTER (less skew), not an extra shuffle. Fixture:
    synthetic phash pairs (shared 48-bit pair hash + a 1/2/3-bit flip
    on the odd member) with shared per-pair geotags — every value
    recomputed by both engines, none frozen."""
    from fairy_core_spark.operators.dedup import phash_near_dups
    from fairy_core_spark.spatial.webmercator import tile_x_col, tile_y_col

    docs = _t(spark, sf_dir, "documents")
    anchor = F.shiftright(F.col("doc_id"), 1)
    delta = F.when(
        F.col("doc_id") % 2 == 1,
        F.when(F.col("doc_id") % 3 == 0, 1)
        .when(F.col("doc_id") % 3 == 1, 3)
        .otherwise(7),
    ).otherwise(0)
    lat = (((anchor % 250) * 7919) % 120000) / 1000.0 - 60.0
    lon = (((anchor % 250) * 104729) % 360000) / 1000.0 - 180.0
    imgs = docs.select(
        F.col("doc_id").alias("image_id"),
        ((anchor * F.lit(2654435761)) % F.lit(281474976710656) * 8 + delta).alias(
            "phash"
        ),
        tile_x_col(lon, 6).alias("x"),
        tile_y_col(lat, 6).alias("y"),
    )
    got = phash_near_dups(imgs, id_col="image_id", bucket_cols=("x", "y"))
    return got.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming"), "x", "y"
    )


def _source_conc_oracle_sql() -> str:
    """DuckDB replays synthetic geotags, the shared zoom-6 tile
    formulas, both aggregate levels and the exact permille floor —
    HUGEINT sums cast back to BIGINT; nothing frozen."""
    zoom = 6
    return f"""
    WITH pts AS (
      SELECT source,
        ((doc_id * 7919) % 120000) / 1000.0 - 60.0 AS lat,
        ((doc_id * 104729) % 360000) / 1000.0 - 180.0 AS lon
      FROM documents
    ), t AS ({_wm_tile_sql(zoom, 'pts', 'source')}),
    per AS (SELECT source, x, y, COUNT(*) AS n FROM t GROUP BY 1, 2, 3)
    SELECT source,
      CAST(SUM(n) AS BIGINT) AS n_points,
      CAST(COUNT(*) AS BIGINT) AS n_tiles,
      CAST(SUM(n * n) AS BIGINT) AS hhi_num,
      CAST(MAX(n) AS BIGINT) AS max_tile_n,
      CAST(FLOOR(MAX(n) * 1000.0 / SUM(n)) AS BIGINT) AS max_share_permille
    FROM per GROUP BY 1
    """


@_q("geo_source_concentration", _source_conc_oracle_sql())
def geo_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-source geographic-concentration audit
    (spatial/ops.source_tile_concentration): occupied zoom-6 tiles,
    exact Herfindahl numerator sum(n_tile^2) and hottest-tile permille
    share per source — the geo-balance signal behind tile-aware source
    quotas (a max_share_permille ~ 1000 source is a single-city crawl).
    All int64; two combined aggregates, no Python, no joins. Fixture:
    shared millidegree geotag hash on doc_id over documents.source."""
    from fairy_core_spark.spatial.ops import source_tile_concentration

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        (((F.col("doc_id") * 7919) % 120000) / 1000.0 - 60.0).alias("lat"),
        (((F.col("doc_id") * 104729) % 360000) / 1000.0 - 180.0).alias("lon"),
    )
    return source_tile_concentration(docs, zoom=6)


def _flow_sectors_oracle_sql() -> str:
    """DuckDB replays millidegree quantization, the per-user LEAD,
    the exact octant CASE, the shared zoom-6 tile formulas and the
    int64 net-displacement sums (HUGEINT cast back) — nothing frozen."""
    zoom = 6
    return f"""
    WITH pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    m AS (
      SELECT user_id, ts, event_id, lat, lon,
        CAST(ROUND(lat * 1000, 0) AS BIGINT) AS mlat,
        CAST(ROUND(lon * 1000, 0) AS BIGINT) AS mlon
      FROM pos
    ), seq AS (
      SELECT lat, lon, mlat, mlon,
        LEAD(mlat) OVER w AS mlat2, LEAD(mlon) OVER w AS mlon2
      FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), mv AS (
      SELECT lat, lon, (mlon2 - mlon) AS dx, (mlat2 - mlat) AS dy
      FROM seq
      WHERE mlat2 IS NOT NULL AND NOT (mlat2 = mlat AND mlon2 = mlon)
    ), t AS ({_wm_tile_sql(zoom, 'mv', 'dx, dy')})
    SELECT x, y,
      CASE WHEN ABS(dx) > ABS(dy) THEN CASE WHEN dx > 0 THEN 'E' ELSE 'W' END
           WHEN ABS(dy) > ABS(dx) THEN CASE WHEN dy > 0 THEN 'N' ELSE 'S' END
           ELSE CASE WHEN dx > 0 AND dy > 0 THEN 'NE'
                     WHEN dx > 0 THEN 'SE'
                     WHEN dy > 0 THEN 'NW' ELSE 'SW' END END AS sector,
      CAST(COUNT(*) AS BIGINT) AS n_moves,
      CAST(SUM(dx) AS BIGINT) AS dx_sum,
      CAST(SUM(dy) AS BIGINT) AS dy_sum
    FROM t GROUP BY 1, 2, 3
    """


@_q("traj_flow_sectors", _flow_sectors_oracle_sql())
def traj_flow_sectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-tile movement-flow direction histogram
    (spatial/trajectory.flow_sector_rollup): consecutive per-user hops
    quantized to integer millidegrees, bucketed into the exact-integer
    8-sector compass octants (axis/diagonal boundaries — no atan2, no
    irrational thresholds), rolled up with net displacement vectors on
    the START point's zoom-6 Web-Mercator tile. The flow-map staple
    over movement streams. ONE entity window + ONE combined (x, y,
    sector) groupBy; everything between is codegen integer math."""
    from fairy_core_spark.spatial.trajectory import flow_sector_rollup

    pos = _synth_event_points(spark, sf_dir)
    return flow_sector_rollup(pos, zoom=6, tiebreak_col="event_id")


@_q("geo_caption_language_mix", _geo_lang_mix_oracle_sql())
def geo_caption_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross-modal geo x language audit
    (operators/geo_text.region_language_mix): geotagged captions PIP-
    assigned to regions via the zero-shuffle broadcast annotation, then
    stopword-argmax language id, per-(region, language) counts, exact
    floor-permille shares and a deterministic plurality flag — the
    region-level language census a geo-balanced multilingual sampler
    keys on. One tiny (region, lang) shuffle; windows run over the
    aggregated frame, never the corpus. Fixture: shared millidegree
    synthetic geotags on doc_id + the _RECTS fence set; every number is
    recomputed by both engines."""
    from fairy_core_spark.operators.geo_text import region_language_mix

    docs = _t(spark, sf_dir, "documents").select(
        "text",
        (((F.col("doc_id") * 7919) % 120000) / 1000.0 - 60.0).alias("lat"),
        (((F.col("doc_id") * 104729) % 360000) / 1000.0 - 180.0).alias("lon"),
    )
    return region_language_mix(docs, _rects_pdf())


# ---------------- image pixel stats / geo best-image (round 5 wave) --


def _hexb(col: str, pos: int) -> str:
    """SQL byte value from two hex chars of ``col`` at 1-based ``pos``."""
    h = "0123456789abcdef"
    return (
        f"((strpos('{h}', substr({col}, {pos}, 1)) - 1) * 16"
        f" + strpos('{h}', substr({col}, {pos + 1}, 1)) - 1)"
    )


_LOWINFO_N = 3000  # shares the memoized 3000-image frame with the phash entries


def _image_base_ctes(n: int) -> str:
    """Shared datagen-replay base: ids, the every-1000th pixel-dup rule,
    sizes/formats from the key formulas, sha256 channel offsets, and the
    0..126 series. Ends with ``offs`` + ``ser``; the stats and channel
    builders both stack on this so the spec lives in ONE place."""
    return f"""ids AS (SELECT CAST(g.i AS BIGINT) AS i FROM generate_series(0, {n - 1}) g(i)),
    meta AS (
      SELECT i, CASE WHEN i % 1000 = 999 AND i > 0 THEN i - 1 ELSE i END AS src_i
      FROM ids
    ),
    m2 AS (
      SELECT i, printf('img%010d', i) AS image_id,
             printf('img%010d', src_i) AS src_id,
             [32,48,64][CAST(src_i % 3 AS INT) + 1] AS w,
             [32,48,64][CAST((src_i // 3) % 3 AS INT) + 1] AS h,
             ['ppm','png','qnt'][CAST(src_i % 3 AS INT) + 1] AS fmt
      FROM meta
    ),
    offs AS (
      SELECT mh.*, {_hexb('hx', 1)} AS ox, {_hexb('hx', 3)} AS oy,
             {_hexb('hx', 5)} AS oc
      FROM (SELECT m2.*, sha256(src_id) AS hx FROM m2) mh
    ),
    ser AS (SELECT CAST(g.u AS BIGINT) AS u FROM generate_series(0, 126) g(u))"""


def _image_stats_ctes(n: int) -> str:
    """CTE chain replaying datagen.make_pixels + every codec's pixel
    semantics (ppm/png lossless; qnt = 6-bit bin centers (v//4)*4+2)
    closed-form: the gradient is SEPARABLE (r varies only with x, g only
    with y, b only with the anti-diagonal s=x+y whose multiplicity is
    LEAST(s, w-1, h-1, w+h-2-s)+1), so each w*h*3 image collapses to
    O(w+h) aggregation rows and DuckDB recomputes exact integer moments
    without materializing pixels. sha256 offsets, sizes, formats and the
    every-1000th-row pixel-duplicate rule all come from the datagen spec
    — nothing frozen. Ends with
    ``gstats(image_id, n_px, px_sum, px_sqsum, px_min, px_max)``."""
    return f"""{_image_base_ctes(n)},
    chan AS (
      SELECT i, fmt, (u * 255 // (w - 1) + ox) % 256 AS v, h AS cnt
      FROM offs, ser WHERE u < w
      UNION ALL
      SELECT i, fmt, (u * 255 // (h - 1) + oy) % 256, w
      FROM offs, ser WHERE u < h
      UNION ALL
      SELECT i, fmt, (u * 255 // (w + h - 2) + oc) % 256,
             LEAST(u, w - 1, h - 1, w + h - 2 - u) + 1
      FROM offs, ser WHERE u <= w + h - 2
    ),
    vals AS (
      SELECT i, CASE WHEN fmt = 'qnt' THEN (v // 4) * 4 + 2 ELSE v END AS v, cnt
      FROM chan
    ),
    gstats AS (
      SELECT m2.image_id, CAST(SUM(cnt) AS BIGINT) AS n_px,
             CAST(SUM(v * cnt) AS BIGINT) AS px_sum,
             CAST(SUM(v * v * cnt) AS BIGINT) AS px_sqsum,
             CAST(MIN(v) AS INT) AS px_min, CAST(MAX(v) AS INT) AS px_max
      FROM vals JOIN m2 USING (i) GROUP BY m2.image_id
    )"""


def _lowinfo_oracle_sql() -> str:
    """Gradient stats via the closed-form replay CTEs; the 16 degenerate
    specials (datagen.low_info_images_df) via their closed-form moments;
    the flag thresholds genuinely recomputed (double arithmetic is safe:
    every variance is either ~1/3 or in the thousands, never near the 25
    boundary, and near_solid is pure integer)."""
    return f"""
    WITH {_image_stats_ctes(_LOWINFO_N)},
    sol AS (SELECT printf('solid%04d', s) AS image_id,
                   CAST((s * 17) % 256 AS BIGINT) AS v
            FROM generate_series(0, 11) t(s)),
    spk AS (SELECT printf('spike%04d', s) AS image_id,
                   CAST((s * 31) % 200 AS BIGINT) AS v
            FROM generate_series(0, 3) t(s)),
    sstats AS (
      SELECT image_id, CAST(768 AS BIGINT) AS n_px, 768 * v AS px_sum,
             768 * v * v AS px_sqsum, CAST(v AS INT) AS px_min,
             CAST(v AS INT) AS px_max
      FROM sol
      UNION ALL
      SELECT image_id, 768, 768 * v + 16, 768 * v * v + 32 * v + 256,
             CAST(v AS INT), CAST(v + 16 AS INT)
      FROM spk
    ),
    allst AS (SELECT * FROM gstats UNION ALL SELECT * FROM sstats)
    SELECT image_id, n_px, px_sum, px_sqsum, px_min, px_max,
           COALESCE(CASE
             WHEN px_max - px_min <= 8 THEN 'near_solid'
             WHEN CAST(px_sqsum AS DOUBLE) / n_px
                  - (CAST(px_sum AS DOUBLE) / n_px) * (CAST(px_sum AS DOUBLE) / n_px)
                  < 25.0 THEN 'low_variance'
           END, 'ok') AS info_flag
    FROM allst
    """


def _image_stats_df(spark: SparkSession, n: int) -> DataFrame:
    from fairy_core_spark.operators.images import image_pixel_stats

    return _memo_df(
        spark, ("image_stats", n), lambda: image_pixel_stats(_images_cached(spark, n))
    )


@_q("image_low_information", _lowinfo_oracle_sql())
def image_low_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """low-information image filter (operators/images.image_pixel_stats +
    flag_low_information) — the stage-1 quality gate that drops
    near-solid / near-constant frames before they pollute dedup or
    training batches: integer-exact channel moments in ONE Arrow decode
    pass over the shared 3000-image frame (+16 planted degenerate
    specials so both flag branches genuinely fire), then the flag as a
    pure Column predicate. Scale shape: decode is the mapInPandas pass
    the validate stage already pays, moments are 5 long columns per
    image, the flag is a projection — no shuffle at all beyond the scan;
    at 10^12 images this is scan-bound, exactly what a pixel-stats stage
    should be. The oracle replays decode+moments closed-form from the
    datagen spec (separable gradient), so the whole decode->stats->flag
    chain is cross-engine-verified with nothing frozen."""
    from fairy_core_spark.datagen.images import low_info_images_df
    from fairy_core_spark.operators.images import (
        flag_low_information,
        image_pixel_stats,
    )

    stats = _image_stats_df(spark, _LOWINFO_N).unionByName(
        image_pixel_stats(low_info_images_df(spark))
    )
    return flag_low_information(stats).select(
        "image_id", "n_px", "px_sum", "px_sqsum", "px_min", "px_max",
        F.coalesce("info_flag", F.lit("ok")).alias("info_flag"),
    )


_BEST_ZOOM = 4


def _image_geo_ctes(n: int) -> str:
    """CTE replay of datagen.geo_for over img ids 0..n-1: four uniform
    doubles from sha256(image_id) byte windows (exact: 32-bit ints are
    double-representable, / 2^32 is a power-of-two divide), the 10%
    hotspot remap (u3 < 0.1, centre int(u4*3) % 3) and the same affine
    lat/lon expressions. Ends with ``geo(image_id, lat, lon)``."""
    us = []
    for k in range(4):
        b = [f"{_hexb('hx', 8 * k + 1 + 2 * j)}" for j in range(4)]
        us.append(
            f"CAST({b[0]} * 16777216 + {b[1]} * 65536 + {b[2]} * 256 + {b[3]}"
            f" AS DOUBLE) / 4294967296.0 AS u{k + 1}"
        )
    ucols = ", ".join(us)
    return f"""gids AS (
      SELECT printf('img%010d', CAST(g.i AS BIGINT)) AS image_id
      FROM generate_series(0, {n - 1}) g(i)
    ),
    gu AS (
      SELECT image_id, {ucols}
      FROM (SELECT image_id, sha256(image_id) AS hx FROM gids) t
    ),
    hot AS (
      SELECT gu.*, hs.clat, hs.clon
      FROM gu LEFT JOIN (VALUES (0, {40.71!r}, {-74.01!r}), (1, {51.51!r}, {-0.13!r}),
                                (2, {35.68!r}, {139.69!r})) hs(hi, clat, clon)
        ON hs.hi = CAST(FLOOR(u4 * 3) AS INT) % 3 AND u3 < {0.10!r}
    ),
    geo AS (
      SELECT image_id,
             CASE WHEN u3 < {0.10!r} THEN clat + (u1 - 0.5) * {0.2!r}
                  ELSE -60.0 + 120.0 * u1 END AS lat,
             CASE WHEN u3 < {0.10!r} THEN clon + (u2 - 0.5) * {0.2!r}
                  ELSE -180.0 + 360.0 * u2 END AS lon
      FROM hot
    )"""


def _best_image_oracle_sql() -> str:
    """Everything recomputed: pixel moments (closed-form separable-
    gradient replay), geo positions (sha256 replay of geo_for), the tile
    formula (shared _wm_tile_sql twin) and the per-tile pick window."""
    return f"""
    WITH {_image_stats_ctes(_LOWINFO_N)},
    {_image_geo_ctes(_LOWINFO_N)},
    t AS ({_wm_tile_sql(_BEST_ZOOM, 'geo', 'image_id')}),
    j AS (
      SELECT t.image_id, t.x, t.y, g.px_sqsum
      FROM t JOIN gstats g USING (image_id)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY x, y
                                   ORDER BY px_sqsum DESC, image_id) AS rk,
             COUNT(*) OVER (PARTITION BY x, y) AS n_images
      FROM j
    )
    SELECT x AS tile_x, y AS tile_y, CAST(n_images AS BIGINT) AS n_images,
           image_id AS best_image_id, px_sqsum AS best_px_sqsum
    FROM r WHERE rk = 1
    """


@_q("spatial_tile_best_image", _best_image_oracle_sql())
def spatial_tile_best_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-tile representative image (tile-server thumbnail pick / "best
    exemplar per map cell" — the A+B staple joining pixel quality to geo
    position): each zoom-4 web-mercator tile keeps its highest-contrast
    image (px_sqsum DESC — the exact-integer proxy the low-information
    filter already computes — tie-broken by image_id) plus the tile's
    image count. Pixel moments ride the SAME memoized decode pass as
    image_low_information (one Arrow scan feeds both entries); the geo
    join is an id-equi join (AQE broadcasts the smaller side); the pick
    is ONE window exchange on the tile key, which WindowGroupLimit turns
    into a partial top-1 before the shuffle. At 10^12 images: decode
    scan + one broadcast join + one top-1-combined exchange — no
    all-pairs, no skew cliff (hot tiles partial-aggregate map-side)."""
    from fairy_core_spark.datagen.images import geo_df
    from fairy_core_spark.spatial.webmercator import with_tiles

    stats = _image_stats_df(spark, _LOWINFO_N)
    geo = _memo_df(
        spark, ("images_geo", _LOWINFO_N), lambda: geo_df(spark, _LOWINFO_N)
    )
    tiled = with_tiles(geo, zoom=_BEST_ZOOM, quadkey=False)
    j = tiled.join(stats, "image_id")
    byt = Window.partitionBy("tile_x", "tile_y")
    r = (
        j.withColumn(
            "rk",
            F.row_number().over(
                byt.orderBy(F.col("px_sqsum").desc(), F.col("image_id"))
            ),
        )
        .withColumn("n_images", F.count(F.lit(1)).over(byt))
    )
    return r.where(F.col("rk") == 1).select(
        "tile_x", "tile_y",
        F.col("n_images").cast("long").alias("n_images"),
        F.col("image_id").alias("best_image_id"),
        F.col("px_sqsum").alias("best_px_sqsum"),
    )


_SNAP_ZOOM = 6  # same tile index the roads-rasterize entry uses


def _map_match_oracle_sql(progress: bool = False) -> str:
    """Full replay, nothing frozen: synthetic roads + exact integer
    millidegree endpoints from s_suppkey/c_custkey, the DDA rasterize
    (shared _rasterize_ctes twin), the 3x3 dilation with grid clamp,
    point tiling (shared _wm_tile_sql twin), the exact HUGEINT
    point-to-segment fraction and its floor-quantized dist_q, and the
    min-per-point pick by (dist_q, seg_id)."""
    hi = (1 << _SNAP_ZOOM) - 1
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
    WITH segs AS ({_SYNTH_SEGMENTS_SQL.strip()}),
    {_rasterize_ctes(_SNAP_ZOOM)},
    segi AS (
      SELECT s_suppkey AS seg_id,
             CAST((s_suppkey * 104729) % 360000 - 180000 AS BIGINT) AS ax,
             CAST((s_suppkey * 7919) % 120000 - 60000 AS BIGINT) AS ay,
             CAST((s_suppkey * 7919) % 360000 - 180000 AS BIGINT) AS bx,
             CAST((s_suppkey * 104729) % 120000 - 60000 AS BIGINT) AS by
      FROM supplier
    ),
    dil AS (
      SELECT DISTINCT seg_id, tile_x + dx AS tile_x, tile_y + dy AS tile_y
      FROM rast CROSS JOIN (VALUES {offs}) o(dx, dy)
      WHERE tile_x + dx BETWEEN 0 AND {hi} AND tile_y + dy BETWEEN 0 AND {hi}
    ),
    pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    pt AS ({_wm_tile_sql(_SNAP_ZOOM, 'pts', 'point_id')}),
    pti AS (
      SELECT point_id, x AS tile_x, y AS tile_y,
             CAST((point_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((point_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM pt
    ),
    cand AS (
      SELECT p.point_id, d.seg_id, p.px, p.py, s.ax, s.ay, s.bx, s.by
      FROM pti p JOIN dil d USING (tile_x, tile_y) JOIN segi s USING (seg_id)
    ),
    sc AS (
      SELECT point_id, seg_id,
             (bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS l2,
             (px - ax) * (bx - ax) + (py - ay) * (by - ay) AS tnum,
             (px - ax) * (px - ax) + (py - ay) * (py - ay) AS w2,
             (px - bx) * (px - bx) + (py - by) * (py - by) AS v2
      FROM cand
    ),
    qd AS (
      SELECT point_id, seg_id,
        CAST((CASE
            WHEN l2 = 0 THEN CAST(w2 AS HUGEINT)
            WHEN tnum <= 0 THEN CAST(w2 AS HUGEINT) * l2
            WHEN tnum >= l2 THEN CAST(v2 AS HUGEINT) * l2
            ELSE CAST(w2 AS HUGEINT) * l2 - CAST(tnum AS HUGEINT) * tnum
          END * {1 << 20}) // (CASE WHEN l2 = 0 THEN 1 ELSE l2 END) AS BIGINT)
          AS dist_q,
        CAST((GREATEST(0, LEAST(tnum, l2)) * 1000)
             // (CASE WHEN l2 = 0 THEN 1 ELSE l2 END) AS BIGINT)
          AS progress_permille
      FROM sc
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY point_id
                                   ORDER BY dist_q, seg_id) AS rk
      FROM qd
    )
    SELECT point_id, seg_id, dist_q{', progress_permille' if progress else ''}
    FROM r WHERE rk = 1
    """


@_q("traj_map_match", _map_match_oracle_sql())
def traj_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map matching (spatial/ops.snap_points_to_segments): snap each GPS
    point to its nearest road segment within one tile-width — the
    GPS->road primitive behind trajectory cleaning and "which street is
    this photo on". Roads are the rasterize entry's synthetic segments;
    points the shared customer millidegree synth — both carry EXACT
    integer millidegree coordinates derived from the keys, so the snap
    winner is decided in pure integer arithmetic (the clamped-projection
    fraction quantized once by DECIMAL floor-division — no IEEE min can
    flap a winner across engines). Candidates come from the tile index:
    the segment tile set (8-connected DDA) dilated one ring, broadcast,
    equi-joined on the point's tile — bounded radius by contract, join
    fan-out bounded by road density per tile. Per-point top-1 is one
    window exchange (WindowGroupLimit partials map-side)."""
    from fairy_core_spark.spatial.ops import snap_points_to_segments

    sup = _t(spark, sf_dir, "supplier")
    segs = sup.select(
        F.col("s_suppkey").alias("seg_id"),
        (((F.col("s_suppkey") * 7919) % 120000) / 1000.0 - 60.0).alias("lat0"),
        (((F.col("s_suppkey") * 104729) % 360000) / 1000.0 - 180.0).alias("lon0"),
        (((F.col("s_suppkey") * 104729) % 120000) / 1000.0 - 60.0).alias("lat1"),
        (((F.col("s_suppkey") * 7919) % 360000) / 1000.0 - 180.0).alias("lon1"),
        ((F.col("s_suppkey") * 104729) % 360000 - 180000).cast("long").alias("ax"),
        ((F.col("s_suppkey") * 7919) % 120000 - 60000).cast("long").alias("ay"),
        ((F.col("s_suppkey") * 7919) % 360000 - 180000).cast("long").alias("bx"),
        ((F.col("s_suppkey") * 104729) % 120000 - 60000).cast("long").alias("by"),
    )
    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey").select(
        "point_id",
        "lat",
        "lon",
        ((F.col("point_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("point_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    return snap_points_to_segments(pts, segs, _SNAP_ZOOM)


_RESAMPLE_G = 21_600_000_000  # 6 h in epoch-micros
_RESAMPLE_MAX_STEPS = 8


def _resample_oracle_sql() -> str:
    """Full replay: integer millidegree positions from event_id, epoch_us
    (the unix_micros twin), the LEAD pair chain with the identical
    (t, event_id) ordering, the gap guard, the half-open grid emission
    and the int64 floor-division interpolation — BOTH engines' native
    integer division truncates toward zero, so both apply the identical
    positive-mod adjustment that makes the numerator exactly divisible
    (truncation == floor by construction)."""
    g, mx = _RESAMPLE_G, _RESAMPLE_MAX_STEPS
    return f"""
    WITH pos AS (
      SELECT user_id, ts, event_id,
             CAST((event_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((event_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM events
    ),
    s AS (SELECT user_id, epoch_us(ts) AS t, event_id, px, py FROM pos),
    p AS (
      SELECT user_id, t, px AS x0, py AS y0,
             LEAD(t) OVER w AS t1, LEAD(px) OVER w AS x1, LEAD(py) OVER w AS y1
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    q AS (SELECT * FROM p WHERE t1 > t AND t1 - t <= {g * mx}),
    e AS (
      SELECT user_id, t, t1, x0, y0, x1, y1, u.gt
      FROM q, LATERAL UNNEST(generate_series((t // {g} + 1) * {g},
                                             (t1 // {g}) * {g}, {g})) AS u(gt)
      WHERE (t // {g} + 1) * {g} <= (t1 // {g}) * {g}
    ),
    n2 AS (
      SELECT user_id, gt, t1 - t AS den,
             (x1 - x0) * (gt - t) AS nx, (y1 - y0) * (gt - t) AS ny,
             x0, y0
      FROM e
    )
    SELECT user_id, gt AS grid_us,
           x0 + (nx - ((nx % den) + den) % den) // den AS px,
           y0 + (ny - ((ny % den) + den) % den) // den AS py
    FROM n2
    """


@_q("traj_resample_grid", _resample_oracle_sql())
def traj_resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-grid track resampling (spatial/trajectory.resample_tracks):
    every user track re-expressed at global 6-hour grid instants by
    integer-exact linear interpolation between consecutive pings — the
    time-normalization upstream of speed profiles and co-movement
    mining. Gaps longer than 8 grid steps emit nothing (interpolating
    across days of silence is fiction; the guard also caps the per-pair
    explode). ONE window exchange on user_id, then codegen
    sequence/explode + exact int64 floor-division — no joins, no
    Python; output is bounded at 8x ping count by construction."""
    from fairy_core_spark.spatial.trajectory import resample_tracks

    pos = _synth_event_points(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("event_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    return resample_tracks(
        pos, interval_us=_RESAMPLE_G, max_gap_intervals=_RESAMPLE_MAX_STEPS
    )


_PHASH_TOPK_K = 5


def _phash_topk_oracle_sql() -> str:
    """DuckDB replay of the full multi-index search over the frozen phash
    golden (same trusted input as the near-dup entries): query-set
    selection from the id digits, 4x16 banding on BOTH sides, the
    distinct candidate union, popcount ranking and the per-query top-k
    window — the whole search machinery cross-checked, only the phash
    values frozen (drift-guarded)."""
    if IMAGE_PHASH_3000 is None:
        return None
    vals = ", ".join(f"({iid!r}, {ph})" for iid, ph in IMAGE_PHASH_3000)
    bands_c = "\n      UNION ALL\n      ".join(
        f"SELECT image_id AS cid, phash AS cph, {b} AS band,"
        f" (phash >> {b * 16}) & 65535 AS val FROM imgs"
        for b in range(4)
    )
    bands_q = "\n      UNION ALL\n      ".join(
        f"SELECT qid, qph, {b} AS band, (qph >> {b * 16}) & 65535 AS val FROM q"
        for b in range(4)
    )
    return f"""
    WITH imgs(image_id, phash) AS (VALUES {vals}),
    q AS (SELECT image_id AS qid, phash AS qph FROM imgs
          WHERE CAST(substr(image_id, 4) AS BIGINT) % 250 = 0),
    bq AS (
      {bands_q}
    ),
    bc AS (
      {bands_c}
    ),
    cand AS (
      SELECT DISTINCT bq.qid, bq.qph, bc.cid, bc.cph
      FROM bq JOIN bc ON bq.band = bc.band AND bq.val = bc.val
                     AND bq.qid <> bc.cid
    ),
    h AS (SELECT qid AS query_id, cid AS image_id,
                 CAST(bit_count(xor(qph, cph)) AS BIGINT) AS hamming
          FROM cand),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY hamming, image_id) AS rk
          FROM h)
    SELECT query_id, image_id, hamming, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_PHASH_TOPK_K}
    """


@_q("image_phash_topk", _phash_topk_oracle_sql())
def image_phash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reverse-image search (operators/dedup.phash_topk): banded
    approximate top-k by phash Hamming distance — every 250th image
    queries the shared 3000-image corpus; candidates are the multi-index
    band union (pigeonhole-complete within Hamming <= 3, LSH odds
    beyond), ranked by native popcount with deterministic id ties. The
    query side broadcasts; the corpus shuffles only (id, phash) pairs;
    the top-k truncates map-side via WindowGroupLimit. Reuses the
    memoized image frame the phash-dup entries already synthesized."""
    from fairy_core_spark.operators.dedup import phash_topk

    imgs = _images_cached(spark, _LOWINFO_N).select("image_id", "phash")
    qs = imgs.where(
        F.substring("image_id", 4, 10).cast("long") % 250 == 0
    )
    return phash_topk(imgs, qs, k=_PHASH_TOPK_K)


_EMERGE_ZOOM = 5


def _emerging_oracle_sql() -> str:
    """DuckDB replays tiles (shared _wm_tile_sql twin), integer week
    indexing from the date diff, per-(tile, week) counts, the
    previous-calendar-week self-join with absent weeks as zero, and the
    positive-growth filter — nothing frozen."""
    return f"""
    WITH pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    t AS ({_wm_tile_sql(_EMERGE_ZOOM, 'pos', 'user_id, ts')}),
    wk AS (SELECT x, y,
                  CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT)
                    AS week
           FROM t),
    c AS (SELECT x, y, week, CAST(COUNT(*) AS BIGINT) AS n
          FROM wk GROUP BY 1, 2, 3),
    j AS (
      SELECT c.x, c.y, c.week, c.n, COALESCE(p.n, 0) AS prev_n
      FROM c LEFT JOIN c p
        ON p.x = c.x AND p.y = c.y AND p.week = c.week - 1
    )
    SELECT x AS tile_x, y AS tile_y, week, n, prev_n, n - prev_n AS growth
    FROM j WHERE n - prev_n > 0
    """


@_q("spatial_emerging_tiles", _emerging_oracle_sql())
def spatial_emerging_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emerging-hotspot detection: per zoom-5 tile, week-over-week event
    growth with ABSENT previous weeks counting zero (a tile's first
    active week is fully "emerging" — the calendar-aware semantics a
    LAG-over-present-weeks window would get wrong), keeping tiles that
    grew. The POI-emergence / trend-surfacing staple over the trajectory
    fixture. Integer week index from the date diff (float-free). Scale
    shape: the raw stream collapses to the (tile, week) count frame in
    ONE combined groupBy; the week-shift comparison is a self-join of
    that SMALL frame (AQE broadcast), never of the events."""
    ev = _synth_event_points(spark, sf_dir)
    from fairy_core_spark.spatial.webmercator import with_tiles

    tiled = with_tiles(ev, zoom=_EMERGE_ZOOM, quadkey=False).select(
        "tile_x",
        "tile_y",
        F.expr(
            "CAST(datediff(to_date(ts), DATE'2024-01-01') div 7 AS BIGINT)"
        ).alias("week"),
    )
    counts = tiled.groupBy("tile_x", "tile_y", "week").agg(
        F.count(F.lit(1)).alias("n")
    )
    prev = counts.select(
        "tile_x", "tile_y", (F.col("week") + 1).alias("week"),
        F.col("n").alias("prev_n"),
    )
    j = counts.join(prev, ["tile_x", "tile_y", "week"], "left").select(
        "tile_x", "tile_y", "week", "n",
        F.coalesce("prev_n", F.lit(0)).alias("prev_n"),
    )
    return j.withColumn("growth", F.col("n") - F.col("prev_n")).where(
        F.col("growth") > 0
    )


def _rotation_dups_oracle_sql() -> str:
    """(image_id -> dihedral-min key) frozen once from the engine
    (scripts/gen_contract_goldens.py; orbit invariance pinned separately
    by tests); DuckDB genuinely recomputes the dup-group semantics —
    groupBy key, n > 1, keep-first keeper — same trust model as
    image_phash_dups."""
    if IMAGE_DIHEDRAL_640 is None:
        return None
    vals = ", ".join(f"({iid!r}, {k})" for iid, k in IMAGE_DIHEDRAL_640)
    return f"""
    SELECT dkey, CAST(COUNT(*) AS BIGINT) AS n, MIN(image_id) AS keeper_id
    FROM (VALUES {vals}) AS imgs(image_id, dkey)
    GROUP BY dkey HAVING COUNT(*) > 1
    """


@_q("image_rotation_dups", _rotation_dups_oracle_sql())
def image_rotation_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rotation/mirror-blind image dedup
    (operators/images.rotation_invariant_keys +
    operators/dedup.phash_exact_dups reused on the dihedral key):
    re-uploads that rotate or flip the frame defeat plain-phash grouping
    — the dihedral-min key (MIN of phash64 over the 8 orbit transforms)
    collapses the whole orbit to one group. Input: every 5th image of
    the shared 3000 frame + the planted 5-member orbit groups
    (datagen.rotated_images_df). One Arrow decode pass (8 DCTs/image
    riding it), then a map-side-combined groupBy on the 8-byte key —
    pixels never shuffle."""
    from fairy_core_spark.datagen.images import rotated_images_df
    from fairy_core_spark.operators.dedup import phash_exact_dups
    from fairy_core_spark.operators.images import rotation_invariant_keys

    sub = (
        _images_cached(spark, _LOWINFO_N)
        .where(F.substring("image_id", 4, 10).cast("long") % 5 == 0)
        .unionByName(rotated_images_df(spark))
    )
    keys = rotation_invariant_keys(sub)
    return phash_exact_dups(keys, phash_col="dkey", id_col="image_id").select(
        F.col("phash").alias("dkey"), "n", "keeper_id"
    )


_ISO_ZOOM = 6


def _isolated_oracle_sql() -> str:
    """Full replay, nothing frozen: tiles (shared twin), integer
    millidegree coords from the key, the 3x3 dilation with grid clamp,
    the bounded-radius candidate self-join, exact int64 squared
    distances, the (d2, id) pick and the -1 sentinels."""
    hi = (1 << _ISO_ZOOM) - 1
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_ISO_ZOOM, 'pts', 'point_id')}),
    ti AS (
      SELECT point_id AS pid, x AS tx, y AS ty,
             CAST((point_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((point_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM t
    ),
    probe AS (
      SELECT pid AS nid, tx + dx AS tx, ty + dy AS ty, px AS nx, py AS ny
      FROM ti CROSS JOIN (VALUES {offs}) o(dx, dy)
      WHERE tx + dx BETWEEN 0 AND {hi} AND ty + dy BETWEEN 0 AND {hi}
    ),
    cand AS (
      SELECT ti.pid, probe.nid,
             (ti.px - probe.nx) * (ti.px - probe.nx)
             + (ti.py - probe.ny) * (ti.py - probe.ny) AS d2
      FROM ti JOIN probe USING (tx, ty) WHERE ti.pid <> probe.nid
    ),
    r AS (SELECT pid, nid, d2,
                 ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, nid) AS rk
          FROM cand),
    nn AS (SELECT pid, nid, d2 FROM r WHERE rk = 1)
    SELECT ti.pid AS point_id, COALESCE(nn.nid, -1) AS nn_id,
           COALESCE(nn.d2, -1) AS nn_dist_q,
           CAST(CASE WHEN nn.nid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS isolated
    FROM ti LEFT JOIN nn USING (pid)
    """


@_q("spatial_isolated_points", _isolated_oracle_sql())
def spatial_isolated_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geotag-outlier audit (spatial/ops.isolated_points): every point's
    nearest OTHER point within one tile-ring, in exact integer
    millidegree arithmetic, or an explicit -1 sentinel when nothing is
    in range — the lone-sample / bad-geotag detector (a photo whose
    nearest companion exceeds the halo is usually a coordinate error).
    Bounded-radius by the same tile-dilation contract as map matching;
    fan-out bounded by local density, never n². One self-equi-join on
    the tile key + one WindowGroupLimit pick + the left join back."""
    from fairy_core_spark.spatial.ops import isolated_points

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey").select(
        "point_id",
        "lat",
        "lon",
        ((F.col("point_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("point_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    out = isolated_points(pts, _ISO_ZOOM)
    return out.select(
        "point_id", "nn_id", "nn_dist_q",
        F.when(F.col("isolated"), 1).otherwise(0).cast("long").alias("isolated"),
    )


def _mixture_oracle_sql() -> str:
    """Shared twins throughout: the token-count CASE (text_quality twin),
    the stopword-argmax langid CASE (text_langid twin), integer band
    thresholds, both aggregates and the window-total floor-permille —
    nothing frozen."""
    return """
    WITH f AS (
      SELECT doc_id, source,
        CASE WHEN TRIM(text)='' THEN 0
             ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tok,
        regexp_split_to_array(lower(TRIM(text)), '\\s+') AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, n_tok,
        len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS h_de,
        len(list_filter(toks, t -> t IN ('the','and','of','to','a'))) AS h_en,
        len(list_filter(toks, t -> t IN ('el','la','de','que','y'))) AS h_es,
        len(list_filter(toks, t -> t IN ('le','la','et','les','des'))) AS h_fr
      FROM f
    ),
    lab AS (
      SELECT source,
        CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
             WHEN h_es >= h_fr THEN 'es'
             ELSE 'fr' END AS lang_pred,
        CASE WHEN n_tok < 50 THEN 'short'
             WHEN n_tok < 200 THEN 'medium'
             ELSE 'long' END AS band,
        n_tok
      FROM scored
    ),
    g AS (
      SELECT source, lang_pred, band,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM lab GROUP BY 1, 2, 3
    )
    SELECT source, lang_pred, band, n_docs, n_tokens,
           CAST(n_docs * 1000 // SUM(n_docs) OVER () AS BIGINT) AS permille
    FROM g
    """


@_q("corpus_mixture_census", _mixture_oracle_sql())
def corpus_mixture_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dataset-card mixture census: per (source, predicted language,
    integer length band) — document count, token mass and exact
    floor-permille share of the corpus; the composition table every
    training-data release publishes and every mixture-rebalancing job
    consumes. Composes the certified token-count and langid kernels;
    bands on INTEGER token thresholds (never float quality scores) so
    no boundary can smear cross-engine. Scale shape: one projection
    rides the scan, ONE combined groupBy on the tiny (source, lang,
    band) key space, and the permille window runs over the census frame
    (hundreds of rows), not the corpus."""
    docs = _t(spark, sf_dir, "documents")
    toks = token_count(F.col("text"))
    d = docs.select(
        "source",
        lang_id(F.col("text")).alias("lang_pred"),
        F.when(toks < 50, "short")
        .when(toks < 200, "medium")
        .otherwise("long")
        .alias("band"),
        toks.alias("n_tok"),
    )
    g = d.groupBy("source", "lang_pred", "band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    total = Window.partitionBy()
    return g.select(
        "source", "lang_pred", "band", "n_docs", "n_tokens",
        F.expr("n_docs * 1000").cast("long").alias("_num"),
        F.sum("n_docs").over(total).cast("long").alias("_tot"),
    ).select(
        "source", "lang_pred", "band", "n_docs", "n_tokens",
        F.expr("_num div _tot").alias("permille"),
    )


def _ann_recall_oracle_sql() -> str:
    """Composes the two certified ANN oracles verbatim (shared SQL — the
    brute baseline constant and the IVF builder), then genuinely
    recomputes the per-query intersection count."""
    return f"""
    WITH brute AS ({_ANN_BRUTE_SQL}),
    ivf AS ({_ivf_oracle_sql()})
    SELECT b.query_id, CAST(5 AS BIGINT) AS k,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits
    FROM brute b LEFT JOIN ivf i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """


@_q("ann_recall_report", _ann_recall_oracle_sql())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation IN the pipeline: per-query recall@5 of the
    IVF index against the exact brute-force baseline (n_hits of 5) — the
    evaluation table an index-tuning job (n_probe, n_centroids sweeps)
    reads, produced by the same engine that serves the search. Integer
    hit counts only (recall = n_hits/k at the consumer) so nothing
    float crosses engines. Composes the two certified entries: at scale
    the brute side runs on a SAMPLED query set by construction (vec_id
    < 10 here) — evaluating recall never requires a full n² pass."""
    brute = ann_cosine_topk(spark, sf_dir)
    ivf = ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    j = brute.join(ivf, ["query_id", "neighbor_id"], "left")
    return (
        j.groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("n_hits"))
        .select("query_id", F.lit(5).cast("long").alias("k"), "n_hits")
    )


_EXPIRE_KEEP_LAST, _EXPIRE_DAILY_DAYS = 5, 30


def _expire_oracle_sql() -> str:
    """Snapshot log synthesized from orders (both engines recompute it),
    then the identical recency window, per-day last-of-day rank, day
    diff and first-match reason — nothing frozen."""
    return f"""
    WITH snaps AS (
      SELECT o_orderkey AS snapshot_id, CAST(o_orderdate AS DATE) AS day
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    lab AS (
      SELECT snapshot_id, day,
             ROW_NUMBER() OVER (ORDER BY day DESC, snapshot_id DESC) AS rec,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY snapshot_id DESC)
               AS dayrk,
             MAX(day) OVER () AS maxday
      FROM snaps
    )
    SELECT snapshot_id, CAST(day AS VARCHAR) AS day,
           CASE WHEN rec <= {_EXPIRE_KEEP_LAST} THEN 'recent'
                WHEN dayrk = 1 AND maxday - day < {_EXPIRE_DAILY_DAYS}
                  THEN 'daily'
                ELSE 'expire' END AS reason
    FROM lab
    """


@_q("maintenance_snapshot_expiry", _expire_oracle_sql())
def maintenance_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot-retention planning (operators/maintenance.
    expire_snapshots_plan — the Iceberg expireSnapshots decision as
    data): newest keep_last snapshots stay 'recent', the last snapshot
    of each day within the daily horizon stays 'daily', the rest
    'expire'. Completes the lakehouse-maintenance family (compaction
    plan, manifest diff, clustering depth, time travel) with the
    retention leg. Runs on the snapshot LOG — metadata cardinality —
    so the single-partition recency window is free by construction
    (hundreds of rows for years of history, never table-scale)."""
    from fairy_core_spark.operators.maintenance import expire_snapshots_plan

    snaps = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("snapshot_id"),
            F.col("o_orderdate").alias("committed_at"),
        )
    )
    plan = expire_snapshots_plan(
        snaps, keep_last=_EXPIRE_KEEP_LAST, keep_daily_days=_EXPIRE_DAILY_DAYS
    )
    # DATE columns reach pandas as object vs datetime64 across engines;
    # the ISO string is the portable spelling (identical in both)
    return plan.select(
        "snapshot_id", F.date_format("day", "yyyy-MM-dd").alias("day"), "reason"
    )


def _coverage_gap_oracle_sql() -> str:
    """Replay with nothing frozen: occupied tiles (shared twin), the
    zone-corner tile snap (same formula over the rect constants the
    engine call takes), full rectangle enumeration via generate_series,
    and the anti-join."""
    corner_vals = ", ".join(
        f"('{pid}', 0, {lat1!r}, {lon0!r}), ('{pid}', 1, {lat0!r}, {lon1!r})"
        for pid, lat0, lat1, lon0, lon1 in _RECTS[:4]
    )
    corners = f"(SELECT * FROM (VALUES {corner_vals}) AS c(zone_id, cid, lat, lon))"
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_ZONAL_ZOOM, 'pts', 'point_id')}),
    occ AS (SELECT DISTINCT x, y FROM t),
    ct AS ({_wm_tile_sql(_ZONAL_ZOOM, corners, 'zone_id, cid')}),
    zones AS (
      SELECT zone_id,
             MAX(CASE WHEN cid = 0 THEN x END) AS x_lo,
             MAX(CASE WHEN cid = 0 THEN y END) AS y_lo,
             MAX(CASE WHEN cid = 1 THEN x END) AS x_hi,
             MAX(CASE WHEN cid = 1 THEN y END) AS y_hi
      FROM ct GROUP BY zone_id
    ),
    grid AS (
      SELECT z.zone_id, gx.x AS tile_x, gy.y AS tile_y
      FROM zones z,
           LATERAL UNNEST(generate_series(z.x_lo, z.x_hi)) AS gx(x),
           LATERAL UNNEST(generate_series(z.y_lo, z.y_hi)) AS gy(y)
    )
    SELECT g.zone_id, g.tile_x, g.tile_y
    FROM grid g LEFT JOIN occ ON occ.x = g.tile_x AND occ.y = g.tile_y
    WHERE occ.x IS NULL
    """


@_q("spatial_coverage_gap", _coverage_gap_oracle_sql())
def spatial_coverage_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coverage-hole detection: the tiles inside each monitored zone
    that contain NO data — the crawl-gap / sensor-blindspot planner
    (complement of spatial_zonal_stats, which counts what IS there).
    Zone rectangles enumerate via codegen sequence/explode (bounded by
    zone area in tiles, a constant — never data size); the data side
    collapses to the DISTINCT occupied-tile frame first, so the
    anti-join is tile-frame-sized on both sides. Four zones exercised
    to keep the enumeration honest but bounded."""
    from fairy_core_spark.spatial.webmercator import with_tiles

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    occ = (
        with_tiles(pts, zoom=_ZONAL_ZOOM, quadkey=False)
        .select("tile_x", "tile_y")
        .distinct()
    )
    corners = spark.createDataFrame(
        [
            (pid, 0, lat1, lon0)
            for pid, lat0, lat1, lon0, lon1 in _RECTS[:4]
        ]
        + [
            (pid, 1, lat0, lon1)
            for pid, lat0, lat1, lon0, lon1 in _RECTS[:4]
        ],
        "zone_id string, cid int, lat double, lon double",
    )
    ct = with_tiles(corners, zoom=_ZONAL_ZOOM, quadkey=False)
    zones = ct.groupBy("zone_id").agg(
        F.max(F.when(F.col("cid") == 0, F.col("tile_x"))).alias("x_lo"),
        F.max(F.when(F.col("cid") == 0, F.col("tile_y"))).alias("y_lo"),
        F.max(F.when(F.col("cid") == 1, F.col("tile_x"))).alias("x_hi"),
        F.max(F.when(F.col("cid") == 1, F.col("tile_y"))).alias("y_hi"),
    )
    grid = zones.select(
        "zone_id",
        F.explode(F.sequence("x_lo", "x_hi")).alias("tile_x"),
        "y_lo",
        "y_hi",
    ).select(
        "zone_id", "tile_x", F.explode(F.sequence("y_lo", "y_hi")).alias("tile_y")
    )
    return grid.join(occ, ["tile_x", "tile_y"], "left_anti").select(
        "zone_id", "tile_x", "tile_y"
    )


@_q("traj_route_progress", _map_match_oracle_sql(progress=True))
def traj_route_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linear referencing (snap_points_to_segments(with_progress=True)):
    the map-match answer extended with WHERE along the road the snap
    lands — clamp(t) as exact integer permille of the segment parameter
    (the LRS position behind milepost attribution, progress tracking
    and route completion). Same plan as traj_map_match (the permille is
    one more integer division riding the pick); oracle = the map-match
    replay with the identical clamped-projection permille."""
    from fairy_core_spark.spatial.ops import snap_points_to_segments

    sup = _t(spark, sf_dir, "supplier")
    segs = sup.select(
        F.col("s_suppkey").alias("seg_id"),
        (((F.col("s_suppkey") * 7919) % 120000) / 1000.0 - 60.0).alias("lat0"),
        (((F.col("s_suppkey") * 104729) % 360000) / 1000.0 - 180.0).alias("lon0"),
        (((F.col("s_suppkey") * 104729) % 120000) / 1000.0 - 60.0).alias("lat1"),
        (((F.col("s_suppkey") * 7919) % 360000) / 1000.0 - 180.0).alias("lon1"),
        ((F.col("s_suppkey") * 104729) % 360000 - 180000).cast("long").alias("ax"),
        ((F.col("s_suppkey") * 7919) % 120000 - 60000).cast("long").alias("ay"),
        ((F.col("s_suppkey") * 7919) % 360000 - 180000).cast("long").alias("bx"),
        ((F.col("s_suppkey") * 104729) % 120000 - 60000).cast("long").alias("by"),
    )
    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey").select(
        "point_id",
        "lat",
        "lon",
        ((F.col("point_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("point_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    return snap_points_to_segments(pts, segs, _SNAP_ZOOM, with_progress=True)


@_q(
    "agg_cube_returnflag_status",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate — all four grouping-set granularities of
    (returnflag, linestatus) in one pass: ONE Expand + map-side-combined
    partial aggregation, never four scans (completes the multi-
    granularity family next to GROUP BY ROLLUP). Money through
    DECIMAL(18,2) partials, surfaced as DOUBLE (the repo's exact-sum
    contract); fixture columns are never NULL so the 'ALL' sentinel is
    unambiguous."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


@_q(
    "agg_segment_percentiles",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price,
             o.o_orderkey AS ok
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    r AS (
      SELECT segment, price,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY price, ok) AS rn,
             COUNT(*) OVER (PARTITION BY segment) AS n
      FROM j
    )
    SELECT segment, CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN price END) AS DOUBLE)
             AS p50,
           CAST(MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN price END)
                AS DOUBLE) AS p95
    FROM r GROUP BY segment
    """,
)
def agg_segment_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact per-group discrete percentiles (p50/p95 of order totals per
    market segment) by explicit rank selection — value at rank
    ceil(p*n) with (price, orderkey) total order, so both engines pick
    the IDENTICAL row (no interpolation, no float quantile estimators).
    Scale shape: percentile windows partition by the GROUP key (each
    segment sorts in parallel); never a global single-partition sort —
    the per-group form is the one that holds at 10^12 rows. DECIMAL
    prices, cast DOUBLE at the edge (exact)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("ok"),
    )
    wseg = Window.partitionBy("segment")
    r = j.select(
        "segment",
        "price",
        F.row_number().over(wseg.orderBy("price", "ok")).alias("rn"),
        F.count(F.lit(1)).over(wseg).alias("n"),
    )
    return r.groupBy("segment").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("price")))
        .cast("double")
        .alias("p50"),
        F.max(
            F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("price"))
        )
        .cast("double")
        .alias("p95"),
    )


@_q(
    "audit_order_total_consistency",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                      * (100 + CAST(ROUND(l_tax * 100) AS BIGINT)))
                  AS BIGINT) AS recomputed_micro
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 10000
               AS stated_micro,
             COALESCE(li.recomputed_micro, 0) AS recomputed_micro
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN recomputed_micro = stated_micro
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
           CAST(SUM(CASE WHEN recomputed_micro <> stated_micro
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(MAX(ABS(recomputed_micro - stated_micro)) AS BIGINT)
             AS max_abs_delta_micro
    FROM j
    """,
)
def audit_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross-table financial-consistency audit (the TPC-H invariant
    o_totalprice == SUM(extendedprice*(1-disc)*(1+tax)) recomputed from
    the fact table): every money value converts ONCE to exact integer
    cents (ROUND(x*100) — the doubles are 2-decimal by construction, so
    the round is boundary-safe in both engines) and the whole
    reconciliation runs in int64 micro-dollars — no decimal-scale
    divergence, no float accumulation order. The ledger-reconciliation
    staple beyond single-table rules. Scale shape: ONE map-side-combined
    groupBy on the fact table (the shuffle carries one int64 per order),
    a key join against orders, one 1-row summary aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            cents("l_extendedprice")
            * (F.lit(100) - cents("l_discount"))
            * (F.lit(100) + cents("l_tax"))
        )
        .cast("long")
        .alias("recomputed_micro")
    )
    j = o.select(
        "o_orderkey", (cents("o_totalprice") * 10000).alias("stated_micro")
    ).join(per_order, o.o_orderkey == per_order.l_orderkey, "left").select(
        "stated_micro",
        F.coalesce("recomputed_micro", F.lit(0)).alias("recomputed_micro"),
    )
    same = F.col("recomputed_micro") == F.col("stated_micro")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(same, 1).otherwise(0)).cast("long").alias("n_consistent"),
        F.sum(F.when(~same, 1).otherwise(0)).cast("long").alias("n_mismatched"),
        F.max(F.abs(F.col("recomputed_micro") - F.col("stated_micro")))
        .cast("long")
        .alias("max_abs_delta_micro"),
    )


@_q(
    "rule_embedding_sanity",
    """
    WITH aug AS (
      SELECT vec_id,
        CASE
          WHEN vec_id % 97 = 0 THEN list_transform(embedding, x -> CAST(0.0 AS REAL))
          WHEN vec_id % 101 = 0 THEN [CAST('NaN' AS REAL)] || embedding[2:64]
          WHEN vec_id % 103 = 0 THEN embedding[1:32]
          ELSE embedding
        END AS embedding
      FROM embeddings
    ),
    f AS (
      SELECT
        CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END AS bad_dim,
        CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
             THEN 1 ELSE 0 END AS has_nan,
        CASE WHEN len(list_filter(embedding, x -> x <> 0)) = 0
             THEN 1 ELSE 0 END AS zero_vec
      FROM aug
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bad_dim) AS BIGINT) AS n_wrong_dim,
           CAST(SUM(has_nan) AS BIGINT) AS n_nan,
           CAST(SUM(zero_vec) AS BIGINT) AS n_zero_vec,
           CAST(SUM(CASE WHEN bad_dim = 0 AND has_nan = 0 AND zero_vec = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM f
    """,
)
def rule_embedding_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-table preflight (the ANN family's stage-1 gate, the
    vector twin of the image validate stage): wrong dimensionality, NaN
    components and all-zero vectors counted in one pass BEFORE any index
    build — each a real production failure (truncated writes, bad
    normalization, dead encoder outputs). Deterministic defects are
    injected identically by both engines (every 97th row zeroed, 101st
    NaN-poisoned, 103rd truncated) since the raw fixture is clean. The
    zero test counts non-zero components (never a float sum); the NaN
    test uses isnan (count-based — exact in both engines). Pure
    higher-order-function projection + one 1-row aggregate: no shuffle
    beyond the final combine, no Python."""
    emb = _t(spark, sf_dir, "embeddings")
    aug = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 97 == 0,
            F.expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"),
        )
        .when(
            F.col("vec_id") % 101 == 0,
            F.expr(
                "concat(array(CAST('NaN' AS FLOAT)), slice(embedding, 2, 63))"
            ),
        )
        .when(F.col("vec_id") % 103 == 0, F.expr("slice(embedding, 1, 32)"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    bad_dim = F.when(F.size("embedding") != 64, 1).otherwise(0)
    has_nan = F.when(
        F.expr("size(filter(embedding, x -> isnan(x))) > 0"), 1
    ).otherwise(0)
    zero_vec = F.when(
        F.expr("size(filter(embedding, x -> x <> CAST(0.0 AS FLOAT))) = 0"), 1
    ).otherwise(0)
    f = aug.select(
        bad_dim.alias("bad_dim"), has_nan.alias("has_nan"), zero_vec.alias("zero_vec")
    )
    clean = (
        (F.col("bad_dim") == 0) & (F.col("has_nan") == 0) & (F.col("zero_vec") == 0)
    )
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("bad_dim").cast("long").alias("n_wrong_dim"),
        F.sum("has_nan").cast("long").alias("n_nan"),
        F.sum("zero_vec").cast("long").alias("n_zero_vec"),
        F.sum(F.when(clean, 1).otherwise(0)).cast("long").alias("n_clean"),
    )


_CHORO_ZOOM, _CHORO_K = 6, 5


def _choropleth_oracle_sql() -> str:
    """Tiles (shared twin), counts, the deterministic (n, tile_key)
    rank and the integer equal-frequency class formula — all
    recomputed."""
    n = 1 << _CHORO_ZOOM
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_CHORO_ZOOM, 'pts', 'point_id')}),
    c AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
    r AS (
      SELECT x, y, n,
             ROW_NUMBER() OVER (ORDER BY n, x * {n} + y) AS rk,
             COUNT(*) OVER () AS nt
      FROM c
    )
    SELECT x AS tile_x, y AS tile_y, n,
           CAST((rk - 1) * {_CHORO_K} // nt AS BIGINT) AS cls
    FROM r
    """


@_q("spatial_tile_quantile_classes", _choropleth_oracle_sql())
def spatial_tile_quantile_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """choropleth classification: occupied tiles binned into 5
    equal-frequency (quantile) classes by count — the map-rendering
    class-break primitive (each class colors ~the same number of
    tiles, so dense metros don't wash out the ramp). Deterministic
    total order (n, tile_key) and the pure integer class formula
    (rank-1)*k div n_tiles — identical breaks cross-engine, no float
    quantile estimator. Classification runs on the OCCUPIED-TILE frame
    (small); the rank window is one exchange over it, never over
    points."""
    from fairy_core_spark.spatial.webmercator import with_tiles

    nside = 1 << _CHORO_ZOOM
    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    c = (
        with_tiles(pts, zoom=_CHORO_ZOOM, quadkey=False)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("n", F.col("tile_x") * nside + F.col("tile_y"))
    r = c.select(
        "tile_x", "tile_y", "n",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nt"),
    )
    return r.select(
        "tile_x", "tile_y", F.col("n").cast("long").alias("n"),
        F.expr(f"(rk - 1) * {_CHORO_K} div nt").alias("cls"),
    )


_TRIP_GAP_US = 21_600_000_000  # a 6 h silence starts a new trip


def _trips_oracle_sql() -> str:
    """epoch_us twin, the lag-gap boundary flags, the running-sum trip
    ids, windowed first/last positions with the identical (t, event_id)
    ordering, and the per-trip integer summary — nothing frozen."""
    g = _TRIP_GAP_US
    return f"""
    WITH pos AS (
      SELECT user_id, epoch_us(ts) AS t, event_id,
             CAST((event_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((event_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM events
    ),
    b AS (
      SELECT *, CASE WHEN t - LAG(t) OVER w > {g} OR LAG(t) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_trip
      FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    tr AS (
      SELECT *, SUM(new_trip) OVER (PARTITION BY user_id
                                    ORDER BY t, event_id
                                    ROWS UNBOUNDED PRECEDING) AS trip_seq
      FROM b
    ),
    fl AS (
      SELECT user_id, trip_seq, t, px, py,
             FIRST_VALUE(px) OVER w2 AS x0, FIRST_VALUE(py) OVER w2 AS y0,
             LAST_VALUE(px) OVER w2 AS x1, LAST_VALUE(py) OVER w2 AS y1
      FROM tr
      WINDOW w2 AS (PARTITION BY user_id, trip_seq ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, CAST(trip_seq AS BIGINT) AS trip_seq,
           CAST(COUNT(*) AS BIGINT) AS n_pings,
           CAST(MAX(t) - MIN(t) AS BIGINT) AS duration_us,
           CAST(MAX(x1) - MAX(x0) AS BIGINT) AS net_dx,
           CAST(MAX(y1) - MAX(y0) AS BIGINT) AS net_dy
    FROM fl GROUP BY user_id, trip_seq
    """


@_q("traj_trips", _trips_oracle_sql())
def traj_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trip segmentation: each user's ping stream split at >6h silences
    (gaps-and-islands — boundary flag, running-sum trip ids) with
    per-trip integer summaries: ping count, exact microsecond duration,
    net planar displacement in millidegrees (first->last position under
    the deterministic (t, event_id) order). The unit-of-travel table
    every trajectory analysis (OD, dwell, speed) keys on. ONE entity
    exchange carries the lag window, the trip-id running sum, the
    first/last windows AND the closing groupBy (all share the user
    partitioning); integer end-to-end."""
    ev = _synth_event_points(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "event_id",
        ((F.col("event_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("event_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    wu = Window.partitionBy("user_id").orderBy("t", "event_id")
    b = ev.withColumn(
        "new_trip",
        F.when(
            (F.col("t") - F.lag("t").over(wu) > _TRIP_GAP_US)
            | F.lag("t").over(wu).isNull(),
            1,
        ).otherwise(0),
    )
    tr = b.withColumn(
        "trip_seq",
        F.sum("new_trip").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = (
        Window.partitionBy("user_id", "trip_seq")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fl = tr.select(
        "user_id", "trip_seq", "t",
        F.first("px").over(w2).alias("x0"),
        F.first("py").over(w2).alias("y0"),
        F.last("px").over(w2).alias("x1"),
        F.last("py").over(w2).alias("y1"),
    )
    return fl.groupBy("user_id", "trip_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_pings"),
        (F.max("t") - F.min("t")).cast("long").alias("duration_us"),
        (F.max("x1") - F.max("x0")).cast("long").alias("net_dx"),
        (F.max("y1") - F.max("y0")).cast("long").alias("net_dy"),
    ).select(
        "user_id", F.col("trip_seq").cast("long").alias("trip_seq"),
        "n_pings", "duration_us", "net_dx", "net_dy",
    )


def _phash_bits_oracle_sql() -> str:
    """Frozen phash golden (the near-dup entries' trusted input); the
    per-bit extraction, counts and permille are genuinely recomputed —
    arithmetic >> plus & 1 reads the same bit Spark's unsigned shift
    does for every position incl. the sign bit."""
    if IMAGE_PHASH_3000 is None:
        return None
    vals = ", ".join(f"({ph})" for _iid, ph in IMAGE_PHASH_3000)
    return f"""
    WITH imgs(phash) AS (VALUES {vals}),
    bits AS (
      SELECT b.bit, (phash >> b.bit) & 1 AS v
      FROM imgs, LATERAL UNNEST(generate_series(0, 63)) AS b(bit)
    )
    SELECT CAST(bit AS BIGINT) AS bit, CAST(SUM(v) AS BIGINT) AS n_set,
           CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS permille
    FROM bits GROUP BY bit
    """


@_q("image_phash_bit_stats", _phash_bits_oracle_sql())
def image_phash_bit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perceptual-hash health audit: per-bit set-frequency across the
    corpus — a well-behaved 64-bit hash sits near 500 permille per bit;
    a stuck or skewed bit (degenerate DCT band, biased threshold)
    silently halves banding recall, and this table is how you notice
    BEFORE recall drops. Explode 64 bits per hash (codegen sequence),
    ONE combined groupBy on the 1-byte bit key; hashes come from the
    shared memoized 3000-image frame (real decode path, not the
    golden)."""
    imgs = _images_cached(spark, _LOWINFO_N).select("phash")
    bits = imgs.select(
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        "phash",
    ).select(
        "bit",
        F.expr("shiftrightunsigned(phash, bit) & 1").alias("v"),
    )
    return bits.groupBy("bit").agg(
        F.sum("v").cast("long").alias("n_set"),
        F.expr("CAST(sum(v) * 1000 div count(*) AS BIGINT)").alias("permille"),
    ).select(F.col("bit").cast("long").alias("bit"), "n_set", "permille")


def _knn_classify_oracle_sql() -> str:
    """Composes the certified brute top-k SQL verbatim, then genuinely
    recomputes the label join and the deterministic majority vote
    (votes DESC, label ASC)."""
    return f"""
    WITH brute AS ({_ANN_BRUTE_SQL}),
    lab AS (
      SELECT b.query_id, e.label
      FROM brute b JOIN embeddings e ON e.vec_id = b.neighbor_id
    ),
    votes AS (
      SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM lab GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label) AS rk
      FROM votes
    )
    SELECT query_id, CAST(label AS BIGINT) AS pred_label, n_votes
    FROM r WHERE rk = 1
    """


@_q("ann_knn_classify", _knn_classify_oracle_sql())
def ann_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification over the embedding space (the
    label-propagation / weak-labeling staple: tag new items from their
    nearest labeled neighbors): 5-NN by the certified exact cosine
    ranking, neighbor labels joined from the embeddings table, majority
    with the deterministic (votes DESC, label ASC) tie policy. At scale
    the neighbor search swaps to the IVF path unchanged — the vote is
    downstream of WHICHEVER top-k feeds it. One label equi-join (AQE
    broadcast of the small top-k frame) + a vote groupBy + one
    WindowGroupLimit pick."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = ann_cosine_topk(spark, sf_dir)
    lab = brute.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = lab.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), "label")
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "query_id", F.col("label").cast("long").alias("pred_label"), "n_votes"
        )
    )


@_q(
    "q10_returned_items",
    """
    WITH rev AS (
      SELECT o.o_custkey AS custkey,
             SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
               AS revenue_c4
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_returnflag = 'R'
      GROUP BY o.o_custkey
    ),
    r AS (
      SELECT c.c_custkey, c.c_name, n.n_name AS nation,
             CAST(rev.revenue_c4 AS BIGINT) AS revenue_c4,
             ROW_NUMBER() OVER (ORDER BY rev.revenue_c4 DESC, c.c_custkey)
               AS rk
      FROM rev JOIN customer c ON c.c_custkey = rev.custkey
               JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT c_custkey, c_name, nation, revenue_c4, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) in the repo's exact-integer
    money dialect: revenue from 'R'-flagged lineitems per customer in
    int64 cent-squared units (price_c * (100 - disc_c) — the same
    boundary-safe cents conversion the reconciliation audit uses, so no
    decimal-scale or float-order divergence), top 20 with a
    deterministic custkey tie-break, nation joined for the report.
    Plan: the fact filter pushes to the scan, ONE combined groupBy on
    custkey, dimension joins broadcast, WindowGroupLimit top-20."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731
    rev = (
        li.where(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount")))
            .cast("long")
            .alias("revenue_c4")
        )
    )
    j = rev.join(c, rev.o_custkey == c.c_custkey).join(
        n, c.c_nationkey == n.n_nationkey
    )
    w = Window.orderBy(F.col("revenue_c4").desc(), "c_custkey")
    return (
        j.select(
            "c_custkey", "c_name", F.col("n_name").alias("nation"), "revenue_c4"
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 20)
    )


@_q(
    "events_burst_days",
    """
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n, day) AS rk,
             COUNT(*) OVER () AS nd
      FROM d
    ),
    med AS (SELECT n AS median_n FROM r WHERE rk = (nd + 1) // 2)
    SELECT day, n, median_n
    FROM d, med WHERE n * 20 > median_n * 21
    """,
)
def events_burst_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """burst detection over the event stream: days whose volume exceeds
    the median day by >5% (21/20 cross-multiplied) (the ops-analytics anomaly flag for traffic
    spikes / scraper storms), with the LOW median picked by exact rank
    ((nd+1) div 2 — no float percentile) and the threshold as the
    cross-multiplied integer inequality n*20 > median*21 (tuned to the
    fixture's low-variance stream so the flag genuinely discriminates;
    production would pass its own multiplier). The day frame
    is tiny (one row per day), so every window runs over it, never over
    events — ONE combined groupBy collapses the stream first."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    r = d.select(
        "day", "n",
        F.row_number().over(Window.orderBy("n", "day")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    )
    med = r.where(F.col("rk") == F.expr("(nd + 1) div 2")).select(
        F.col("n").alias("median_n")
    )
    return (
        d.crossJoin(F.broadcast(med))
        .where(F.col("n") * 20 > F.col("median_n") * 21)
        .select("day", F.col("n").cast("long").alias("n"), "median_n")
    )


@_q(
    "q14_type_revenue_share",
    """
    WITH j AS (
      SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS rev,
             CASE WHEN p.p_type = 'ECONOMY' THEN 1 ELSE 0 END AS is_eco
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT ship_month,
           CAST(SUM(CASE WHEN is_eco = 1 THEN rev ELSE 0 END) AS BIGINT)
             AS eco_rev_c4,
           CAST(SUM(rev) AS BIGINT) AS total_rev_c4,
           CAST(SUM(CASE WHEN is_eco = 1 THEN rev ELSE 0 END) * 1000
                // SUM(rev) AS BIGINT) AS eco_permille
    FROM j GROUP BY ship_month
    """,
)
def q14_type_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion-effect) recast on the fixture's part types:
    per ship month, the revenue share of ECONOMY-type parts as an exact
    floor-permille over int64 cent-squared revenue (the same money
    dialect as Q10/the reconciliation audit — no float division until
    nothing is left to diverge). Plan: fact-dimension equi-join (part
    broadcast under AQE), ONE combined groupBy on the month key; both
    conditional sums ride the same partial aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        (cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).alias("rev"),
        F.when(F.col("p_type") == "ECONOMY", 1).otherwise(0).alias("is_eco"),
    )
    eco = F.sum(F.when(F.col("is_eco") == 1, F.col("rev")).otherwise(0))
    return j.groupBy("ship_month").agg(
        eco.cast("long").alias("eco_rev_c4"),
        F.sum("rev").cast("long").alias("total_rev_c4"),
        F.expr(
            "CAST(sum(CASE WHEN is_eco = 1 THEN rev ELSE 0 END) * 1000"
            " div sum(rev) AS BIGINT)"
        ).alias("eco_permille"),
    )


_GINI_ZOOM = 6


def _gini_oracle_sql() -> str:
    """Tiles (shared twin), counts, the deterministic ascending rank and
    the closed-form integer Gini numerator — one floor division at the
    end, everything else exact int64."""
    n = 1 << _GINI_ZOOM
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_GINI_ZOOM, 'pts', 'point_id')}),
    c AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS v FROM t GROUP BY 1, 2),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, x * {n} + y) AS i FROM c)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(v) AS BIGINT) AS total_points,
           CAST((2 * SUM(i * v) - (COUNT(*) + 1) * SUM(v)) * 1000
                // (COUNT(*) * SUM(v)) AS BIGINT) AS gini_permille
    FROM r
    """


@_q("spatial_tile_gini", _gini_oracle_sql())
def spatial_tile_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spatial inequality coefficient: the Gini of the occupied-tile
    count distribution as exact floor-permille — the one-number "is this
    corpus geographically lopsided" audit completing the concentration
    family (HHI = per-source, Moran's I = autocorrelation, Gini =
    global inequality). Closed form over the ascending rank: permille =
    (2*Σ(i*v) - (n+1)*Σv) * 1000 div (n*Σv) — deterministic (v,
    tile_key) order, int64 throughout, ONE floor division at the end.
    Runs on the occupied-tile frame; points collapse first."""
    from fairy_core_spark.spatial.webmercator import with_tiles

    nside = 1 << _GINI_ZOOM
    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    c = (
        with_tiles(pts, zoom=_GINI_ZOOM, quadkey=False)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    r = c.select(
        "v",
        F.row_number()
        .over(Window.orderBy("v", F.col("tile_x") * nside + F.col("tile_y")))
        .alias("i"),
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("v").cast("long").alias("total_points"),
        F.expr(
            "CAST((2 * sum(i * v) - (count(*) + 1) * sum(v)) * 1000"
            " div (count(*) * sum(v)) AS BIGINT)"
        ).alias("gini_permille"),
    )


@_q(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_c4,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_type = 'ECONOMY' AND l.l_quantity BETWEEN 1 AND 11
           AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_type = 'SMALL' AND l.l_quantity BETWEEN 10 AND 20
           AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_type = 'PROMO' AND l.l_quantity BETWEEN 20 AND 30
           AND p.p_size BETWEEN 1 AND 15)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under three OR'd predicate
    groups spanning BOTH join sides) — the classic stress of disjunctive
    predicate handling: each group mixes a dimension attribute with a
    fact attribute, so nothing factors into a single-side pushdown, yet
    the join stays an equi-join with the residual OR as a post-join
    filter (never a cartesian). Int64 cent-squared money, one summary
    row."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731
    j = li.join(p, li.l_partkey == p.p_partkey)
    grp = (
        ((F.col("p_type") == "ECONOMY") & F.col("l_quantity").between(1, 11)
         & F.col("p_size").between(1, 5))
        | ((F.col("p_type") == "SMALL") & F.col("l_quantity").between(10, 20)
           & F.col("p_size").between(1, 10))
        | ((F.col("p_type") == "PROMO") & F.col("l_quantity").between(20, 30)
           & F.col("p_size").between(1, 15))
    )
    return j.where(grp).agg(
        F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount")))
        .cast("long")
        .alias("revenue_c4"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@_q(
    "events_conversion_latency",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t_buy
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY user_id
    ),
    conv AS (
      SELECT user_id, t_buy - t_view AS lat_us FROM per_user
      WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy > t_view
    ),
    r AS (
      SELECT lat_us, ROW_NUMBER() OVER (ORDER BY lat_us, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM conv
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converting,
           CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN lat_us END) AS BIGINT)
             AS median_latency_us,
           CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN lat_us END)
                AS BIGINT) AS p90_latency_us
    FROM r
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conversion-latency distribution: per user, first view -> first
    purchase in exact microseconds (only genuine conversions — purchase
    strictly after view), summarized as exact rank-selected median and
    p90 (value at ceil(p*n), (lat, user) total order — the same
    discrete-percentile contract as agg_segment_percentiles, here over
    the funnel). One combined groupBy collapses events to per-user
    stage minima; the percentile windows run over the converting-user
    frame."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_buy"),
    )
    conv = per_user.where(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") > F.col("t_view"))
    ).select("user_id", (F.col("t_buy") - F.col("t_view")).alias("lat_us"))
    r = conv.select(
        "lat_us",
        F.row_number().over(Window.orderBy("lat_us", "user_id")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_converting"),
        F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("lat_us")))
        .cast("long")
        .alias("median_latency_us"),
        F.max(F.when(F.col("rk") == F.expr("(9 * n + 9) div 10"), F.col("lat_us")))
        .cast("long")
        .alias("p90_latency_us"),
    )


def _cluster_centroids_oracle_sql() -> str:
    """Frozen point->cell mapping + ring-1 adjacency (both drift-guarded);
    DuckDB genuinely recomputes the density threshold, the closure, the
    min labels, the member join and the integer centroid floor-divs —
    the same trust base as spatial_cluster_cells, extended one stage."""
    if HEX7_CELLS_SF001 is None or HEX7_RING1_SF001 is None:
        return None
    cells = ", ".join(f"({p}, {t})" for p, t in HEX7_CELLS_SF001)
    edges = ", ".join(f"({a}, {b})" for a, b in HEX7_RING1_SF001)
    return f"""
    WITH RECURSIVE pts(point_id, hex_id) AS (VALUES {cells}),
    counts AS (
      SELECT hex_id, CAST(COUNT(*) AS BIGINT) AS n_points FROM pts
      GROUP BY hex_id HAVING COUNT(*) >= 2
    ),
    base AS (
      SELECT e.cell, e.nbr FROM (VALUES {edges}) e(cell, nbr)
      JOIN counts a ON a.hex_id = e.cell
      JOIN counts b ON b.hex_id = e.nbr
    ),
    edges AS (SELECT cell, nbr FROM base UNION SELECT nbr, cell FROM base),
    reach(node, lab) AS (
      SELECT hex_id, hex_id FROM counts
      UNION
      SELECT e.nbr, r.lab FROM reach r JOIN edges e ON e.cell = r.node
    ),
    labs AS (SELECT node AS hex_id, MIN(lab) AS cluster_id FROM reach
             GROUP BY node),
    mem AS (
      SELECT l.cluster_id,
             CAST((p.point_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((p.point_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM pts p JOIN labs l ON l.hex_id = p.hex_id
    )
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST((SUM(px) - ((SUM(px) % COUNT(*)) + COUNT(*)) % COUNT(*))
                // COUNT(*) AS BIGINT) AS cx_mdeg,
           CAST((SUM(py) - ((SUM(py) % COUNT(*)) + COUNT(*)) % COUNT(*))
                // COUNT(*) AS BIGINT) AS cy_mdeg
    FROM mem GROUP BY cluster_id
    """


@_q("spatial_cluster_centroids", _cluster_centroids_oracle_sql())
def spatial_cluster_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POI extraction: each grid-spatial-cluster (the DBSCAN-on-a-hex-
    grid components spatial_cluster_cells certifies) summarized to a
    member count and an exact-integer millidegree centroid (floor of
    coordinate sums over members — all member points, not just core
    cells). The clusters->places table a gazetteer build or a label
    study consumes. Plan: the cluster frame is cell-cardinality (small);
    members join back by cell id; centroid sums are ONE combined
    groupBy on the 8-byte label. Centroid division FLOORS on both
    sides via the positive-mod adjustment (coordinate sums go negative
    west/south of the origin and both engines' native integer division
    truncates)."""
    from fairy_core_spark.spatial.ops import cluster_cells, with_cell

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey").select(
        "point_id",
        "lat",
        "lon",
        ((F.col("point_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("point_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    tiled = with_cell(pts, level=2, out="hex_id", scheme="hex7")
    clusters = cluster_cells(tiled, cell_col="hex_id", min_points=2).select(
        "hex_id", "cluster_id"
    )
    mem = tiled.join(clusters, "hex_id")
    return mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.expr(
            "CAST((sum(px) - pmod(sum(px), count(*))) div count(*) AS BIGINT)"
        ).alias("cx_mdeg"),
        F.expr(
            "CAST((sum(py) - pmod(sum(py), count(*))) div count(*) AS BIGINT)"
        ).alias("cy_mdeg"),
    )


_VOR_K = 20


def _voronoi_oracle_sql() -> str:
    """Seed sites from s_suppkey (both engines recompute them), the
    brute nearest over all K seeds in exact int64 squared millidegrees,
    the (d2, site) deterministic pick — nothing frozen."""
    return f"""
    WITH seeds AS (
      SELECT s_suppkey AS site_id,
             CAST((s_suppkey * 104729) % 360000 - 180000 AS BIGINT) AS sx,
             CAST((s_suppkey * 7919) % 120000 - 60000 AS BIGINT) AS sy
      FROM supplier WHERE s_suppkey <= {_VOR_K}
    ),
    pts AS (
      SELECT c_custkey AS point_id,
             CAST((c_custkey * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((c_custkey * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM customer
    ),
    sc AS (
      SELECT p.point_id, s.site_id,
             (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy)
               AS d2
      FROM pts p CROSS JOIN seeds s
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY point_id
                                       ORDER BY d2, site_id) AS rk FROM sc)
    SELECT point_id, site_id, d2 FROM r WHERE rk = 1
    """


@_q("spatial_voronoi_assign", _voronoi_oracle_sql())
def spatial_voronoi_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """catchment assignment (planar Voronoi partition): every point
    labeled with its nearest of K facility sites in exact int64 squared
    millidegrees, (d2, site) deterministic — the service-area /
    store-catchment / IVF-in-geo-space primitive. K is broadcast-small
    by nature (facilities, not data), so the plan is ONE broadcast
    nested-loop over K seeds + a WindowGroupLimit pick — points never
    shuffle against each other; at huge K the same call swaps to the
    tile-bucketed candidate path (the map-match machinery)."""
    seeds = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= _VOR_K)
        .select(
            F.col("s_suppkey").alias("site_id"),
            ((F.col("s_suppkey") * 104729) % 360000 - 180000)
            .cast("long")
            .alias("sx"),
            ((F.col("s_suppkey") * 7919) % 120000 - 60000)
            .cast("long")
            .alias("sy"),
        )
    )
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("c_custkey") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    sc = pts.crossJoin(F.broadcast(seeds)).select(
        "point_id",
        "site_id",
        (
            (F.col("px") - F.col("sx")) * (F.col("px") - F.col("sx"))
            + (F.col("py") - F.col("sy")) * (F.col("py") - F.col("sy"))
        ).alias("d2"),
    )
    w = Window.partitionBy("point_id").orderBy("d2", "site_id")
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("point_id", "site_id", F.col("d2").cast("long").alias("d2"))
    )


def _sharp_turns_oracle_sql() -> str:
    """epoch_us + millidegree twins, two LEAD hops per event under the
    identical ordering, the pure-integer obtuse-angle test (dot < 0 —
    no atan2, no floats), per-user counts and floor-permille rate."""
    return """
    WITH pos AS (
      SELECT user_id, epoch_us(ts) AS t, event_id,
             CAST((event_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((event_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM events
    ),
    h AS (
      SELECT user_id, px, py,
             LEAD(px) OVER w AS x1, LEAD(py) OVER w AS y1,
             LEAD(px, 2) OVER w AS x2, LEAD(py, 2) OVER w AS y2
      FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    a AS (
      SELECT user_id,
             CASE WHEN (x1 - px) * (x2 - x1) + (y1 - py) * (y2 - y1) < 0
                  THEN 1 ELSE 0 END AS sharp
      FROM h WHERE x2 IS NOT NULL
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_angles,
           CAST(SUM(sharp) AS BIGINT) AS n_sharp,
           CAST(SUM(sharp) * 1000 // COUNT(*) AS BIGINT) AS sharp_permille
    FROM a GROUP BY user_id
    """


@_q("traj_sharp_turns", _sharp_turns_oracle_sql())
def traj_sharp_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sharp-turn detection: per user, consecutive hop pairs whose
    heading reverses by more than 90 degrees — the erratic-track /
    GPS-noise signal — decided by the PURE INTEGER obtuse-angle test
    dot(v1, v2) < 0 (no atan2, no float thresholds to smear
    cross-engine), with count and floor-permille rate per user. Both
    LEAD hops and the closing groupBy ride ONE entity exchange."""
    ev = _synth_event_points(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "event_id",
        ((F.col("event_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("event_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    h = ev.select(
        "user_id", "px", "py",
        F.lead("px").over(w).alias("x1"), F.lead("py").over(w).alias("y1"),
        F.lead("px", 2).over(w).alias("x2"), F.lead("py", 2).over(w).alias("y2"),
    ).where(F.col("x2").isNotNull())
    dot = (F.col("x1") - F.col("px")) * (F.col("x2") - F.col("x1")) + (
        F.col("y1") - F.col("py")
    ) * (F.col("y2") - F.col("y1"))
    a = h.select("user_id", F.when(dot < 0, 1).otherwise(0).alias("sharp"))
    return a.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_angles"),
        F.sum("sharp").cast("long").alias("n_sharp"),
        F.expr("CAST(sum(sharp) * 1000 div count(*) AS BIGINT)").alias(
            "sharp_permille"
        ),
    )


@_q(
    "events_stickiness",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT)
               AS week,
             user_id
      FROM events
    ),
    dau AS (SELECT day, week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
            FROM d GROUP BY day, week),
    wau AS (SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
            FROM d GROUP BY week)
    SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
           CAST(dau.dau * 1000 // wau.wau AS BIGINT) AS stickiness_permille
    FROM dau JOIN wau USING (week)
    """,
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness: per day, distinct daily actives over the
    containing week's distinct weekly actives as exact floor-permille —
    the engagement ratio every product dashboard leads with. Two
    distinct counts (day-keyed and week-keyed — Spark plans each as the
    two-stage Expand partial-distinct) joined on the integer week
    index; the ratio divides once, integer floor."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.expr(
            "CAST(datediff(to_date(ts), DATE'2024-01-01') div 7 AS BIGINT)"
        ).alias("week"),
        "user_id",
    )
    dau = ev.groupBy("day", "week").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    wau = ev.groupBy("week").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return dau.join(wau, "week").select(
        "day", "dau", "wau",
        F.expr("CAST(dau * 1000 div wau AS BIGINT)").alias("stickiness_permille"),
    )


def _quarantine_oracle_sql() -> str:
    """Hand-derived from the datagen dirty spec (non-circular, same
    basis as the image_validate oracle): dirty rows are i%50==49 with
    variant (i//50)%4 cycling null_caption / dim_mismatch / truncated /
    bad_fmt; the first-match reason precedence (decode > dims >
    caption) maps variants 2,3 -> 'decode', 1 -> 'dims', 0 ->
    'caption'. Clean rows never quarantine."""
    return """
    SELECT printf('img%010d', i) AS image_id,
           CASE (i // 50) % 4
             WHEN 0 THEN 'caption'
             WHEN 1 THEN 'dims'
             ELSE 'decode'
           END AS reason
    FROM generate_series(0, 999) s(i)
    WHERE i % 50 = 49
    """


@_q("image_quarantine", _quarantine_oracle_sql())
def image_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stage-1 quarantine table: each failing image with ONE first-match
    reason (decode > dims > caption — the precedence a triage queue
    wants; a frame that fails decode would fail everything downstream,
    so only the root cause surfaces). The row-level complement of the
    image_validate COUNTS report, over the same dirty fixture and the
    same one-Arrow-pass check machinery; bytes never leave the scan
    (with_image_checks drops them). The oracle derives the expected
    rows from the datagen spec alone — non-circular w.r.t. the decode
    engine."""
    from fairy_core_spark.operators.images import with_image_checks

    checked = with_image_checks(_images_cached(spark, 1000, dirty_every=50))
    reason = (
        F.when(~F.col("decode_ok"), "decode")
        .when(~F.col("dims_ok"), "dims")
        .when(~F.col("caption_ok"), "caption")
    )
    return (
        checked.withColumn("reason", reason)
        .where(F.col("reason").isNotNull())
        .select("image_id", "reason")
    )


@_q(
    "events_longest_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS dayn
      FROM events
    ),
    g AS (
      SELECT user_id, dayn,
             dayn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dayn)
               AS grp
      FROM d
    ),
    s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id, CAST(MAX(streak) AS BIGINT) AS longest_streak,
           CAST(SUM(streak) AS BIGINT) AS n_active_days
    FROM s GROUP BY user_id
    """,
)
def events_longest_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """longest consecutive-day activity streak per user (the retention /
    habit metric next to stickiness): classic gaps-and-islands on the
    integer day number — dayn minus its per-user rank is constant
    exactly within a consecutive run. Events collapse to distinct
    (user, day) FIRST (the frame every later stage runs on); the rank
    window and both groupBys share the user partitioning."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("dayn"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dayn")
    g = ev.withColumn("grp", F.col("dayn") - F.row_number().over(w))
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("streak"))
    return s.groupBy("user_id").agg(
        F.max("streak").cast("long").alias("longest_streak"),
        F.sum("streak").cast("long").alias("n_active_days"),
    )


# donut zone: outer rect minus a hole rect, all bounds offset from the
# millidegree synthesis grid so no point sits on an edge
_DONUT_OUTER = (-30.00055, 30.00055, -60.00055, 60.00055)
_DONUT_HOLE = (-10.00055, 10.00055, -20.00055, 20.00055)


def _pip_holes_oracle_sql() -> str:
    """For axis-aligned rings the even-odd multi-ring semantics reduce to
    (inside outer) AND NOT (inside hole) — DuckDB recomputes it as two
    BETWEEN pairs; bounds are boundary-offset so edge rules can't
    differ."""
    la0, la1, lo0, lo1 = _DONUT_OUTER
    ha0, ha1, ho0, ho1 = _DONUT_HOLE
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')})
    SELECT point_id,
           CAST(CASE WHEN lat BETWEEN {la0!r} AND {la1!r}
                      AND lon BETWEEN {lo0!r} AND {lo1!r}
                      AND NOT (lat BETWEEN {ha0!r} AND {ha1!r}
                               AND lon BETWEEN {ho0!r} AND {ho1!r})
                     THEN 1 ELSE 0 END AS BIGINT) AS in_zone
    FROM pts
    """


@_q("spatial_pip_holes", _pip_holes_oracle_sql())
def spatial_pip_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """polygon-with-holes containment (spatial/ops.
    annotate_in_polygon_with_holes): a donut zone — coverage area minus
    an exclusion — flagged per point via the even-odd MULTI-RING ray
    cast (XOR across rings, the GeoJSON polygon model a single-ring PIP
    cannot express; an island ring inside a hole would flip back in for
    free). Zero-shuffle Arrow projection, the PIP-annotation hot-path
    shape. The oracle reduces the axis-aligned case to two BETWEEN
    pairs — the ray-cast kernel is genuinely cross-checked against an
    independent formulation."""
    from fairy_core_spark.spatial.ops import annotate_in_polygon_with_holes

    def rect_ring(la0, la1, lo0, lo1):
        return [
            [la0, lo0], [la0, lo1], [la1, lo1], [la1, lo0], [la0, lo0],
        ]

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey")
    out = annotate_in_polygon_with_holes(
        pts, [rect_ring(*_DONUT_OUTER), rect_ring(*_DONUT_HOLE)]
    )
    return out.select(
        "point_id", F.when(F.col("in_zone"), 1).otherwise(0).cast("long").alias("in_zone")
    )


def _consensus_oracle_sql() -> str:
    """Both hash goldens frozen (each drift-guarded + pinned by scalar/
    batch parity tests); the band candidate join, all three popcount
    distances and the 2-of-3 vote genuinely recomputed."""
    if IMAGE_PHASH_3000 is None or IMAGE_ALTHASH_3000 is None:
        return None
    ph = ", ".join(f"({iid!r}, {p})" for iid, p in IMAGE_PHASH_3000)
    ah = ", ".join(f"({iid!r}, {d}, {a})" for iid, d, a in IMAGE_ALTHASH_3000)
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT image_id, phash, {b} AS band,"
        f" (phash >> {b * 16}) & 65535 AS val FROM imgs"
        for b in range(4)
    )
    return f"""
    WITH imgs(image_id, phash) AS (VALUES {ph}),
    alt(image_id, dhash, ahash) AS (VALUES {ah}),
    banded AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
             a.phash AS pa, b.phash AS pb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.val = b.val AND a.image_id < b.image_id
    ),
    j AS (
      SELECT c.id_a, c.id_b,
             bit_count(xor(c.pa, c.pb)) AS ham_p,
             bit_count(xor(x.dhash, y.dhash)) AS ham_d,
             bit_count(xor(x.ahash, y.ahash)) AS ham_a
      FROM cand c JOIN alt x ON x.image_id = c.id_a
                  JOIN alt y ON y.image_id = c.id_b
    )
    SELECT id_a, id_b, CAST(ham_p AS BIGINT) AS ham_p,
           CAST(ham_d AS BIGINT) AS ham_d, CAST(ham_a AS BIGINT) AS ham_a
    FROM j
    WHERE (CASE WHEN ham_p <= 3 THEN 1 ELSE 0 END
           + CASE WHEN ham_d <= 6 THEN 1 ELSE 0 END
           + CASE WHEN ham_a <= 6 THEN 1 ELSE 0 END) >= 2
    """


@_q("image_consensus_near_dups", _consensus_oracle_sql())
def image_consensus_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross-hash consensus near-dups: phash-banded candidate pairs
    confirmed by AT LEAST TWO of three independent perceptual hashes
    (phash Hamming<=3, dhash<=6, ahash<=6) — the standard
    false-positive suppressor when a single hash family's failure mode
    (DCT for global tone, gradient for texture) would over-merge.
    Candidates stay pigeonhole-complete from the phash bands; the two
    alt-hash columns join by id (8 bytes each) and the vote is pure
    integer. All three hashes ride the SAME memoized decode pass
    (alt_hashes + the stored phash)."""
    from fairy_core_spark.functions.alt_hash import alt_hashes

    imgs = _images_cached(spark, _LOWINFO_N)
    alt = _memo_df(
        spark, ("alt_hashes", _LOWINFO_N), lambda: alt_hashes(imgs)
    ).select("image_id", "dhash", "ahash")
    from fairy_core_spark.operators.dedup import phash_near_dups

    # candidates = banded pairs WITHOUT the phash refine (max bound), so
    # dhash+ahash agreement alone can also confirm a pair
    bands = []
    for b in range(4):
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("phash"), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
        )
    banded = imgs.select(
        F.col("image_id").alias("id"), F.col("phash").alias("ph"),
        F.explode(F.array(*bands)).alias("bk"),
    ).select("id", "ph", F.col("bk.band").alias("band"), F.col("bk.val").alias("val"))
    a, b2 = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.ph").alias("pa"), F.col("b.ph").alias("pb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    x = alt.select(
        F.col("image_id").alias("id_a"),
        F.col("dhash").alias("da"), F.col("ahash").alias("aa"),
    )
    y = alt.select(
        F.col("image_id").alias("id_b"),
        F.col("dhash").alias("db"), F.col("ahash").alias("ab"),
    )
    j = cand.join(x, "id_a").join(y, "id_b").select(
        "id_a", "id_b",
        F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("long").alias("ham_p"),
        F.bit_count(F.col("da").bitwiseXOR(F.col("db"))).cast("long").alias("ham_d"),
        F.bit_count(F.col("aa").bitwiseXOR(F.col("ab"))).cast("long").alias("ham_a"),
    )
    vote = (
        F.when(F.col("ham_p") <= 3, 1).otherwise(0)
        + F.when(F.col("ham_d") <= 6, 1).otherwise(0)
        + F.when(F.col("ham_a") <= 6, 1).otherwise(0)
    )
    return j.where(vote >= 2)


@_q(
    "corpus_incremental_dedup",
    """
    WITH corpus AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
    ),
    ck AS (SELECT h, MIN(doc_id) AS corpus_keeper FROM corpus GROUP BY h),
    bk AS (SELECT h, MIN(doc_id) AS batch_keeper FROM batch GROUP BY h)
    SELECT b.doc_id,
           CASE WHEN ck.corpus_keeper IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> bk.batch_keeper THEN 'dup_in_batch'
                ELSE 'new' END AS status,
           CAST(COALESCE(ck.corpus_keeper, bk.batch_keeper) AS BIGINT)
             AS keeper_id
    FROM batch b
    LEFT JOIN ck ON ck.h = b.h
    JOIN bk ON bk.h = b.h
    """,
)
def corpus_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental-ingestion dedup: a NEW batch checked against the
    standing corpus — each batch doc labeled dup_of_corpus (content
    hash already ingested; keeper = earliest corpus holder),
    dup_in_batch (first occurrence inside the batch wins), or new. The
    shape every continuously-crawled corpus runs on every delivery:
    the corpus side collapses to (hash, keeper) FIRST, so the join
    carries 16-byte digests + one id — never documents — and the batch
    never rescans old text. Fixture split on doc_id (< 400 = corpus)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    corpus = docs.where(F.col("doc_id") < 400)
    batch = docs.where(F.col("doc_id") >= 400)
    ck = corpus.groupBy("h").agg(F.min("doc_id").alias("corpus_keeper"))
    bk = batch.groupBy("h").agg(F.min("doc_id").alias("batch_keeper"))
    j = batch.join(ck, "h", "left").join(bk, "h")
    status = (
        F.when(F.col("corpus_keeper").isNotNull(), "dup_of_corpus")
        .when(F.col("doc_id") != F.col("batch_keeper"), "dup_in_batch")
        .otherwise("new")
    )
    return j.select(
        "doc_id",
        status.alias("status"),
        F.coalesce("corpus_keeper", "batch_keeper").cast("long").alias("keeper_id"),
    )


@_q(
    "events_hourly_seasonality",
    """
    WITH h AS (
      SELECT CAST(date_part('dow', ts) AS BIGINT) AS dow,
             CAST(date_part('hour', ts) AS BIGINT) AS hour
      FROM events
    ),
    c AS (SELECT dow, hour, CAST(COUNT(*) AS BIGINT) AS n
          FROM h GROUP BY 1, 2)
    SELECT dow, hour, n,
           CAST(n * 10000 // SUM(n) OVER () AS BIGINT) AS share_permyriad
    FROM c
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """traffic seasonality profile: event counts per (day-of-week, hour)
    cell with exact floor-permyriad shares — the capacity-planning /
    crawl-scheduling heat grid. Spark's dayofweek is 1-based
    Sunday-first; DuckDB's dow is 0-based Sunday — the entry normalizes
    to the 0-based convention explicitly so the contract is the
    calendar, not an engine default. One combined groupBy to the 168-row
    frame; the share window runs over that frame."""
    ev = _t(spark, sf_dir, "events").select(
        (F.dayofweek(F.col("ts")) - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    )
    c = ev.groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n"))
    return c.select(
        "dow", "hour", F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST(n * 10000 div sum(n) OVER () AS BIGINT)"
        ).alias("share_permyriad"),
    )


def _gyration_oracle_sql() -> str:
    """Millidegree twin, per-user integer moments, and the exact
    closed-form numerator n*Σ|p|² - |Σp|² floor-divided by n² (all
    terms non-negative, so native truncation == floor in both)."""
    return """
    WITH pos AS (
      SELECT user_id,
             CAST((event_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((event_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM events
    ),
    m AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(px) AS HUGEINT) AS sx, CAST(SUM(py) AS HUGEINT) AS sy,
             CAST(SUM(px * px) AS HUGEINT) AS sxx,
             CAST(SUM(py * py) AS HUGEINT) AS syy
      FROM pos GROUP BY user_id
    )
    SELECT user_id, n,
           CAST((n * (sxx + syy) - (sx * sx + sy * sy)) // (n * n) AS BIGINT)
             AS gyration_mdeg2
    FROM m
    """


@_q("traj_radius_of_gyration", _gyration_oracle_sql())
def traj_radius_of_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """radius of gyration per user — THE human-mobility summary
    statistic (Gonzalez et al. 2008): mean squared distance from the
    user's own centroid, computed CLOSED-FORM as
    (n*Σ|p|² - |Σp|²) div n² so the centroid never materializes as a
    float — four integer moments per user in ONE map-side-combined
    groupBy (the wire carries 5 numbers per user), one exact floor
    division at the end (numerator non-negative by Cauchy-Schwarz, so
    both engines' truncating division IS floor). DECIMAL(38,0) partials
    keep |Σp|² exact far beyond int64."""
    ev = _synth_event_points(spark, sf_dir).select(
        "user_id",
        ((F.col("event_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("event_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    dec = "decimal(38,0)"
    m = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("px").cast(dec)).alias("sx"),
        F.sum(F.col("py").cast(dec)).alias("sy"),
        F.sum((F.col("px") * F.col("px")).cast(dec)).alias("sxx"),
        F.sum((F.col("py") * F.col("py")).cast(dec)).alias("syy"),
    )
    return m.select(
        "user_id", "n",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * (sxx + syy) - (sx * sx + sy * sy))"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("gyration_mdeg2"),
    )


def _channel_stats_oracle_sql() -> str:
    """Per-channel closed-form replay on the shared datagen base CTEs:
    sum_r = h * Σ_x r(x), sum_g = w * Σ_y g(y), sum_b = Σ_s c(s)·b(s)
    (anti-diagonal multiplicities), qnt bin centers per channel; the
    dominant-channel CASE with the first-max (r > g > b precedence) tie
    rule recomputed."""
    return f"""
    WITH {_image_base_ctes(_LOWINFO_N)},
    ch AS (
      SELECT i, fmt, 'r' AS c, (u * 255 // (w - 1) + ox) % 256 AS v, h AS cnt
      FROM offs, ser WHERE u < w
      UNION ALL
      SELECT i, fmt, 'g', (u * 255 // (h - 1) + oy) % 256, w
      FROM offs, ser WHERE u < h
      UNION ALL
      SELECT i, fmt, 'b', (u * 255 // (w + h - 2) + oc) % 256,
             LEAST(u, w - 1, h - 1, w + h - 2 - u) + 1
      FROM offs, ser WHERE u <= w + h - 2
    ),
    vv AS (
      SELECT i, c, CASE WHEN fmt = 'qnt' THEN (v // 4) * 4 + 2 ELSE v END AS v,
             cnt
      FROM ch
    ),
    cs AS (
      SELECT m2.image_id,
             CAST(SUM(CASE WHEN c = 'r' THEN v * cnt ELSE 0 END) AS BIGINT)
               AS sum_r,
             CAST(SUM(CASE WHEN c = 'g' THEN v * cnt ELSE 0 END) AS BIGINT)
               AS sum_g,
             CAST(SUM(CASE WHEN c = 'b' THEN v * cnt ELSE 0 END) AS BIGINT)
               AS sum_b
      FROM vv JOIN m2 USING (i) GROUP BY m2.image_id
    )
    SELECT image_id, sum_r, sum_g, sum_b,
           CASE WHEN sum_r >= sum_g AND sum_r >= sum_b THEN 'r'
                WHEN sum_g >= sum_b THEN 'g' ELSE 'b' END AS dominant
    FROM cs
    """


@_q("image_channel_stats", _channel_stats_oracle_sql())
def image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """color-cast audit (operators/images.channel_stats): exact integer
    per-channel value sums + the dominant channel (first-max r > g > b
    tie precedence) per image — the white-balance / failing-sensor
    detector a capture pipeline runs before training ingestion. One
    Arrow decode pass over the shared memoized frame, pure projection;
    the oracle replays each channel closed-form on the shared datagen
    base CTEs (nothing frozen)."""
    from fairy_core_spark.operators.images import channel_stats

    cs = _memo_df(
        spark,
        ("channel_stats", _LOWINFO_N),
        lambda: channel_stats(_images_cached(spark, _LOWINFO_N)),
    )
    dom = (
        F.when(
            (F.col("sum_r") >= F.col("sum_g")) & (F.col("sum_r") >= F.col("sum_b")),
            "r",
        )
        .when(F.col("sum_g") >= F.col("sum_b"), "g")
        .otherwise("b")
    )
    return cs.select("image_id", "sum_r", "sum_g", "sum_b", dom.alias("dominant"))


_DIVERSITY_ZOOM = 5


def _location_diversity_oracle_sql() -> str:
    """Millidegree twin + tile formula (shared), per-(user, tile) counts,
    distinct breadth and the hottest-tile floor-permille — the per-user
    sibling of the per-source concentration audit, fully recomputed."""
    return f"""
    WITH pos AS ({_SYNTH_EVENT_POINTS_SQL}),
    t AS ({_wm_tile_sql(_DIVERSITY_ZOOM, 'pos', 'user_id')}),
    c AS (SELECT user_id, x, y, CAST(COUNT(*) AS BIGINT) AS n
          FROM t GROUP BY 1, 2, 3)
    SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_pings,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(MAX(n) * 1000 // SUM(n) AS BIGINT) AS top_tile_permille
    FROM c GROUP BY user_id
    """


@_q("traj_location_diversity", _location_diversity_oracle_sql())
def traj_location_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user mobility diversity: distinct-tile breadth + the hottest
    tile's exact floor-permille share of the user's pings — the
    predictability / homebody-vs-explorer profile next to the radius of
    gyration (breadth and concentration where gyration gives spread).
    Two combined aggregates, (user, tile) partials bound the first
    shuffle; the per-user sibling of the per-source concentration
    audit."""
    from fairy_core_spark.spatial.webmercator import with_tiles

    ev = _synth_event_points(spark, sf_dir)
    tiled = with_tiles(ev, zoom=_DIVERSITY_ZOOM, quadkey=False)
    c = tiled.groupBy("user_id", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n")
    )
    return c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_pings"),
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.expr("CAST(max(n) * 1000 div sum(n) AS BIGINT)").alias(
            "top_tile_permille"
        ),
    )


@_q(
    "orders_ship_delay_percentiles",
    """
    WITH d AS (
      SELECT o.o_orderpriority AS priority,
             CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT) AS delay_days,
             l.l_orderkey AS ok, l.l_linenumber AS ln
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    r AS (
      SELECT priority, delay_days,
             ROW_NUMBER() OVER (PARTITION BY priority
                                ORDER BY delay_days, ok, ln) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM d
    )
    SELECT priority, CAST(MAX(n) AS BIGINT) AS n_items,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN delay_days END)
                AS BIGINT) AS p50_days,
           CAST(MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN delay_days END)
                AS BIGINT) AS p95_days
    FROM r GROUP BY priority
    """,
)
def orders_ship_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fulfilment SLA report: order-to-ship delay in exact integer days,
    rank-selected p50/p95 PER PRIORITY CLASS (the group-partitioned
    discrete-percentile contract again — each class sorts in parallel,
    no global sort; ties totalized by (delay, orderkey, linenumber)).
    The operational twin of the financial reconciliation: both recompute
    an order-level truth from the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("delay_days"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    wp = Window.partitionBy("priority")
    r = d.select(
        "priority", "delay_days",
        F.row_number().over(wp.orderBy("delay_days", "ok", "ln")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return r.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_items"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("delay_days")))
        .cast("long")
        .alias("p50_days"),
        F.max(
            F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("delay_days"))
        )
        .cast("long")
        .alias("p95_days"),
    )


def _langid_case_sql(toks: str) -> str:
    """The stopword-argmax langid CASE over a token-array expression —
    the text_langid twin factored so the stability audit can apply it
    to document halves without copying the rule."""
    return f"""CASE WHEN GREATEST(
        len(list_filter({toks}, t -> t IN ('der','die','und','das','ist'))),
        len(list_filter({toks}, t -> t IN ('the','and','of','to','a'))),
        len(list_filter({toks}, t -> t IN ('el','la','de','que','y'))),
        len(list_filter({toks}, t -> t IN ('le','la','et','les','des')))) <= 0
      THEN 'und'
      WHEN len(list_filter({toks}, t -> t IN ('der','die','und','das','ist')))
             >= len(list_filter({toks}, t -> t IN ('the','and','of','to','a')))
       AND len(list_filter({toks}, t -> t IN ('der','die','und','das','ist')))
             >= len(list_filter({toks}, t -> t IN ('el','la','de','que','y')))
       AND len(list_filter({toks}, t -> t IN ('der','die','und','das','ist')))
             >= len(list_filter({toks}, t -> t IN ('le','la','et','les','des')))
      THEN 'de'
      WHEN len(list_filter({toks}, t -> t IN ('the','and','of','to','a')))
             >= len(list_filter({toks}, t -> t IN ('el','la','de','que','y')))
       AND len(list_filter({toks}, t -> t IN ('the','and','of','to','a')))
             >= len(list_filter({toks}, t -> t IN ('le','la','et','les','des')))
      THEN 'en'
      WHEN len(list_filter({toks}, t -> t IN ('el','la','de','que','y')))
             >= len(list_filter({toks}, t -> t IN ('le','la','et','les','des')))
      THEN 'es'
      ELSE 'fr' END"""


def _langid_stability_oracle_sql() -> str:
    """Token split at the array midpoint (floor half to the first part,
    identical both engines), the langid CASE applied to each half, the
    per-language agreement tally."""
    half = "len(toks) // 2"
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(TRIM(text)), '\\s+') AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id, toks[1:{half}] AS h1, toks[{half} + 1:len(toks)] AS h2
      FROM t WHERE len(toks) >= 2
    ),
    lab AS (
      SELECT doc_id, {_langid_case_sql('h1')} AS l1,
             {_langid_case_sql('h2')} AS l2
      FROM h
    )
    SELECT l1 AS lang_first_half, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) * 1000 // COUNT(*)
                AS BIGINT) AS agree_permille
    FROM lab GROUP BY l1
    """


@_q("text_langid_stability", _langid_stability_oracle_sql())
def text_langid_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classifier self-consistency audit: language id run INDEPENDENTLY
    on each half of every document, per-language split-half agreement
    rate as exact floor-permille — the classic cheap reliability check
    for any weak classifier (a language whose halves disagree often is
    one the stopword rule can't actually separate). Pure higher-order
    array functions riding the scan + one tiny groupBy; the midpoint
    split is the identical floor-half in both engines."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr(r"split(lower(trim(text)), '\\s+')")
    h = docs.select(
        "doc_id",
        F.expr(r"slice(split(lower(trim(text)), '\\s+'), 1,"
               r" size(split(lower(trim(text)), '\\s+')) div 2)").alias("h1"),
        F.expr(r"slice(split(lower(trim(text)), '\\s+'),"
               r" size(split(lower(trim(text)), '\\s+')) div 2 + 1,"
               r" size(split(lower(trim(text)), '\\s+')))").alias("h2"),
    ).where(F.size(toks) >= 2)

    def lid(col: str):
        hits = lambda ws: F.size(  # noqa: E731
            F.expr(f"filter({col}, t -> t IN ({ws}))")
        )
        de = hits("'der','die','und','das','ist'")
        en = hits("'the','and','of','to','a'")
        es = hits("'el','la','de','que','y'")
        fr = hits("'le','la','et','les','des'")
        return (
            F.when(F.greatest(de, en, es, fr) <= 0, "und")
            .when((de >= en) & (de >= es) & (de >= fr), "de")
            .when((en >= es) & (en >= fr), "en")
            .when(es >= fr, "es")
            .otherwise("fr")
        )

    lab = h.select(lid("h1").alias("l1"), lid("h2").alias("l2"))
    agree = F.when(F.col("l1") == F.col("l2"), 1).otherwise(0)
    return lab.groupBy(F.col("l1").alias("lang_first_half")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(agree).cast("long").alias("n_agree"),
        F.expr(
            "CAST(sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) * 1000"
            " div count(*) AS BIGINT)"
        ).alias("agree_permille"),
    )


def _nn_histogram_oracle_sql() -> str:
    """The full isolated-points replay (shared shape with that entry's
    oracle) collapsed to a power-of-16 distance histogram — bin edges
    are integer constants, so binning can't smear."""
    hi = (1 << _ISO_ZOOM) - 1
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
    WITH pts AS ({_synth_points_sql('customer', 'c_custkey')}),
    t AS ({_wm_tile_sql(_ISO_ZOOM, 'pts', 'point_id')}),
    ti AS (
      SELECT point_id AS pid, x AS tx, y AS ty,
             CAST((point_id * 104729) % 360000 - 180000 AS BIGINT) AS px,
             CAST((point_id * 7919) % 120000 - 60000 AS BIGINT) AS py
      FROM t
    ),
    probe AS (
      SELECT pid AS nid, tx + dx AS tx, ty + dy AS ty, px AS nx, py AS ny
      FROM ti CROSS JOIN (VALUES {offs}) o(dx, dy)
      WHERE tx + dx BETWEEN 0 AND {hi} AND ty + dy BETWEEN 0 AND {hi}
    ),
    cand AS (
      SELECT ti.pid, probe.nid,
             (ti.px - probe.nx) * (ti.px - probe.nx)
             + (ti.py - probe.ny) * (ti.py - probe.ny) AS d2
      FROM ti JOIN probe USING (tx, ty) WHERE ti.pid <> probe.nid
    ),
    nn AS (
      SELECT pid, MIN(d2) AS d2 FROM cand GROUP BY pid
    ),
    allp AS (
      SELECT ti.pid, nn.d2 FROM ti LEFT JOIN nn USING (pid)
    )
    SELECT CASE WHEN d2 IS NULL THEN 99
                WHEN d2 < 16 THEN 0 WHEN d2 < 256 THEN 1
                WHEN d2 < 4096 THEN 2 WHEN d2 < 65536 THEN 3
                WHEN d2 < 1048576 THEN 4 WHEN d2 < 16777216 THEN 5
                WHEN d2 < 268435456 THEN 6 ELSE 7 END AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM allp GROUP BY 1
    """


@_q("spatial_nn_distance_histogram", _nn_histogram_oracle_sql())
def spatial_nn_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spatial density profile: the nearest-neighbor distance
    distribution binned into power-of-16 squared-millidegree classes
    (bin 99 = no neighbor in range) — the one-table summary that tells
    you whether a corpus is clustered, uniform or sparse BEFORE you
    pick grid levels and radii for the heavier spatial ops. Composes
    the certified isolation machinery (same bounded-radius contract);
    the histogram groupBy runs on 8 small keys."""
    from fairy_core_spark.spatial.ops import isolated_points

    pts = _synth_points(_t(spark, sf_dir, "customer"), "c_custkey").select(
        "point_id",
        "lat",
        "lon",
        ((F.col("point_id") * 104729) % 360000 - 180000).cast("long").alias("px"),
        ((F.col("point_id") * 7919) % 120000 - 60000).cast("long").alias("py"),
    )
    iso = isolated_points(pts, _ISO_ZOOM)
    bin_ = (
        F.when(F.col("nn_dist_q") < 0, 99)
        .when(F.col("nn_dist_q") < 16, 0)
        .when(F.col("nn_dist_q") < 256, 1)
        .when(F.col("nn_dist_q") < 4096, 2)
        .when(F.col("nn_dist_q") < 65536, 3)
        .when(F.col("nn_dist_q") < 1048576, 4)
        .when(F.col("nn_dist_q") < 16777216, 5)
        .when(F.col("nn_dist_q") < 268435456, 6)
        .otherwise(7)
    )
    return (
        iso.select(bin_.cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    )


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
