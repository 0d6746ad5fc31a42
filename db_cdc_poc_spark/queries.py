"""The engine's query registry: every operator from SURVEY.md §2 as a
named (Spark builder, DuckDB oracle SQL) pair over the driver testdata.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are ANSI-SQL-expressible, an oracle string DuckDB runs on the
same parquet files. The driver compares row-count + schema + an
order-insensitive value hash, with columns sorted by name — so every
computed column carries the SAME alias on both sides, and types are
cast to match (DuckDB len()/row_number() return BIGINT where Spark
returns INT, etc.).

Float discipline (what makes the value hashes reproducible):
- raw parquet doubles pass through UNCHANGED (identical bits on both
  engines);
- money-style sums are computed as ``sum(round(x*100)) :: long`` —
  per-row rounding makes every addend integer-valued, and integer-
  valued double sums are exact and order-independent, so shuffle/
  aggregation order can't perturb the result;
- row-level arithmetic (same expression, same inputs) is bit-identical
  across engines and safe at full precision;
- ratios of small integers divide exactly the same on both engines.

Reference parity notes cite /root/reference file:line in each entry.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators import dedup as dd
from db_cdc_poc_spark.operators import multimodal as mm
from db_cdc_poc_spark.operators import similarity as sim
from db_cdc_poc_spark.operators import text as tx
from db_cdc_poc_spark.operators.cdc import apply_changes, latest_by_key
from db_cdc_poc_spark.session import apply_runtime_confs
from db_cdc_poc_spark.sources.exchange import local_df
from db_cdc_poc_spark.sources.testdata import load_table


@dataclass(frozen=True)
class Query:
    """One registry entry: Spark builder + optional DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver does rows-only check
    headline: bool = False  # include in bench.py


def _cents(col: F.Column) -> F.Column:
    """Order-independent money sum: per-row round to integer cents."""
    return F.sum(F.round(col * 100, 0)).cast("long")


REGISTRY: dict[str, Query] = {}


def _q(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn):
        REGISTRY[name] = Query(fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A1/A4/A5 aggregations (reference: 02_Data_Generation.py:65-70,
# 04_Current_Inventory.sql:14-17)
# ---------------------------------------------------------------------------


@_q(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT)                            AS sum_qty,
       CAST(sum(round(l_extendedprice*100, 0)) AS BIGINT)         AS base_price_cents,
       CAST(sum(round(l_extendedprice*(1-l_discount)*100, 0)) AS BIGINT)
                                                                  AS disc_price_cents,
       round(avg(l_quantity), 6)                                  AS avg_qty,
       count(*)                                                   AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    headline=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key hash aggregate (A1) — TPC-H Q1 shape."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        _cents(F.col("l_extendedprice")).alias("base_price_cents"),
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "disc_price_cents"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@_q(
    "q02_filter_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(round(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity >= 30
""",
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive filter + derived column (P2/P4; reference 02:63-64,
    02:230). Derived money is integer cents: Spark's round(x, 2) goes
    through exact BigDecimal expansion while DuckDB rounds x*100 — they
    disagree on edge rows, but both agree on round(y, 0) of the same
    product."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 30)).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("long")
        .alias("revenue_cents"),
    )


@_q(
    "q03_dim_join_agg",
    oracle="""
SELECT n_name,
       CAST(sum(round(l_extendedprice*(1-l_discount)*100, 0)) AS BIGINT)
           AS revenue_cents,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    headline=True,
)
def q03_dim_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact × broadcast dims, then aggregate (J1; reference 04:26-27).
    supplier (100 rows) and nation (25) are explicit broadcasts — at
    100 TB the fact side never shuffles for these joins."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue_cents"
            ),
            F.count("*").alias("n_items"),
        )
    )


@_q(
    "q04_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q04_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct projection (P6/A8; reference 02:113-118)."""
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@_q(
    "q05_negated_filter",
    oracle="""
SELECT c_mktsegment, event_type,
       count(*) AS n,
       CAST(sum(round(value*100, 0)) AS BIGINT) AS value_cents
FROM events JOIN customer ON user_id = c_custkey
WHERE NOT (c_mktsegment = 'BUILDING' AND event_type = 'error')
GROUP BY c_mktsegment, event_type
""",
)
def q05_negated_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated conjunction over a joined dim — the BOPIS-correction
    predicate shape (P5; reference 04:28)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .filter(~((F.col("c_mktsegment") == "BUILDING") & (F.col("event_type") == "error")))
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), _cents(F.col("value")).alias("value_cents"))
    )


# ---------------------------------------------------------------------------
# CDC / dedup core (A6/A7/W1; reference 03:219, 03:320-326)
# ---------------------------------------------------------------------------


@_q(
    "q06_latest_per_key",
    oracle="""
SELECT user_id, event_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
    headline=True,
)
def q06_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per key via groupBy+max_by — the engine's window-free
    A7 core (reference 03:320-326). Map-side partial: the shuffle
    carries ~|keys| rows, not the changelog."""
    ev = _t(spark, sf_dir, "events")
    return latest_by_key(ev, "user_id", "ts", tie_breakers="event_id").select(
        "user_id", "event_id", "event_type", "value"
    )


@_q(
    "q07_cdc_apply",
    oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND event_type <> 'error'
""",
    headline=True,
)
def q07_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply semantics (A7): events as a changelog keyed by
    user_id, sequenced by (ts, event_id), 'error' rows acting as
    deletes, bookkeeping column dropped (reference 03:320-326)."""
    ev = _t(spark, sf_dir, "events")
    return apply_changes(
        ev,
        keys="user_id",
        sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"],
        tie_breakers="event_id",
    )


@_q(
    "q08_dedup_exact",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
)
def q08_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor (A6; reference 03:219 —
    dropDuplicates made deterministic so the oracle can check it)."""
    ev = _t(spark, sf_dir, "events")
    return dd.dedup_exact(ev, keys=["user_id", "event_type"], order_by=["ts", "event_id"])


# ---------------------------------------------------------------------------
# Transaction assembly + windows + sorts (A3/O1/W1; reference 02:63-73)
# ---------------------------------------------------------------------------


@_q(
    "q09_txn_assembly",
    oracle="""
SELECT l_orderkey,
       count(*) AS n_items,
       string_agg(CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR),
                  ',' ORDER BY l_linenumber, l_partkey) AS items
FROM lineitem
GROUP BY l_orderkey
""",
)
def q09_txn_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list(struct) per group with deterministic array order
    (A1/A3/O1; reference 02:63-73). Serialized to a string so the
    oracle hash is stable across engines' array encodings."""
    li = _t(spark, sf_dir, "lineitem")
    item = F.struct(F.col("l_linenumber"), F.col("l_partkey"))
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(item)),
                lambda s: F.concat_ws(
                    ":",
                    s["l_linenumber"].cast("string"),
                    s["l_partkey"].cast("string"),
                ),
            ),
            ",",
        ).alias("items"),
    )


@_q(
    "q10_left_join_agg",
    oracle="""
SELECT c_custkey, c_name,
       coalesce(CAST(sum(round(o_totalprice*100, 0)) AS BIGINT), 0) AS total_cents,
       max(o_orderdate) AS last_order,
       count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
)
def q10_left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + COALESCE'd SUM + MAX (J2-lite/A4/A5/F8;
    reference 04:15-17)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.coalesce(_cents(F.col("o_totalprice")), F.lit(0)).alias("total_cents"),
            F.max("o_orderdate").alias("last_order"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@_q(
    "q11_current_state",
    oracle="""
WITH snap AS (
    SELECT user_id, value AS snapshot_value, ts AS snapshot_ts
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type = 'view')
    WHERE rn = 1
), changes AS (
    SELECT e.user_id, e.ts, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type IN ('click', 'purchase')
      AND NOT (c.c_mktsegment = 'BUILDING' AND e.event_type = 'click')
)
SELECT s.user_id,
       CAST(round(s.snapshot_value*100, 0) AS BIGINT) AS snapshot_cents,
       coalesce(CAST(sum(round(b.value*100, 0)) AS BIGINT), 0) AS change_cents,
       CAST(round(s.snapshot_value*100, 0) AS BIGINT)
         + coalesce(CAST(sum(round(b.value*100, 0)) AS BIGINT), 0) AS current_cents,
       count(b.ts) AS n_changes,
       greatest(s.snapshot_ts, coalesce(max(b.ts), s.snapshot_ts)) AS last_ts
FROM snap s
LEFT JOIN changes b ON s.user_id = b.user_id AND s.snapshot_ts <= b.ts
GROUP BY s.user_id, s.snapshot_value, s.snapshot_ts
""",
    headline=True,
)
def q11_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: the gold current-inventory shape (reference
    04_Current_Inventory.sql:11-38) over testdata. snapshot (latest
    'view' per user) LEFT JOIN post-snapshot changes on equi key +
    range predicate, BOPIS-style negated dim filter, COALESCE(SUM),
    MAX, GREATEST. Covers J1/J2/J3/A2/A4/A5/F8/F9/P5 in one query.

    Scale shape: snapshot is a max_by aggregate (map-side partial);
    the snapshot-changes join shuffles on user_id with the range
    predicate as a residual (SortMergeJoin); the dim join broadcasts.
    """
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    snap = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(
            F.max_by(F.col("value"), F.struct("ts", "event_id")).alias("snapshot_value"),
            F.max_by(F.col("ts"), F.struct("ts", "event_id")).alias("snapshot_ts"),
        )
    )
    changes = (
        ev.join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .filter(F.col("event_type").isin("click", "purchase"))
        .filter(~((F.col("c_mktsegment") == "BUILDING") & (F.col("event_type") == "click")))
        .select(F.col("user_id").alias("ch_user_id"), F.col("ts").alias("ch_ts"),
                F.col("value").alias("ch_value"))
    )
    snap_cents = F.round(F.col("snapshot_value") * 100, 0).cast("long")
    return (
        snap.join(
            changes,
            (F.col("user_id") == F.col("ch_user_id"))
            & (F.col("snapshot_ts") <= F.col("ch_ts")),
            "left",
        )
        .groupBy("user_id", "snapshot_value", "snapshot_ts")
        .agg(
            F.coalesce(_cents(F.col("ch_value")), F.lit(0)).alias("change_cents"),
            F.count("ch_ts").alias("n_changes"),
            F.greatest(
                F.col("snapshot_ts"),
                F.coalesce(F.max("ch_ts"), F.col("snapshot_ts")),
            ).alias("last_ts"),
        )
        .select(
            "user_id",
            snap_cents.alias("snapshot_cents"),
            "change_cents",
            (snap_cents + F.col("change_cents")).alias("current_cents"),
            "n_changes",
            "last_ts",
        )
    )


@_q(
    "q12_union",
    oracle="""
SELECT event_id, user_id, 'c' AS tag FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, user_id, 'p' AS tag FROM events WHERE event_type = 'purchase'
""",
)
def q12_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (U1/S2; reference multi-file scan 02:48-62)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.lit("c").alias("tag")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.lit("p").alias("tag")
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Scalar-function family (F1-F10; reference 02:63,231, 03:205-217,310-315)
# ---------------------------------------------------------------------------


@_q(
    "q13_from_json",
    oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
""",
)
def q13_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload parse against a declared schema (F3/F4; reference
    03:205-206,310-313)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.from_json("props", "k INT").getField("k").alias("k")
    )


@_q(
    "q14_explode",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents WHERE doc_id < 50
""",
)
def q14_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (F5; reference explode_outer 03:213)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") < 50).select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("token")
    )


@_q(
    "q15_date_format",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket,
       count(*) AS n,
       CAST(sum(round(value*100, 0)) AS BIGINT) AS value_cents
FROM events GROUP BY 1
""",
)
def q15_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp formatting + time-bucketed aggregate (F6; reference
    02:231)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour_bucket")
    ).agg(F.count("*").alias("n"), _cents(F.col("value")).alias("value_cents"))


@_q(
    "q16_epoch_us",
    oracle="""
SELECT event_id, epoch_us(ts) AS ts_us, make_timestamp(epoch_us(ts)) AS ts_rt
FROM events
""",
)
def q16_epoch_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-microseconds round trip (F7; reference 03:315 — Debezium
    after.date_time is epoch µs)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.timestamp_micros(F.unix_micros("ts")).alias("ts_rt"),
    )


@_q(
    "q17_string_funcs",
    oracle="""
SELECT p_partkey,
       substr(p_name, 2, CAST(length(p_name) AS INTEGER) - 2) AS name_inner,
       CAST(length(p_name) AS INTEGER) AS name_len,
       upper(p_brand) AS brand_uc
FROM part
""",
)
def q17_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring/length — the brace-strip shape (F1; reference 02:63:
    substring(trans_id, 2, length(trans_id)-2))."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr("substring(p_name, 2, length(p_name) - 2)").alias("name_inner"),
        F.length("p_name").alias("name_len"),
        F.upper("p_brand").alias("brand_uc"),
    )


@_q(
    "q18_window_rank",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
""",
)
def q18_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window — the documented A7 window rewrite (W1; SURVEY
    §2.5)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@_q(
    "q19_topk_sort",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""",
)
def q19_topk_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + deterministic top-k (O1/O2; reference 02:71,
    04:37-38). Spark plans TakeOrderedAndProject — no full sort."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Fuzzy dedup family over documents (LLM-pipeline extension)
# ---------------------------------------------------------------------------


@_q(
    "q20_ngram_jaccard",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
""",
    headline=True,
)
def q20_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (threshold 0.5) —
    the verifiable fuzzy-dedup baseline. The testdata plants ~25
    pairs with Jaccard >= 0.9."""
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5)


@_q(
    "q21_minhash_lsh",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9
""",
    headline=True,
)
def q21_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with candidate-only exact verify —
    the 100 TB fuzzy-dedup path. 64 hashes / 16 bands (r=4: S-curve
    midpoint ~0.42), threshold 0.9: at J>=0.9 the per-pair miss
    probability is (1-0.9^4)^16 ~ 4e-8, so the output provably equals
    the EXACT trigram-Jaccard pair set at >=0.9 — which is what the
    oracle computes directly (the 0.5-threshold form is exercised by
    q20's exact baseline and the LSH-vs-exact parity tests). The
    verified jaccard values are exact, so they hash-match the oracle's.
    """
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.9, verify_exact=True
    ).select("id_a", "id_b", "jaccard")


def _q22_oracle(max_hamming: int = 7) -> str:
    """DuckDB replica of the md5-hashed SimHash pipeline: same token
    hashes (big-endian first 8 md5 bytes — bit-identical to Spark's
    ``token_hash64(..., 'md5')``), same ±1 votes, same fingerprints,
    then an exhaustive pair join (feasible at oracle scale; Spark's
    pigeonhole blocking is EXACT, so the sets match)."""
    votes = ",\n           ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i}::HUGEINT ELSE 0::HUGEINT END)"
        for i in range(64)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
    FROM documents
), h AS (
    SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS hv FROM tok
), v AS (
    SELECT doc_id,
           {votes}
    FROM h GROUP BY doc_id
), fp AS (
    SELECT doc_id, ({fp_terms})::UBIGINT AS fp FROM v
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


@_q("q22_simhash", oracle=_q22_oracle(7))
def q22_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole-blocked Hamming join.
    md5-derived token hashes (``token_hash64``) make the fingerprints
    engine-independent, so the oracle recomputes the ENTIRE pipeline —
    votes, fingerprints, Hamming ball — and value-checks it; the
    xxhash64 default stays available for pure-JVM production hashing."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_pairs(docs, max_hamming=7, blocks=8, hash_fn="md5")


@_q(
    "q23_embedding_neardup",
    oracle="""
WITH v AS (
    SELECT vec_id, e,
           sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), scored AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CASE WHEN a.nrm * b.nrm > 0
                THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                ELSE 0.0 END AS cos_raw
    FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos_raw, 6) AS cosine
FROM scored WHERE cos_raw >= 0.4
""",
)
def q23_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs over the embeddings table."""
    emb = _t(spark, sf_dir, "embeddings")
    return dd.embedding_neardup_pairs(emb, threshold=0.4)


@_q(
    "q24_cosine_topk",
    oracle="""
WITH v AS (
    SELECT vec_id, e,
           sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm * c.nrm > 0
                THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                ELSE 0.0 END AS cos_raw
    FROM v q JOIN v c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
""",
    headline=True,
)
def q24_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: 10 query vectors against the
    corpus (similarity-search baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


_Q25_TABLES, _Q25_BITS, _Q25_DIM = 8, 6, 64


def _q25_oracle(k: int = 5) -> str:
    """DuckDB replica of the hyperplane-bucketed ANN pipeline. The ±1
    hyperplane weights are md5-derived constants (engine-independent —
    see ``similarity.rademacher_weights``) embedded as literals in BOTH
    the Spark plan and this SQL; each engine then computes projections
    (list_dot_product is bit-identical to Spark's sequential fold),
    sign buckets, the candidate equi-join, and the cosine re-rank
    independently. This value-checks the whole approximate pipeline,
    not just its recall."""
    w = sim.rademacher_weights(_Q25_TABLES, _Q25_BITS, _Q25_DIM)
    values = ",\n".join(
        f"({t}, {p}, [{', '.join(str(x) for x in w[(t, p)])}]::DOUBLE[])"
        for t in range(_Q25_TABLES)
        for p in range(_Q25_BITS)
    )
    return f"""
WITH w(tbl, p, wv) AS (VALUES
{values}
), v AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), proj AS (
    SELECT v.vec_id, w.tbl, w.p, list_dot_product(v.e, w.wv) AS s
    FROM v CROSS JOIN w
), buckets AS (
    SELECT vec_id, tbl,
           sum(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
    FROM proj GROUP BY vec_id, tbl
), cand AS (
    SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
    FROM buckets qb JOIN buckets cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
    WHERE qb.vec_id < 10 AND qb.vec_id <> cb.vec_id
), scored AS (
    SELECT c.query_id, c.neighbor_id,
           CASE WHEN q.nrm * n.nrm > 0
                THEN list_dot_product(q.e, n.e) / (q.nrm * n.nrm)
                ELSE 0.0 END AS cos_raw
    FROM cand c
    JOIN v q ON q.vec_id = c.query_id
    JOIN v n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


@_q("q25_ann_topk", oracle=_q25_oracle(5))
def q25_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-bucketed approximate top-k (the scale path), run with
    engine-independent md5-derived hyperplanes so the oracle replays
    the exact same bucketing; recall vs q24 is asserted in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    weights = sim.rademacher_weights(_Q25_TABLES, _Q25_BITS, _Q25_DIM)
    return sim.ann_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        tables=_Q25_TABLES,
        bits=_Q25_BITS,
        weights=weights,
    )


# ---------------------------------------------------------------------------
# Text analysis over documents (LLM-pipeline extension)
# ---------------------------------------------------------------------------


@_q(
    "q26_text_quality",
    oracle="""
WITH base AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), feat AS (
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_pretokens,
           CASE WHEN len(toks) > 0 THEN
                CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                     t -> list_contains(['the','a','and','of','to','in','is','it','that','for'], t)))
                     AS DOUBLE) / len(toks)
                ELSE 0.0 END AS sw_raw,
           CASE WHEN length(text) > 0 THEN
                CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / length(text)
                ELSE 0.0 END AS pr_raw,
           CASE WHEN len(toks) > 0 THEN
                CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS mwl_raw
    FROM base
)
SELECT doc_id AS id, n_chars, n_tokens, n_pretokens,
       round(sw_raw, 6) AS stopword_ratio,
       round(pr_raw, 6) AS punct_ratio,
       round(mwl_raw, 6) AS mean_word_len,
       round((least(n_tokens / 20.0, 1.0)
              + least(sw_raw / 0.2, 1.0)
              + greatest(1.0 - pr_raw * 4, 0.0)) / 3, 6) AS quality_score
FROM feat
""",
    headline=True,
)
def q26_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score — the cheap
    pre-filter stage of a training-data pipeline. Map-only projection."""
    docs = _t(spark, sf_dir, "documents")
    return tx.quality_features(docs)


@_q(
    "q27_lang_id",
    oracle="""
WITH base AS (
    SELECT doc_id, lang,
           list_transform(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> ''), t -> lower(t)) AS toks
    FROM documents
), scores AS (
    SELECT doc_id, lang,
           CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(
                ['the','a','and','of','to','in','is','it','that','for'], t))) AS DOUBLE)/len(toks) ELSE 0.0 END AS s_en,
           CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(
                ['der','die','das','und','ist','ein','eine','zu','nicht','mit'], t))) AS DOUBLE)/len(toks) ELSE 0.0 END AS s_de,
           CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(
                ['le','la','les','et','est','un','une','de','pas','pour'], t))) AS DOUBLE)/len(toks) ELSE 0.0 END AS s_fr,
           CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(
                ['el','la','los','las','y','es','un','una','de','no'], t))) AS DOUBLE)/len(toks) ELSE 0.0 END AS s_es
    FROM base
)
SELECT doc_id, lang,
       CASE WHEN s_es > s_en AND s_es > s_de AND s_es > s_fr AND s_es > 0 THEN 'es'
            WHEN s_fr > s_en AND s_fr > s_de AND s_fr > 0 THEN 'fr'
            WHEN s_de > s_en AND s_de > 0 THEN 'de'
            WHEN s_en > 0 THEN 'en'
            ELSE 'und' END AS lang_pred
FROM scores
""",
)
def q27_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID next to the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", tx.lang_id("text").alias("lang_pred"))


@_q(
    "q28_fingerprint",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
)
def q28_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 fingerprint (md5 is bit-identical across
    Spark and DuckDB — the cross-engine-deterministic hash)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.doc_fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns + Arrow-batched mapInPandas)
# ---------------------------------------------------------------------------


@_q(
    "q29_media_features",
    oracle="""
SELECT doc_id AS media_id,
       sha256(text) AS content_sha256,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
""",
)
def q29_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: documents' text re-encoded as opaque
    binary blobs, pushed through the Arrow-batched mapInPandas feature
    extractor (decode kernel stubbed — see operators/multimodal.py)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit(None).cast(mm.MEDIA_META_SCHEMA).alias("meta"),
    )
    return mm.extract_features(media, dim=8).select(
        "media_id", "content_sha256", "n_bytes"
    )


# ---------------------------------------------------------------------------
# Streaming (T1/T2/T3) — availableNow file streams, deterministic output
# ---------------------------------------------------------------------------


_STAGED_EVENTS: dict[tuple[str, int], str] = {}


def _staged_events_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Materialize the events table into a streaming-friendly directory
    (micros timestamps — Spark's streaming parquet source rejects the
    raw nanos files — split into n_files so availableNow processes
    multiple micro-batches with maxFilesPerTrigger=1).

    Cached per (sf_dir, n_files) for the process lifetime: the staged
    directory is read-only input shared by every streaming query
    (q30/q31/q47/q48), so one write serves them all."""
    import os

    from db_cdc_poc_spark.streaming.ephemeral import ephemeral_checkpoint_dir

    key = (sf_dir, n_files)
    cached = _STAGED_EVENTS.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    out = ephemeral_checkpoint_dir("events_staged_") + "/events"
    _t(spark, sf_dir, "events").repartition(n_files).write.mode("overwrite").parquet(out)
    _STAGED_EVENTS[key] = out
    return out


@_q(
    "q30_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    headline=True,
)
def q30_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming stateful dedup (T1/T2; reference 03:218-219):
    file source -> withWatermark -> dropDuplicates, availableNow
    trigger, memory sink. Output is the key set (survivor-independent,
    so the oracle is plain DISTINCT). Uses the 35-day default
    watermark: exact batch parity for an availableNow drain, but on a
    CONTINUOUS stream that is effectively unbounded state — production
    callers narrow it to their real late-data bound (the reference's
    1-hour choice loses duplicates spread over its 13.7 h BOPIS lag;
    see streaming/jobs.py)."""
    from db_cdc_poc_spark.streaming.jobs import stream_dedup_keys

    return stream_dedup_keys(
        spark, _staged_events_dir(spark, sf_dir), keys=["user_id", "event_type"]
    )


@_q(
    "q31_stream_cdc_apply",
    oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND event_type <> 'error'
""",
    headline=True,
)
def q31_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (T3; reference 03:320-326): file stream ->
    foreachBatch incremental upsert into a keyed state table; final
    state must equal the batch apply_changes result (same oracle as
    q07)."""
    from db_cdc_poc_spark.streaming.cdc import stream_apply_changes

    return stream_apply_changes(
        spark,
        _staged_events_dir(spark, sf_dir),
        keys="user_id",
        sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"],
        tie_breakers="event_id",
    )


@_q(
    "q32_envelope_roundtrip",
    oracle="""
SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty
FROM lineitem
""",
)
def q32_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full JSON envelope cycle (S11/F4/F5/P1; reference 02:63-73
    produce + 03:201-217 consume): assemble one JSON doc per order with
    an items array (executor-side to_json), parse it back against a
    declared schema, explode_outer the array, flatten. Identity on the
    data, so the oracle is the plain projection."""
    li = _t(spark, sf_dir, "lineitem")
    schema = "l_orderkey bigint, items array<struct<l_linenumber:int, qty:int>>"
    docs = li.groupBy("l_orderkey").agg(
        F.to_json(
            F.struct(
                F.col("l_orderkey"),
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("l_linenumber"),
                            F.col("l_quantity").cast("int").alias("qty"),
                        )
                    )
                ).alias("items"),
            )
        ).alias("value")
    )
    parsed = docs.select(F.from_json("value", schema).alias("e"))
    return (
        parsed.select(
            F.col("e.l_orderkey").alias("l_orderkey"),
            F.explode_outer("e.items").alias("item"),
        )
        .select(
            "l_orderkey",
            F.col("item.l_linenumber").alias("l_linenumber"),
            F.col("item.qty").alias("qty"),
        )
    )


@_q(
    "q33_asof_join",
    oracle="""
SELECT l.event_id, l.user_id, l.ts, l.value, r.last_view_value
FROM (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, value AS last_view_value FROM events
                WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def q33_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (engine extension; SURVEY §2.3 lists it as
    absent from the reference): each purchase picks up the latest
    'view' value at or before it per user. One shuffle via the
    union+window formulation (operators/joins.py); the oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from db_cdc_poc_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("last_view_value")
    )
    return asof_join(
        purchases, views, keys="user_id", left_time="ts", right_time="ts",
        value_cols=["last_view_value"],
    ).select("event_id", "user_id", "ts", "value", "last_view_value")


@_q(
    "q34_cosine_topk_np",
    oracle="""
WITH v AS (
    SELECT vec_id, e,
           sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CASE WHEN q.nrm * c.nrm > 0
                THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                ELSE 0.0 END AS cos_raw
    FROM v q JOIN v c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
""",
    headline=True,
)
def q34_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numpy/Arrow brute-force top-k (the vectorized scale path for
    exact similarity). The registered output is RANK-ONLY: ranks are
    stable across the numpy-matmul and sequential-fold computations
    (cosines differ in the last ulp, far below any neighbor gap), so
    the ranking shares q24's exact oracle; cosine-value equivalence
    with the expression path is asserted separately in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk_np(emb.filter(F.col("vec_id") < 10), emb, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


@_q(
    "q35_count_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events GROUP BY event_type
""",
)
def q35_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) aggregate (absent from the reference; standard
    OLAP surface). Catalyst plans the two-phase partial-distinct
    expansion automatically."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@_q(
    "q36_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q36_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregate (absent from the reference; standard
    OLAP surface). Null markers for subtotal rows match ANSI, so the
    oracle is DuckDB's ROLLUP verbatim."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.count("*").alias("n"),
    )


@_q(
    "q37_pivot",
    oracle="""
SELECT user_id,
       CAST(coalesce(sum(round(value*100, 0)) FILTER (WHERE event_type = 'click'), 0) AS BIGINT) AS click_cents,
       CAST(coalesce(sum(round(value*100, 0)) FILTER (WHERE event_type = 'view'), 0) AS BIGINT) AS view_cents,
       CAST(coalesce(sum(round(value*100, 0)) FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS purchase_cents
FROM events GROUP BY user_id
""",
)
def q37_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregate) with an explicit value list — Catalyst
    rewrites it to one pass of conditional aggregates, which is exactly
    the oracle's FILTER formulation. The zero-fill coalesce sits AFTER
    the pivot: inside the per-group aggregate it never fires for a
    (user, type) combination with no rows at all (the pivot emits NULL
    for absent groups, not the aggregate's coalesce result)."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(_cents(F.col("value")))
    )
    return out.select(
        "user_id",
        F.coalesce(F.col("click"), F.lit(0)).cast("long").alias("click_cents"),
        F.coalesce(F.col("view"), F.lit(0)).cast("long").alias("view_cents"),
        F.coalesce(F.col("purchase"), F.lit(0)).cast("long").alias("purchase_cents"),
    )


@_q(
    "q38_tumbling_window",
    oracle="""
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       count(*) AS n,
       CAST(sum(round(value*100, 0)) AS BIGINT) AS value_cents
FROM events GROUP BY 1
""",
)
def q38_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate — the Structured-Streaming
    windowing primitive in its batch form (same code runs on a stream
    with a watermark). Epoch-aligned 6h buckets match DuckDB's
    time_bucket."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count("*").alias("n"), _cents(F.col("value")).alias("value_cents"))
        .select(F.col("w.start").alias("window_start"), "n", "value_cents")
    )


@_q(
    "q39_neardup_np",
    oracle="""
WITH v AS (
    SELECT vec_id, e,
           sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE CASE WHEN a.nrm * b.nrm > 0
           THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
           ELSE 0.0 END >= 0.4
""",
)
def q39_neardup_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized exact all-pairs near-dup (numpy matmul over Arrow
    batches) — the brute-force scale path. Registered output is the
    PAIR SET only: membership is identical to the expression path
    unless a pair's cosine sits within an ulp of the 0.4 threshold
    (none in this data — asserted, with value equivalence, in tests),
    so it shares q23's exact oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.neardup_pairs_np(emb, threshold=0.4).select("id_a", "id_b")


@_q(
    "q40_dedup_fuzzy",
    oracle="""
WITH RECURSIVE tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS MATERIALIZED (
    SELECT id_a, id_b FROM common
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
), edges AS MATERIALIZED (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach AS (
    SELECT s, d FROM edges
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
), labels AS (
    SELECT s AS id, least(min(d), s) AS cluster_id FROM reach GROUP BY s
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM labels)
   OR doc_id IN (SELECT min(id) FROM labels GROUP BY cluster_id)
""",
    headline=True,
)
def q40_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: trigram-Jaccard pairs (>=0.5) ->
    connected components (iterative min-label propagation) -> keep the
    smallest id per cluster plus all unpaired docs. The oracle builds
    the same components with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    return dd.dedup_fuzzy(docs, pairs).select("doc_id")


_Q41_TABLES, _Q41_BITS = 16, 2


def _q41_oracle(threshold: float = 0.4, tail: str | None = None) -> str:
    """DuckDB replica of the bucketed near-dup pipeline (same
    engine-independent-weights technique as q25): buckets -> candidate
    equi-join -> exact cosine verify. ``tail`` swaps the final SELECT
    (q93 reuses the CTE chain for its survivor anti-join)."""
    w = sim.rademacher_weights(_Q41_TABLES, _Q41_BITS, _Q25_DIM)
    values = ",\n".join(
        f"({t}, {p}, [{', '.join(str(x) for x in w[(t, p)])}]::DOUBLE[])"
        for t in range(_Q41_TABLES)
        for p in range(_Q41_BITS)
    )
    return f"""
WITH w(tbl, p, wv) AS (VALUES
{values}
), v AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), proj AS (
    SELECT v.vec_id, w.tbl, w.p, list_dot_product(v.e, w.wv) AS s
    FROM v CROSS JOIN w
), buckets AS (
    SELECT vec_id, tbl,
           sum(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
    FROM proj GROUP BY vec_id, tbl
), cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
    WHERE a.vec_id < b.vec_id
), scored AS (
    SELECT c.id_a, c.id_b,
           CASE WHEN x.nrm * y.nrm > 0
                THEN list_dot_product(x.e, y.e) / (x.nrm * y.nrm)
                ELSE 0.0 END AS cos_raw
    FROM cand c
    JOIN v x ON x.vec_id = c.id_a
    JOIN v y ON y.vec_id = c.id_b
)
{tail if tail is not None else
     f"SELECT id_a, id_b, round(cos_raw, 6) AS cosine FROM scored WHERE cos_raw >= {threshold}"}
"""


@_q("q41_neardup_bucketed", oracle=_q41_oracle(0.4))
def q41_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup — the scale default for q23's
    semantics: hyperplane-bucket candidate equi-join + exact cosine
    verify, no all-pairs nested loop anywhere in the plan. Run with
    engine-independent md5-derived hyperplanes so the oracle replays
    the identical bucketing. (16, 2) gives per-pair recall ~0.9997 at
    cosine 0.4 — this fixture's threshold; true duplicate-grade
    thresholds use selective defaults like (8, 12), demonstrated with
    planted duplicates in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    weights = sim.rademacher_weights(_Q41_TABLES, _Q41_BITS, _Q25_DIM)
    return sim.neardup_pairs_bucketed(
        emb,
        threshold=0.4,
        tables=_Q41_TABLES,
        bits=_Q41_BITS,
        weights=weights,
    )


@_q(
    "q42_incremental_gold",
    oracle="""
WITH snap AS (
    SELECT user_id, CAST(round(value*100, 0) AS INTEGER) AS snapshot_cents,
           ts AS snapshot_ts
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type = 'view')
    WHERE rn = 1
), ch AS (
    SELECT user_id, ts, CAST(round(value*100, 0) AS INTEGER) AS cents
    FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT s.user_id, s.snapshot_cents,
       coalesce(CAST(sum(c.cents) AS BIGINT), 0) AS change_cents,
       s.snapshot_cents + coalesce(CAST(sum(c.cents) AS BIGINT), 0) AS current_cents,
       greatest(s.snapshot_ts, coalesce(max(c.ts), s.snapshot_ts)) AS last_ts
FROM snap s
LEFT JOIN ch c ON s.user_id = c.user_id AND s.snapshot_ts <= c.ts
GROUP BY s.user_id, s.snapshot_cents, s.snapshot_ts
""",
)
def q42_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental gold maintenance (streaming/gold.py) over testdata:
    snapshot = latest 'view' per user, change stream = click/purchase
    cents drained availableNow in multiple micro-batches through the
    bucketed foreachBatch accumulator. The final state must equal the
    one-shot batch aggregate — which is exactly what the oracle
    computes (q11's shape in integer cents)."""
    from db_cdc_poc_spark.streaming.ephemeral import ephemeral_checkpoint_dir
    from db_cdc_poc_spark.streaming.gold import stream_gold_inventory

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("int")
    snap = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(
            F.max_by(cents, F.struct("ts", "event_id")).alias("quantity"),
            F.max_by(F.col("ts"), F.struct("ts", "event_id")).alias("date_time_ts"),
        )
    )
    changes = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", F.col("ts").alias("date_time"), cents.alias("quantity")
    )
    changes_dir = ephemeral_checkpoint_dir("gold_changes_") + "/changes"
    changes.repartition(3).write.mode("overwrite").parquet(changes_dir)
    return stream_gold_inventory(
        spark,
        changes_dir,
        snap,
        keys=("user_id",),
        max_files_per_trigger=1,
    ).select(
        "user_id",
        F.col("snapshot_quantity").alias("snapshot_cents"),
        F.col("change_quantity").alias("change_cents"),
        F.col("current_inventory").alias("current_cents"),
        F.col("date_time").alias("last_ts"),
    )


_IVF_COS = (
    "CASE WHEN {a}.nrm * {b}.nrm > 0 "
    "THEN list_dot_product({a}.e, {b}.e) / ({a}.nrm * {b}.nrm) ELSE 0.0 END"
)


def _q43_oracle(
    step: int = 16, nprobe: int = 4, k: int = 5, nlist_cap: int = 128
) -> str:
    """DuckDB replica of the IVF-Flat pipeline: same deterministic
    sampled codebook (vec_id % step = 0, CAPPED at nlist_cap entries —
    nlist is an algorithm parameter, not a corpus fraction: uncapped,
    the n x nlist assignment join is n^2/step, which the sf1.0 bench
    measured as a 139x blowup on 10x data before the cap), same
    argmax-cosine list assignment (list_dot_product matches Spark's
    fold bit-for-bit), same nprobe probing and exact re-rank. At
    sf0.01 (max vec_id 499) the cap is not binding, so driver-gate
    results are unchanged."""
    return f"""
WITH v AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), cent AS (
    SELECT vec_id AS cid, e, nrm FROM v
    WHERE vec_id % {step} = 0 AND vec_id < {step * nlist_cap}
), assign AS (
    SELECT neighbor_id, cid AS list_id FROM (
        SELECT c.vec_id AS neighbor_id, t.cid,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_IVF_COS.format(a='c', b='t')} DESC, t.cid) AS rn
        FROM v c CROSS JOIN cent t)
    WHERE rn = 1
), probes AS (
    SELECT query_id, cid AS list_id FROM (
        SELECT q.vec_id AS query_id, t.cid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_IVF_COS.format(a='q', b='t')} DESC, t.cid) AS rn
        FROM v q CROSS JOIN cent t WHERE q.vec_id < 10)
    WHERE rn <= {nprobe}
), scored AS (
    SELECT p.query_id, a.neighbor_id, {_IVF_COS.format(a='q', b='n')} AS cos_raw
    FROM probes p
    JOIN assign a ON p.list_id = a.list_id AND p.query_id <> a.neighbor_id
    JOIN v q ON q.vec_id = p.query_id
    JOIN v n ON n.vec_id = a.neighbor_id
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


@_q("q43_ivf_topk", oracle=_q43_oracle())
def q43_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k (similarity.ivf_topk): deterministic
    sampled codebook (every 16th vec_id, capped at 128 entries — nlist
    is an algorithm PARAMETER; a corpus-fraction codebook makes the
    n x nlist assignment join quadratic, the blowup the sf1.0 bench
    caught on q147), argmax-cosine inverted-list assignment, 4-list
    probe, exact re-rank. Fully relational, so the oracle replays the
    entire pipeline value-for-value."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        centroids=emb.filter(
            (F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 16 * 128)
        ),
        k=5,
        nprobe=4,
    )


@_q(
    "q44_tfidf_terms",
    oracle="""
WITH tok AS (
    SELECT doc_id,
           unnest(list_transform(list_filter(string_split_regex(text, '\\s+'),
                                             x -> x <> ''), t -> lower(t))) AS term
    FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
    SELECT term, count(*) AS df_t FROM tf GROUP BY 1
), nd AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT doc_id AS id, tf.term,
           CAST(tf AS DOUBLE) * n_docs / df_t AS score
    FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nd
)
SELECT id, term, round(score, 6) AS score,
       CAST(row_number() OVER (PARTITION BY id
                               ORDER BY score DESC, term) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 3
""",
)
def q44_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf terms (text.tfidf_terms) — keyword
    extraction for corpus analytics. Raw odds score tf*N/df: three
    exact integer-derived float ops, identical on both engines (log
    scaling ranks the same per doc; see operator docstring)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.tfidf_terms(docs, top_k=3)


@_q(
    "q45_train_split",
    oracle="""
SELECT doc_id,
       CASE WHEN b < 800000 THEN 'train'
            WHEN b < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             (('0x' || substr(md5('corpus-v1:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
              & 9223372036854775807) % 1000000 AS b
      FROM documents)
""",
)
def q45_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (sampling.split_assign):
    md5(salt:id)-derived buckets, so the same document lands in the
    same split on every run and every engine — the oracle recomputes
    the identical hash arithmetic."""
    from db_cdc_poc_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents")
    return split_assign(
        docs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="corpus-v1",
    ).select("doc_id", "split")


@_q(
    "q46_chunk_docs",
    oracle="""
WITH tk AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), ch AS (
    SELECT doc_id,
           unnest([{'cid': i // 16,
                    'txt': array_to_string(toks[i+1:i+16], ' '),
                    'n': least(len(toks) - i, 16)}
                   for i in range(0, len(toks), 16)]) AS c
    FROM tk
)
SELECT doc_id AS id, CAST(c.cid AS INTEGER) AS chunk_id,
       CAST(c.n AS INTEGER) AS n_tokens, c.txt AS chunk_text
FROM ch
""",
)
def q46_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 16-token window chunking (text.chunk_documents) — the
    sequence-prep step for training pipelines. The oracle rebuilds the
    same windows with DuckDB list slicing."""
    docs = _t(spark, sf_dir, "documents")
    return tx.chunk_documents(docs, window=16)


@_q(
    "q47_stream_window",
    oracle="""
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       count(*) AS n,
       CAST(sum(round(value*100, 0)) AS BIGINT) AS value_cents
FROM events GROUP BY 1
""",
)
def q47_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregate (T1 windowed form; q38's
    semantics as a drained stream): file source -> event-time window ->
    complete-mode memory sink. Same oracle as the batch form — the
    drain must reproduce it exactly."""
    from db_cdc_poc_spark.streaming.jobs import stream_windowed_counts

    return stream_windowed_counts(
        spark, _staged_events_dir(spark, sf_dir), window="6 hours"
    )


@_q(
    "q48_sessionize",
    oracle="""
WITH o AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT user_id, ts,
           CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
    FROM o
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY 1, 2
""",
)
def q48_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (operators/sessionize.py): per-user sessions cut
    at 30-minute inactivity gaps, summarized per session. The
    applyInPandasWithState streaming form computes the same assignment
    incrementally (parity asserted in tests)."""
    from db_cdc_poc_spark.operators.sessionize import session_summary

    ev = _t(spark, sf_dir, "events")
    return session_summary(ev, gap_seconds=1800)


@_q(
    "q49_semi_anti",
    oracle="""
SELECT c_custkey, c_name, 'has_orders' AS tag
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, c_name, 'no_orders' AS tag
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
)
def q49_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (Spark-native existence joins; the
    reference has none — standard surface a migrating user expects).
    Both halves of the customer partition, tagged."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    has = cust.join(orders, "c_custkey", "left_semi").select(
        "c_custkey", "c_name", F.lit("has_orders").alias("tag")
    )
    hasnt = cust.join(orders, "c_custkey", "left_anti").select(
        "c_custkey", "c_name", F.lit("no_orders").alias("tag")
    )
    return has.unionByName(hasnt)


@_q(
    "q50_percentiles",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(max(value), 6) AS vmax
FROM events GROUP BY event_type
""",
)
def q50_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both sort and linearly interpolate, the
    same two-term arithmetic on the same neighbors)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


@_q(
    "q51_salted_join",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(round(value*100, 0)) AS BIGINT) AS value_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY event_type
""",
)
def q51_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators/joins.py:salted_join): the fact
    side gets a deterministic row-hash salt, the dim side replicates
    across salts, the join keys on (key, salt) — splitting any hot key
    over `salt` reducers. Semantically a plain join, which is exactly
    what the oracle computes."""
    from db_cdc_poc_spark.operators.joins import salted_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(ev, cust, on="user_id", salt=8)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), _cents(F.col("value")).alias("value_cents"))
    )


@_q(
    "q52_decontaminate",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+7], ' ')
                          for i in range(1, greatest(len(toks) - 6, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 8
), ex AS (
    SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle FROM sh
), ev AS (
    SELECT DISTINCT shingle FROM ex WHERE doc_id % 10 = 0
)
SELECT e.doc_id AS id,
       count(*) AS n_hit,
       CAST(any_value(e.n_shingles) AS INTEGER) AS n_shingles,
       round(CAST(count(*) AS DOUBLE) / any_value(e.n_shingles), 6) AS contamination
FROM ex e JOIN ev USING (shingle)
WHERE e.doc_id % 10 <> 0
GROUP BY e.doc_id
""",
    headline=True,
)
def q52_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators/decontam.py): flag train
    docs sharing any verbatim word 8-gram with a held-out eval slice
    (doc_id % 10 == 0 stands in for the benchmark set). The eval
    n-gram set is distinct'd then BROADCAST, so the train corpus is
    scanned once map-side with no train-data shuffle — the 100 TB
    decontamination shape."""
    from db_cdc_poc_spark.operators.decontam import contaminated_docs

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return contaminated_docs(train, ev, n=8)


@_q(
    "q53_repetition",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), ex AS (
    SELECT doc_id, unnest(toks) AS g FROM tk
), wc AS (
    SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2
), ws AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct, max(c) AS top_c
    FROM wc GROUP BY doc_id
), g2 AS (
    SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
                           for i in range(1, greatest(len(toks), 1))]) AS g
    FROM tk WHERE len(toks) >= 2
), gc AS (
    SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
), gs AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
           count(*) AS n_distinct_2
    FROM gc GROUP BY doc_id
)
SELECT ws.doc_id AS id, n_tokens,
       round(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens, 6) AS dup_word_frac,
       round(CAST(top_c AS DOUBLE) / n_tokens, 6) AS top_word_frac,
       round(CAST(n_2grams - n_distinct_2 AS DOUBLE) / n_2grams, 6) AS dup_2gram_frac
FROM ws JOIN gs USING (doc_id)
""",
)
def q53_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (text.repetition_features):
    duplicate-word fraction, modal-token fraction, duplicate-2-gram
    fraction per document — explode + two-level codegen aggregates,
    never a per-row O(L^2) higher-order function."""
    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_features(docs)


@_q(
    "q54_pack_sequences",
    oracle="""
WITH base AS (
    SELECT doc_id AS id,
           CAST((('0x' || substr(md5('pack-v1:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
                 & 9223372036854775807) % 8 AS BIGINT) AS grp,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT)
               AS n_tokens
    FROM documents
), cum AS (
    SELECT id, grp, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
                    PARTITION BY grp ORDER BY id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start
    FROM base
)
SELECT id, grp, n_tokens,
       CAST(start // 256 AS BIGINT) AS seq_id,
       CAST(start % 256 AS BIGINT) AS start_tok
FROM cum
""",
)
def q54_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (text.pack_sequences): md5-bucketed
    pack groups, per-group running token total, seq_id = start //
    budget. One shuffle (by group); groups bound window state so no
    global-sort serialization at corpus scale."""
    docs = _t(spark, sf_dir, "documents")
    return tx.pack_sequences(docs, budget=256, num_groups=8)


@_q(
    "q55_stratified_sample",
    oracle="""
SELECT doc_id, lang, source
FROM (SELECT doc_id, lang, source,
             (('0x' || substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
              & 9223372036854775807) % 1000000 AS b
      FROM documents)
WHERE b < CASE WHEN lang = 'en' THEN 250000 ELSE 1000000 END
""",
)
def q55_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified data-mixture sampling (sampling.stratified_sample):
    keep 25% of the dominant language, 100% of the rest — determinstic
    md5 thresholds compiled to a literal CASE, map-only, replayable by
    the oracle."""
    from db_cdc_poc_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.25}, default_rate=1.0, salt="mix-v1"
    ).select("doc_id", "lang", "source")


@_q(
    "q56_redact_pii",
    oracle="""
WITH seeded AS (
    SELECT doc_id,
           text || ' contact ' || source || '@example.com or +1 555 010 ' ||
           CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
    FROM documents
)
SELECT doc_id AS id,
       regexp_replace(
           regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[PII]', 'g'),
           '\\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}', '[PII]', 'g')
           AS clean_text,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
          + len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
          + len(regexp_extract_all(text, '\\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}'))
         AS INTEGER) AS n_pii
FROM seeded
""",
)
def q56_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (text.redact_pii): chained regexp_replace over
    RE2-compatible patterns — map-only codegen, no Python. The query
    seeds each document with a deterministic synthetic email + phone
    (derived from existing columns, replayed identically by the
    oracle) so the redaction path is exercised on every row."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.col("source"),
            F.lit("@example.com or +1 555 010 "),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ),
    )
    return tx.redact_pii(docs)


@_q(
    "q57_topk_per_stratum",
    oracle="""
SELECT doc_id, lang, source, rk
FROM (SELECT doc_id, lang, source,
             CAST(row_number() OVER (
                 PARTITION BY lang, source
                 ORDER BY (('0x' || substr(md5('bal-v1:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
                           & 9223372036854775807) % 1000000, doc_id) AS INTEGER) AS rk
      FROM documents)
WHERE rk <= 3
""",
)
def q57_topk_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-stratum draw (sampling.top_k_per_stratum): at most
    3 docs per (lang, source), chosen by md5 order so the draw is
    uniform and engine-replayable. The map-side ``prefilter_rate``
    escape hatch (drop high-bucket rows before the stratum shuffle)
    is the corpus-scale form."""
    from db_cdc_poc_spark.operators.sampling import top_k_per_stratum

    docs = _t(spark, sf_dir, "documents")
    return top_k_per_stratum(
        docs, "doc_id", ["lang", "source"], k=3, salt="bal-v1"
    ).select("doc_id", "lang", "source", "rk")


@_q(
    "q58_containment",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(c AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
FROM common
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / least(sa.n, sb.n) >= 0.8
""",
)
def q58_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment pairs (dedup.containment_pairs): Broder's
    |A∩B| / min(|A|,|B|) — flags a short doc pasted inside a long one,
    which symmetric Jaccard scores near zero. Same inverted-index plan
    as q20 (shared core)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.containment_pairs(docs, n=3, threshold=0.8)


def _zorder_oracle_sql(bits: int = 8) -> str:
    """DuckDB replay of the Morton key: identical normalization and
    bit-interleave arithmetic, generated for ``bits`` bits/dimension."""
    terms = " | ".join(
        f"(((nu >> {b}) & 1) << {2 * b}) | (((ne >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    m = (1 << bits) - 1
    return f"""
WITH base AS (
    SELECT event_id,
           CAST(floor(greatest(least(user_id, 149), 0) * {m} / 149) AS BIGINT) AS nu,
           CAST(floor((event_id % 1024) * {m} / 1023) AS BIGINT) AS ne
    FROM events
)
SELECT event_id, CAST({terms} AS BIGINT) AS z FROM base
"""


@_q("q59_zorder_key", oracle=_zorder_oracle_sql(), headline=True)
def q59_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton / Z-order key (operators/layout.py): bit-interleave of
    (user_id, event_id % 1024) — the multi-dimensional clustering key
    behind OPTIMIZE ZORDER BY data skipping. Integer-only arithmetic,
    replayed exactly by the oracle; `write_zordered` lays files out
    along this curve so per-file min/max stats stay tight on BOTH
    dimensions (coverage proof in test_layout.py)."""
    from db_cdc_poc_spark.operators.layout import with_zorder_key

    ev = _t(spark, sf_dir, "events").withColumn(
        "eid_b", F.col("event_id") % 1024
    )
    return with_zorder_key(
        ev, {"user_id": (0, 149), "eid_b": (0, 1023)}, bits=8
    ).select("event_id", "z")


@_q(
    "q60_cube",
    oracle="""
SELECT coalesce(event_type, '<all>') AS event_type,
       coalesce(CAST(user_id % 4 AS VARCHAR), '<all>') AS cohort,
       count(*) AS n,
       CAST(sum(round(value*100, 0)) AS BIGINT) AS value_cents
FROM events
GROUP BY CUBE (event_type, CAST(user_id % 4 AS VARCHAR))
""",
)
def q60_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate: all 2^k grouping-set combinations in one pass
    (Spark Expand + single hash aggregate — one shuffle for every
    subtotal level, the OLAP pre-aggregation shape)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", (F.col("user_id") % 4).cast("string")
    )
    return (
        ev.cube("event_type", "cohort")
        .agg(F.count("*").alias("n"), _cents(F.col("value")).alias("value_cents"))
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("cohort", F.lit("<all>")).alias("cohort"),
            "n",
            "value_cents",
        )
    )


@_q(
    "q61_lead_lag",
    oracle="""
SELECT event_id, user_id,
       CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS gap_us,
       CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS INTEGER)
           AS value_quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q61_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-event gaps + ntile() quartiles per user — the
    sequence-feature windows (ties broken by event_id so both engines
    rank identically)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wq = Window.partitionBy("user_id").orderBy("value", "event_id")
    micros = F.unix_micros
    return ev.select(
        "event_id",
        "user_id",
        (micros(F.col("ts")) - micros(F.lag("ts").over(w))).alias("gap_us"),
        F.ntile(4).over(wq).alias("value_quartile"),
    )


@_q(
    "q62_unpivot",
    oracle="""
UNPIVOT (
    SELECT doc_id,
           CAST(n_chars AS DOUBLE) AS n_chars,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                AS DOUBLE) AS n_tokens
    FROM documents
) ON n_chars, n_tokens INTO NAME metric VALUE v
""",
)
def q62_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide per-doc feature columns to long
    (doc_id, metric, value) rows — Spark's unpivot operator, the
    feature-store interchange shape."""
    docs = _t(spark, sf_dir, "documents")
    from db_cdc_poc_spark.operators.text import whitespace_token_count

    wide = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars"),
        whitespace_token_count("text").cast("double").alias("n_tokens"),
    )
    return wide.unpivot("doc_id", ["n_chars", "n_tokens"], "metric", "v")


@_q(
    "q63_intersect_except",
    oracle="""
SELECT user_id, 'both' AS tag FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
)
UNION ALL
SELECT user_id, 'click_only' AS tag FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
)
""",
)
def q63_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (distinct semantics) — the
    remaining ANSI set surface beyond UNION (q12)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        clicks.intersect(buys)
        .select("user_id", F.lit("both").alias("tag"))
        .unionByName(
            clicks.exceptAll(buys).select("user_id", F.lit("click_only").alias("tag"))
        )
    )


@_q(
    "q64_json_path",
    oracle="""
SELECT CAST(CAST(props->>'k' AS BIGINT) // 10 AS BIGINT) AS k_bucket,
       count(*) AS n,
       CAST(sum(round(value*100, 0)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1
""",
)
def q64_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction from a string column (get_json_object —
    the ad-hoc form; q13/q32 cover schema-declared from_json) feeding
    a bucket aggregate."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k_bucket",
            (F.get_json_object("props", "$.k").cast("long") / 10).cast("long"),
        )
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), _cents(F.col("value")).alias("value_cents"))
    )


@_q(
    "q65_top_terms",
    oracle="""
SELECT t AS term, n FROM (
    SELECT t, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, t) AS rk
    FROM (SELECT lower(unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> ''))) AS t
          FROM documents)
    GROUP BY t
) WHERE rk <= 20
""",
)
def q65_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 terms — vocabulary head inspection. Two-level
    aggregate (map-side partial) then TakeOrderedAndProject: the
    global top-K never materializes a full sort (ties broken by term
    so both engines pick the same 20)."""
    docs = _t(spark, sf_dir, "documents")
    from db_cdc_poc_spark.operators.text import whitespace_tokens

    return (
        docs.select(
            F.explode(
                F.transform(whitespace_tokens("text"), lambda t: F.lower(t))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(20)
    )


@_q(
    "q66_winnowed_containment",
    headline=True,
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), g AS (
    SELECT doc_id,
           [array_to_string(toks[i:i+2], ' ')
            for i in range(1, greatest(len(toks) - 1, 1))] AS grams
    FROM tk WHERE len(toks) >= 3
), r AS (
    SELECT doc_id, len(grams) AS n,
           unnest([{'p': i, 'g': grams[i]} for i in range(1, len(grams) + 1)]) AS e
    FROM g
), h AS (
    SELECT doc_id, n, e.p AS pos,
           CAST(('0x' || substr(md5(e.g), 1, 16))::UBIGINT
                & 9223372036854775807 AS BIGINT) AS hv
    FROM r
), wm AS (
    SELECT doc_id, n, pos,
           min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
    FROM h
), fp AS (
    SELECT DISTINCT doc_id, wmin AS hv FROM wm WHERE pos <= n - 3
), sz AS (
    SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM fp a JOIN fp b ON a.hv = b.hv AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(c AS DOUBLE) / least(sa.nf, sb.nf), 6) AS containment
FROM common
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / least(sa.nf, sb.nf) >= 0.5
""",
)
def q66_winnowed_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed containment (dedup.winnowed_containment_pairs): MOSS-
    style fingerprint sampling (distinct window-min of md5 trigram
    hashes, window 4) shrinks the inverted index ~2.5x before the same
    containment join as q58. The oracle replays the full winnowing
    pipeline value-for-value — same hashes, same window minima."""
    docs = _t(spark, sf_dir, "documents")
    return dd.winnowed_containment_pairs(docs, k=3, window=4, threshold=0.5)


@_q(
    "q67_scalar_subquery",
    oracle="""
SELECT event_type, count(*) AS n
FROM events
WHERE value > (SELECT avg(value) FROM events)
GROUP BY event_type
""",
)
def q67_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: rows above the global mean. Catalyst
    executes the subquery once and broadcasts the scalar into the
    predicate (SubqueryExec feeding the filter) — no per-row
    recomputation, no join."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__q67_events")
    return spark.sql(
        """
        SELECT event_type, count(*) AS n
        FROM __q67_events
        WHERE value > (SELECT avg(value) FROM __q67_events)
        GROUP BY event_type
        """
    )


@_q(
    "q68_range_join",
    oracle="""
SELECT w.event_id AS error_id, count(*) AS n_after,
       CAST(sum(round(p.value*100, 0)) AS BIGINT) AS value_cents
FROM (SELECT event_id, user_id, epoch_us(ts) AS lo,
             epoch_us(ts) + 1800000000 AS hi
      FROM events WHERE event_type = 'error') w
JOIN (SELECT user_id, epoch_us(ts) AS t, value
      FROM events WHERE event_type <> 'error') p
  ON p.user_id = w.user_id AND p.t >= w.lo AND p.t <= w.hi
GROUP BY w.event_id
""",
)
def q68_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (operators/joins.py:range_join): events in
    the 30-minute window after each same-user error event. The interval
    is quantized onto a 30-minute bucket grid so the join is a hashable
    equi-join on (user_id, bucket) + exact range filter — never a
    BroadcastNestedLoopJoin (plan-gated in test_joins). The oracle uses
    DuckDB's native inequality join for the same semantics."""
    from db_cdc_poc_spark.operators.joins import range_join

    ev = _t(spark, sf_dir, "events")
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.unix_micros("ts").alias("lo"),
        (F.unix_micros("ts") + 1_800_000_000).alias("hi"),
    )
    points = ev.filter(F.col("event_type") != "error").select(
        "user_id", F.unix_micros("ts").alias("t"), "value"
    )
    return (
        range_join(
            points,
            windows,
            left_point="t",
            right_lo="lo",
            right_hi="hi",
            bucket_width=1_800_000_000,
            keys="user_id",
        )
        .groupBy("error_id")
        .agg(F.count("*").alias("n_after"), _cents(F.col("value")).alias("value_cents"))
    )


@_q(
    "q69_stream_stream_join",
    oracle="""
SELECT c.event_id AS l_id, p.event_id AS r_id, c.user_id, c.ts AS l_ts, p.ts AS r_ts
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
)
def q69_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (streaming/jobs.py:
    stream_stream_join): purchases within 30 minutes after a same-user
    click, drained availableNow. The time-bound join condition plus
    per-side watermarks is what lets Spark expire join state on a real
    stream; in drain mode the result equals the batch time-bounded
    join, which is exactly what the oracle runs."""
    from db_cdc_poc_spark.streaming.jobs import stream_stream_join

    return stream_stream_join(
        spark,
        _staged_events_dir(spark, sf_dir),
        left_type="click",
        right_type="purchase",
        join_window="30 minutes",
    )


@_q(
    "q70_stream_enrich",
    oracle="""
SELECT event_id, user_id, event_type, c_name, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
""",
)
def q70_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming/jobs.py:stream_enrich): the
    event stream joined to the static customer dim, broadcast per
    micro-batch — no watermark, no join state, the stream never
    shuffles. Drained availableNow; equals the batch join (the
    oracle)."""
    from db_cdc_poc_spark.streaming.jobs import stream_enrich

    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return stream_enrich(spark, _staged_events_dir(spark, sf_dir), dim)


# ---------------------------------------------------------------------------
# Probabilistic sketches, chunk dedup, quantization, range windows
# (training-pipeline extension; no reference analogue — SURVEY.md §7 step 5)
# ---------------------------------------------------------------------------

#: HLL numerator alpha_m * m^2 * 2^HLL_SCALE for p=8 — computed once so the
#: Spark plan and the oracle SQL share the identical double literal; the
#: chained product in hll_estimate only multiplies by powers of two, which
#: is exact, so this equals the operator's own arithmetic bit-for-bit.
_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


@_q(
    "q71_hll_distinct",
    headline=True,
    oracle=f"""
WITH keyed AS (
    SELECT event_type,
           CAST(user_id AS VARCHAR) || ':' || strftime(ts, '%Y-%m-%d') AS user_day
    FROM events
), h AS (
    SELECT event_type,
           CAST(('0x' || substr(md5(user_day), 1, 16))::UBIGINT
                & 9223372036854775807 AS BIGINT) AS hv
    FROM keyed
), regs AS (
    SELECT event_type, hv >> 55 AS bucket,
           max(CASE WHEN (hv & ((1::BIGINT << 55) - 1)) = 0 THEN 50
               ELSE least(56 - length(bin(hv & ((1::BIGINT << 55) - 1))), 50)
               END) AS r
    FROM h GROUP BY 1, 2
), agg AS (
    SELECT event_type, count(*) AS n_used,
           sum(1::BIGINT << (50 - r)) AS s_used
    FROM regs GROUP BY 1
), est AS (
    SELECT event_type,
           CAST({_HLL_M} AS INT) AS m,
           CAST({_HLL_M} - n_used AS BIGINT) AS n_zero,
           CAST(s_used + ({_HLL_M} - n_used) * (1::BIGINT << 50) AS BIGINT)
               AS s_scaled,
           CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M)!r} * {float(_HLL_M)!r}
               * {float(1 << 50)!r}
               / CAST(s_used + ({_HLL_M} - n_used) * (1::BIGINT << 50) AS DOUBLE)
               AS est_distinct
    FROM agg
)
SELECT est.*, ex.exact_distinct
FROM est JOIN (SELECT event_type, count(DISTINCT user_day) AS exact_distinct
               FROM keyed GROUP BY 1) ex USING (event_type)
""",
)
def q71_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct user-days per event type (DAU sketching —
    operators/sketches.py:hll_registers). One scan, map-side-partial
    max into <=256 registers per group; the estimate is exact-integer
    harmonic math so the oracle replays it bit-for-bit (the md5 hash
    path; xxhash64 is the production default). exact_distinct rides
    along to show the ~1.04/sqrt(m)=6.5% error band."""
    from db_cdc_poc_spark.operators import sketches as sk

    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("user_day"),
    )
    est = sk.hll_distinct(keyed, "user_day", ["event_type"], p=_HLL_P, hash_fn="md5")
    exact = keyed.groupBy("event_type").agg(
        F.countDistinct("user_day").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


@_q(
    "q72_bloom_decontam",
    oracle="""
WITH pos AS (
    SELECT doc_id, text, unnest([
        CAST(('0x' || substr(md5(text || '#0'), 1, 8))::UBIGINT % 65536 AS BIGINT),
        CAST(('0x' || substr(md5(text || '#1'), 1, 8))::UBIGINT % 65536 AS BIGINT),
        CAST(('0x' || substr(md5(text || '#2'), 1, 8))::UBIGINT % 65536 AS BIGINT),
        CAST(('0x' || substr(md5(text || '#3'), 1, 8))::UBIGINT % 65536 AS BIGINT)
    ]) AS p
    FROM documents
), bits AS (
    SELECT DISTINCT p FROM pos WHERE doc_id IN
        (SELECT doc_id FROM documents WHERE source = 'src0')
)
SELECT doc_id,
       CAST(count(bits.p) AS INT) AS hits,
       count(bits.p) = 4 AS maybe_member
FROM pos LEFT JOIN bits USING (p)
GROUP BY doc_id
""",
)
def q72_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter "seen before?" check of every document against the
    src0 reference corpus (operators/sketches.py:bloom_hits): k=4 md5
    positions in a 2^16-bit filter, represented as the distinct
    set-position table (KB-scale however large the member corpus) and
    broadcast — candidates shuffle once on doc_id, members are scanned
    once and never row-joined. False positives possible by contract,
    false negatives impossible; the oracle replays positions exactly."""
    from db_cdc_poc_spark.operators import sketches as sk

    docs = _t(spark, sf_dir, "documents")
    members = docs.filter(F.col("source") == "src0")
    return sk.bloom_hits(
        docs, members, key_col="text", id_col="doc_id", k=4, m_bits=1 << 16
    )


@_q(
    "q73_chunk_dedup",
    headline=True,
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), ck AS (
    SELECT doc_id, ci - 1 AS chunk_id,
           array_to_string(toks[(ci-1)*8+1 : ci*8], ' ') AS chunk_text
    FROM tk, unnest(range(1, CAST(ceil(len(toks) / 8.0) AS BIGINT) + 1)) AS t(ci)
), rk AS (
    SELECT doc_id, chunk_id, chunk_text,
           row_number() OVER (
               PARTITION BY CAST(('0x' || substr(md5(chunk_text), 1, 16))::UBIGINT
                                 & 9223372036854775807 AS BIGINT)
               ORDER BY doc_id, chunk_id) AS rk
    FROM ck
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_chunks,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN rk = 1 THEN chunk_text END,
                               ' ' ORDER BY chunk_id), '')) AS kept_fp
FROM rk GROUP BY doc_id
""",
)
def q73_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-chunk removal (text.py:dedup_chunks):
    CCNet/RefinedWeb-style boilerplate dedup at 8-token-chunk
    granularity — first corpus-wide occurrence of a chunk survives,
    repeats are dropped from later documents. Rank-over-hash, never a
    self-join: a chunk shared by d docs costs d rows, not d^2 pairs.
    md5 hash path so the oracle replays the keep decision and the
    reassembled-text fingerprint value-for-value."""
    from db_cdc_poc_spark.operators.text import dedup_chunks

    docs = _t(spark, sf_dir, "documents")
    out = dedup_chunks(docs, window=8, hash_fn="md5")
    return out.select(F.col("id").alias("doc_id"), "n_chunks", "n_kept", "kept_fp")


@_q(
    "q74_quantize_embeddings",
    oracle="""
WITH amax AS (
    SELECT vec_id,
           len(embedding) AS dim,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale
    FROM embeddings
), q AS (
    SELECT vec_id, dim, scale,
           CASE WHEN scale = 0
                THEN [0.0 for v in embedding]
                ELSE [round(CAST(v AS DOUBLE) / scale, 0) for v in embedding]
           END AS qs,
           [CAST(v AS DOUBLE) for v in embedding] AS vs
    FROM amax JOIN embeddings USING (vec_id)
)
SELECT vec_id,
       CAST(dim AS INT) AS dim,
       scale,
       CAST(list_sum(qs) AS BIGINT) AS q_sum,
       CAST(list_min(qs) AS INT) AS q_min,
       CAST(list_max(qs) AS INT) AS q_max,
       list_max([abs(vs[i] - qs[i] * scale)
                 for i in range(1, CAST(dim AS BIGINT) + 1)]) AS max_abs_err
FROM q
""",
)
def q74_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization audit
    (similarity.py:quantize_embeddings): per-vector scale = max|v|/127,
    integer code digest (sum/min/max — exact, order-free) and max
    reconstruction error (per-element IEEE arithmetic, order-free max).
    Explode + window, never a scalar-in-lambda HOF (the per-element
    re-evaluation trap); groupBy rides the window's partitioning."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.quantize_embeddings(emb).select(
        F.col("id").alias("vec_id"),
        "dim",
        "scale",
        "q_sum",
        "q_min",
        "q_max",
        "max_abs_err",
    )


@_q(
    "q75_rolling_window",
    oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(round(value * 100, 0)) OVER w AS BIGINT) AS value_cents_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def q75_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling aggregates: per-user trailing-1-hour event
    count and spend at every event (RANGE frame over event time — the
    per-event form of q38's tumbling buckets; frames are time-bounded
    so ts ties are peers in both engines). One shuffle on user_id;
    state per partition is the 1-hour frame, independent of history
    length. Money as integer cents (order-free exact sums)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.round(F.col("value") * 100, 0)).over(w).cast("long").alias("value_cents_1h"),
    )


@_q(
    "q76_merge_into",
    oracle="""
WITH t AS (
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents
    FROM customer
), s AS (
    SELECT o_custkey AS c_custkey, count(*) AS n_orders,
           CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS total_cents
    FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1
    UNION ALL SELECT -1, 0, 123400
)
SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
       CASE WHEN t.c_custkey IS NULL THEN 'NEW' ELSE t.c_name END AS c_name,
       CASE WHEN t.c_custkey IS NULL THEN 'NEW' ELSE t.c_mktsegment END
           AS c_mktsegment,
       CASE WHEN t.c_custkey IS NULL THEN s.total_cents
            WHEN s.c_custkey IS NOT NULL THEN t.acctbal_cents + s.total_cents
            ELSE t.acctbal_cents END AS acctbal_cents
FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
WHERE NOT (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
           AND s.n_orders >= 20)
""",
)
def q76_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic MERGE INTO (operators/merge.py): recent-order totals
    merged into the customer table — WHEN MATCHED AND n_orders >= 20
    DELETE (churn the hottest accounts), WHEN MATCHED UPDATE the
    balance, WHEN NOT MATCHED INSERT (a planted new key exercises the
    insert clause; pre-1997 customers exercise keep-as-is). One
    full-outer join on the key, every clause a codegen'd CASE — the
    lakehouse MERGE semantics without an engine dependency."""
    from db_cdc_poc_spark.operators.merge import merge_into

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
    )
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            _cents(F.col("o_totalprice")).alias("total_cents"),
        )
        .unionByName(
            local_df(
                spark,
                [(-1, 0, 123400)],
                "c_custkey bigint, n_orders bigint, total_cents bigint",
            )
        )
    )
    return merge_into(
        cust,
        src,
        on="c_custkey",
        matched_update={"acctbal_cents": "t.acctbal_cents + s.total_cents"},
        matched_delete="s.n_orders >= 20",
        not_matched_insert={
            "c_name": "'NEW'",
            "c_mktsegment": "'NEW'",
            "acctbal_cents": "s.total_cents",
        },
    )


@_q(
    "q77_scd2",
    oracle="""
WITH src AS (
    SELECT user_id, event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
           epoch_us(ts) AS seq_us, event_id
    FROM events
), led AS (
    SELECT user_id, event_type, value_cents, seq_us,
           lead(seq_us) OVER (PARTITION BY user_id
                              ORDER BY seq_us, event_id) AS end_us
    FROM src
)
SELECT user_id, event_type, value_cents,
       seq_us AS "__START_AT", end_us AS "__END_AT"
FROM led WHERE event_type <> 'error'
""",
)
def q77_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 history (operators/cdc.py:apply_changes_scd2 — the
    stored_as_scd_type=2 form of the reference's apply_changes): each
    event opens a version of its user's row, the next change closes
    it, and 'error' rows act as deletes — they close the open version
    without emitting one. One window shuffle; per-key state is a
    single lookahead row regardless of history length."""
    from db_cdc_poc_spark.operators.cdc import apply_changes_scd2

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
        F.unix_micros("ts").alias("seq_us"),
        "event_id",
    )
    return apply_changes_scd2(
        ev,
        keys="user_id",
        sequence_by="seq_us",
        apply_as_deletes="event_type = 'error'",
        except_columns=["event_id", "seq_us"],
        tie_breakers="event_id",
    )


@_q(
    "q78_grouping_sets",
    oracle="""
SELECT coalesce(source, '*') AS source_k, coalesce(lang, '*') AS lang_k,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())
""",
)
def q78_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS corpus data card: per-source, per-lang, per-cell
    and grand-total document/char counts in ONE pass (Catalyst expands
    the sets into a single Expand + aggregate — no self-union of four
    scans). The coalesced '*' keys make roll-up rows self-describing
    (source/lang are non-null in the data)."""
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__q78_docs")
    return spark.sql(
        """
        SELECT coalesce(source, '*') AS source_k, coalesce(lang, '*') AS lang_k,
               count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM __q78_docs
        GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())
        """
    )


@_q(
    "q79_bpe_pairs",
    oracle="""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS tok
    FROM documents
), pairs AS (
    SELECT substr(tok, CAST(i AS INT), 2) AS pair
    FROM toks, unnest(range(1, length(tok))) AS t(i)
    WHERE length(tok) >= 2
)
SELECT pair, n FROM (
    SELECT pair, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, pair) AS rk
    FROM pairs GROUP BY pair
) WHERE rk <= 30
""",
)
def q79_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge candidates: corpus-wide counts of adjacent symbol
    pairs within words — the inner loop of byte-pair-encoding tokenizer
    training (the top pair is the next merge). Tokens explode once,
    positions explode once (total chars, not chars^2), then a two-level
    count and TakeOrderedAndProject pick the top 30 (ties by pair)."""
    from db_cdc_poc_spark.operators.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(whitespace_tokens("text")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"), "tok"
    ).select(F.expr("substring(tok, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


@_q(
    "q80_funnel",
    oracle="""
WITH v AS (
    SELECT user_id, min(epoch_us(ts)) AS t_view
    FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
    GROUP BY 1
), p AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
    GROUP BY 1
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CASE WHEN p.user_id IS NOT NULL THEN 3
            WHEN c.user_id IS NOT NULL THEN 2
            ELSE 1 END AS stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
)
def q80_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> later click -> later purchase) per user:
    three cascaded keyed aggregates — each stage's anchor time joins
    back to the events once, so ordering is enforced by a predicate,
    not a per-user sort. All joins and aggs share the user_id key, so
    AQE coalesces them onto one partitioning."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .otherwise(1)
            .alias("stage"),
        )
    )


@_q(
    "q81_retention",
    oracle="""
WITH cohort AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS c_day FROM events GROUP BY 1
)
SELECT strftime(c_day, '%Y-%m-%d') AS cohort_day,
       CAST(datediff('day', c_day, CAST(e.ts AS DATE)) AS INT) AS day_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN cohort USING (user_id)
GROUP BY 1, 2
""",
)
def q81_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen day, activity
    counted per (cohort, day-offset) cell — the standard growth
    matrix. The cohort dim is keyed on user_id (broadcast-sized here;
    co-partitioned with the fact at scale) and the matrix is one
    distinct-aggregate."""
    ev = _t(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("c_day"))
    return (
        ev.join(cohort, "user_id")
        .select(
            F.date_format("c_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.to_date("ts"), F.col("c_day")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@_q(
    "q82_countmin_heavy",
    oracle="""
WITH terms AS (
    SELECT lower(unnest(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''))) AS term
    FROM documents
), pts AS (
    SELECT term, r,
           CAST(('0x' || substr(md5(term || '#' || CAST(r AS VARCHAR)), 1, 8))
                ::UBIGINT % 4096 AS BIGINT) AS pos
    FROM terms, unnest(range(4)) AS t(r)
), counters AS (
    SELECT r, pos, count(*) AS c FROM pts GROUP BY 1, 2
), probes AS (
    SELECT DISTINCT term, r,
           CAST(('0x' || substr(md5(term || '#' || CAST(r AS VARCHAR)), 1, 8))
                ::UBIGINT % 4096 AS BIGINT) AS pos
    FROM terms, unnest(range(4)) AS t(r)
), est AS (
    SELECT term, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
    FROM probes LEFT JOIN counters USING (r, pos)
    GROUP BY term
), exact AS (
    SELECT term, count(*) AS exact_n FROM terms GROUP BY 1
)
SELECT term, est, exact_n FROM (
    SELECT term, est, exact_n,
           row_number() OVER (ORDER BY est DESC, term) AS rk
    FROM est JOIN exact USING (term)
) WHERE rk <= 20
""",
)
def q82_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters (operators/sketches.py:cm_counters/
    cm_estimate): term frequencies estimated from a 4x4096-cell sketch
    (fixed KB footprint however large the corpus; cells merge by sum),
    top-20 by estimate with exact counts alongside — CM never
    underestimates, so the sketch top-K is a superset screen for the
    true one. Counter build is explode+map-side-partial; probes join
    the broadcast cell table."""
    from db_cdc_poc_spark.operators import sketches as sk
    from db_cdc_poc_spark.operators.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.transform(whitespace_tokens("text"), lambda t: F.lower(t))).alias(
            "term"
        )
    )
    counters = sk.cm_counters(terms, "term", depth=4, width=4096)
    est = sk.cm_estimate(terms.distinct(), counters, "term", depth=4, width=4096)
    exact = terms.groupBy("term").agg(F.count("*").alias("exact_n"))
    return (
        est.join(exact, "term")
        .orderBy(F.col("est").desc(), "term")
        .limit(20)
    )


@_q(
    "q83_table_checksums",
    oracle="""
WITH canon AS (
    SELECT CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id, event_type,
                     CAST(round(value * 100, 0) AS BIGINT), epoch_us(ts))), 1, 16))
                ::UBIGINT & 9223372036854775807 AS BIGINT) AS digest,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 16))
                ::UBIGINT & 9223372036854775807 AS BIGINT) % 64 AS bucket
    FROM events
)
SELECT bucket, count(*) AS n, bit_xor(digest) AS checksum
FROM canon GROUP BY bucket
""",
)
def q83_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy bucket checksums: 64 (count, xor-of-row-digest)
    cells summarize the whole table, so a CDC source and target can be
    compared without moving either (mismatched buckets are then
    re-synced individually — the Merkle-style repair loop,
    cf. streaming/cdc.py's bucketed state layout). Map-side-partial
    xor/count; md5 row digests make the checksum engine-portable.
    Money and time are canonicalized to exact integers before
    digesting (float formatting is NOT portable; integer strings
    are)."""
    from db_cdc_poc_spark.operators.sketches import table_checksums

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
        F.unix_micros("ts").alias("ts_us"),
    )
    return table_checksums(
        ev,
        key_col="event_id",
        digest_cols=["event_id", "user_id", "event_type", "value_cents", "ts_us"],
        n_buckets=64,
    )


@_q(
    "q84_ivm_aggregate",
    oracle="""
SELECT user_id, count(*) AS n,
       CAST(sum(round(value * 100, 0)) AS BIGINT) AS value_cents
FROM events GROUP BY user_id
""",
)
def q84_ivm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): the per-user
    spend aggregate is built over the first half of the month, then
    refreshed with the second half arriving as a Debezium-shaped
    insert batch — signed delta images aggregated per touched key and
    MERGEd into the base. The oracle is the full recompute over all
    events: IVM's contract is exact equality with it, at
    O(|changes| + touched keys) cost instead of O(|base|). Update and
    delete-to-zero delta rules are exercised in test_ivm.py."""
    from db_cdc_poc_spark.operators.ivm import delta_aggregate

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
        "ts",
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    base = (
        ev.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )
    img = F.struct("user_id", "value_cents")
    changes = ev.filter(F.col("ts") >= cut).select(
        F.lit("c").alias("op"),
        img.alias("before"),  # never read for op='c'
        img.alias("after"),
    )
    return delta_aggregate(base, changes, keys=["user_id"], measures=["value_cents"])


# ---------------------------------------------------------------------------
# Substring-level duplication, n-gram LM coverage, cross-corpus fuzzy
# decontamination — the remaining corpus-analysis legs of the LLM pipeline
# ---------------------------------------------------------------------------


@_q(
    "q85_duplicate_spans",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), g AS (
    SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
                           for i in range(1, greatest(len(toks) - 6, 1))]) AS gram
    FROM tk WHERE len(toks) >= 8
), s AS (
    SELECT doc_id, ('0x' || substr(md5(gram), 1, 16))::UBIGINT AS h FROM g
), freq AS (
    SELECT h, count(*) AS span_docs
    FROM (SELECT DISTINCT doc_id, h FROM s) GROUP BY h HAVING count(*) >= 2
)
SELECT doc_id AS id,
       count(*) AS n_spans,
       count(span_docs) AS n_dup_spans,
       1000000 * count(span_docs) // count(*) AS dup_ppm
FROM s LEFT JOIN freq USING (h)
GROUP BY doc_id
""",
    headline=True,
)
def q85_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span accounting (substring-level dedup, the
    "repeated n-gram" analysis from the deduplicating-training-data
    literature): fraction of each document's 8-token windows that occur
    verbatim in >=2 documents. Aggregation-only — span hashes are
    counted, never pair-joined, so boilerplate in d docs costs d rows,
    not d^2 (see operators/dedup.py:duplicate_span_stats). Span hashes
    are engine-internal (counted, never exposed), so the fast
    token-hash-slice path runs here while the oracle replays the same
    counts over md5 gram hashes — identical up to a 64-bit collision."""
    docs = _t(spark, sf_dir, "documents")
    return dd.duplicate_span_stats(docs, window=8, min_docs=2, hash_fn="fast")


@_q(
    "q86_bigram_coverage",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), bg AS (
    SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                           for i in range(1, greatest(len(toks), 1))]) AS bigram
    FROM tk WHERE len(toks) >= 2
), cnt AS (
    SELECT bigram, count(*) AS c FROM bg GROUP BY bigram
)
SELECT doc_id AS id,
       count(*) AS n_bigrams,
       count(CASE WHEN c >= 2 THEN 1 END) AS n_common,
       1000000 * count(CASE WHEN c >= 2 THEN 1 END) // count(*) AS common_ppm
FROM bg JOIN cnt USING (bigram)
GROUP BY doc_id
""",
)
def q86_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram LM coverage scoring: bigram counts trained on the corpus
    itself, each document scored by how much of it the corpus has seen
    twice — the join-based skeleton of KenLM-style quality filters
    (operators/text.py:bigram_coverage). All-integer output, exact
    oracle replay."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_coverage(docs, min_count=2)


@_q(
    "q87_orc_roundtrip",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(round(value * 100, 0)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
""",
)
def q87_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format source/sink: the events table written to ORC
    (Spark's second native columnar format — same predicate-pushdown /
    column-pruning scan surface as parquet) and read back; the
    aggregate over the roundtripped scan must equal the oracle's
    aggregate over the original parquet. Proves the engine isn't
    parquet-only without needing external connector jars."""
    ev = _t(spark, sf_dir, "events")
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    path = f"/tmp/db_cdc_poc_spark_orc/{tag}/events"
    ev.write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _cents(F.col("value")).alias("value_cents"),
        )
    )


@_q(
    "q88_variant_extract",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
""",
)
def q88_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): props parsed once into
    the binary VARIANT encoding, fields extracted with variant_get —
    the lakehouse-native answer to schemaless JSON columns (vs q13's
    from_json-with-declared-schema and q64's per-access string
    get_json_object: variant parses once and field access is a binary
    probe, not a re-parse)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.variant_get("v", "$.k", "bigint")).cast("long").alias("sum_k"),
    )


@_q(
    "q89_python_datasource",
    oracle="""
WITH g AS (
    SELECT i,
           (i * 2654435761) % 97 AS user_id,
           ['click','view','purchase','refund'][(i % 4) + 1] AS event_type,
           (i * 1103515245 + 12345) % 10000 AS amount_cents
    FROM range(0, 10000) t(i)
)
SELECT event_type, count(*) AS n,
       CAST(sum(amount_cents) AS BIGINT) AS sum_cents,
       CAST(sum(user_id) AS BIGINT) AS sum_user
FROM g GROUP BY event_type
""",
)
def q89_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via the Spark 4 Python Data Source API
    (sources/pydatasource.py): a deterministic arithmetic event feed
    mounted as spark.read.format('synthetic_events') with real
    InputPartition parallelism. The oracle replays the generator
    formula over range(n) — proving the partitioned Python reader
    produces exactly the declared rows."""
    from db_cdc_poc_spark.sources import pydatasource

    apply_runtime_confs(spark)
    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 10_000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount_cents").cast("long").alias("sum_cents"),
        F.sum("user_id").cast("long").alias("sum_user"),
    )


@_q(
    "q90_fuzzy_decontam",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle
    WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9
""",
    headline=True,
)
def q90_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy eval-set decontamination: MinHash-LSH join BETWEEN corpora
    (train = doc_id % 10 != 0, held-out eval = the rest) — the
    near-duplicate complement to q52's exact-n-gram decontamination.
    Candidates come from a band equi-join ACROSS the two sides (the
    train corpus never self-joins; a small eval side broadcasts), each
    verified with exact trigram Jaccard; at threshold 0.9 with 64
    hashes / 16 bands the LSH miss probability is ~4e-8, so the output
    provably equals the oracle's exact cross-corpus pair set
    (operators/dedup.py:cross_lsh_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    eval_ = docs.filter(F.col("doc_id") % 10 == 0)
    return dd.cross_lsh_pairs(train, eval_, threshold=0.9)


@_q(
    "q91_stream_dedup_bounded",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q91_stream_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup via dropDuplicatesWithinWatermark
    (streaming/jobs.py): unlike q30's dropDuplicates — whose per-key
    state never expires unless event time is part of the key — state
    here is GUARANTEED evicted once the watermark passes, making it the
    continuous-ingest production form. Delay wider than the data span +
    availableNow drain => key set == batch DISTINCT (the oracle)."""
    from db_cdc_poc_spark.streaming.jobs import stream_dedup_keys_within_watermark

    return stream_dedup_keys_within_watermark(
        spark, _staged_events_dir(spark, sf_dir), keys=["user_id", "event_type"]
    )


@_q(
    "q92_python_udtf",
    oracle="""
WITH s AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\\.\\s+'), x -> x <> ''))
               AS sentence
    FROM documents
)
SELECT doc_id, sentence, CAST(length(sentence) AS BIGINT) AS n_chars
FROM s
""",
)
def q92_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 4 UDTF API): a
    sentence-splitting table generator applied with LATERAL join —
    the row-expanding extensibility surface (one input row -> N output
    rows with a declared schema). Like q89's Python Data Source this is
    the slow path by construction (row-at-a-time Python); the native
    equivalents (explode over split, q14/q46) are the hot path — the
    UDTF exists for logic that genuinely can't be a Column expression.
    The oracle replays the same regex split in DuckDB."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence: string, n_chars: bigint")
    class SplitSentences:
        def eval(self, text: str):  # noqa: ANN001
            import re as _re

            for s in _re.split(r"\.\s+", text or ""):
                if s != "":
                    yield s, len(s)

    docs = _t(spark, sf_dir, "documents")
    spark.udtf.register("split_sentences", SplitSentences)
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.sentence, t.n_chars "
        "FROM __udtf_docs d, LATERAL split_sentences(d.text) t"
    )


@_q(
    "q93_semantic_dedup",
    oracle=_q41_oracle(
        0.4,
        tail="""
SELECT e.vec_id, e.label
FROM embeddings e
LEFT JOIN (SELECT DISTINCT id_b FROM scored WHERE cos_raw >= 0.4) d
       ON e.vec_id = d.id_b
WHERE d.id_b IS NULL
""",
    ),
)
def q93_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup shape): embedding near-dup
    pairs from the bucketed scale path (q41's hyperplane candidates +
    exact cosine verify), then a greedy min-id survivor rule — any
    vector whose cosine to a SMALLER-id vector clears the threshold is
    dropped via one left-anti join. Deterministic, no driver state, and
    the drop set is linear in the pair count (the cluster-exact variant
    is q40's connected components; greedy-by-id is the common
    production choice because it needs no iteration)."""
    emb = _t(spark, sf_dir, "embeddings")
    weights = sim.rademacher_weights(_Q41_TABLES, _Q41_BITS, _Q25_DIM)
    pairs = sim.neardup_pairs_bucketed(
        emb, threshold=0.4, tables=_Q41_TABLES, bits=_Q41_BITS, weights=weights
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return emb.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


@_q(
    "q94_hard_negatives",
    oracle="""
WITH v AS (
    SELECT vec_id, e, label,
           sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings)
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
           CASE WHEN q.nrm * c.nrm > 0
                THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                ELSE 0.0 END AS cos_raw
    FROM v q JOIN v c ON q.label <> c.label
    WHERE q.vec_id < 10
)
SELECT query_id, negative_id, round(cos_raw, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, negative_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
""",
)
def q94_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): per query
    vector, the top-5 most-similar vectors of a DIFFERENT label — the
    contrastive-training data op. Same broadcast-query/corpus-stays-put
    plan as q24 with the label inequality in the join condition."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=5)


@_q(
    "q95_stream_fanout",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def q95_stream_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch multi-sink fan-out (streaming/jobs.py:stream_fanout):
    one availableNow drain writes every micro-batch to TWO parquet
    sinks (single source pass, cached batch, idempotent per-batch
    overwrite directories). The returned DataFrame reads sink B back —
    its row set must equal the source, which is what the oracle
    checks; sink-A/sink-B equality and multi-batch behavior are
    asserted in tests."""
    from db_cdc_poc_spark.streaming.ephemeral import ephemeral_checkpoint_dir
    from db_cdc_poc_spark.streaming.jobs import stream_fanout

    base = ephemeral_checkpoint_dir("fanout_q95_")
    sinks = [f"{base}/a", f"{base}/b"]
    stream_fanout(spark, _staged_events_dir(spark, sf_dir), sinks)
    return spark.read.parquet(sinks[1]).select("event_id", "user_id", "event_type")


@_q(
    "q96_regr_trend",
    headline=True,
    oracle="""
WITH s AS (
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(x) AS DOUBLE) AS sx,
           CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(x * y) AS DOUBLE) AS sxy,
           CAST(sum(x * x) AS DOUBLE) AS sxx
    FROM (SELECT o_orderpriority,
                 CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS x,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
          FROM orders)
    GROUP BY 1
)
SELECT o_orderpriority, n,
       (CAST(n AS DOUBLE) * sxy - sx * sy)
         / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0) AS slope,
       (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
               / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0) * sx)
         / CAST(n AS DOUBLE) AS intercept
FROM s
""",
)
def q96_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (stats.group_regression): slope/intercept of
    order value (cents) over order age (days) per priority class — the
    drift-detection companion to the reference's per-trigger gold
    recompute (04_Current_Inventory.sql:3). One map-side-partial
    aggregation produces exact integer sufficient statistics; the
    double division is bit-reproducible because both engines divide
    identical operands with the identical expression shape."""
    from db_cdc_poc_spark.operators.stats import group_regression

    orders = _t(spark, sf_dir, "orders")
    return group_regression(
        orders,
        ["o_orderpriority"],
        x=F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")),
        y=F.round(F.col("o_totalprice") * 100, 0),
    )


@_q(
    "q97_gapfill_locf",
    headline=True,
    oracle="""
WITH agg AS (
    SELECT event_type AS series,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
           CAST(sum(round(value * 100, 0)) AS BIGINT) AS bucket_value
    FROM events GROUP BY 1, 2
), bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM agg),
spine AS (
    SELECT s.series, unnest(generate_series(b.lo, b.hi)) AS bucket
    FROM (SELECT DISTINCT series FROM agg) s CROSS JOIN bounds b
)
SELECT sp.series, sp.bucket,
       coalesce(a.bucket_value, 0) AS bucket_value,
       coalesce(last_value(a.bucket_value IGNORE NULLS) OVER (
           PARTITION BY sp.series ORDER BY sp.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS locf_value,
       a.bucket_value IS NULL AS filled
FROM spine sp LEFT JOIN agg a
  ON sp.series = a.series AND sp.bucket = a.bucket
""",
)
def q97_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar gap-fill + LOCF (timeseries.gapfill_locf): every
    hour bucket for every event series between the global bounds, with
    empty hours zero-filled and the running last-observed value carried
    forward — the dense-dashboard companion to the latest-state gold
    table. The spine (|series| × |hours|) is dimension-sized and
    broadcast; the LOCF window runs over the spine, never the raw
    events. At production series-cardinality the window splits per
    (series, day) with a carried seed — documented in the module."""
    from db_cdc_poc_spark.operators.timeseries import gapfill_locf

    events = _t(spark, sf_dir, "events")
    out = gapfill_locf(
        events,
        "event_type",
        ts=F.col("ts"),
        value=F.round(F.col("value") * 100, 0),
        bucket_seconds=3600,
    )
    return out.select("series", "bucket", "bucket_value", "locf_value", "filled")


@_q(
    "q98_fuzzy_name_pairs",
    oracle="""
WITH names AS (
    SELECT DISTINCT p_name AS nm, string_split(p_name, ' ')[-1] AS blk
    FROM part
)
SELECT a.nm AS key_a, b.nm AS key_b,
       CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS distance
FROM names a JOIN names b ON a.blk = b.blk AND a.nm < b.nm
WHERE levenshtein(a.nm, b.nm) <= 4
""",
)
def q98_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy pairs (joins.blocked_fuzzy_pairs): distinct
    part names blocked on their head noun, Levenshtein-verified within
    blocks only — the entity-resolution primitive, with the blocking
    equi-join (never a cartesian) as the load-bearing scale choice.
    The distinct-first collapse bounds block size by vocabulary, not
    row count."""
    from db_cdc_poc_spark.operators.joins import blocked_fuzzy_pairs

    part = _t(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(
        part,
        "p_name",
        block=F.element_at(F.split(F.col("p_name"), " "), -1),
        max_distance=4,
    )


@_q(
    "q99_char_entropy",
    oracle="""
WITH ch AS (
    SELECT doc_id AS id,
           unnest([substr(text, i, 1) for i in range(1, len(text) + 1)]) AS c
    FROM documents
), cnt AS (
    SELECT id, c, count(*) AS n FROM ch GROUP BY 1, 2
)
SELECT id,
       CAST(sum(n) AS BIGINT) AS n_chars,
       count(*) AS n_unique_chars,
       CAST(max(n) AS BIGINT) AS top_char_count,
       round(ln(CAST(sum(n) AS DOUBLE))
             - sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
               / CAST(sum(n) AS DOUBLE), 5) AS char_entropy
FROM cnt GROUP BY id
""",
)
def q99_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution quality stats (text.char_entropy_stats):
    per-doc char counts, distinct chars, modal char count, and Shannon
    entropy — the gibberish/boilerplate filter alongside q26's ratio
    features. The order-independent H = ln(n) − (Σ c·ln c)/n
    decomposition plus 5 dp rounding keeps the value hash stable under
    shuffle order."""
    docs = _t(spark, sf_dir, "documents")
    return tx.char_entropy_stats(docs, "doc_id", "text")


@_q(
    "q100_column_profile",
    oracle="""
SELECT 'l_orderkey' AS column_name, count(l_orderkey) AS n_nonnull,
       count(DISTINCT l_orderkey) AS n_distinct,
       CAST(min(l_orderkey) AS VARCHAR) AS min_value,
       CAST(max(l_orderkey) AS VARCHAR) AS max_value
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(l_returnflag), count(DISTINCT l_returnflag),
       CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(l_shipdate), count(DISTINCT l_shipdate),
       CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_linenumber', count(l_linenumber), count(DISTINCT l_linenumber),
       CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
FROM lineitem
""",
)
def q100_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (stats.column_profile): non-null count,
    exact distinct count, min/max per column over lineitem — the
    data-quality sweep a CDC landing zone runs before promoting a
    batch. ALL columns share ONE scan (Expand feeds the per-column
    count_distincts); the oracle is the k-scan UNION ALL formulation,
    which is exactly the plan shape the operator avoids."""
    from db_cdc_poc_spark.operators.stats import column_profile

    li = _t(spark, sf_dir, "lineitem")
    return column_profile(
        li, ["l_orderkey", "l_returnflag", "l_shipdate", "l_linenumber"]
    )


@_q(
    "q101_outlier_mad",
    oracle="""
WITH v AS (
    SELECT l_returnflag AS g,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS val
    FROM lineitem
), med AS (
    SELECT g, median(val) AS med, count(*) AS n FROM v GROUP BY g
), dev AS (
    SELECT v.g, v.val, m.med, m.n, abs(v.val - m.med) AS adev
    FROM v JOIN med m ON v.g = m.g
), mad AS (
    SELECT g, median(adev) AS mad FROM dev GROUP BY g
)
SELECT d.g AS l_returnflag,
       any_value(d.n) AS n,
       any_value(d.med) AS median_value,
       any_value(md.mad) AS mad,
       CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * md.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad md ON d.g = md.g
GROUP BY d.g
""",
)
def q101_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier counts (stats.mad_outliers): median and
    median-absolute-deviation of line item value (cents) per return
    flag, counting rows beyond 3·1.4826·MAD — the heavy-tail-safe
    anomaly screen (a mean/stddev z-score is dragged by the very
    outliers it hunts). Integer cents make the exact-percentile
    midpoints engine-identical; the fact table is aggregated twice and
    joined only against tiny per-group stat tables (broadcast)."""
    from db_cdc_poc_spark.operators.stats import mad_outliers

    li = _t(spark, sf_dir, "lineitem")
    return mad_outliers(li, ["l_returnflag"], F.round(F.col("l_extendedprice") * 100, 0))


@_q(
    "q102_temperature_mix",
    oracle="""
WITH d AS (
    SELECT source AS src, CAST(count(*) AS BIGINT) AS n,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
    FROM documents GROUP BY 1
), r AS (
    SELECT src, n, w, CAST(n AS DOUBLE) / CAST(w AS DOUBLE) AS ratio FROM d
), c AS (
    SELECT src, n, w,
           sum(n) OVER (ORDER BY ratio, src
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           sum(w) OVER (ORDER BY ratio, src
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
           sum(w) OVER () AS tot_w
    FROM r
), k AS (
    SELECT src, n, w, tot_w,
           n * (tot_w - (cum_w - w)) <= (300 - (cum_n - n)) * w AS capped
    FROM c
), lvl AS (
    SELECT src, n, w, capped,
           300 - sum(CASE WHEN capped THEN n ELSE 0 END) OVER () AS num,
           tot_w - sum(CASE WHEN capped THEN w ELSE 0 END) OVER () AS den
    FROM k
), alloc AS (
    SELECT src, n,
           CAST(CASE WHEN capped THEN n
                     ELSE greatest(0, least(n, (num * w) // den)) END AS BIGINT)
               AS a
    FROM lvl
), thr AS (
    SELECT src AS source, (a * 1000000) // n AS thr FROM alloc
)
SELECT d.doc_id, d.source
FROM documents d JOIN thr ON d.source = thr.source
WHERE (('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 16))::UBIGINT
       & 9223372036854775807) % 1000000 < thr.thr
""",
)
def q102_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (sampling.temperature_mix,
    T = 0.5): resample sources toward p_s ∝ √n_s so small domains are
    upweighted in the training mix — the dataset-mixture op. The
    per-source allocation is the WATER-FILLING solution (clamped
    strata keep everything, their surplus is re-spread over unclamped
    strata at the exact re-normalized level), replayed here CTE-for-CTE
    from q153's closed form with tokens = row counts and budget = 300;
    the keep threshold is the all-integer ``(alloc·1e6) // n``. sqrt
    is IEEE-correctly-rounded (unlike pow) and the weights are
    floor-quantized to longs before the cross-strata sums, so every
    threshold is engine-identical and the md5 draw replays in the
    oracle."""
    from db_cdc_poc_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix(docs, "doc_id", "source", target_rows=300).select(
        "doc_id", "source"
    )


@_q(
    "q103_histogram_quantile",
    headline=True,
    oracle="""
WITH b AS (
    SELECT CAST(floor(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                      / 100000) AS BIGINT) AS bin,
           count(*) AS c
    FROM lineitem GROUP BY 1
), cu AS (
    SELECT bin, c,
           sum(c) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER () AS n
    FROM b
)
SELECT CAST(q AS DOUBLE) AS quantile,
       CAST((SELECT min(bin) FROM cu
             WHERE cum >= ceil(q * CAST(n AS DOUBLE))) * 100000 AS BIGINT)
           AS est_lo
FROM (VALUES (0.5), (0.9), (0.99)) AS qv(q)
""",
)
def q103_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantiles (sketches.histogram_quantiles):
    p50/p90/p99 of line item value (cents) read off an equi-width bin
    table — the sketch-shaped alternative to a full-sort percentile at
    100 TB (bin counts merge with +, store, and union across days; the
    cumulative window runs over the sketch, not the fact). The
    integer-bin construction lets DuckDB replay the estimate exactly."""
    from db_cdc_poc_spark.operators.sketches import histogram_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li, F.round(F.col("l_extendedprice") * 100, 0), [0.5, 0.9, 0.99], 100_000
    )


@_q(
    "q104_label_centroids",
    oracle="""
WITH e AS (
    SELECT label,
           unnest([{'pos': i - 1, 'val': emb[i]}
                   for i in range(1, len(emb) + 1)]) AS u
    FROM (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings)
)
SELECT label, CAST(u.pos AS INTEGER) AS pos,
       round(avg(u.val), 6) AS centroid
FROM e GROUP BY 1, 2
""",
)
def q104_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class centroids (similarity.label_centroids): per-label mean
    embedding — the nearest-centroid / cluster-summary primitive.
    posexplode to (label, dim) skinny rows, one map-side-partial
    aggregation; vectors never leave the executors."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.label_centroids(emb, "label", "embedding")


@_q(
    "q105_skew_report",
    oracle="""
WITH c AS (
    SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
), t AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS top_cnt
    FROM (SELECT cnt FROM c ORDER BY cnt DESC, k LIMIT 10)
), a AS (
    SELECT count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           max(cnt) AS max_cnt,
           round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
           round(quantile_cont(cnt, 0.99), 6) AS p99_cnt
    FROM c
)
SELECT n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
       CAST(1000000 * top_cnt // n_rows AS BIGINT) AS top10_share_ppm
FROM a, t
""",
)
def q105_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics (stats.key_skew_report) on
    lineitem's part key: cardinality, hottest-key count, p50/p99 of the
    per-key distribution, and the top-10 keys' row share in ppm — the
    pre-flight that decides between a plain, salted
    (operators/joins.py:salted_join) or AQE-skew-split join. TakeOrdered
    for the top-k (no global sort); exact-integer ppm."""
    from db_cdc_poc_spark.operators.stats import key_skew_report

    li = _t(spark, sf_dir, "lineitem")
    return key_skew_report(li, ["l_partkey"], top_k=10)


@_q(
    "q106_session_window",
    oracle="""
WITH o AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT user_id, ts, value,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 10 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(sum(round(value * 100, 0)) AS BIGINT) AS total_cents
FROM s GROUP BY user_id, sid
""",
)
def q106_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window aggregation (10-min inactivity
    gap): the declarative sibling of q48's explicit lag/cumsum
    sessionizer — one groupBy, merging handled by the engine, and the
    same operator works unchanged in Structured Streaming with a
    watermark. Session end = last event + gap (matched by the oracle's
    interval arithmetic)."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy(
        "user_id", F.session_window(F.col("ts"), "10 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _cents(F.col("value")).alias("total_cents"),
    )
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total_cents",
    )


@_q(
    "q107_centroid_confusion",
    oracle="""
WITH cen AS (
    SELECT label AS clabel, list(centroid ORDER BY pos) AS cvec
    FROM (
        SELECT label, CAST(u.pos AS INTEGER) AS pos,
               round(avg(u.val), 6) AS centroid
        FROM (SELECT label,
                     unnest([{'pos': i - 1, 'val': emb[i]}
                             for i in range(1, len(emb) + 1)]) AS u
              FROM (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings))
        GROUP BY 1, 2
    ) GROUP BY label
), v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
), d AS (
    SELECT v.vec_id, v.label AS true_label, c.clabel,
           list_reduce(
               list_transform(list_zip(v.emb, c.cvec),
                              x -> (x[1] - x[2]) * (x[1] - x[2])),
               (a, b) -> a + b) AS dist2
    FROM v CROSS JOIN cen c
), best AS (
    SELECT vec_id, true_label, clabel AS pred_label
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist2, clabel) AS rn
          FROM d)
    WHERE rn = 1
)
SELECT true_label, pred_label, count(*) AS n
FROM best GROUP BY 1, 2
""",
)
def q107_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix (similarity.centroid_confusion):
    assign every embedding to its closest class centroid and count
    (true, predicted) pairs — the embedding-space separability report
    and one half of a k-means iteration. Broadcast centroid table, the
    corpus never moves; the distance is a strict-left-fold aggregate
    (0.0 + x = x) so the oracle's list_reduce replays it bit-for-bit;
    min_by on a (dist, label) struct breaks ties deterministically."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.centroid_confusion(emb, "label", "embedding", "vec_id")


@_q(
    "q108_bigram_lm",
    oracle="""
WITH tk AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), bg AS (
    SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                           for i in range(1, greatest(len(toks), 1))]) AS bigram
    FROM tk WHERE len(toks) >= 2
), per_doc AS (
    SELECT doc_id AS id, bigram, count(*) AS occ FROM bg GROUP BY 1, 2
), corpus AS (
    SELECT bigram, CAST(sum(occ) AS BIGINT) AS c_bg FROM per_doc GROUP BY 1
), marginal AS (
    SELECT string_split(bigram, ' ')[1] AS w1,
           CAST(sum(c_bg) AS BIGINT) AS c_w1
    FROM corpus GROUP BY 1
), logp AS (
    SELECT bigram,
           ln(CAST(c_bg AS DOUBLE)) - ln(CAST(c_w1 AS DOUBLE)) AS logp
    FROM corpus JOIN marginal ON string_split(corpus.bigram, ' ')[1] = w1
)
SELECT id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
       round(sum(CAST(occ AS DOUBLE) * logp)
             / CAST(sum(occ) AS DOUBLE), 5) AS avg_logprob
FROM per_doc JOIN logp USING (bigram)
GROUP BY id
""",
)
def q108_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM log-likelihood scoring (text.bigram_lm_scores): the
    KenLM-style perplexity quality filter, self-trained — p(w2|w1)
    from corpus counts with the marginal derived from the bigram table
    so probabilities normalize exactly; per-doc mean log-prob rounded
    to 5 dp. Two linear aggregations + one weighted re-join; no pair
    joins, no windows."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_lm_scores(docs, "doc_id", "text")


@_q(
    "q109_quantile_bins",
    oracle="""
WITH v AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS val
    FROM orders
), th AS (
    SELECT quantile_cont(val, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]) AS ths
    FROM v
)
SELECT o_orderkey,
       CAST(len(list_filter(ths, t -> val >= t)) AS INTEGER) AS bin
FROM v, th
""",
)
def q109_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile bucketing (stats.quantile_bins) of order
    value — the exact-percentile feature discretizer (Spark ML's
    QuantileDiscretizer with the approximate sketch swapped for an
    oracle-replayable exact threshold array). One tiny aggregation +
    broadcast threshold array + map-only assignment."""
    from db_cdc_poc_spark.operators.stats import quantile_bins

    orders = _t(spark, sf_dir, "orders")
    return quantile_bins(
        orders.select("o_orderkey", "o_totalprice"),
        F.round(F.col("o_totalprice") * 100, 0),
        n_bins=10,
    ).select("o_orderkey", "bin")


@_q(
    "q110_training_shards",
    oracle="""
WITH h AS (
    SELECT doc_id,
           CAST((('0x' || substr(md5('order-v1:shard:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
                 & 9223372036854775807) % 1000000 % 8 AS INTEGER) AS shard,
           (('0x' || substr(md5('order-v1:order:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
            & 9223372036854775807) % 1000000 AS ord
    FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS pos
FROM h
""",
)
def q110_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle into balanced shards
    (sampling.training_shards): one md5 draw picks the shard, an
    independent draw orders within the shard — rerun-identical,
    partitioning-independent, and the only non-map work is a
    row_number window PER SHARD (never a global single-partition
    sort). The write-side recipe is partitionBy(shard) sorted by pos."""
    from db_cdc_poc_spark.operators.sampling import training_shards

    docs = _t(spark, sf_dir, "documents")
    return training_shards(docs, "doc_id", n_shards=8).select(
        "doc_id", "shard", "pos"
    )


@_q(
    "q111_zscore",
    oracle="""
WITH v AS (
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(round(l_extendedprice, 0) AS BIGINT) AS val
    FROM lineitem
), s AS (
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(val) AS BIGINT) AS sx,
           CAST(sum(val * val) AS BIGINT) AS sxx
    FROM v GROUP BY 1
), st AS (
    SELECT l_returnflag,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           sqrt((CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1.0)) AS std
    FROM s
)
SELECT v.l_orderkey, v.l_linenumber,
       CASE WHEN st.std > 0.0
            THEN round((CAST(v.val AS DOUBLE) - st.mean) / st.std, 6)
            ELSE 0.0 END AS z
FROM v JOIN st USING (l_returnflag)
""",
)
def q111_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization (stats.zscore_normalize) of
    line item price (whole dollars — sized so the square-sum stays an
    exact long at billions of rows) per return flag: exact integer
    sufficient statistics, bit-identical (mean, std) per group, one
    broadcast join + map for the per-row score."""
    from db_cdc_poc_spark.operators.stats import zscore_normalize

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    out = zscore_normalize(
        li, ["l_returnflag"], F.round(F.col("l_extendedprice"), 0)
    )
    return out.select("l_orderkey", "l_linenumber", "z")


@_q(
    "q112_kmeans_refine",
    oracle="""
WITH cen AS (
    SELECT label AS clabel, list(centroid ORDER BY pos) AS cvec
    FROM (
        SELECT label, CAST(u.pos AS INTEGER) AS pos,
               round(avg(u.val), 6) AS centroid
        FROM (SELECT label,
                     unnest([{'pos': i - 1, 'val': emb[i]}
                             for i in range(1, len(emb) + 1)]) AS u
              FROM (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings))
        GROUP BY 1, 2
    ) GROUP BY label
), v AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), d AS (
    SELECT v.vec_id, v.emb, c.clabel,
           list_reduce(
               list_transform(list_zip(v.emb, c.cvec),
                              x -> (x[1] - x[2]) * (x[1] - x[2])),
               (a, b) -> a + b) AS dist2
    FROM v CROSS JOIN cen c
), best AS (
    SELECT vec_id, emb, clabel AS pred_label
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist2, clabel) AS rn
          FROM d)
    WHERE rn = 1
)
SELECT pred_label AS label, CAST(u.pos AS INTEGER) AS pos,
       round(avg(u.val), 6) AS centroid
FROM (SELECT pred_label,
             unnest([{'pos': i - 1, 'val': emb[i]}
                     for i in range(1, len(emb) + 1)]) AS u
      FROM best)
GROUP BY 1, 2
""",
)
def q112_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd k-means iteration (similarity.kmeans_refine): assign
    to nearest label-seeded centroid, recompute assigned-cluster means
    — iterative ML as a declarative two-aggregation chain (no driver
    loop over elements, no collect), with the full step replayed by
    the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.kmeans_refine(emb, "label", "embedding", "vec_id")


@_q(
    "q113_cumulative_users",
    oracle="""
WITH fs AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
), per_day AS (
    SELECT first_day AS day, count(*) AS new_users FROM fs GROUP BY 1
)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
FROM per_day
""",
)
def q113_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT a quadratic
    day×user recount: first-seen day per user (one aggregation), new
    users per day (second aggregation), then a running sum over the
    |days|-row table — the standard growth-curve rewrite that turns
    COUNT(DISTINCT) OVER an expanding window (unsupported and
    unscalable) into two linear aggregations plus a window over the
    day dimension."""
    ev = _t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    per_day = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@_q(
    "q114_transition_pmi",
    oracle="""
WITH tr AS (
    SELECT user_id, event_type AS from_state,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_state
    FROM events
), pairs AS (
    SELECT from_state, to_state, count(*) AS n
    FROM tr WHERE to_state IS NOT NULL GROUP BY 1, 2
), fm AS (
    SELECT from_state, CAST(sum(n) AS BIGINT) AS n_x FROM pairs GROUP BY 1
), tm AS (
    SELECT to_state, CAST(sum(n) AS BIGINT) AS n_y FROM pairs GROUP BY 1
), tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM pairs
)
SELECT from_state, to_state, n,
       round(ln(CAST(n AS DOUBLE) * CAST(n_tot AS DOUBLE)
                / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 5) AS pmi
FROM pairs JOIN fm USING (from_state) JOIN tm USING (to_state), tot
""",
)
def q114_transition_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition PMI (stats.transition_pmi): which event type
    follows which more often than independence predicts — the
    sequence-mining feature next to funnels (q80) and sessions (q48).
    One lead() window partitioned by user (never a global sort), three
    tiny broadcast-joined margin aggregates, exact-integer counts under
    a rounded ln."""
    from db_cdc_poc_spark.operators.stats import transition_pmi

    ev = _t(spark, sf_dir, "events")
    return transition_pmi(
        ev, ["user_id"], F.col("event_type"), ["ts", "event_id"]
    )


@_q(
    "q115_hll_overlap",
    oracle=f"""
WITH ha AS (
    SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 16))::UBIGINT
                & 9223372036854775807 AS BIGINT) AS hv
    FROM events WHERE event_type = 'click'
), hb AS (
    SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 16))::UBIGINT
                & 9223372036854775807 AS BIGINT) AS hv
    FROM events WHERE event_type = 'purchase'
), ra AS (
    SELECT hv >> 55 AS bucket,
           max(CASE WHEN (hv & ((1::BIGINT << 55) - 1)) = 0 THEN 50
               ELSE least(56 - length(bin(hv & ((1::BIGINT << 55) - 1))), 50)
               END) AS r
    FROM ha GROUP BY 1
), rb AS (
    SELECT hv >> 55 AS bucket,
           max(CASE WHEN (hv & ((1::BIGINT << 55) - 1)) = 0 THEN 50
               ELSE least(56 - length(bin(hv & ((1::BIGINT << 55) - 1))), 50)
               END) AS r
    FROM hb GROUP BY 1
), ru AS (
    SELECT bucket, max(r) AS r
    FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1
), est AS (
    SELECT
      (SELECT CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M)!r} * {float(_HLL_M)!r}
              * {float(1 << 50)!r}
              / CAST(sum(1::BIGINT << (50 - r))
                     + ({_HLL_M} - count(*)) * (1::BIGINT << 50) AS DOUBLE)
       FROM ra) AS est_a,
      (SELECT CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M)!r} * {float(_HLL_M)!r}
              * {float(1 << 50)!r}
              / CAST(sum(1::BIGINT << (50 - r))
                     + ({_HLL_M} - count(*)) * (1::BIGINT << 50) AS DOUBLE)
       FROM rb) AS est_b,
      (SELECT CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M)!r} * {float(_HLL_M)!r}
              * {float(1 << 50)!r}
              / CAST(sum(1::BIGINT << (50 - r))
                     + ({_HLL_M} - count(*)) * (1::BIGINT << 50) AS DOUBLE)
       FROM ru) AS est_union
)
SELECT est_a, est_b, est_union,
       est_a + est_b - est_union AS est_intersection
FROM est
""",
)
def q115_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (sketches.hll_overlap): estimated distinct
    clickers, purchasers, their union (register max-merge — HLL's
    union property) and inclusion-exclusion intersection — key-set
    overlap without ever materializing the sets. 3·2^p register rows
    do all the work; the md5 path lets the oracle replay every
    register and the exact-integer harmonic math bit-for-bit."""
    from db_cdc_poc_spark.operators import sketches as sk

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").cast("string").alias("uid")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("string").alias("uid")
    )
    return sk.hll_overlap(a, b, "uid", p=_HLL_P, hash_fn="md5")


@_q(
    "q116_weighted_sample",
    oracle="""
WITH w AS (
    SELECT doc_id, least(n_chars, 2000) AS wt FROM documents
), t AS (
    SELECT CAST(sum(wt) AS BIGINT) AS wtot FROM w
), thr AS (
    SELECT doc_id, wt,
           CAST(floor(least(1.0, 200.0 * CAST(wt AS DOUBLE)
                                 / CAST(wtot AS DOUBLE)) * 1000000.0)
                AS BIGINT) AS thr
    FROM w, t
)
SELECT doc_id FROM thr
WHERE (('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
       & 9223372036854775807) % 1000000 < thr
""",
)
def q116_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row importance sampling (sampling.weighted_sample): keep
    probability ∝ document length (capped) with expected sample size
    200 — quality-weighted corpus selection, the row-level sibling of
    q102's stratum-level temperature mix. Exact-integer normalizer,
    one fixed double expression per threshold, md5 draw replayed by
    the oracle."""
    from db_cdc_poc_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs, "doc_id", F.least(F.col("n_chars"), F.lit(2000)), target_rows=200
    ).select("doc_id")


@_q(
    "q117_group_mode",
    oracle="""
WITH c AS (
    SELECT c_mktsegment, c_nationkey, count(*) AS n
    FROM customer GROUP BY 1, 2
)
SELECT c_mktsegment, c_nationkey AS mode_nation, n AS mode_n
FROM (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY n DESC, c_nationkey) AS rn
      FROM c)
WHERE rn = 1
""",
)
def q117_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent nation per market segment): the
    count-then-argmax rewrite — one aggregation to (group, value)
    counts, then max_by over a (count, value) struct with the value as
    deterministic tie-break; a single map-side-partial argmax instead
    of a sort, and the second stage's input is already collapsed to
    distinct (group, value) pairs."""
    cust = _t(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.groupBy("c_mktsegment").agg(
        F.max_by(
            F.col("c_nationkey"), F.struct(F.col("n"), -F.col("c_nationkey"))
        ).alias("mode_nation"),
        F.max("n").alias("mode_n"),
    )


@_q(
    "q118_chi_square",
    oracle="""
WITH obs AS (
    SELECT event_type, CAST(dayofweek(ts) AS INTEGER) AS dow, count(*) AS o
    FROM events GROUP BY 1, 2
), m AS (
    SELECT event_type, CAST(sum(o) AS BIGINT) AS row_n FROM obs GROUP BY 1
), d AS (
    SELECT dow, CAST(sum(o) AS BIGINT) AS col_n FROM obs GROUP BY 1
), t AS (
    SELECT CAST(sum(o) AS BIGINT) AS total FROM obs
), cell AS (
    SELECT obs.event_type, obs.dow, obs.o,
           CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
               / CAST(total AS DOUBLE) AS e
    FROM obs JOIN m USING (event_type) JOIN d USING (dow), t
)
SELECT event_type,
       CAST(sum(o) AS BIGINT) AS n,
       round(sum((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e), 4)
           AS chi2_contrib
FROM cell GROUP BY event_type
""",
)
def q118_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen (event type × day-of-week): the
    drift/seasonality detector — per-type contribution of observed-vs-
    expected cell deviations. Three tiny margin aggregates broadcast
    onto the |types|×|days| contingency cells; expected counts derive
    from exact integer margins with one fixed double expression, and
    the per-type sum (≤7 cells) rounds above the wobble."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    row_m = obs.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    col_m = obs.groupBy("dow").agg(F.sum("o").alias("col_n"))
    tot = obs.agg(F.sum("o").alias("total"))
    e = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("total").cast("double")
    )
    od = F.col("o").cast("double")
    cell = (
        obs.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn("__e", e)
    )
    return cell.groupBy("event_type").agg(
        F.sum("o").alias("n"),
        F.round(
            F.sum((od - F.col("__e")) * (od - F.col("__e")) / F.col("__e")), 4
        ).alias("chi2_contrib"),
    )


@_q(
    "q119_benford",
    oracle="""
WITH d AS (
    SELECT substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                       AS VARCHAR), 1, 1) AS digit
    FROM orders WHERE o_totalprice > 0
), t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
SELECT digit, count(*) AS n,
       CAST(1000000 * count(*) // any_value(total) AS BIGINT) AS obs_ppm
FROM d, t GROUP BY digit
""",
)
def q119_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of order values — the fraud /
    synthetic-data screen (natural multi-scale amounts follow
    log-uniform leading digits; fabricated ones usually don't). The
    digit comes from the STRING of the integer cents — never
    floor(log10(v)), whose not-correctly-rounded log10 misclassifies
    exact powers of ten. Map-side count per digit + one broadcast
    total; exact-integer ppm."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            1,
            1,
        ).alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("1000000 * n div total").alias("obs_ppm"),
        )
    )


@_q(
    "q120_epoch_upsample",
    oracle="""
SELECT doc_id, source, CAST(e AS INTEGER) AS epoch
FROM (
    SELECT doc_id, source,
           unnest(CASE WHEN source = 'src0' THEN [0, 1, 2]
                       WHEN source = 'src1' THEN []::INTEGER[]
                       ELSE [0] END) AS e
    FROM documents
)
""",
)
def q120_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-factor mixing (sampling.epoch_upsample): src0 is seen
    3 epochs per pass, src1 is dropped, everything else once — the
    Pile-style per-source epochs lever, as map-only explode(sequence)
    row generation (no shuffle, no join; the inverse of the
    downsampling mixers q55/q102/q116)."""
    from db_cdc_poc_spark.operators.sampling import epoch_upsample

    docs = _t(spark, sf_dir, "documents")
    return epoch_upsample(
        docs, "source", {"src0": 3, "src1": 0}, default_epochs=1
    ).select("doc_id", "source", "epoch")


@_q(
    "q121_vocab_growth",
    oracle="""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS tok
    FROM documents
), first_seen AS (
    SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY 1
), per_doc AS (
    SELECT first_doc AS doc_id, count(*) AS new_tokens
    FROM first_seen GROUP BY 1
)
SELECT doc_id, new_tokens,
       CAST(sum(new_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS vocab_size
FROM per_doc
""",
)
def q121_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps-law diagnostic): distinct tokens
    introduced per document in doc_id order and the running vocabulary
    size — corpus-health monitoring (a flattening curve means new data
    stopped adding diversity). Same first-occurrence rewrite as q113:
    min(doc_id) per token, counts per introducing doc, then a window
    over the |docs|-row table — never a cumulative COUNT(DISTINCT)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    )
    first_seen = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_doc = first_seen.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    # the curve table scales with |docs|, so the prefix sum runs as a
    # two-level bucketed scan (stats.scalable_running_sum), not a
    # single-partition global window
    from db_cdc_poc_spark.operators.stats import scalable_running_sum

    return scalable_running_sum(
        per_doc, "doc_id", "new_tokens", out_col="vocab_size"
    ).select(
        "doc_id", "new_tokens", F.col("vocab_size").cast("long").alias("vocab_size")
    )


@_q(
    "q122_ivm_minmax",
    oracle="""
SELECT user_id, count(*) AS n,
       CAST(min(round(value * 100, 0)) AS BIGINT) AS lo_cents,
       CAST(max(round(value * 100, 0)) AS BIGINT) AS hi_cents
FROM events
WHERE NOT (ts < TIMESTAMP '2024-01-16' AND event_id % 7 = 0)
GROUP BY user_id
""",
)
def q122_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX view maintenance with delete rescan (ivm.delta_minmax):
    the per-user (n, min, max) spend aggregate is built over the first
    half of the month, then refreshed with a Debezium batch carrying
    the second half as inserts AND deletes of every first-half event
    with event_id % 7 == 0 — which retracts many stored extremes, the
    case sum/count delta rules cannot handle (the reference analogue is
    the gold MAX(date_time), notebooks/04_Current_Inventory.sql:17).
    Inserts merge via least/greatest; only extreme-retracting groups
    rescan the post-batch facts through a broadcast semi-join. The
    oracle is the full recompute over the surviving events."""
    from db_cdc_poc_spark.operators.ivm import delta_minmax

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("lo_cents"),
        F.round(F.col("value") * 100, 0).cast("long").alias("hi_cents"),
        "ts",
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    first_half = ev.filter(F.col("ts") < cut)
    deleted = F.col("event_id") % 7 == 0
    base = first_half.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.min("lo_cents").cast("long").alias("lo_cents"),
        F.max("hi_cents").cast("long").alias("hi_cents"),
    )
    img = F.struct("user_id", "lo_cents", "hi_cents")
    inserts = ev.filter(F.col("ts") >= cut).select(
        F.lit("c").alias("op"),
        img.alias("before"),  # never read for op='c'
        img.alias("after"),
    )
    deletes = first_half.filter(deleted).select(
        F.lit("d").alias("op"),
        img.alias("before"),
        img.alias("after"),  # never read for op='d'
    )
    facts = ev.filter(~(F.col("ts") < cut) | ~deleted).select(
        "user_id", "lo_cents", "hi_cents"
    )
    return delta_minmax(
        base,
        inserts.unionByName(deletes),
        facts,
        keys=["user_id"],
        min_cols=["lo_cents"],
        max_cols=["hi_cents"],
    )


# ---------------------------------------------------------------------------
# q123+: round-5 extensions — leakage-safe splits, linear classifier,
# normalization, link analysis, sequence examples, join pre-flight,
# temporal lookup, winsorization
# ---------------------------------------------------------------------------


@_q(
    "q123_cluster_split",
    oracle="""
WITH RECURSIVE tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS MATERIALIZED (
    SELECT id_a, id_b FROM common
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
), edges AS MATERIALIZED (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach AS (
    SELECT s, d FROM edges
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
), labels AS (
    SELECT s AS id, least(min(d), s) AS cluster_id FROM reach GROUP BY s
), keyed AS (
    SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS split_key
    FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
), bucketed AS (
    SELECT doc_id,
           (('0x' || substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 16))::UBIGINT
            & 9223372036854775807) % 1000000 AS bucket
    FROM keyed
)
SELECT doc_id,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM bucketed
""",
)
def q123_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split
    (operators/sampling.py:cluster_aware_split): near-dup clusters
    (trigram Jaccard >= 0.5, q40's pair graph) are assigned to splits
    as units keyed by their min-id representative, so a document and
    its paraphrase can never straddle train/test. The oracle replays
    the cluster CTE chain and the md5 bucket law."""
    from db_cdc_poc_spark.operators.sampling import cluster_aware_split

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    out = cluster_aware_split(
        docs,
        pairs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="split",
    )
    return out.select("doc_id", "split")


@_q(
    "q124_linear_classifier",
    oracle="""
WITH lab AS (
    SELECT doc_id, text, (lang = 'en') AS pos FROM documents
), tok AS (
    SELECT doc_id, pos,
           unnest(list_distinct(list_transform(
               list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
               t -> lower(t)))) AS token
    FROM lab
), sizes AS (
    SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
           sum(CASE WHEN pos THEN 0 ELSE 1 END) AS n_neg
    FROM lab
), w AS (
    SELECT token,
           CAST(round((1000000 * df_pos) / n_pos, 0)
                - round((1000000 * df_neg) / n_neg, 0) AS BIGINT) AS weight_ppm
    FROM (SELECT token,
                 sum(CASE WHEN pos THEN 1 ELSE 0 END) AS df_pos,
                 sum(CASE WHEN pos THEN 0 ELSE 1 END) AS df_neg
          FROM tok GROUP BY token) c
    CROSS JOIN sizes
    WHERE df_pos + df_neg >= 2
), sc AS (
    SELECT t.doc_id,
           count(w.weight_ppm) AS n_hits,
           coalesce(sum(w.weight_ppm), 0) AS margin
    FROM tok t LEFT JOIN w ON w.token = t.token
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(sc.n_hits, 0) AS n_hits,
       CAST(coalesce(sc.margin, 0) AS BIGINT) AS margin_ppm,
       coalesce(sc.margin, 0) > 0 AS pred
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
""",
)
def q124_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality/domain classifier
    (operators/classify.py): difference-of-class-rates weights trained
    in one aggregation pass (label: lang == 'en'), then every document
    scored by an exact integer-ppm margin over its distinct tokens —
    broadcast vocabulary join + map-side-partial sum, the only
    100 TB-viable classifier plan. Bit-reproducible end to end."""
    from db_cdc_poc_spark.operators.classify import (
        score_documents,
        train_token_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    weights = train_token_weights(docs, F.col("lang") == "en", min_doc_freq=2)
    return score_documents(docs, weights)


@_q(
    "q125_normalize_text",
    oracle="""
WITH messy AS (
    SELECT doc_id,
           ' \t' || text || ' “q” – x ' AS mtext
    FROM documents
), norm AS (
    SELECT doc_id, mtext,
           trim(regexp_replace(regexp_replace(
               translate(mtext, '“”‘’–—− 　', '""''''---  '),
               '[​‌‍﻿\\x00-\\x08\\x0e-\\x1f\\x7f]', '', 'g'),
               '[ \\t\\r\\n\\f\\x0b]+', ' ', 'g')) AS ntext
    FROM messy
)
SELECT doc_id, md5(ntext) AS norm_fingerprint,
       CAST(length(ntext) AS BIGINT) AS n_chars_norm,
       ntext <> mtext AS changed
FROM norm
""",
)
def q125_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization (operators/text.py:normalize_text):
    typographic quotes/dashes/NBSP folded to ASCII, zero-width and
    control characters deleted, whitespace runs collapsed, trimmed —
    map-only, scan-pipelined, and character-for-character replayable
    (every regex construct means the same thing in Java regex and
    RE2). The query plants typographic junk around each document and
    checks the normalized fingerprint on both engines."""
    docs = _t(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit(" \t"), F.col("text"), F.lit(" “q” – x ")
        ).alias("mtext"),
    )
    return tx.normalize_docs(messy, id_col="doc_id", text_col="mtext").select(
        "doc_id", "norm_fingerprint", "n_chars_norm", "changed"
    )


def _q126_oracle(iters: int = 3, damping_ppm: int = 850_000) -> str:
    """Unrolled fixed-iteration integer PageRank: each power step is a
    plain join + aggregate CTE, chained ``iters`` times — no recursion
    needed because the iteration count is part of the contract."""
    body = ""
    prev = "r0"
    for i in range(1, iters + 1):
        body += f""", c{i} AS (
    SELECT e.dst AS node,
           sum(((r.rank * {damping_ppm}) // 1000000) // dg.outdeg) AS in_mass
    FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg dg ON dg.src = e.src
    GROUP BY e.dst
), d{i} AS (
    SELECT coalesce(sum(r.rank), 0) AS d_tot
    FROM {prev} r LEFT JOIN deg dg ON dg.src = r.node WHERE dg.src IS NULL
), r{i} AS (
    SELECT n.node,
           p.base + ((d{i}.d_tot * {damping_ppm} // 1000000) // p.n)
                  + coalesce(c.in_mass, 0) AS rank
    FROM nodes n CROSS JOIN params p CROSS JOIN d{i}
    LEFT JOIN c{i} c ON c.node = n.node
)"""
        prev = f"r{i}"
    return f"""
WITH edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), nodes AS (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
), deg AS (
    SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), params AS (
    SELECT count(*) AS n,
           4611686018427387904 // (count(*) * 1000000) AS scale,
           (4611686018427387904 // (count(*) * 1000000))
               * {1_000_000 - damping_ppm} // 1000000 AS base
    FROM nodes
), r0 AS (
    SELECT node, (SELECT scale FROM params) AS rank FROM nodes
){body}
SELECT node AS part_id, rank FROM {prev}
"""


@_q("q126_pagerank", oracle=_q126_oracle())
def q126_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-analysis corpus weighting (operators/graph.py:pagerank):
    3 integer power iterations over the co-purchase part graph (parts
    sharing an order, both directions). Ranks are BIGINT mass units
    with every division integral, so the fixed-iteration run is
    bit-reproducible and the oracle replays it by unrolling the same
    iterations as chained CTEs. Per iteration: one edges-to-ranks
    join + one sum-by-dst — the minimal distributed PageRank shape."""
    from db_cdc_poc_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") != F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    return pagerank(edges, iterations=3).select(
        F.col("node").alias("part_id"), "rank"
    )


@_q(
    "q127_sequence_examples",
    oracle="""
WITH w AS (
    SELECT user_id, event_id, ts, event_type,
           lag(event_type, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l0,
           lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
           lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2
    FROM events
)
SELECT user_id, event_id, ts,
       l0 || ' ' || l1 || ' ' || l2 AS context_text,
       event_type AS target
FROM w
WHERE l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL
""",
)
def q127_sequence_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event-prediction example generation
    (operators/sessionize.py:next_event_examples): each event with >=3
    predecessors in its user's stream becomes a (context -> target)
    training pair — the behavioral next-token-prediction shape. One
    window shuffle serves all three lags."""
    from db_cdc_poc_spark.operators.sessionize import next_event_examples

    ev = _t(spark, sf_dir, "events")
    return next_event_examples(ev, context=3)


@_q(
    "q128_join_fanout",
    oracle="""
WITH pk AS (
    SELECT user_id, ln * ln AS out_rows
    FROM (SELECT user_id, count(*) AS ln FROM events GROUP BY user_id)
), top AS (
    SELECT out_rows FROM pk ORDER BY out_rows DESC, user_id LIMIT 10
)
SELECT count(*) AS n_matched_keys,
       sum(out_rows) AS total_out_rows,
       max(out_rows) AS max_key_out_rows,
       1000000 * max(out_rows) // sum(out_rows) AS max_key_share_ppm,
       1000000 * (SELECT sum(out_rows) FROM top) // sum(out_rows) AS top10_share_ppm
FROM pk
""",
)
def q128_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pre-flight (operators/joins.py:join_fanout_estimate): the
    exact output size and hot-key concentration a user-level self-join
    of events would produce — computed from two per-key aggregates
    joined on the key, never the join itself. The number that decides
    between a plain join, a salted join, or rethinking the query
    before committing a 100 TB shuffle."""
    from db_cdc_poc_spark.operators.joins import join_fanout_estimate

    ev = _t(spark, sf_dir, "events")
    return join_fanout_estimate(ev, ev, ["user_id"], top_k=10)


@_q(
    "q129_temporal_lookup",
    oracle="""
WITH dim AS (
    SELECT user_id, event_type, epoch_us(ts) AS seq_us, event_id,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS end_us
    FROM events WHERE event_id % 2 = 0
), facts AS (
    SELECT event_id, user_id, epoch_us(ts) AS fact_us
    FROM events WHERE event_id % 2 = 1
)
SELECT f.event_id, f.user_id, f.fact_us,
       d.event_type AS status, d.seq_us AS status_since_us
FROM facts f LEFT JOIN dim d
  ON d.user_id = f.user_id
 AND f.fact_us >= d.seq_us
 AND (d.end_us IS NULL OR f.fact_us < d.end_us)
""",
)
def q129_temporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension enrichment: facts joined to the SCD2 version
    (operators/cdc.py:apply_changes_scd2) valid at their event time —
    the lakehouse point-in-time-correctness pattern (no training
    leakage from future attribute values). Even events build the
    versioned dimension, odd events are the facts; the interval probe
    is an equi-join on the key with an interval predicate — never a
    nested loop."""
    from db_cdc_poc_spark.operators.cdc import apply_changes_scd2

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    dim = apply_changes_scd2(
        ev.filter(F.col("event_id") % 2 == 0),
        keys="user_id",
        sequence_by="us",
        except_columns=["event_id"],
        tie_breakers="event_id",
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("status"),
        F.col("__START_AT").alias("status_since_us"),
        F.col("__END_AT").alias("end_us"),
    )
    facts = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", F.col("us").alias("fact_us")
    )
    return facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("fact_us") >= F.col("status_since_us"))
        & (F.col("end_us").isNull() | (F.col("fact_us") < F.col("end_us"))),
        "left",
    ).select("event_id", "user_id", "fact_us", "status", "status_since_us")


@_q(
    "q130_winsorize",
    oracle="""
WITH v AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
), th AS (
    SELECT event_type,
           quantile_cont(cents, 0.05) AS lo,
           quantile_cont(cents, 0.95) AS hi
    FROM v GROUP BY event_type
), capped AS (
    SELECT v.event_type,
           greatest(th.lo, least(CAST(v.cents AS DOUBLE), th.hi)) AS w,
           CAST(v.cents AS DOUBLE) AS orig
    FROM v JOIN th USING (event_type)
)
SELECT event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN w <> orig THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
       CAST(sum(round(w, 0)) AS BIGINT) AS sum_wins_cents
FROM capped GROUP BY event_type
""",
)
def q130_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (operators/stats.py:winsorize): event
    values clamped to their type's exact [p5, p95] percentiles — the
    heavy-tail tamer for features/labels. Thresholds are one tiny
    per-group aggregate broadcast back; the clamp is map-only. Sums
    round each winsorized value to an integer first, so the aggregate
    is order-independent on both engines."""
    from db_cdc_poc_spark.operators.stats import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    w = winsorize(ev, ["event_type"], F.col("cents"), p_lo=0.05, p_hi=0.95)
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("capped").cast("long")).alias("n_capped"),
        F.sum(F.round(F.col("v_wins"), 0)).cast("long").alias("sum_wins_cents"),
    )


# ---------------------------------------------------------------------------
# Retrieval, LSH quality measurement, script profiling, attribution,
# survivorship, compaction (round-5 extension batch)
# ---------------------------------------------------------------------------


@_q(
    "q131_bm25_search",
    oracle="""
WITH tok AS (
    SELECT doc_id AS id,
           list_transform(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> ''), t -> lower(t)) AS toks
    FROM documents
), stats AS (
    SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok
), tf AS (
    SELECT id, t AS term, count(*) AS tf, max(dl) AS dl FROM (
        SELECT id, unnest(toks) AS t, len(toks) AS dl FROM tok
    ) WHERE t IN ('hash', 'spark', 'window') GROUP BY 1, 2
), dfreq AS (
    SELECT term, count(*) AS df_t FROM tf GROUP BY 1
), scored AS (
    SELECT id, CAST(count(*) AS INTEGER) AS n_terms_matched,
           CAST(sum(CAST(round(ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                               * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
                               * 100000, 0) AS BIGINT)) AS BIGINT) AS score_e5
    FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    GROUP BY id
)
SELECT id, n_terms_matched, CAST(score_e5 AS DOUBLE) / 100000 AS score
FROM scored ORDER BY score_e5 DESC, id LIMIT 20
""",
    headline=True,
)
def q131_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (text.bm25_topk): top-20 documents
    for a 3-term query — corpus search / RAG pre-filter. Query-term
    rows are filtered BEFORE the per-doc shuffle, per-term scores are
    rounded to 5 dp and summed in integer hundred-thousandths (order-
    independent), and the top-k is TakeOrderedAndProject — no global
    sort, no corpus-wide window."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bm25_topk(docs, ["spark", "hash", "window"], top_k=20)


@_q(
    "q132_lsh_recall",
    oracle="""
WITH tk AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM tk WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), exact AS (
    SELECT id_a, id_b FROM common
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
), sigs AS (
    SELECT e.doc_id, h.i,
           min(('0x' || substr(md5('mh' || h.i || ':' || e.shingle), 1, 16))::UBIGINT
               & 9223372036854775807) AS mh
    FROM ex e CROSS JOIN (SELECT unnest(range(16)) AS i) h
    GROUP BY 1, 2
), bandkeys AS (
    SELECT doc_id, i // 4 AS band_id,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_key
    FROM sigs GROUP BY 1, 2
), cand AS (
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM bandkeys x JOIN bandkeys y
      ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id
), hits AS (
    SELECT exact.id_a, exact.id_b FROM exact JOIN cand USING (id_a, id_b)
)
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
       CASE WHEN (SELECT count(*) FROM exact) > 0
            THEN CAST((SELECT count(*) FROM hits) * 1000000
                      // (SELECT count(*) FROM exact) AS BIGINT) END AS recall_ppm,
       CASE WHEN (SELECT count(*) FROM cand) > 0
            THEN CAST((SELECT count(*) FROM hits) * 1000000
                      // (SELECT count(*) FROM cand) AS BIGINT) END AS precision_ppm
""",
)
def q132_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality measurement (dedup.minhash_recall_report):
    MinHash/LSH band-candidate recall + precision against the EXACT
    trigram-Jaccard pair set at 0.5 — "measure, don't guess" for the
    probabilistic dedup path, on md5-derived hashes so the oracle
    replays signatures, buckets, and candidates bit-for-bit. 16
    hashes / 4 bands of 4: the S-curve midpoint sits near J=0.5, so
    this config MUST show imperfect recall here — the report is the
    operator that quantifies exactly that."""
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_recall_report(
        docs, shingle_n=3, threshold=0.5, num_hashes=16, bands=4
    )


@_q(
    "q133_script_profile",
    oracle="""
WITH counts AS (
    SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[A-Za-zÀ-ɏ]', '', 'g')) AS BIGINT) AS n_latin,
           CAST(length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic,
           CAST(length(text) - length(regexp_replace(text, '[Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS n_greek,
           CAST(length(text) - length(regexp_replace(text, '[぀-ヿ㐀-䶿一-鿿가-힯]', '', 'g')) AS BIGINT) AS n_cjk,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
    FROM documents
), full_counts AS (
    SELECT *, n_chars - n_latin - n_cyrillic - n_greek - n_cjk - n_digit AS n_other
    FROM counts
), dom AS (
    SELECT *, greatest(n_latin * 64 + 0, n_cyrillic * 64 + 1, n_greek * 64 + 2,
                       n_cjk * 64 + 3, n_digit * 64 + 4, n_other * 64 + 5) AS code
    FROM full_counts
)
SELECT id, n_chars, n_latin, n_cyrillic, n_greek, n_cjk, n_digit, n_other,
       CASE WHEN n_chars > 0 THEN n_latin * 1000000 // n_chars END AS ppm_latin,
       CASE WHEN n_chars > 0 THEN n_cyrillic * 1000000 // n_chars END AS ppm_cyrillic,
       CASE WHEN n_chars > 0 THEN n_greek * 1000000 // n_chars END AS ppm_greek,
       CASE WHEN n_chars > 0 THEN n_cjk * 1000000 // n_chars END AS ppm_cjk,
       CASE WHEN n_chars > 0 THEN n_digit * 1000000 // n_chars END AS ppm_digit,
       CASE WHEN n_chars > 0 THEN n_other * 1000000 // n_chars END AS ppm_other,
       CASE WHEN n_chars > 0 THEN
           ['latin', 'cyrillic', 'greek', 'cjk', 'digit', 'other'][CAST(code % 64 AS INTEGER) + 1]
       END AS dominant_script
FROM dom
""",
)
def q133_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script histogram per document (text.script_profile):
    per-script character counts, exact-ppm shares, dominant script —
    the writing-system pre-filter beside q27's stopword language-ID.
    Map-only delete-and-measure counting with classes valid in both
    Java regex and RE2; integer-encoded argmax so the tie-break
    replays exactly."""
    docs = _t(spark, sf_dir, "documents")
    return tx.script_profile(docs)


@_q(
    "q134_attribution",
    oracle="""
WITH tagged AS (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
), carried AS (
    SELECT *,
           last_value(CASE WHEN event_type IN ('click', 'view')
                           THEN {'t_us': us, 't_id': event_id, 't_type': event_type}
                      END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
    FROM tagged
), conv AS (
    SELECT *, lt IS NOT NULL AND us - lt.t_us <= 604800000000 AS ok
    FROM carried WHERE event_type = 'purchase'
)
SELECT event_id, user_id, us AS conv_us,
       CASE WHEN ok THEN lt.t_id END AS touch_event_id,
       CASE WHEN ok THEN lt.t_type END AS touch_type,
       CASE WHEN ok THEN us - lt.t_us END AS age_us
FROM conv
""",
    headline=True,
)
def q134_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (sessionize.last_touch_attribution):
    every purchase credited to the user's latest preceding click/view
    within 7 days — the per-user carry-forward join shape for "what
    caused this event" analyses. One window per user (shuffle on the
    user key), no self-join, no range join."""
    from db_cdc_poc_spark.operators.sessionize import last_touch_attribution

    ev = _t(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, conversion_type="purchase", touch_types=("click", "view")
    )


@_q(
    "q135_golden_record",
    oracle="""
WITH dirty AS (
    SELECT c_custkey AS cluster_id, 0 AS rec_priority, c_name,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents, c_mktsegment
    FROM customer
    UNION ALL
    SELECT c_custkey, 1, upper(c_name), NULL, c_mktsegment FROM customer
    WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, 2, c_name,
           CAST(round(c_acctbal * 100) AS BIGINT) + 100, NULL
    FROM customer WHERE c_custkey % 3 = 0
), ranked AS (
    SELECT cluster_id,
           max(CASE WHEN c_name IS NOT NULL
                    THEN {'p': rec_priority, 'v': c_name} END) AS nm,
           max(CASE WHEN bal_cents IS NOT NULL
                    THEN {'p': rec_priority, 'v': bal_cents} END) AS bal,
           max(CASE WHEN c_mktsegment IS NOT NULL
                    THEN {'p': rec_priority, 'v': c_mktsegment} END) AS seg,
           CAST(count(*) AS BIGINT) AS n_records
    FROM dirty GROUP BY cluster_id
)
SELECT cluster_id, nm.v AS name, bal.v AS bal_cents, seg.v AS mktsegment,
       n_records
FROM ranked
""",
)
def q135_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship consolidation (joins.golden_records): a
    deterministically-dirtied customer table (three record variants
    per entity with differing completeness — the post-linkage shape)
    collapsed to one golden record per cluster, each attribute by
    latest-non-null-wins (max_by on record priority, NULLs never
    win). One keyed aggregation — single shuffle, no window."""
    from db_cdc_poc_spark.operators.joins import golden_records

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("cluster_id"),
        F.lit(0).alias("rec_priority"),
        F.col("c_name"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
        F.col("c_mktsegment"),
    )
    v1 = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("cluster_id"),
        F.lit(1).alias("rec_priority"),
        F.upper("c_name").alias("c_name"),
        F.lit(None).cast("long").alias("bal_cents"),
        F.col("c_mktsegment"),
    )
    v2 = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("cluster_id"),
        F.lit(2).alias("rec_priority"),
        F.col("c_name"),
        (F.round(F.col("c_acctbal") * 100, 0).cast("long") + 100).alias(
            "bal_cents"
        ),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    dirty = base.unionByName(v1).unionByName(v2)
    return golden_records(
        dirty,
        "cluster_id",
        {
            "name": ("max_by", "c_name"),
            "bal_cents": ("max_by", "bal_cents"),
            "mktsegment": ("max_by", "c_mktsegment"),
            "n_records": ("count", "cluster_id"),
        },
        priority_col="rec_priority",
    )


@_q(
    "q136_compact_files",
    oracle="""
SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
       CAST(round(value * 100) AS BIGINT) AS cents
FROM events
""",
)
def q136_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/layout.py:compact_parquet —
    the op previously proven only by tests gets its oracle gate here):
    the events table scattered across 64 tiny parquet files (the shape
    a per-trigger streaming sink leaves behind), compacted in place
    with user-key clustering — data identical row-for-row (the oracle
    checks every row against the ORIGINAL table), only the layout
    changes; file-count and clustering assertions live in
    test_layout.py."""
    from db_cdc_poc_spark.operators.layout import compact_parquet
    from db_cdc_poc_spark.streaming.ephemeral import ephemeral_checkpoint_dir

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    scratch = ephemeral_checkpoint_dir("q136_")
    ev.repartition(64).write.mode("overwrite").parquet(f"{scratch}/small")
    compact_parquet(
        spark,
        f"{scratch}/small",
        target_bytes_per_file=4 * 1024 * 1024,
        sort_within_by="user_id",
    )
    return spark.read.parquet(f"{scratch}/small")


@_q(
    "q137_hybrid_rrf",
    oracle="""
WITH tok AS (
    SELECT doc_id AS id,
           list_transform(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> ''), t -> lower(t)) AS toks
    FROM documents
), stats AS (
    SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok
), tf AS (
    SELECT id, t AS term, count(*) AS tf, max(dl) AS dl FROM (
        SELECT id, unnest(toks) AS t, len(toks) AS dl FROM tok
    ) WHERE t IN ('hash', 'spark', 'window') GROUP BY 1, 2
), dfreq AS (
    SELECT term, count(*) AS df_t FROM tf GROUP BY 1
), bm AS (
    SELECT id,
           CAST(sum(CAST(round(ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                               * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
                               * 100000, 0) AS BIGINT)) AS BIGINT) AS score_e5
    FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    GROUP BY id
), lex AS (
    SELECT id, CAST(row_number() OVER (ORDER BY score_e5 DESC, id)
                    AS INTEGER) AS rank_a
    FROM bm ORDER BY score_e5 DESC, id LIMIT 50
), v AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), dense AS (
    SELECT c.vec_id AS id,
           CAST(row_number() OVER (
                ORDER BY CASE WHEN q.nrm * c.nrm > 0
                              THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                              ELSE 0.0 END DESC, c.vec_id)
                AS INTEGER) AS rank_b
    FROM v q JOIN v c ON q.vec_id <> c.vec_id
    WHERE q.vec_id = 7
    QUALIFY rank_b <= 50
), fused AS (
    SELECT COALESCE(l.id, d.id) AS id, l.rank_a, d.rank_b,
           COALESCE(CAST(floor(1000000.0 / (60 + l.rank_a)) AS BIGINT), 0)
         + COALESCE(CAST(floor(1000000.0 / (60 + d.rank_b)) AS BIGINT), 0)
           AS rrf_e6
    FROM lex l FULL OUTER JOIN dense d ON l.id = d.id
)
SELECT id, rank_a, rank_b, rrf_e6,
       CAST(row_number() OVER (ORDER BY rrf_e6 DESC, id) AS INTEGER)
           AS fused_rank
FROM fused QUALIFY fused_rank <= 20
""",
)
def q137_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (similarity.rrf_fuse): the BM25 lexical top-50
    (q131's retriever) and the dense cosine top-50 for query vector 7
    (q24's retriever — embeddings align 1:1 with documents) fused by
    reciprocal-rank into one top-20. Only RANKS cross the
    lexical/dense boundary (no score calibration), weights are exact
    floor(1e6/(60+rank)) integers, and the fusion itself is O(list
    length) however large the corpus — each retriever already did the
    corpus-scale work in its own scale-audited plan."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = tx.bm25_topk(docs, ["spark", "hash", "window"], top_k=50)
    lex_ranked = lex.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "id"))
        .cast("int")
        .alias("rank"),
    )
    dense = sim.cosine_topk(
        emb.filter(F.col("vec_id") == 7), emb, k=50
    ).select(F.col("neighbor_id").alias("id"), "rank")
    return sim.rrf_fuse(lex_ranked, dense, k=60, top_k=20)


_Q138_BITS = 6


def _q138_oracle(per_bucket: int = 3) -> str:
    """DuckDB replica of the angular-stratified diversity sample: the
    md5-derived ±1 hyperplane literals (engine-independent, same
    constants in the Spark plan), sign-packed bucket, and the
    md5(id)-ordered per-bucket cap are each recomputed independently."""
    w = sim.rademacher_weights(1, _Q138_BITS, 64)
    values = ",\n".join(
        f"({p}, [{', '.join(str(x) for x in w[(0, p)])}]::DOUBLE[])"
        for p in range(_Q138_BITS)
    )
    return f"""
WITH w(p, wv) AS (VALUES
{values}
), v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), proj AS (
    SELECT v.vec_id, w.p, list_dot_product(v.e, w.wv) AS s
    FROM v CROSS JOIN w
), buckets AS (
    SELECT vec_id AS id,
           sum(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
    FROM proj GROUP BY vec_id
), ranked AS (
    SELECT bucket, id,
           CAST(row_number() OVER (
               PARTITION BY bucket
               ORDER BY md5(CAST(id AS VARCHAR)), id) AS INTEGER) AS pick
    FROM buckets
)
SELECT bucket, id, pick FROM ranked WHERE pick <= {per_bucket}
"""


@_q("q138_diversity_sample", oracle=_q138_oracle())
def q138_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware subsampling (similarity.diversity_sample):
    angular strata from one 6-bit hyperplane-LSH table, at most 3
    vectors kept per stratum by the deterministic md5(id) draw — caps
    dense embedding-space modes so no cluster dominates the curated
    sample. Map-only bucketing + one shuffle; output bounded by
    3·2^bits rows whatever the corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.diversity_sample(
        emb,
        per_bucket=3,
        bits=_Q138_BITS,
        weights=sim.rademacher_weights(1, _Q138_BITS, 64),
    )


@_q(
    "q139_decayed_sum",
    oracle="""
WITH b AS (
    SELECT user_id AS series,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
           sum(CAST(round(value * 100, 0) AS BIGINT)) AS bucket_value
    FROM events GROUP BY 1, 2
), p AS (
    SELECT series, bucket, bucket_value,
           bucket % 42 AS pos, bucket // 42 AS seg,
           bucket_value << CAST(bucket % 42 AS INTEGER) AS term
    FROM b
), n AS (
    SELECT series, bucket, bucket_value, pos, seg,
           sum(term) OVER (PARTITION BY series, seg ORDER BY pos) AS n_run
    FROM p
), segs AS (
    SELECT series, seg, sum(term) AS seg_sum FROM p GROUP BY 1, 2
), c AS (
    SELECT series, seg,
           lag(seg_sum) OVER (PARTITION BY series ORDER BY seg) AS prev_sum,
           lag(seg)     OVER (PARTITION BY series ORDER BY seg) AS prev_seg
    FROM segs
)
SELECT n.series, n.bucket, n.bucket_value,
       CAST(n.n_run AS DOUBLE)
           / CAST(1::BIGINT << CAST(n.pos AS INTEGER) AS DOUBLE)
     + CASE WHEN c.prev_seg = n.seg - 1
            THEN CAST(c.prev_sum AS DOUBLE)
                 / CAST(1::BIGINT << 42 AS DOUBLE)
                 / CAST(1::BIGINT << CAST(n.pos AS INTEGER) AS DOUBLE)
            ELSE 0.0 END AS decayed
FROM n JOIN c ON n.series = c.series AND n.seg = c.seg
""",
)
def q139_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity score
    (timeseries.decayed_sum): per-user hourly spend in integer cents,
    half-life one hour — the trending/recency-ranking primitive. The
    oracle replays it VALUE-for-value because every intermediate is
    exact integer arithmetic or an exact power-of-two rescale: float
    window sums are never portable across engines (association order
    differs), so the operator is built to avoid them entirely."""
    from db_cdc_poc_spark.operators.timeseries import decayed_sum

    ev = _t(spark, sf_dir, "events")
    return decayed_sum(
        ev,
        "user_id",
        F.col("ts"),
        F.round(F.col("value") * 100, 0).cast("long"),
        bucket_seconds=3600,
    )


@_q(
    "q140_filter_sweep",
    oracle="""
WITH m AS (
    SELECT len(list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '')) AS tok
    FROM documents
), t(threshold) AS (VALUES (10), (20), (30), (40), (60))
SELECT t.threshold,
       count(m.tok) AS n_rows,
       CAST(coalesce(sum(m.tok), 0) AS BIGINT) AS weight_sum
FROM t LEFT JOIN m ON m.tok >= t.threshold
GROUP BY 1
""",
)
def q140_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-length filter sweep (stats.survival_curve): docs and
    tokens surviving each candidate token-count threshold — the
    quality-vs-quantity trade-off table that decides the curation
    knob. One corpus scan bins each doc to the highest threshold it
    passes; the curve itself is computed on the k-row bucket table
    (the oracle replays the naive cross-join definition)."""
    from db_cdc_poc_spark.operators.stats import survival_curve

    docs = _t(spark, sf_dir, "documents")
    tok = tx.whitespace_token_count("text").cast("long")
    return survival_curve(
        docs, tok, thresholds=[10, 20, 30, 40, 60], weight=tok
    )


@_q(
    "q141_jsonl_roundtrip",
    oracle="""
SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
       CAST(round(value * 100, 0) AS BIGINT) AS cents
FROM events
""",
)
def q141_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source gate (sources/files.py:read_json_permissive —
    previously proven only by quarantine tests): the events table
    written out as .jsonl and scanned back PERMISSIVE with a declared
    schema; the oracle checks every row against the ORIGINAL table, so
    the writer/scanner pair round-trips value-exactly. The corrupt-line
    quarantine path stays covered in test_envelopes.py."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from db_cdc_poc_spark.sources.files import read_json_permissive, split_corrupt
    from db_cdc_poc_spark.streaming.ephemeral import ephemeral_checkpoint_dir

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    scratch = ephemeral_checkpoint_dir("q141_")
    ev.write.mode("overwrite").json(f"{scratch}/events_jsonl")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("us", LongType()),
            StructField("cents", LongType()),
        ]
    )
    clean, _bad = split_corrupt(
        read_json_permissive(spark, f"{scratch}/events_jsonl", schema)
    )
    return clean


@_q(
    "q142_bloom_join",
    oracle="""
SELECT o.o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN (SELECT o_orderkey, o_orderpriority FROM orders
      WHERE o_totalprice > 450000) o
  ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def q142_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned star join (joins.bloom_pruned_join): lineitem
    against the selective high-value-orders dim, the fact pruned
    MAP-ONLY by the dim's md5 Bloom positions before any fact shuffle.
    A Bloom filter has no false negatives, so the result is EXACTLY
    the plain join's — which is what the oracle replays. The explicit
    form of Spark's AQE runtime bloom, for filters known up front or
    reused across queries."""
    from db_cdc_poc_spark.operators.joins import bloom_pruned_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("long")
        .alias("rev_cents"),
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("orderkey"), "o_orderpriority")
    )
    return (
        bloom_pruned_join(li, orders, "orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_cents").alias("revenue_cents"),
        )
    )


@_q(
    "q143_snapshot_diff",
    oracle="""
WITH ev AS (
    SELECT user_id, event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS cents, ts, event_id
    FROM events
), old AS (
    SELECT user_id, event_type, cents FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
    WHERE rn = 1
), new AS (
    SELECT user_id, event_type, cents FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev)
    WHERE rn = 1
)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'I'
            WHEN n.user_id IS NULL THEN 'D'
            ELSE 'U' END AS op,
       o.event_type AS event_type_old, o.cents AS cents_old,
       n.event_type AS event_type_new, n.cents AS cents_new
FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
WHERE o.user_id IS NULL OR n.user_id IS NULL
   OR (o.event_type IS DISTINCT FROM n.event_type)
   OR (o.cents IS DISTINCT FROM n.cents)
""",
)
def q143_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC derivation (cdc.derive_changes — the
    INVERSE of apply_changes): the per-user latest-state table as of
    Jan 15 vs the final one; the emitted changelog (I/U/D, minimal —
    unchanged keys produce no row) is exactly what replays the old
    snapshot into the new. One full outer join on the key; at scale
    both snapshots pre-bucket on it."""
    from db_cdc_poc_spark.operators.cdc import derive_changes

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "ts",
        "event_id",
    )
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    old = latest_by_key(
        ev.filter(F.col("ts") < cutoff), "user_id", "ts", "event_id"
    ).select("user_id", "event_type", "cents")
    new = latest_by_key(ev, "user_id", "ts", "event_id").select(
        "user_id", "event_type", "cents"
    )
    return derive_changes(old, new, "user_id", ["event_type", "cents"])


@_q(
    "q144_quality_ensemble",
    oracle="""
WITH sig AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(toks)) * 1000000 AS BIGINT)
               // CAST(len(toks) AS BIGINT) AS ttr_e6,
           CAST(list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT)))
                * 1000 AS BIGINT) // CAST(len(toks) AS BIGINT) AS mwl_e3
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '') AS toks
          FROM documents)
), n AS (SELECT count(*) - 1 AS n1 FROM sig),
r AS (
    SELECT doc_id, n_tok, ttr_e6, mwl_e3,
           (rank() OVER (ORDER BY n_tok)  - 1) * 1000000 AS rk_tok,
           (rank() OVER (ORDER BY ttr_e6) - 1) * 1000000 AS rk_ttr,
           (rank() OVER (ORDER BY mwl_e3) - 1) * 1000000 AS rk_mwl
    FROM sig
)
SELECT doc_id,
       rk_tok // n1 AS n_tok_ppm,
       rk_ttr // n1 AS ttr_e6_ppm,
       rk_mwl // n1 AS mwl_e3_ppm,
       (rk_tok // n1 + rk_ttr // n1 + rk_mwl // n1) // 3 AS quality_ppm
FROM r CROSS JOIN n
""",
)
def q144_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalized quality ensemble (stats.rank_normalize): token
    count, type-token ratio, and mean word length — three incomparable
    signals — each mapped to its corpus percentile rank in integer ppm
    and averaged into one curation score. NO single-partition window:
    per signal the distinct-value table is prefix-summed with the
    bucketed two-level scan and joined back on the value. Signals are
    integers by construction (ppm/milli scaling) so ties and joins
    replay identically in the oracle."""
    from db_cdc_poc_spark.operators.stats import rank_normalize

    docs = _t(spark, sf_dir, "documents")
    toks = tx.whitespace_tokens("text")
    n_tok = F.size(toks).cast("long")
    sig = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("long") * 1000000).alias(
            "__ttr_num"
        ),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("__chars"),
    ).select(
        "doc_id",
        "n_tok",
        F.expr("__ttr_num div n_tok").alias("ttr_e6"),
        F.expr("(__chars * 1000) div n_tok").alias("mwl_e3"),
    )
    return rank_normalize(sig, "doc_id", ["n_tok", "ttr_e6", "mwl_e3"])


@_q(
    "q145_corpus_pipeline",
    oracle="""
WITH RECURSIVE base AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), feat AS (
    SELECT doc_id, toks,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CASE WHEN len(toks) > 0 THEN
                CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                     t -> list_contains(['the','a','and','of','to','in','is','it','that','for'], t)))
                     AS DOUBLE) / len(toks)
                ELSE 0.0 END AS sw_raw,
           CASE WHEN length(text) > 0 THEN
                CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                     AS DOUBLE) / length(text)
                ELSE 0.0 END AS pr_raw
    FROM base
), kept AS (
    SELECT doc_id, toks,
           (least(n_tokens / 20.0, 1.0)
            + least(sw_raw / 0.2, 1.0)
            + greatest(1.0 - pr_raw * 4, 0.0)) / 3 AS q
    FROM feat
    WHERE (least(n_tokens / 20.0, 1.0)
           + least(sw_raw / 0.2, 1.0)
           + greatest(1.0 - pr_raw * 4, 0.0)) / 3 >= 0.4
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shingles
    FROM kept WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sz AS (
    SELECT doc_id, len(shingles) AS n FROM sh
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS MATERIALIZED (
    SELECT id_a, id_b FROM common
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9
), edges AS MATERIALIZED (
    SELECT id_a AS s, id_b AS d FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach AS (
    SELECT s, d FROM edges
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
), labels AS (
    SELECT s AS id, least(min(d), s) AS cluster_id FROM reach GROUP BY s
), best AS (
    SELECT l.cluster_id, max(k.q) AS bq
    FROM labels l JOIN kept k ON k.doc_id = l.id GROUP BY 1
), surv AS (
    SELECT l.cluster_id, min(k.doc_id) AS keep_id
    FROM labels l
    JOIN kept k ON k.doc_id = l.id
    JOIN best b ON b.cluster_id = l.cluster_id AND k.q = b.bq
    GROUP BY 1
)
SELECT k.doc_id, round(k.q, 6) AS quality_score
FROM kept k
WHERE k.doc_id NOT IN (SELECT id FROM labels)
   OR k.doc_id IN (SELECT keep_id FROM surv)
""",
)
def q145_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation (pipelines/corpus.py:clean_corpus),
    value-checked as ONE query: quality scoring -> min-quality filter
    -> MinHash-LSH near-dup pairs (64 hashes / 16 bands, exact verify)
    -> graph clustering -> best-quality survivor per cluster. The
    oracle replays every stage (recursive-CTE connected components for
    the clustering) — so the COMPOSITION is oracle-gated, not just the
    stages. Threshold 0.9 is where the 16x4 banding's recall is
    indistinguishable from 1 (miss probability ~(1-0.9^4)^16 ~ 1e-8;
    q21 proves the same equivalence on this corpus); the skew cap
    stays off here for exactness, as in the other oracle entries."""
    from db_cdc_poc_spark.pipelines.corpus import clean_corpus

    docs = _t(spark, sf_dir, "documents")
    clean, _report = clean_corpus(
        docs,
        min_quality=0.4,
        languages=None,
        jaccard_threshold=0.9,
        num_hashes=64,
        bands=16,
        max_band_bucket=None,
    )
    return clean.select(
        "doc_id", F.round("quality_score", 6).alias("quality_score")
    )


@_q(
    "q146_auto_salted",
    headline=True,
    oracle="""
WITH dim AS (
    SELECT user_id, event_type AS latest_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn = 1
)
SELECT e.event_id, e.user_id, e.event_type, d.latest_type
FROM events e JOIN dim d ON e.user_id = d.user_id
""",
)
def q146_auto_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive hot-key salted join (joins.auto_salted_join): events
    enriched with each user's latest event type; keys above the hot
    threshold are salted across reducers, everything else joins plain
    — and the union is EXACTLY the plain join (the split is exhaustive
    and disjoint), which is what the oracle replays. The threshold is
    physical tuning only: the same query at any threshold hashes
    identically."""
    from db_cdc_poc_spark.operators.joins import auto_salted_join

    ev = _t(spark, sf_dir, "events")
    dim = latest_by_key(ev, "user_id", "ts", "event_id").select(
        "user_id", F.col("event_type").alias("latest_type")
    )
    return auto_salted_join(
        ev.select("event_id", "user_id", "event_type"),
        dim,
        "user_id",
        salt=4,
        hot_threshold=25,
    )


@_q(
    "q147_ivf_drift",
    headline=True,
    oracle="""
WITH v AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
), cent AS (
    SELECT vec_id AS cid, e, nrm FROM v
    WHERE vec_id % 16 = 0 AND vec_id < 2048
), pair AS MATERIALIZED (
    -- materialized + argmax-by-join instead of a row_number window:
    -- the window form re-evaluates the fold-dot CASE during the sort
    -- and measured 35+ min at sf10 (200k x 128 pairs); this form
    -- computes each dot once (13.9 s at sf3, ~1 min at sf10). The
    -- float-equality join is exact: both sides are the SAME computed
    -- value. Ties (equal max cos) -> min(cid), same rule as before.
    SELECT c.vec_id AS neighbor_id, c.vec_id % 5 = 0 AS is_new, t.cid,
           CASE WHEN c.nrm * t.nrm > 0
                THEN list_dot_product(c.e, t.e) / (c.nrm * t.nrm)
                ELSE 0.0 END AS cos_raw
    FROM v c CROSS JOIN cent t
), mx AS (
    SELECT neighbor_id, max(cos_raw) AS cos_raw FROM pair GROUP BY 1
), assign AS (
    SELECT p.neighbor_id, p.is_new, min(p.cid) AS list_id,
           any_value(p.cos_raw) AS cos_raw
    FROM pair p JOIN mx m
      ON p.neighbor_id = m.neighbor_id AND p.cos_raw = m.cos_raw
    GROUP BY 1, 2
), per_list AS (
    SELECT list_id,
           count(*) AS n_vectors,
           CAST(sum(CAST(round((cos_raw + 1) * 1000000, 0) AS BIGINT)) AS BIGINT) AS cos_sum,
           CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_n
    FROM assign GROUP BY list_id
), tot AS (
    SELECT CAST(sum(n_vectors) AS BIGINT) AS n_tot FROM per_list
)
SELECT list_id, n_vectors,
       CAST(1000000 * n_vectors // n_tot AS BIGINT) AS occupancy_ppm,
       CAST(cos_sum // n_vectors - 1000000 AS BIGINT) AS avg_cos_ppm,
       new_n,
       CAST(1000000 * new_n // n_vectors AS BIGINT) AS new_share_ppm
FROM per_list, tot
""",
)
def q147_ivf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance drift report
    (vector_index.ivf_assignment_stats): per-inverted-list occupancy,
    quantization distortion (mean member-to-centroid cosine, exact
    scaled-integer mean), and the share of a 'newly appended' cohort
    (vec_id % 5 = 0 stands in for the append batch) — the numbers that
    say when append-only maintenance (IvfIndex.append) has drifted far
    enough from the codebook to warrant re-clustering. Broadcast
    codebook (nlist-bounded build side — CAPPED at 128 entries: the
    first sf1.0 run of this query used an uncapped corpus-fraction
    codebook, n/16 centroids, and the n x nlist assignment measured
    139x wall for 10x data; nlist is an algorithm parameter, never a
    corpus fraction. At sf0.01 the cap is not binding, so driver-gate
    results are unchanged), one corpus pass, one groupBy(list_id)."""
    from db_cdc_poc_spark.operators.vector_index import ivf_assignment_stats

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_assignment_stats(
        emb,
        centroids=emb.filter(
            (F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 16 * 128)
        ),
        cohort=F.col("vec_id") % 5 == 0,
    )


@_q(
    "q148_compaction_plan",
    oracle="""
WITH f AS (
    SELECT lang, doc_id AS file_id, n_chars AS bytes
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars < 10000
), g AS (
    SELECT lang, file_id, bytes,
           CAST((sum(bytes) OVER (PARTITION BY lang ORDER BY file_id
                                  ROWS UNBOUNDED PRECEDING) - bytes)
                // 10000 AS BIGINT) AS group_id
    FROM f
)
SELECT lang, file_id, bytes, group_id
FROM g
QUALIFY count(*) OVER (PARTITION BY lang, group_id) >= 2
""",
)
def q148_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (maintenance.compaction_plan):
    the documents table stands in for a file manifest (partition =
    lang, file = doc_id, bytes = n_chars) and each sub-10kB file is
    assigned to a ~10kB first-fit compaction group under a
    per-partition window — the metadata query that decides WHAT
    layout.compact_parquet rewrites. Single hash exchange on the
    partition key; no global sort; singleton groups dropped (a 1-file
    rewrite is a no-op)."""
    from db_cdc_poc_spark.operators.maintenance import compaction_plan

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        "lang", F.col("doc_id").alias("file_id"), F.col("n_chars").alias("bytes")
    ).filter(F.col("bytes").isNotNull())
    return compaction_plan(
        files,
        target_bytes=10_000,
        partition_cols=["lang"],
        file_col="file_id",
        size_col="bytes",
    )


@_q(
    "q149_file_pruning",
    oracle="""
WITH linear_stats AS (
    SELECT l_orderkey % 64 AS file_id,
           min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max
    FROM lineitem GROUP BY 1
), clustered_stats AS (
    SELECT (extract(year FROM l_shipdate) * 12
            + extract(month FROM l_shipdate)) AS file_id,
           min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max
    FROM lineitem GROUP BY 1
), s AS (
    SELECT 'linear' AS layout, ship_min, ship_max FROM linear_stats
    UNION ALL
    SELECT 'date_clustered', ship_min, ship_max FROM clustered_stats
)
SELECT layout,
       count(*) AS n_files,
       CAST(sum(CASE WHEN ship_min IS NOT NULL
                      AND ship_min <= TIMESTAMP '1994-06-30 00:00:00'
                      AND ship_max >= TIMESTAMP '1994-01-01 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_survive
FROM s GROUP BY layout
""",
)
def q149_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping selectivity report (maintenance.
    file_skipping_stats + interval_survives): per-file min/max stats
    on l_shipdate for two synthetic layouts of lineitem — files cut
    along orderkey (date-uncorrelated: every file's range spans the
    table, nothing skips) vs files cut along ship month
    (date-clustered: a 6-month predicate touches ~6 files). The
    output quantifies what clustering buys BEFORE any rewrite — the
    planner-side companion to q59's z-order write path. Each stats
    build is one map-side-combined groupBy; the report is one more
    aggregate over file-count-sized input."""
    from db_cdc_poc_spark.operators.maintenance import (
        file_skipping_stats,
        interval_survives,
    )

    li = _t(spark, sf_dir, "lineitem")
    lo = F.to_timestamp(F.lit("1994-01-01 00:00:00"))
    hi = F.to_timestamp(F.lit("1994-06-30 00:00:00"))

    def report(with_file: DataFrame, layout: str) -> DataFrame:
        stats = file_skipping_stats(
            with_file, file_col="file_id", stat_cols=["l_shipdate"]
        )
        return stats.select(
            F.lit(layout).alias("layout"),
            interval_survives("l_shipdate", lo, hi)
            .cast("long")
            .alias("__survive"),
        ).groupBy("layout").agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("__survive").alias("n_survive"),
        )

    linear = li.withColumn("file_id", F.col("l_orderkey") % 64)
    clustered = li.withColumn(
        "file_id",
        F.year("l_shipdate") * 12 + F.month("l_shipdate"),
    )
    return report(linear, "linear").unionAll(
        report(clustered, "date_clustered")
    )


# ---------------------------------------------------------------------------
# Round-6 additions: importance resampling, drift monitoring, mixture planning
# ---------------------------------------------------------------------------


@_q(
    "q150_dsir_weights",
    headline=True,
    oracle="""
WITH tk AS (
    SELECT doc_id, lang = 'en' AS tgt,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), g AS (
    SELECT doc_id, tgt,
           unnest(toks || [toks[i] || ' ' || toks[i+1]
                           for i in range(1, greatest(len(toks), 1))]) AS gram
    FROM tk
), f AS (
    SELECT doc_id, tgt,
           (('0x' || substr(md5('dsir:' || gram), 1, 16))::UBIGINT
            & 9223372036854775807) % 4096 AS bucket
    FROM g
), dc AS (
    SELECT doc_id, bucket, max(tgt) AS tgt, count(*) AS c
    FROM f GROUP BY 1, 2
), bs AS (
    SELECT bucket, sum(c) AS raw_c,
           sum(CASE WHEN tgt THEN c ELSE 0 END) AS tgt_c
    FROM dc GROUP BY 1
), bt AS (
    SELECT bucket, raw_c, tgt_c,
           sum(raw_c) OVER () AS raw_tot, sum(tgt_c) OVER () AS tgt_tot
    FROM bs
), wt AS (
    SELECT bucket,
           CAST(round((ln(CAST(tgt_c + 1 AS DOUBLE))
                       - ln(CAST(tgt_tot AS DOUBLE) + 4096.0)
                       - ln(CAST(raw_c + 1 AS DOUBLE))
                       + ln(CAST(raw_tot AS DOUBLE) + 4096.0))
                      * 1000000.0, 0) AS BIGINT) AS lr_micro
    FROM bt
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(sum(c * lr_micro) AS BIGINT) AS log_w_micro
FROM dc JOIN wt USING (bucket)
GROUP BY doc_id
""",
)
def q150_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (sampling.dsir_log_weights): score every
    document by hashed-ngram likelihood ratio against the English
    slice as the target — the "select crawl that looks like the
    curated set" ranker (Xie et al. 2023). Unigram+bigram hashing
    trick into 4096 buckets; per-bucket log-ratios quantized to
    integer micro-nats so per-doc scores are exact long sums. One
    token-level shuffle + parameter-bounded weight table + broadcast
    join — linear, no pair joins."""
    from db_cdc_poc_spark.operators.sampling import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs, "doc_id", "text", target=F.col("lang") == "en", n_buckets=4096
    )


@_q(
    "q151_js_divergence",
    oracle="""
WITH tok AS (
    SELECT source AS grp,
           unnest(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS word
    FROM documents
), gw AS (
    SELECT grp, word, count(*) AS c_gw FROM tok GROUP BY 1, 2
), wt AS (
    SELECT word, CAST(sum(c_gw) AS BIGINT) AS c_w FROM gw GROUP BY 1
), gt AS (
    SELECT grp, CAST(sum(c_gw) AS BIGINT) AS n_g, count(*) AS vocab_g
    FROM gw GROUP BY 1
), gt2 AS (
    SELECT grp, n_g, vocab_g, sum(n_g) OVER () AS n_tot FROM gt
), terms AS (
    SELECT gw.grp,
           gt2.n_g, gt2.vocab_g,
           CAST(c_gw AS DOUBLE) / CAST(n_g AS DOUBLE) AS p,
           CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q
    FROM gw JOIN wt USING (word) JOIN gt2 USING (grp)
)
SELECT grp AS source,
       any_value(n_g) AS n_tokens,
       any_value(vocab_g) AS vocab,
       round(sum(0.5 * p * ln(p / ((p + q) / 2.0))
                 + 0.5 * q * ln(q / ((p + q) / 2.0)))
             + 0.5 * ln(2.0) * (1.0 - sum(q)), 5) AS jsd
FROM terms
GROUP BY grp
""",
)
def q151_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor (stats.unigram_js_divergence): per-source
    Jensen-Shannon divergence from the whole corpus's unigram
    distribution — the vocabulary-shift alarm run next to ingestion.
    Missing-word mass handled in closed form (q.ln2 residual) so only
    EXISTING (group, word) pairs are touched: no group-times-vocab
    cross join, one token shuffle + one vocab join."""
    from db_cdc_poc_spark.operators.stats import unigram_js_divergence

    docs = _t(spark, sf_dir, "documents")
    return unigram_js_divergence(docs, "source", "text")


@_q(
    "q152_match_distribution",
    oracle="""
WITH b AS (
    SELECT doc_id, source, lang, n_chars // 64 AS bin, lang = 'en' AS ref
    FROM documents
), st AS (
    SELECT bin, CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
           CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS c_b
    FROM b GROUP BY 1
), st2 AS (
    SELECT bin, t_b, c_b,
           sum(t_b) OVER () AS n_t, sum(c_b) OVER () AS n_c
    FROM st
), thr AS (
    SELECT bin,
           CASE WHEN c_b > 0 AND n_t > 0
                THEN least(1000000, (((t_b * 1000000) // n_t) * n_c) // c_b)
                ELSE 0 END AS thr
    FROM st2
)
SELECT b.doc_id, b.source, b.lang
FROM b JOIN thr USING (bin)
WHERE NOT b.ref
  AND (('0x' || substr(md5('match:' || CAST(b.doc_id AS VARCHAR)), 1, 16))::UBIGINT
       & 9223372036854775807) % 1000000 < thr.thr
""",
)
def q152_match_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matching rejection sampler
    (sampling.match_distribution_sample): resample non-English docs so
    their length histogram (64-char bins) matches the English slice's
    — histogram-density-ratio importance resampling with exact
    integer thresholds and the replayable md5 draw. Tiny histogram
    aggregate + broadcast + map-only filter."""
    from db_cdc_poc_spark.operators.sampling import match_distribution_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return match_distribution_sample(
        docs,
        "doc_id",
        bin_col=F.expr("n_chars div 64"),
        is_reference=F.col("lang") == "en",
    ).select("doc_id", "source", "lang")


@_q(
    "q153_token_budget",
    oracle="""
WITH d AS (
    SELECT source AS src, CAST(sum(n_chars) AS BIGINT) AS n,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
    FROM documents GROUP BY 1
), r AS (
    SELECT src, n, w, CAST(n AS DOUBLE) / CAST(w AS DOUBLE) AS ratio FROM d
), c AS (
    SELECT src, n, w,
           sum(n) OVER (ORDER BY ratio, src
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           sum(w) OVER (ORDER BY ratio, src
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
           sum(w) OVER () AS tot_w
    FROM r
), k AS (
    SELECT src, n, w, tot_w,
           n * (tot_w - (cum_w - w)) <= (75000 - (cum_n - n)) * w AS capped
    FROM c
), lvl AS (
    SELECT src, n, w, capped,
           75000 - sum(CASE WHEN capped THEN n ELSE 0 END) OVER () AS num,
           tot_w - sum(CASE WHEN capped THEN w ELSE 0 END) OVER () AS den
    FROM k
)
SELECT src AS source, n AS n_tokens, w AS weight, capped,
       CAST(CASE WHEN capped THEN n
                 ELSE greatest(0, least(n, (num * w) // den)) END AS BIGINT)
           AS alloc_tokens
FROM lvl
""",
)
def q153_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocator (sampling.token_budget_fill):
    split a 75k-char training budget across the 20 sources with
    temperature weights (floor(sqrt(docs)*1e6)), capping at available
    mass and redistributing the shortfall — the DoReMi-style mixture
    planner solved in closed form with window functions over the
    |domains|-row aggregate (the iterative algorithm's capped set is a
    prefix of the tokens/weight ordering). Exact integer arithmetic
    throughout; the corpus is touched once for the per-source sums."""
    from db_cdc_poc_spark.operators.sampling import token_budget_fill

    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("n_chars_tot"),
        F.floor(F.sqrt(F.count(F.lit(1)).cast("double")) * F.lit(1_000_000.0))
        .cast("long")
        .alias("w"),
    )
    return token_budget_fill(
        per_src, "source", "n_chars_tot", "w", budget=75_000
    )


@_q(
    "q154_semdedup",
    oracle="""
WITH cen0 AS (
    SELECT label, pos, round(avg(val), 6) AS c
    FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY 1, 2
), cen AS (
    SELECT label AS cl, list(c ORDER BY pos) AS cvec
    FROM cen0 GROUP BY 1
), cen2 AS (
    SELECT cl, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnrm FROM cen
), v AS (
    SELECT vec_id AS id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[])) AS nrm
    FROM embeddings
), assigned AS (
    SELECT id, cl AS cluster, e, nrm,
           CASE WHEN nrm * cnrm > 0
                THEN list_dot_product(e, cvec) / (nrm * cnrm)
                ELSE 0.0 END AS cos_c
    FROM v CROSS JOIN cen2
    QUALIFY row_number() OVER (
        PARTITION BY id ORDER BY cos_c DESC, cl) = 1
), pairs AS (
    SELECT a.id AS ia, b.id AS ib, a.cos_c AS cca, b.cos_c AS ccb
    FROM assigned a JOIN assigned b
      ON a.cluster = b.cluster AND a.id < b.id
    WHERE CASE WHEN a.nrm * b.nrm > 0
               THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
               ELSE 0.0 END >= 0.3
), drops AS (
    SELECT DISTINCT CASE WHEN cca > ccb THEN ia
                         WHEN ccb > cca THEN ib
                         ELSE greatest(ia, ib) END AS id
    FROM pairs
)
SELECT id AS vec_id, cluster, round(cos_c, 6) AS cos_centroid
FROM assigned WHERE id NOT IN (SELECT id FROM drops)
""",
)
def q154_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivors (similarity.semdedup): cluster embeddings by
    nearest label-centroid, screen pairs WITHIN clusters only (n²/k
    density, the bucketed-candidate story), and for every >= 0.3
    cosine pair keep the member least typical of its cluster (lowest
    cos-to-centroid — the paper's diversity-preserving policy). One
    metric everywhere (sequential-fold cosine), so DuckDB replays
    assignment, screen and keep rule bit-for-bit.  Threshold 0.3 for
    the synthetic fixture's weak cluster structure (within-cluster p99
    cosine ~0.295); the paper's 0.8 default stands for real
    embeddings."""
    from db_cdc_poc_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, "vec_id", "embedding", "label", threshold=0.3)


@_q(
    "q155_remove_dup_spans",
    headline=True,
    oracle="""
WITH tk AS (
    SELECT doc_id AS id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), tok AS (
    SELECT id, unnest(toks) AS tok,
           generate_subscripts(toks, 1) - 1 AS pos
    FROM tk
), g AS (
    SELECT id, i - 1 AS p, array_to_string(toks[i:i+7], ' ') AS gram
    FROM tk, LATERAL (
        SELECT unnest(range(1, greatest(len(toks) - 6, 1))) AS i) u
), dupg AS (
    SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
), cov AS (
    SELECT DISTINCT g.id, g.p + v.o AS pos
    FROM g JOIN dupg USING (gram),
         LATERAL (SELECT unnest(range(0, 8)) AS o) v
), tot AS (
    SELECT id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk
), kept AS (
    SELECT t.id, t.pos, t.tok
    FROM tok t
    WHERE NOT EXISTS (SELECT 1 FROM cov c
                      WHERE c.id = t.id AND c.pos = t.pos)
), clean AS (
    SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY id
), spans AS (
    SELECT id, CAST(count(*) AS BIGINT) AS dup_tokens,
           CAST(count(DISTINCT pos - rn) AS BIGINT) AS n_spans
    FROM (SELECT id, pos,
                 row_number() OVER (PARTITION BY id ORDER BY pos) AS rn
          FROM cov)
    GROUP BY id
)
SELECT t.id AS doc_id, t.n_tokens,
       coalesce(s.dup_tokens, 0) AS dup_tokens,
       coalesce(s.n_spans, 0) AS n_spans,
       coalesce(c.clean_text, '') AS clean_text
FROM tot t
LEFT JOIN spans s USING (id)
LEFT JOIN clean c USING (id)
""",
)
def q155_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup surgery (dedup.remove_duplicate_spans, Lee
    et al. ACL'22 ExactSubstr): strip every token span covered by an
    8-gram occurring >= 2 times in the corpus, returning trimmed text
    + span accounting. Linear span-hash plan (count -> flag -> covered
    positions -> anti-join -> reassemble); the only window is per-doc
    gaps-and-islands. Spark hashes token-slice xxhash64 (gram strings
    never materialized); the oracle replays on gram strings — the
    span-hash family's value contract."""
    from db_cdc_poc_spark.operators.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", window=8)


@_q(
    "q156_strip_boilerplate",
    oracle="""
WITH tk AS (
    SELECT doc_id AS id, source AS grp,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), c AS (
    SELECT id, grp, CAST((i - 1) // 8 AS INTEGER) AS chunk_id,
           array_to_string(toks[i:least(i + 7, len(toks))], ' ') AS ct
    FROM tk, LATERAL (
        SELECT unnest(range(1, len(toks) + 1, 8)) AS i) u
), gd AS (
    SELECT grp, count(*) AS docs_g FROM tk GROUP BY 1
), boiler AS (
    SELECT c.grp, ct
    FROM c JOIN gd USING (grp)
    GROUP BY c.grp, ct, docs_g
    HAVING count(DISTINCT id) >= 2
       AND count(DISTINCT id) * 1000000 >= 10000 * docs_g
), m AS (
    SELECT c.id, c.grp, c.chunk_id, c.ct,
           b.ct IS NOT NULL AS is_b
    FROM c LEFT JOIN boiler b ON c.grp = b.grp AND c.ct = b.ct
)
SELECT id AS doc_id, grp AS source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler_chunks,
       coalesce(string_agg(CASE WHEN NOT is_b THEN ct END,
                           ' ' ORDER BY chunk_id), '') AS clean_text
FROM m
GROUP BY 1, 2
""",
)
def q156_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate stripping (text.strip_boilerplate): 8-token
    chunks appearing in >= 2 distinct docs AND >= 1% of a source's
    docs are removed from EVERY document (the CCNet per-domain
    repeated-line rule; contrast q73's keep-first dedup). One chunk
    explode carrying the group key, a (group, hash) frequency
    aggregate with the broadcast group-size table, exact integer ppm
    test, per-doc reassembly — a chunk in d docs costs d rows."""
    from db_cdc_poc_spark.operators.text import strip_boilerplate

    docs = _t(spark, sf_dir, "documents")
    return strip_boilerplate(
        docs, "doc_id", "text", "source",
        window=8, min_docs=2, min_doc_ppm=10_000,
    )


def _synth_url_col():
    """Deterministic crawl-like URL per document (testdata has no URL
    column): host-case / www. / default-port / trailing-slash /
    tracking-param / param-order / fragment variants keyed off doc_id
    residues, so canonicalization has real work to do and ~1/3 of the
    raw URLs collide after it. Mirrored verbatim in the q157/q158
    oracle CTE ``raw``."""
    d = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    return F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.lit("WWW."))
        .when(d % 3 == 1, F.lit("www."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.when(d % 2 == 0, F.lit(".example.com")).otherwise(
            F.lit(".sample.co.uk")
        ),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/cat-"),
        s(d % 7),
        F.lit("/item"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=rss&id="), s(d % 10)))
        .when(d % 3 == 1, F.concat(F.lit("?id="), s(d % 10), F.lit("&utm_medium=x")))
        .otherwise(F.concat(F.lit("?b=2&id="), s(d % 10))),
        F.when(d % 6 == 0, F.lit("#s")).otherwise(F.lit("")),
    )


#: DuckDB CTEs replaying the synthetic URL + full canonicalization —
#: shared by q157/q158. Single-match regexp_replace semantics are safe:
#: every pattern is anchored or consumes to end-of-string.
_URL_ORACLE_CTES = """
raw AS (
    SELECT doc_id, source, n_chars,
           'https://'
           || CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
                   WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END
           || source
           || CASE WHEN doc_id % 2 = 0 THEN '.example.com'
                   ELSE '.sample.co.uk' END
           || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
           || '/cat-' || CAST(doc_id % 7 AS VARCHAR) || '/item'
           || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN '?utm_source=rss&id=' || CAST(doc_id % 10 AS VARCHAR)
                   WHEN doc_id % 3 = 1
                   THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_medium=x'
                   ELSE '?b=2&id=' || CAST(doc_id % 10 AS VARCHAR) END
           || CASE WHEN doc_id % 6 = 0 THEN '#s' ELSE '' END AS url
    FROM documents
), s1 AS (
    SELECT *, regexp_replace(url, '#.*', '') AS u FROM raw
), s2 AS (
    SELECT *,
           CASE WHEN strpos(u, '?') > 0
                THEN substr(u, 1, strpos(u, '?') - 1) ELSE u END AS base,
           CASE WHEN strpos(u, '?') > 0
                THEN substr(u, strpos(u, '?') + 1) ELSE '' END AS q
    FROM s1
), s3 AS (
    SELECT *,
           regexp_replace(regexp_replace(regexp_replace(
               lower(regexp_extract(base,
                     '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', 0)),
               '^(http://[^/:]*):80$', '\\1'),
               '^(https://[^/:]*):443$', '\\1'),
               '://www\\.', '://') AS pref,
           regexp_replace(regexp_replace(base,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', ''), '/+$', '') AS pth,
           array_to_string(list_sort(list_filter(string_split(q, '&'),
               p -> p <> '' AND NOT regexp_matches(p,
                   '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|ref)='))),
               '&') AS joined
    FROM s2
), canon AS (
    SELECT doc_id, source, n_chars, url,
           pref || pth
                || CASE WHEN joined = '' THEN ''
                        ELSE '?' || joined END AS canonical_url
    FROM s3
)
"""


@_q(
    "q157_url_canonical",
    oracle="WITH "
    + _URL_ORACLE_CTES
    + """
, h AS (
    SELECT *, regexp_extract(lower(url),
        '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) AS host
    FROM canon
), d AS (
    SELECT *, string_split(host, '.') AS ls,
           CASE WHEN len(string_split(host, '.')) >= 3
                     AND length(string_split(host, '.')[len(string_split(host, '.'))]) = 2
                     AND string_split(host, '.')[len(string_split(host, '.')) - 1]
                         IN ('co','com','net','org','ac','gov','edu')
                THEN 3 ELSE least(len(string_split(host, '.')), 2) END AS k
    FROM h
)
SELECT doc_id, url, canonical_url,
       array_to_string(ls[len(ls) - k + 1 : len(ls)], '.') AS domain
FROM d
""",
)
def q157_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registrable domain (web.canonical_url /
    web.registered_domain): strip fragment, lowercase scheme+authority,
    drop www. and default ports, trim trailing slashes, drop tracking
    params and sort the rest; domain = last 2 host labels (3 under
    ccTLD second-levels like .co.uk). Map-only projections that
    pipeline with the scan — the O(n) first pass of every web-crawl
    pipeline (C4/CCNet dedup by URL before any text is compared)."""
    from db_cdc_poc_spark.operators.web import canonical_url, registered_domain

    docs = _t(spark, sf_dir, "documents").withColumn("url", _synth_url_col())
    return docs.select(
        "doc_id",
        "url",
        canonical_url("url").alias("canonical_url"),
        registered_domain("url").alias("domain"),
    )


@_q(
    "q158_url_dedup",
    headline=True,
    oracle="WITH "
    + _URL_ORACLE_CTES
    + """
SELECT doc_id, source, n_chars, canonical_url
FROM canon
QUALIFY row_number() OVER (
    PARTITION BY canonical_url
    ORDER BY n_chars DESC, doc_id) = 1
""",
)
def q158_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup (web.url_dedup, the C4/CCNet first pass): one
    survivor per canonical URL — longest document wins, ties to the
    lowest doc_id so the survivor is deterministic under any
    partitioning. One hash shuffle on the canonical key + a
    partition-local rank window (the dedup_exact plan shape); no text
    comparison, no pair join."""
    from db_cdc_poc_spark.operators.web import url_dedup

    docs = _t(spark, sf_dir, "documents").withColumn("url", _synth_url_col())
    return url_dedup(docs, "url", "doc_id", prefer_col="n_chars").select(
        "doc_id", "source", "n_chars", "canonical_url"
    )


def _psl_domain_cte() -> str:
    """DuckDB CTEs deriving host + PSL registrable domain from the
    synthetic URL — shared by q159/q160. Replays
    web.registrable_domain's four broadcast suffix-lookups against the
    SAME vendored rule rows (generated from
    data/psl_snapshot.rule_rows(), so Spark and oracle can never
    drift), prevailing rule = exception > longest match > default '*'.
    """
    from db_cdc_poc_spark.data.psl_snapshot import MAX_KEY_LABELS, rule_rows

    vals = ",\n        ".join(
        f"('{s}', {p}, {'true' if e else 'false'})" for s, p, e in rule_rows()
    )
    joins = "\n".join(
        f"    LEFT JOIN psl p{i} ON p{i}.suffix = CASE WHEN n >= {i} "
        f"THEN array_to_string(ls[n - {i - 1} : n], '.') END"
        for i in range(1, MAX_KEY_LABELS + 1)
    )
    exc = ",\n        ".join(
        f"CASE WHEN p{i}.is_exc THEN p{i}.ps_len END"
        for i in reversed(range(1, MAX_KEY_LABELS + 1))
    )
    best = ", ".join(
        f"coalesce(CASE WHEN NOT p{i}.is_exc THEN p{i}.ps_len END, 0)"
        for i in range(1, MAX_KEY_LABELS + 1)
    )
    return f"""
psl AS (
    SELECT * FROM (VALUES
        {vals}) t(suffix, ps_len, is_exc)
), h AS (
    SELECT *, regexp_extract(lower(url),
        '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) AS host
    FROM raw
), d0 AS (
    SELECT *, string_split(host, '.') AS ls,
           len(string_split(host, '.')) AS n
    FROM h
), dps AS (
    SELECT d0.*, coalesce(
        {exc},
        CASE WHEN greatest({best}) > 0 THEN greatest({best}) END,
        1) AS ps
    FROM d0
{joins}
), dom AS (
    SELECT *, CASE WHEN n > ps
                   THEN array_to_string(ls[n - ps : n], '.') END AS domain
    FROM dps
)
"""


_DOMAIN_ORACLE_CTE = _psl_domain_cte()


@_q(
    "q159_domain_stats",
    oracle="WITH "
    + _URL_ORACLE_CTES.split(", s1 AS")[0]
    + ", "
    + _DOMAIN_ORACLE_CTE
    + """
, per AS (
    SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
    FROM dom GROUP BY domain
), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM per)
SELECT domain, n_docs, n_hosts,
       CAST(1000000 * n_docs // t AS BIGINT) AS share_ppm
FROM per, tot
""",
)
def q159_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain crawl audit (web.domain_stats): doc
    count, distinct-host spread, exact floor-ppm corpus share. Domains
    are PSL-backed (web.registrable_domain: four broadcast lookups
    against the vendored public-suffix snapshot, exception > longest >
    default-'*' semantics — the r7 7-label stopgap is retired). One
    domain-keyed hash aggregate + the 1-row grand-total spine — the
    |domains|-row table politeness budgets and blocklists plan on."""
    from db_cdc_poc_spark.operators.web import domain_stats

    docs = _t(spark, sf_dir, "documents").withColumn("url", _synth_url_col())
    return domain_stats(docs, "url")


@_q(
    "q160_blocklist_filter",
    oracle="WITH "
    + _URL_ORACLE_CTES.split(", s1 AS")[0]
    + ", "
    + _DOMAIN_ORACLE_CTE
    + """
SELECT doc_id, source, n_chars
FROM dom
WHERE domain NOT IN ('example.com', 'blocked.example.org')
""",
)
def q160_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist pass (web.filter_blocked_domains, the
    UT1-style first filter of every crawl pipeline): drop documents
    whose REGISTRABLE domain is listed — every srcN.example.com /
    www.srcN.example.com subdomain host falls to the one
    'example.com' entry, because matching is on the PSL-backed
    registrable domain, not the raw host (that's the point of the
    op). Four broadcast PSL lookups + one broadcast left-anti join;
    the corpus never shuffles."""
    from db_cdc_poc_spark.operators.web import filter_blocked_domains

    docs = _t(spark, sf_dir, "documents").withColumn("url", _synth_url_col())
    blocked = local_df(
        spark, [("example.com",), ("blocked.example.org",)], "domain string"
    )
    return filter_blocked_domains(docs, blocked, "url").select(
        "doc_id", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Residual IVF-PQ training shared by q163-q166 (vector_index.pq_train):
# deterministic fixed-iteration Lloyd refinement, so the whole training
# chain unrolls into oracle CTEs and replays value-for-value.
# ---------------------------------------------------------------------------

# memoized trained codebooks per sf_dir: training is deterministic
# (fixed seeds, fixed iteration count, exact-integer means), so q163-
# q166 can share one training run per dataset instead of re-running
# the 7 Lloyd iterations per query. Driver footprint: 2 x 16 rows.
_PQ_TRAINED: dict[str, tuple[list, list]] = {}


def _pq_trained(spark: SparkSession, sf_dir: str):
    """(coarse_centroids, residual codebook) DataFrames for sf_dir:
    seeds = vec_id%16==0/<256 (coarse) and vec_id%16==1/<256 (fine;
    disjoint from the coarse seeds — a coarse seed's own residual is
    ~0 and would waste a codeword), training cohort vec_id<2048 (a
    PARAMETER bound, rule 13 — never a corpus fraction), 2 coarse
    cosine-Lloyd iterations + 5 residual subspace iterations."""
    from db_cdc_poc_spark.operators.vector_index import pq_train

    if sf_dir not in _PQ_TRAINED:
        emb = _t(spark, sf_dir, "embeddings")
        coarse, cb = pq_train(
            emb.filter(F.col("vec_id") < 2048),
            emb.filter((F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 256)),
            emb.filter((F.col("vec_id") % 16 == 1) & (F.col("vec_id") < 256)),
            m=8,
            coarse_iters=2,
            pq_iters=5,
        )
        _PQ_TRAINED[sf_dir] = (
            [(int(r[0]), [float(x) for x in r[1]]) for r in coarse.collect()],
            [(int(r[0]), [float(x) for x in r[1]]) for r in cb.collect()],
        )
    crows, cbrows = _PQ_TRAINED[sf_dir]
    return (
        local_df(spark, crows, "list_id long, embedding array<double>"),
        local_df(spark, cbrows, "vec_id long, embedding array<double>"),
    )


def _pq_train_ctes(coarse_iters: int = 2, pq_iters: int = 5) -> str:
    """The WITH-body CTE chain replaying pq_train + residual pq_codes'
    shared relations (64-dim embeddings, m=8, k=16, 10 queries): the
    final CTEs are ``coarse`` (refined centroids), ``cassign``
    (full-corpus list assignment), ``resid`` (residuals), ``cw``
    (trained residual codewords per subspace), ``best`` (per-(vector,
    subspace) winning codeword + reconstruction error) and ``lut``
    (the residual ADC (query, list, subspace, codeword) table).

    The Lloyd mean is the exact-integer form
    ``(sum(floor((x+1024)*1e6)) // n - 1024e6) / 1e6`` — offset keeps
    every term positive so DuckDB ``//`` (floor) matches Spark ``div``
    (trunc); empty clusters keep the previous codeword (LEFT JOIN +
    coalesce), mirroring refine_centroids/pq_train.
    """
    parts = [
        """
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), tr AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM v WHERE vec_id < 2048
), c0 AS (
    SELECT vec_id AS list_id, e FROM v WHERE vec_id % 16 = 0 AND vec_id < 256
)"""
    ]
    prev = "c0"
    for t in range(1, coarse_iters + 1):
        parts.append(
            f""", c{t} AS (
    SELECT s.list_id, coalesce(mu.e, s.e) AS e
    FROM {prev} s LEFT JOIN (
        SELECT list_id, list(mu ORDER BY pos) AS e
        FROM (
            SELECT a.list_id, g.pos,
                   (sum(CAST(floor((a.e[g.pos] + 1024.0) * 1000000.0)
                        AS BIGINT)) // count(*) - 1024000000)
                       / 1000000.0 AS mu
            FROM (
                SELECT t.e, c.list_id,
                       row_number() OVER (PARTITION BY t.vec_id ORDER BY
                           CASE WHEN t.nrm * sqrt(list_dot_product(c.e, c.e)) > 0
                                THEN list_dot_product(t.e, c.e)
                                     / (t.nrm * sqrt(list_dot_product(c.e, c.e)))
                                ELSE 0.0 END DESC, c.list_id) AS rn
                FROM tr t CROSS JOIN {prev} c
                QUALIFY rn = 1
            ) a, LATERAL (SELECT unnest(range(1, 65)) AS pos) g
            GROUP BY 1, 2
        ) GROUP BY 1
    ) mu USING (list_id)
)"""
        )
        prev = f"c{t}"
    parts.append(
        f""", coarse AS (
    SELECT list_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM {prev}
), cassign AS (
    SELECT vec_id, list_id FROM (
        SELECT x.vec_id, c.list_id,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                   CASE WHEN x.nrm * c.nrm > 0
                        THEN list_dot_product(x.e, c.e) / (x.nrm * c.nrm)
                        ELSE 0.0 END DESC, c.list_id) AS rn
        FROM (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v) x
        CROSS JOIN coarse c)
    WHERE rn = 1
), resid AS (
    SELECT a.vec_id, a.list_id,
           list_transform(range(1, 65), i -> x.e[i] - c.e[i]) AS r
    FROM cassign a
    JOIN v x ON x.vec_id = a.vec_id
    JOIN coarse c USING (list_id)
), cwseed AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, r
    FROM resid WHERE vec_id % 16 = 1 AND vec_id < 256
), w0 AS (
    SELECT code_id, j.j AS sub_id, r[j.j*8+1 : j.j*8+8] AS cv
    FROM cwseed, LATERAL (SELECT unnest(range(0, 8)) AS j) j
), rsubs AS (
    SELECT vec_id AS id, j.j AS sub_id, r[j.j*8+1 : j.j*8+8] AS sv
    FROM resid, LATERAL (SELECT unnest(range(0, 8)) AS j) j
    WHERE vec_id < 2048
)"""
    )
    prev = "w0"
    for t in range(1, pq_iters + 1):
        parts.append(
            f""", w{t} AS (
    SELECT s.code_id, s.sub_id, coalesce(mu.cv, s.cv) AS cv
    FROM {prev} s LEFT JOIN (
        SELECT code_id, sub_id, list(mu ORDER BY pos) AS cv
        FROM (
            SELECT a.code_id, a.sub_id, g.pos,
                   (sum(CAST(floor((a.sv[g.pos] + 1024.0) * 1000000.0)
                        AS BIGINT)) // count(*) - 1024000000)
                       / 1000000.0 AS mu
            FROM (
                SELECT r.sv, r.sub_id, c.code_id,
                       row_number() OVER (PARTITION BY r.id, r.sub_id ORDER BY
                           2 * list_dot_product(r.sv, c.cv)
                               - list_dot_product(c.cv, c.cv) DESC,
                           c.code_id) AS rn
                FROM rsubs r JOIN {prev} c ON r.sub_id = c.sub_id
                QUALIFY rn = 1
            ) a, LATERAL (SELECT unnest(range(1, 9)) AS pos) g
            GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    ) mu ON s.code_id = mu.code_id AND s.sub_id = mu.sub_id
)"""
        )
        prev = f"w{t}"
    parts.append(
        f""", cw AS (
    SELECT code_id, sub_id, cv, list_dot_product(cv, cv) AS cn2 FROM {prev}
), allsubs AS (
    SELECT vec_id AS id, j.j AS sub_id, r[j.j*8+1 : j.j*8+8] AS sv
    FROM resid, LATERAL (SELECT unnest(range(0, 8)) AS j) j
), best AS (
    SELECT id, sub_id, code_id, e2 FROM (
        SELECT s.id, s.sub_id, c.code_id,
               list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
                   + c.cn2 AS e2,
               row_number() OVER (PARTITION BY s.id, s.sub_id ORDER BY
                   2 * list_dot_product(s.sv, c.cv) - c.cn2 DESC,
                   c.code_id) AS rn
        FROM allsubs s JOIN cw c ON s.sub_id = c.sub_id)
    WHERE rn = 1
), qres AS (
    SELECT q.vec_id AS query_id, c.list_id,
           list_transform(range(1, 65), i -> q.e[i] - c.e[i]) AS qr
    FROM v q CROSS JOIN coarse c WHERE q.vec_id < 10
), lut AS (
    SELECT s.query_id, s.list_id, s.sub_id, c.code_id,
           CAST(floor(greatest(
               list_dot_product(s.qv, s.qv) - 2 * list_dot_product(s.qv, c.cv)
               + c.cn2, 0) * 1000000) AS BIGINT) AS d_micro
    FROM (SELECT query_id, list_id, j.j AS sub_id, qr[j.j*8+1 : j.j*8+8] AS qv
          FROM qres, LATERAL (SELECT unnest(range(0, 8)) AS j) j) s
    JOIN cw c ON s.sub_id = c.sub_id
), adcscore AS (
    SELECT l.query_id, b.id AS neighbor_id,
           CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
    FROM best b
    JOIN cassign a ON a.vec_id = b.id
    JOIN lut l ON l.list_id = a.list_id AND l.sub_id = b.sub_id
              AND l.code_id = b.code_id
    GROUP BY 1, 2
)"""
    )
    return "".join(parts)


@_q(
    "q161_pq_codes",
    oracle="""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cbv AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, e
    FROM v WHERE vec_id % 16 = 0 AND vec_id < 256
), subs AS (
    SELECT vec_id AS id, j.j AS sub_id, e[j.j*8+1 : j.j*8+8] AS sv
    FROM v, LATERAL (SELECT unnest(range(0, 8)) AS j) j
), cw AS (
    SELECT code_id, j.j AS sub_id, e[j.j*8+1 : j.j*8+8] AS cv,
           list_dot_product(e[j.j*8+1 : j.j*8+8],
                            e[j.j*8+1 : j.j*8+8]) AS cn2
    FROM cbv, LATERAL (SELECT unnest(range(0, 8)) AS j) j
), sc AS (
    SELECT id, s.sub_id, code_id,
           2 * list_dot_product(sv, cv) - cn2 AS score,
           list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv) + cn2 AS e2
    FROM subs s JOIN cw c ON s.sub_id = c.sub_id
), best AS (
    SELECT id, sub_id, code_id, e2 FROM sc
    QUALIFY row_number() OVER (PARTITION BY id, sub_id
                               ORDER BY score DESC, code_id) = 1
)
SELECT id AS vec_id,
       CAST(sum(code_id << (sub_id * 4)) AS BIGINT) AS pq_code,
       CAST(sum(CAST(floor(greatest(e2, 0) * 1000000) AS BIGINT)) AS BIGINT)
           AS err_micro
FROM best GROUP BY id
""",
)
def q161_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (vector_index.pq_codes, Jégou et al.
    TPAMI'11): 8 subspaces x 16 sampled codewords compress each 64-dim
    vector to one packed 32-bit code plus an exact floor-scaled
    reconstruction-error integer — the fine-compression half of the
    IVF+PQ ANN stack (q43/q147 are the coarse half). Codebook =
    deterministic parameter-bounded sample (16 vectors, the rule-13
    contract); every dot/norm is the sequential fold DuckDB replays
    bit-for-bit, so codes AND distortion replay value-for-value.
    This is the FLAT-PQ baseline (raw vectors, sampled codewords);
    the quality path is the residual-encoded q163-q166 family."""
    from db_cdc_poc_spark.operators.vector_index import pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    cb = emb.filter((F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 256))
    return pq_codes(emb, cb, m=8)


@_q(
    "q162_pq_adc_topk",
    oracle="""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cbv AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, e
    FROM v WHERE vec_id % 16 = 0 AND vec_id < 256
), subs AS (
    SELECT vec_id AS id, j.j AS sub_id, e[j.j*8+1 : j.j*8+8] AS sv
    FROM v, LATERAL (SELECT unnest(range(0, 8)) AS j) j
), cw AS (
    SELECT code_id, j.j AS sub_id, e[j.j*8+1 : j.j*8+8] AS cv,
           list_dot_product(e[j.j*8+1 : j.j*8+8],
                            e[j.j*8+1 : j.j*8+8]) AS cn2
    FROM cbv, LATERAL (SELECT unnest(range(0, 8)) AS j) j
), best AS (
    SELECT id, s.sub_id, code_id FROM (
        SELECT id, s.sub_id, code_id,
               2 * list_dot_product(sv, cv) - cn2 AS score,
               row_number() OVER (PARTITION BY id, s.sub_id
                                  ORDER BY 2 * list_dot_product(sv, cv) - cn2
                                           DESC, code_id) AS rn
        FROM subs s JOIN cw c ON s.sub_id = c.sub_id) s
    WHERE rn = 1
), lut AS (
    SELECT s.id AS query_id, s.sub_id, c.code_id,
           CAST(floor(greatest(
               list_dot_product(sv, sv)
               - 2 * list_dot_product(sv, cv) + cn2, 0) * 1000000)
               AS BIGINT) AS d_micro
    FROM subs s JOIN cw c ON s.sub_id = c.sub_id
    WHERE s.id < 10
), scored AS (
    SELECT l.query_id, b.id AS neighbor_id,
           CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
    FROM best b
    JOIN lut l ON l.sub_id = b.sub_id AND l.code_id = b.code_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_micro, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
""",
)
def q162_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search (vector_index.pq_adc_topk): the 10
    query vectors stay full-precision, the corpus is scanned as packed
    32-bit PQ codes (q161's output), and distance is the sum of m=8
    broadcast lookup-table hits — the serving path where 100 TB of
    float vectors become 4-byte codes. Floor-scaled integer distances
    make ranking exact; the oracle replays assignment, LUT and ranks
    from the unpacked relations (pack/unpack identity is unit-tested),
    value-for-value. Flat-PQ baseline mechanics — the residual-encoded
    quality path (same ADC machinery, list-keyed LUT) is q163-q166."""
    from db_cdc_poc_spark.operators.vector_index import pq_adc_topk, pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    cb = emb.filter((F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 256))
    codes = pq_codes(emb, cb, m=8)
    return pq_adc_topk(
        codes, emb.filter(F.col("vec_id") < 10), cb, m=8, k_top=5
    )


@_q(
    "q163_pq_recall",
    oracle=f"""
WITH {_pq_train_ctes()}, adc AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_micro, neighbor_id) AS rank
        FROM adcscore)
    WHERE rank <= 5
), q AS (
    SELECT vec_id AS query_id, e AS qe,
           list_dot_product(e, e) AS qn2
    FROM v WHERE vec_id < 10
), exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(v.e, v.e)
                            - 2 * list_dot_product(q.qe, v.e) + q.qn2,
                            v.vec_id) AS rank
        FROM q CROSS JOIN v)
    WHERE rank <= 5
)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       CAST(1000000 * count(a.neighbor_id) // 5 AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN adc a ON a.query_id = e.query_id
                AND a.neighbor_id = e.neighbor_id
GROUP BY 1
""",
)
def q163_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured RESIDUAL-PQ ADC recall@5 vs the exact squared-L2 top-5
    (the PQ sibling of q132's LSH recall report — measure the
    approximation, don't guess): per query, how many of the true 5
    nearest survive the 32-bit residual-code ADC ranking, as exact
    floor-ppm integers. Codes are x - centroid(list) residuals against
    the pq_train codebooks (2 coarse + 5 subspace Lloyd iterations,
    all unrolled in the oracle) — at the SAME m=8/k=16 bit budget this
    lifts recall@5 over the r7 flat-PQ path from 0.38 to 0.44 at
    sf0.01 and from 0.26 to 0.40 at 2000 vectors (the flat path's
    mechanics remain q161/q162). The exact leg is a documented
    q24-style baseline (10 broadcast query vectors, the allowlisted
    exact-BNLJ shape); training, both legs and the intersection replay
    in DuckDB."""
    from db_cdc_poc_spark.operators.vector_index import pq_adc_topk, pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    coarse, cb = _pq_trained(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < 10)
    adc = pq_adc_topk(
        pq_codes(emb, cb, m=8, coarse_centroids=coarse),
        qv,
        cb,
        m=8,
        k_top=5,
        coarse_centroids=coarse,
    ).select("query_id", "neighbor_id")

    def fdot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn2", fdot(F.col("ce"), F.col("ce")))
    q = qv.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    ).withColumn("qn2", fdot(F.col("qe"), F.col("qe")))
    d2 = F.col("cn2") - F.lit(2.0) * fdot(F.col("qe"), F.col("ce")) + F.col("qn2")
    w = Window.partitionBy("query_id").orderBy(
        d2.asc(), F.col("neighbor_id").asc()
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    return (
        exact.join(adc, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__h"))
        .join(exact.select("query_id").distinct(), "query_id", "right")
        .select(
            "query_id",
            F.coalesce(F.col("__h"), F.lit(0)).cast("long").alias("n_hit"),
            F.expr("1000000 * coalesce(__h, 0) div 5").alias("recall_ppm"),
        )
    )


@_q(
    "q164_ivfpq_topk",
    oracle=f"""
WITH {_pq_train_ctes()}, probes AS (
    SELECT query_id, list_id FROM (
        SELECT q.vec_id AS query_id, t.list_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   CASE WHEN q.nrm * t.nrm > 0
                        THEN list_dot_product(q.e, t.e) / (q.nrm * t.nrm)
                        ELSE 0.0 END DESC, t.list_id) AS rn
        FROM (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
              FROM v WHERE vec_id < 10) q
        CROSS JOIN coarse t)
    WHERE rn <= 4
), cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN cassign a
      ON p.list_id = a.list_id AND p.query_id <> a.vec_id
), scored AS (
    SELECT cd.query_id, cd.neighbor_id,
           CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
    FROM cand cd
    JOIN best b ON b.id = cd.neighbor_id
    JOIN cassign a ON a.vec_id = cd.neighbor_id
    JOIN lut l ON l.query_id = cd.query_id AND l.list_id = a.list_id
              AND l.sub_id = b.sub_id AND l.code_id = b.code_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_micro, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
""",
)
def q164_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed RESIDUAL IVF+PQ search (the full FAISS-style
    serving path, Jégou TPAMI'11): coarse cosine routing over the
    TRAINED centroids picks nprobe=4 of 16 inverted lists per query
    (self excluded), codes are x - centroid(list) residuals, and
    residual ADC scores ONLY the admitted candidates from their packed
    32-bit codes — cost is |candidates|·m lookup hits, never
    |corpus|·|queries|. The candidate lists come straight off the
    ``list_id`` column residual ``pq_codes`` emits, so routing and
    encoding share one assignment; every stage (training, assignment,
    probes, codes, LUT, ranks) replays value-for-value."""
    from db_cdc_poc_spark.checkpointing import materialize
    from db_cdc_poc_spark.operators.similarity import norm, paired_cosine
    from db_cdc_poc_spark.operators.vector_index import pq_adc_topk, pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    coarse, cb = _pq_trained(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < 10)
    # codes feed BOTH the candidate lists and the ADC entries — cut the
    # subtree once (rule 12) so the residual encode runs once
    codes = materialize(
        pq_codes(emb, cb, m=8, coarse_centroids=coarse), label="q164-codes"
    )
    cent = coarse.select(
        F.col("list_id"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cen"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("list_id").asc()
    )
    probes = (
        qv.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm("embedding").alias("qn"),
        )
        .crossJoin(F.broadcast(cent))
        .withColumn("cos_c", paired_cosine("qe", "ce", "qn", "cen"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 4)
        .select("query_id", "list_id")
    )
    cand = probes.join(
        codes.select(F.col("vec_id").alias("neighbor_id"), "list_id"),
        "list_id",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return pq_adc_topk(
        codes, qv, cb, m=8, k_top=5, candidates=cand, coarse_centroids=coarse
    )


@_q(
    "q165_pq_rerank_topk",
    oracle=f"""
WITH {_pq_train_ctes()}, shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_micro, neighbor_id) AS rank
        FROM adcscore)
    WHERE rank <= 32
), rescored AS (
    SELECT s.query_id, s.neighbor_id,
           CAST(floor(greatest(
               list_dot_product(c.e, c.e) - 2 * list_dot_product(q.e, c.e)
               + list_dot_product(q.e, q.e), 0) * 1000000) AS BIGINT)
               AS d2_micro
    FROM shortlist s
    JOIN v c ON c.vec_id = s.neighbor_id
    JOIN v q ON q.vec_id = s.query_id
)
SELECT query_id, neighbor_id, d2_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY d2_micro, neighbor_id)
            AS INTEGER) AS rank
FROM rescored
QUALIFY rank <= 5
""",
)
def q165_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist + exact re-rank (vector_index.exact_rerank — the
    public FAISS IndexRefineFlat pattern): residual ADC over-fetches
    its top-32 from the 32-bit codes, then full-precision vectors are
    read back for ONLY those 320 (query, candidate) pairs via
    equi-joins and re-ranked by exact floor-micro squared L2 — the
    recall-recovery stage of the serving path (never a corpus scan;
    the over-fetch factor is the knob). Training, shortlist and
    re-scoring all replay value-for-value."""
    from db_cdc_poc_spark.operators.vector_index import (
        exact_rerank,
        pq_adc_topk,
        pq_codes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    coarse, cb = _pq_trained(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < 10)
    adc32 = pq_adc_topk(
        pq_codes(emb, cb, m=8, coarse_centroids=coarse),
        qv,
        cb,
        m=8,
        k_top=32,
        coarse_centroids=coarse,
    )
    return exact_rerank(adc32, qv, emb, k_top=5)


@_q(
    "q166_pq_rerank_recall",
    oracle=f"""
WITH {_pq_train_ctes()}, shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_micro, neighbor_id) AS rank
        FROM adcscore)
    WHERE rank <= 32
), rr AS (
    SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               row_number() OVER (PARTITION BY s.query_id ORDER BY
                   CAST(floor(greatest(
                       list_dot_product(c.e, c.e)
                       - 2 * list_dot_product(q.e, c.e)
                       + list_dot_product(q.e, q.e), 0) * 1000000) AS BIGINT),
                   s.neighbor_id) AS rank
        FROM shortlist s
        JOIN v c ON c.vec_id = s.neighbor_id
        JOIN v q ON q.vec_id = s.query_id)
    WHERE rank <= 5
), q AS (
    SELECT vec_id AS query_id, e AS qe,
           list_dot_product(e, e) AS qn2
    FROM v WHERE vec_id < 10
), exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(v.e, v.e)
                            - 2 * list_dot_product(q.qe, v.e) + q.qn2,
                            v.vec_id) AS rank
        FROM q CROSS JOIN v)
    WHERE rank <= 5
)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       CAST(1000000 * count(a.neighbor_id) // 5 AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN rr a ON a.query_id = e.query_id
               AND a.neighbor_id = e.neighbor_id
GROUP BY 1
""",
)
def q166_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the re-ranked serving path (q165) vs the
    exact top-5 — the number that justifies the refine stage: ADC-only
    recall is 0.44 at sf0.01 (q163); re-ranking the ADC top-32 with
    exact distances recovers 0.84 here and 0.60 at 2000 vectors, at
    the cost of 32 full-vector reads per query. Same exact-BNLJ
    ground-truth leg as q163 (documented, allowlisted)."""
    from db_cdc_poc_spark.operators.vector_index import (
        exact_rerank,
        pq_adc_topk,
        pq_codes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    coarse, cb = _pq_trained(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < 10)
    adc32 = pq_adc_topk(
        pq_codes(emb, cb, m=8, coarse_centroids=coarse),
        qv,
        cb,
        m=8,
        k_top=32,
        coarse_centroids=coarse,
    )
    rr = exact_rerank(adc32, qv, emb, k_top=5).select(
        "query_id", "neighbor_id"
    )

    def fdot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn2", fdot(F.col("ce"), F.col("ce")))
    q = qv.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    ).withColumn("qn2", fdot(F.col("qe"), F.col("qe")))
    d2 = (
        F.col("cn2") - F.lit(2.0) * fdot(F.col("qe"), F.col("ce")) + F.col("qn2")
    )
    w = Window.partitionBy("query_id").orderBy(
        d2.asc(), F.col("neighbor_id").asc()
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    return (
        exact.join(rr, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__h"))
        .join(exact.select("query_id").distinct(), "query_id", "right")
        .select(
            "query_id",
            F.coalesce(F.col("__h"), F.lit(0)).cast("long").alias("n_hit"),
            F.expr("1000000 * coalesce(__h, 0) div 5").alias("recall_ppm"),
        )
    )


@_q(
    "q167_sequence_pack",
    oracle="""
WITH tk AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
    FROM documents
), cnt AS (
    SELECT doc_id, len(toks) AS n FROM tk
), offs AS (
    SELECT doc_id, n,
           coalesce(sum(n + 1) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
    FROM cnt
), tkrows AS (
    SELECT t.doc_id, g.i - 1 AS pos, t.toks[g.i] AS tok
    FROM tk t, LATERAL (SELECT unnest(range(1, len(t.toks) + 1)) AS i) g
), stream AS (
    SELECT t.doc_id, o.off + t.pos AS gpos, t.tok
    FROM tkrows t JOIN offs o USING (doc_id)
    UNION ALL
    SELECT doc_id, off + n AS gpos, '<|eos|>' FROM offs
)
SELECT gpos // 64 AS example_id,
       CAST(count(*) AS INTEGER) AS n_tokens,
       CAST(count(DISTINCT doc_id) AS INTEGER) AS n_docs,
       array_to_string(list(tok ORDER BY gpos), ' ') AS text
FROM stream GROUP BY 1
""",
)
def q167_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing (text.pack_examples): docs
    concatenated in id order with one <|eos|> each, the global token
    stream cut into 64-token training examples that span document
    boundaries. The global offset is a TWO-LEVEL prefix sum (bucketed
    running sums + a |buckets|-row global prefix broadcast back), so
    no corpus-sized relation ever crosses one reducer — the oracle
    replays it with the plain single-window cumsum, which must agree
    value-for-value."""
    docs = _t(spark, sf_dir, "documents")
    return tx.pack_examples(docs, seq_len=64)


#: deterministic PII-bearing text per document (testdata has none) —
#: mirrored verbatim in the q168 oracle; the q157 synth-column pattern.
def _synth_pii_col():
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("user"), d.cast("string"), F.lit("@mail.example.com ")),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit("from 10.2."), (d % 250).cast("string"), F.lit(".7 ")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit("call +1415555"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )


def _q168_oracle() -> str:
    """Build the PII-scrub oracle from text.PII_PATTERNS itself so the
    Spark chain and the SQL replay can never drift: per kind, count on
    the previous stage's text then global-replace (DuckDB needs the
    explicit 'g' flag; Spark replaces globally by default)."""
    from db_cdc_poc_spark.operators.text import PII_KIND_PATTERNS

    cur = "pii_text"
    stages, cols = [], []
    for i, (kind, pat) in enumerate(PII_KIND_PATTERNS):
        nxt = f"t{i}"
        stages.append(
            f", s{i} AS (\n"
            f"    SELECT *, CAST(len(regexp_extract_all({cur}, '{pat}')) AS INTEGER)"
            f" AS n_{kind},\n"
            f"           regexp_replace({cur}, '{pat}', '<|{kind}|>', 'g') AS {nxt}\n"
            f"    FROM {'raw' if i == 0 else f's{i - 1}'}\n)"
        )
        cols.append(f"n_{kind}")
        cur = nxt
    return (
        """
WITH raw AS (
    SELECT doc_id,
           text || ' contact '
           || CASE WHEN doc_id % 3 = 0
                   THEN 'user' || CAST(doc_id AS VARCHAR) || '@mail.example.com '
                   ELSE '' END
           || CASE WHEN doc_id % 4 = 0
                   THEN 'from 10.2.' || CAST(doc_id % 250 AS VARCHAR) || '.7 '
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN 'call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS pii_text
    FROM documents
)"""
        + "".join(stages)
        + f"\nSELECT doc_id, {', '.join(cols)}, {cur} AS clean_text FROM s{len(stages) - 1}\n"
    )


@_q("q168_pii_scrub", oracle=_q168_oracle())
def q168_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind PII scrubbing (text.redact_pii_by_kind; q56's
    redact_pii is the single-sentinel form): emails / IPv4s / intl phone numbers replaced by sentinel
    tokens with per-kind counts for the corpus redaction-rate audit.
    PII is synthesized deterministically per doc_id (testdata carries
    none) and the oracle is GENERATED from the same PII_KIND_PATTERNS
    tuple, so pattern drift between engines is impossible. Map-only
    regex chain, no UDF."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_pii_col().alias("pii_text")
    )
    return tx.redact_pii_by_kind(
        docs, text_col="pii_text", out_col="clean_text"
    ).drop(
        "pii_text"
    )


@_q(
    "q169_token_proxy_ratio",
    oracle=r"""
SELECT source,
       CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> ''))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS pretokens,
       CAST(1000000 * sum(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
            // sum(len(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> ''))) AS BIGINT) AS ratio_ppm
FROM documents
GROUP BY source
""",
)
def q169_token_proxy_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token-proxy calibration (ARCHITECTURE.md rule 14):
    per source, total whitespace tokens vs total BPE-ish pretokens
    (text.regex_token_count — the GPT-2-style letter/digit/punct
    classes, the shared Java-regex/RE2 subset) and their ratio in ppm.
    This ratio is the corpus-measured rescale factor for budgets
    calibrated in BPE terms when the engine's whitespace-token proxy
    feeds them (pack_examples seq_len, token_budget_fill budgets,
    DSIR features): punctuation-/code-heavy sources push it up, plain
    prose sits near 1.2e6. One scan, two codegen aggregates — the
    calibration is free next to any real pass over the corpus."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.sum(tx.whitespace_token_count("text")).cast("long")
    pre = F.sum(tx.regex_token_count("text")).cast("long")
    return (
        docs.groupBy("source")
        .agg(ws.alias("ws_tokens"), pre.alias("pretokens"))
        .select(
            "source",
            "ws_tokens",
            "pretokens",
            F.expr("1000000 * pretokens div ws_tokens").alias("ratio_ppm"),
        )
    )


# memoized per sf_dir like _PQ_TRAINED: training is deterministic, so
# re-running a session never retrains for the same corpus
_BPE_TRAINED: dict[str, "tx.BpeModel"] = {}


@_q("q170_bpe_calibration")
def q170_bpe_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-vs-BPE calibration with a REAL tokenizer leg
    (ARCHITECTURE.md rule 14's missing piece): a deterministic BPE is
    trained from the corpus itself (text.bpe_train — network-isolated
    stand-in for vendored GPT-2 merges; Sennrich loop over the capped
    word-frequency head, every tie-break total), then each source
    reports whitespace tokens, true BPE tokens under that model, OOV
    coverage, and the ppm rescale ratio budget consumers apply.

    NO SQL ORACLE by design: BPE training is an iterative algorithm
    with data-dependent merge choices — the documented rows-only-check
    category (like the streaming ops). Value correctness is pinned by
    tests/test_bpe.py: a pure-Python reference implementation must
    match the Spark path word-for-word, including the OOV fallback.

    Scale shape: training collects only the vocab_cap-row frequency
    head (a parameter, rule 13); application explodes words once,
    broadcast-joins the lookup, re-aggregates per source — no Python
    in the hot path."""
    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _BPE_TRAINED:
        _BPE_TRAINED[sf_dir] = tx.bpe_train(
            docs, num_merges=200, vocab_cap=10_000
        )
    model = _BPE_TRAINED[sf_dir]
    return (
        tx.bpe_token_counts(docs, model, group_cols=("source",))
        .select(
            "source",
            "ws_tokens",
            "bpe_tokens",
            "oov_words",
            F.expr("1000000 * bpe_tokens div ws_tokens").alias(
                "bpe_per_ws_ppm"
            ),
        )
    )


@_q(
    "q171_cdc_changelog",
    oracle="""
WITH applied1 AS (
  SELECT user_id, event_id, ts, event_type, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 3 = 0)
  WHERE rn = 1 AND event_type <> 'error'),
applied2 AS (
  SELECT user_id, event_id, ts, event_type, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events)
  WHERE rn = 1 AND event_type <> 'error')
SELECT COALESCE(n.user_id, o.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'c'
            WHEN n.user_id IS NULL THEN 'd'
            ELSE 'u' END AS op,
       o.event_id AS before_event_id,
       o.value    AS before_value,
       n.event_id AS after_event_id,
       n.value    AS after_value
FROM applied2 n FULL OUTER JOIN applied1 o ON n.user_id = o.user_id
WHERE o.user_id IS NULL OR n.user_id IS NULL
   OR o.event_id IS DISTINCT FROM n.event_id
   OR o.ts IS DISTINCT FROM n.ts
   OR o.event_type IS DISTINCT FROM n.event_type
   OR o.value IS DISTINCT FROM n.value
""",
)
def q171_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog extraction (round 10): ``CdcTarget.changes_since``
    — the applied-state delta between a committed watermark and now,
    one (key, op, before, after) row per key whose applied row changed.

    This is the changelog an incremental aggregate folds to stay
    EXACTLY-ONCE across re-fired triggers (CRASH_SOAK_sf1.txt /
    SCALING.md: a batch-derived changelog permanently misses rows a
    crashed attempt committed, and double-folds replays; the state
    delta against the last FOLDED commit does neither — a replayed
    identical upsert yields an empty delta). The two-upsert split here
    (event_id mod 3) deliberately mixes timestamps across batches, so
    the delta must also stay silent for late rows that LOSE the
    sequence race — the oracle replays the diff of the two applied
    views. All three ops occur organically: new keys ('c'), newer rows
    ('u'), and keys whose corpus-wide latest is a delete marker ('d').

    Scale shape: a key-level full-outer diff of two applied views —
    shuffle on the key, no driver traffic; pass ``keys_filter`` (the
    trigger's batch keys, broadcast) to make it batch-bounded in the
    per-trigger fold path."""
    from db_cdc_poc_spark.streaming.cdc import CdcTarget
    from db_cdc_poc_spark.streaming.ephemeral import ephemeral_checkpoint_dir

    ev = _t(spark, sf_dir, "events")
    target = CdcTarget(
        ephemeral_checkpoint_dir("cdc_changelog_"),
        keys="user_id",
        sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"],
        tie_breakers="event_id",
        keep_versions=4,
    )
    target.upsert_batch(ev.filter(F.col("event_id") % 3 == 0))
    wm = target.state.commits()[-1]
    target.upsert_batch(ev.filter(F.col("event_id") % 3 != 0))
    return target.changes_since(spark, wm).select(
        "user_id",
        "op",
        F.col("before.event_id").alias("before_event_id"),
        F.col("before.value").alias("before_value"),
        F.col("after.event_id").alias("after_event_id"),
        F.col("after.value").alias("after_value"),
    )


@_q(
    "q172_kafka_wire_replay",
    oracle="""
WITH h AS (
  SELECT event_id, user_id, event_type,
         CAST(user_id % 4 AS INT) AS partition
  FROM events ORDER BY event_id LIMIT 500
)
SELECT partition,
       CAST(row_number() OVER (PARTITION BY partition
                               ORDER BY event_id) - 1 AS BIGINT) AS offset,
       user_id, event_type
FROM h
""",
)
def q172_kafka_wire_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka option semantics over the wire-shaped file source
    (sources/kafka_wire.py; S3/S4 behavioral parity, round 11): a
    deterministic 500-event head (parameter-bounded) is produced into
    a 4-partition file log keyed by ``user_id % 4`` — offsets are
    append order, i.e. event_id order within a partition — then
    consumed back through ``readStream.format("kafka_wire")`` with
    ``startingOffsets=earliest`` and ``maxOffsetsPerTrigger=64`` (so
    the drain spans multiple rate-limited micro-batches, the T4
    contract). The oracle replays partition/offset assignment
    relationally; any dropped, duplicated, or mis-ordered offset
    breaks the value hash.

    Scale shape: the log is the parallelism unit (one InputPartition
    per Kafka partition per micro-batch — a 1000-executor cluster fans
    out like the real connector); the 500-row head is a fixed
    parameter, never a corpus fraction."""
    import uuid

    from db_cdc_poc_spark.sources.kafka_wire import append_records, register
    from db_cdc_poc_spark.streaming.ephemeral import (
        discard_ephemeral_dir,
        ephemeral_checkpoint_dir,
    )

    ev = _t(spark, sf_dir, "events")
    head = (
        ev.select("event_id", "user_id", "event_type")
        .orderBy("event_id")
        .limit(500)
        .collect()  # parameter-bounded: fixed 500-row head
    )
    log = ephemeral_checkpoint_dir("kwire_q172_")
    by_p: dict[int, list] = {}
    for r in head:
        by_p.setdefault(int(r.user_id) % 4, []).append(
            (str(r.user_id), r.event_type, int(r.event_id))
        )
    for p, recs in sorted(by_p.items()):
        append_records(log, p, recs)
    register(spark)
    sink = f"q172_sink_{uuid.uuid4().hex[:8]}"
    checkpoint = ephemeral_checkpoint_dir("ckpt_q172_")
    q = (
        spark.readStream.format("kafka_wire")
        .option("path", log)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", "64")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        discard_ephemeral_dir(checkpoint)
    return spark.table(sink).select(
        "partition",
        "offset",
        F.col("key").cast("bigint").alias("user_id"),
        F.col("value").alias("event_type"),
    )


@_q(
    "q173_pq_wide_codes",
    oracle="""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cbv AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, e
    FROM v WHERE vec_id % 2 = 1 AND vec_id < 256
), subs AS (
    SELECT vec_id AS id, j.j AS sub_id, e[j.j*4+1 : j.j*4+4] AS sv
    FROM v, LATERAL (SELECT unnest(range(0, 16)) AS j) j
), cw AS (
    SELECT code_id, j.j AS sub_id, e[j.j*4+1 : j.j*4+4] AS cv,
           list_dot_product(e[j.j*4+1 : j.j*4+4],
                            e[j.j*4+1 : j.j*4+4]) AS cn2
    FROM cbv, LATERAL (SELECT unnest(range(0, 16)) AS j) j
), sc AS (
    SELECT id, s.sub_id, code_id,
           2 * list_dot_product(sv, cv) - cn2 AS score,
           list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv) + cn2 AS e2
    FROM subs s JOIN cw c ON s.sub_id = c.sub_id
), best AS (
    SELECT id, sub_id, code_id, e2 FROM sc
    QUALIFY row_number() OVER (PARTITION BY id, sub_id
                               ORDER BY score DESC, code_id) = 1
)
SELECT id AS vec_id,
       [CAST(sum(CASE WHEN sub_id < 9
                      THEN code_id << (sub_id * 7) ELSE 0 END) AS BIGINT),
        CAST(sum(CASE WHEN sub_id >= 9
                      THEN code_id << ((sub_id - 9) * 7) ELSE 0 END)
             AS BIGINT)] AS pq_code,
       CAST(sum(CAST(floor(greatest(e2, 0) * 1000000) AS BIGINT)) AS BIGINT)
           AS err_micro
FROM best GROUP BY id
""",
)
def q173_pq_wide_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDE product-quantization codes (vector_index.pq_codes with the
    r13 multi-word layout): 16 subspaces x 128 sampled codewords =
    112 bits per vector — past the single-BIGINT 63-bit cap the
    round-9/12 PQ curves showed throttles recall as the corpus grows.
    Codes pack little-endian into array<bigint> words, 9 seven-bit
    codes per word (codes never straddle words, bit 63 never used, so
    Spark's shiftleft sums and DuckDB's << sums agree exactly); the
    oracle replays assignment AND the two-word pack value-for-value.
    Reference parity: extends q161's flat-PQ packing
    (notebooks have no ANN surface; this is the LLM-pipeline column)."""
    from db_cdc_poc_spark.operators.vector_index import pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    cb = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 256))
    return pq_codes(emb, cb, m=16)  # 128 codewords -> auto-wide


@_q(
    "q174_pq_wide_adc",
    oracle="""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cbv AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, e
    FROM v WHERE vec_id % 2 = 1 AND vec_id < 256
), subs AS (
    SELECT vec_id AS id, j.j AS sub_id, e[j.j*4+1 : j.j*4+4] AS sv
    FROM v, LATERAL (SELECT unnest(range(0, 16)) AS j) j
), cw AS (
    SELECT code_id, j.j AS sub_id, e[j.j*4+1 : j.j*4+4] AS cv,
           list_dot_product(e[j.j*4+1 : j.j*4+4],
                            e[j.j*4+1 : j.j*4+4]) AS cn2
    FROM cbv, LATERAL (SELECT unnest(range(0, 16)) AS j) j
), best AS (
    SELECT id, sub_id, code_id FROM (
        SELECT id, s.sub_id, code_id,
               row_number() OVER (PARTITION BY id, s.sub_id
                                  ORDER BY 2 * list_dot_product(sv, cv) - cn2
                                           DESC, code_id) AS rn
        FROM subs s JOIN cw c ON s.sub_id = c.sub_id) s
    WHERE rn = 1
), lut AS (
    SELECT s.id AS query_id, s.sub_id, c.code_id,
           CAST(floor(greatest(
               list_dot_product(sv, sv)
               - 2 * list_dot_product(sv, cv) + cn2, 0) * 1000000)
               AS BIGINT) AS d_micro
    FROM subs s JOIN cw c ON s.sub_id = c.sub_id
    WHERE s.id < 10
), scored AS (
    SELECT l.query_id, b.id AS neighbor_id,
           CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
    FROM best b
    JOIN lut l ON l.sub_id = b.sub_id AND l.code_id = b.code_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_micro, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
""",
)
def q174_pq_wide_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 over the WIDE 112-bit codes (q173's layout): queries
    stay full-precision, the corpus is scanned as two-BIGINT packed
    codes, unpacked per subspace with element_at + shift/mask (the
    exact inverse of the pack — proven by the wide==narrow parity unit
    tests), and ranked by exact floor-scaled integer LUT sums. The
    oracle replays the LAYOUT-INDEPENDENT unpacked relations, so a
    wrong unpack on the Spark side breaks the value hash. This is the
    serving shape where more corpus demands more bits: same machinery
    as q162, 3.5x the code capacity."""
    from db_cdc_poc_spark.operators.vector_index import pq_adc_topk, pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    cb = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 256))
    codes = pq_codes(emb, cb, m=16)
    return pq_adc_topk(
        codes, emb.filter(F.col("vec_id") < 10), cb, m=16, k_top=5
    )


@_q(
    "q175_binary_quantize",
    oracle="""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), bits AS (
    SELECT vec_id, i.i AS i,
           CASE WHEN e[i.i + 1] > 0 THEN 1 ELSE 0 END AS b
    FROM v, LATERAL (SELECT unnest(range(0, 64)) AS i) i
)
SELECT vec_id,
       [CAST(sum(CASE WHEN i < 63 AND b = 1
                      THEN 1::BIGINT << i ELSE 0 END) AS BIGINT),
        CAST(sum(CASE WHEN i >= 63 AND b = 1
                      THEN 1::BIGINT << (i - 63) ELSE 0 END) AS BIGINT)]
           AS bq_code
FROM bits GROUP BY vec_id
""",
)
def q175_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization (similarity.binary_sign_codes): every
    embedding dimension becomes one sign bit, packed little-endian
    into 63-bit array<bigint> words (the wide-PQ word discipline —
    bit 63 never set, Spark and DuckDB shifts agree). 64-dim float64
    -> 16 bytes, the 32x-cheapest scan representation for a 100 TB
    embedding column; encoding is a pure-expression map (no explode,
    no shuffle). The oracle replays the bit pack value-for-value.
    Reference parity: none (notebooks have no vector surface); this
    is the LLM-pipeline similarity family's capacity floor, below
    q161/q173's PQ codes."""
    from db_cdc_poc_spark.operators.similarity import binary_sign_codes

    return binary_sign_codes(_t(spark, sf_dir, "embeddings"))


@_q(
    "q176_hamming_topk",
    oracle="""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), bits AS (
    SELECT vec_id, i.i AS i,
           CASE WHEN e[i.i + 1] > 0 THEN 1 ELSE 0 END AS b
    FROM v, LATERAL (SELECT unnest(range(0, 64)) AS i) i
), codes AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN i < 63 AND b = 1
                         THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS w0,
           CAST(sum(CASE WHEN i >= 63 AND b = 1
                         THEN 1::BIGINT << (i - 63) ELSE 0 END) AS BIGINT) AS w1
    FROM bits GROUP BY vec_id
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(bit_count(xor(q.w0, c.w0))
                + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
    FROM codes q JOIN codes c ON q.vec_id != c.vec_id
    WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, hamming,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, neighbor_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
""",
)
def q176_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-5 over the packed sign codes (q175): distance =
    XOR + popcount per 63-bit word, summed — a linear scan of 16-byte
    codes with the 10 query codes broadcast (the same bounded-query
    contract as q24's exact cosine, at 1/32 the bytes). Exact integer
    distances and (hamming, neighbor_id) ranking replay bit-for-bit
    in the oracle. The serving recipe at 100 TB: this scan (or an
    IVF-routed probe of it) produces the shortlist, exact_rerank
    rescues the 1-bit quantization loss — the same
    shortlist-then-rescue shape the PQ curve measured."""
    from db_cdc_poc_spark.operators.similarity import (
        binary_sign_codes,
        hamming_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codes = binary_sign_codes(emb)
    return hamming_topk(codes, codes.filter(F.col("vec_id") < 10))


def registry() -> dict[str, Query]:
    return dict(REGISTRY)
