"""Driver-contract workload: one entry per implemented operator from
SURVEY.md §2 (+ the training-data-pipeline extensions), each as a
(spark, sf_dir) → DataFrame callable with a DuckDB-equivalent ANSI-SQL
oracle string.

Numeric determinism rules (so the order-insensitive value-hash matches):
- money sums go through per-row ``CAST(x AS DECIMAL)`` first — decimal
  addition is exact and order-independent in both engines;
- float cosine/jaccard values are computed in double with a fixed
  index/sequential order and rounded (5/4 dp);
- every LIMIT is preceded by a total ORDER BY (unique tie-break);
- timestamps are compared/emitted under UTC (the Spark session TZ is
  pinned in ``kgap_spark.session.get_spark``; queries re-pin it
  defensively because the driver owns the session).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgap_spark.session import local_frame


def _cache_key(sf_dir: str, table: str) -> str:
    """Content-aware key for the build-once index caches in /tmp: the
    source parquet's (path, mtime, size) — a regenerated testdata dir
    invalidates the cache instead of serving a stale index."""
    import hashlib
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        raw = f"{path}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        raw = path
    return hashlib.md5(raw.encode()).hexdigest()[:16]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# Flagship: dictionary-based mention extraction over `documents`
# (the KG-construction core — SURVEY §7 step 2 — expressed on the
# driver's testdata tables; the fixture-corpus pipeline runs in tests).

# (alias, entity_id, lang, prior); '*' = any language; "join" is
# deliberately ambiguous (two entities, resolved by argmax prior).
MENTION_DICT = [
    ("spark", "urn:ent:spark", "*", 0.9),
    ("query", "urn:ent:query", "*", 0.8),
    ("join", "urn:ent:join-op", "*", 0.7),
    ("join", "urn:ent:join-road", "*", 0.4),
    ("filter", "urn:ent:filter", "*", 0.8),
    ("window", "urn:ent:window", "en", 0.8),
    ("stream", "urn:ent:stream", "*", 0.75),
    ("hash table", "urn:ent:hash-table", "*", 0.95),
    ("merge", "urn:ent:merge", "*", 0.6),
    ("scan", "urn:ent:scan", "*", 0.6),
    ("vector", "urn:ent:vector", "de", 0.5),
]


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents × broadcast alias dict → (subj, pred, obj) mention
    triples with lang routing + prior-argmax disambiguation (SURVEY
    §2.4 J6, §2.6 argmax window)."""
    from kgap_spark.mentions import mention_entities

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("url"),
        F.col("lang"),
        F.col("text"),
    )
    alias_dict = local_frame(
        spark, MENTION_DICT, "alias string, entity_id string, lang string, prior double"
    )
    return (
        mention_entities(docs, alias_dict).select(
            F.col("url").alias("subj"),
            F.lit("kgap:mentions").alias("pred"),
            F.col("entity_id").alias("obj"),
        )
        .distinct()
    )


def _mention_dict_values_sql() -> str:
    rows = ", ".join(
        f"('{a}', '{e}', '{l}', {p})" for a, e, l, p in MENTION_DICT
    )
    return f"(VALUES {rows}) AS d(alias, entity_id, lang, prior)"


ORACLE_KG_MENTIONS = f"""
WITH docs AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS url, lang,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM documents
), grams AS (
  SELECT url, lang, unnest(list_distinct(list_concat(
           toks,
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         ))) AS gram
  FROM docs
), cand AS (
  SELECT g.url, g.gram AS alias, d.entity_id, d.prior
  FROM grams g JOIN {_mention_dict_values_sql()}
    ON g.gram = d.alias AND (d.lang = '*' OR d.lang = g.lang)
), best AS (
  SELECT url, alias, entity_id,
         row_number() OVER (PARTITION BY url, alias
                            ORDER BY prior DESC, entity_id ASC) AS rn
  FROM (SELECT DISTINCT url, alias, entity_id, prior FROM cand)
)
SELECT DISTINCT url AS subj, 'kgap:mentions' AS pred, entity_id AS obj
FROM best WHERE rn = 1
"""


def q_kg_counts_by_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed triple/doc accounting (A4,
    docs/components/ldes-consumer.md:330-336): named graph per source."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.concat(F.lit("urn:kgap:ldes:"), F.col("source")).alias("graph"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_KG_COUNTS = (
    "SELECT 'urn:kgap:ldes:' || source AS graph, COUNT(*) AS n "
    "FROM documents GROUP BY source"
)


def q_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-tagged filtering (P7, FILTER(LANG(?x)='en'),
    docs/components/jupyter.md:439-440)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_en"))
    )


ORACLE_LANG_FILTER = (
    "SELECT source, COUNT(*) AS n_en FROM documents WHERE lang = 'en' GROUP BY source"
)


# ---------------------------------------------------------------------------
# Core relational operator patterns (SURVEY §2.2-2.8) on the TPC-H-ish
# tables.

def q_count_all(spark, sf_dir):
    """A1: SELECT (COUNT(*)) WHERE {?s ?p ?o} (quick-reference.md:186)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


ORACLE_COUNT_ALL = "SELECT COUNT(*) AS n FROM lineitem"


def q_group_count(spark, sf_dir):
    """A3: GROUP BY + COUNT (quick-reference.md:190-194)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_GROUP_COUNT = "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"


def q_count_distinct(spark, sf_dir):
    """A2: COUNT(DISTINCT ?s) (sembench.md:242)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_COUNT_DISTINCT = (
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type"
)


def q_max_ts(spark, sf_dir):
    """A5: MAX(?timestamp) (ldes-consumer.md:338-343)."""
    _utc(spark)
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("latest"))
    )


ORACLE_MAX_TS = (
    "SELECT event_type, strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest "
    "FROM events GROUP BY event_type"
)


def q_having(spark, sf_dir):
    """A6: GROUP BY + HAVING (advanced-topics.md:377-394)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 11)
    )


ORACLE_HAVING = (
    "SELECT o_custkey, COUNT(*) AS n_orders FROM orders "
    "GROUP BY o_custkey HAVING COUNT(*) > 11"
)


def q_distinct(spark, sf_dir):
    """A7: SELECT DISTINCT (quick-reference.md:191,197)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


ORACLE_DISTINCT = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q_topk(spark, sf_dir):
    """O3: ORDER BY DESC + LIMIT top-k (jupyter.md:184)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("l_partkey"))
        .limit(10)
    )


ORACLE_TOPK = (
    "SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY l_partkey "
    "ORDER BY n DESC, l_partkey ASC LIMIT 10"
)


def q_left_join(spark, sf_dir):
    """J3: OPTIONAL → left outer join (sembench.md:176-177)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


ORACLE_LEFT_JOIN = (
    "SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer "
    "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey"
)


def q_anti_join(spark, sf_dir):
    """J4: FILTER NOT EXISTS → anti join (jupyter.md:557-566).

    Orders are filtered to large totals so the anti side is non-empty at
    the oracle scale (every sf0.01 customer has *some* order — an
    unfiltered anti join verifies nothing)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000.0)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti").select("c_custkey")


ORACLE_ANTI_JOIN = (
    "SELECT c_custkey FROM customer WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_totalprice > 400000.0)"
)


def q_semi_join(spark, sf_dir):
    """J5: semi join membership (advanced-topics.md:112-119)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_semi").agg(
        F.count(F.lit(1)).alias("n_customers_with_orders")
    )


ORACLE_SEMI_JOIN = (
    "SELECT COUNT(*) AS n_customers_with_orders FROM customer WHERE EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
)


def q_bgp_chain(spark, sf_dir):
    """J1/J2: multi-hop BGP chain — the SPARQL 4-pattern join
    (advanced-topics.md:299-311) as region→nation→customer→orders."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        r.join(n, r["r_regionkey"] == n["n_regionkey"])
        .join(c, n["n_nationkey"] == c["c_nationkey"])
        .join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_BGP_CHAIN = (
    "SELECT r_name, COUNT(*) AS n_orders FROM region "
    "JOIN nation ON r_regionkey = n_regionkey "
    "JOIN customer ON n_nationkey = c_nationkey "
    "JOIN orders ON c_custkey = o_custkey GROUP BY r_name"
)


def q_range_filter(spark, sf_dir):
    """P4: numeric range filter (advanced-topics.md:167)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 10))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


ORACLE_RANGE_FILTER = (
    "SELECT COUNT(*) AS n, SUM(l_quantity) AS sum_qty FROM lineitem "
    "WHERE l_quantity >= 5 AND l_quantity <= 10"
)


def q_ts_filter(spark, sf_dir):
    """P5: timestamp filter (advanced-topics.md:336)."""
    _utc(spark)
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_TS_FILTER = (
    "SELECT event_type, COUNT(*) AS n FROM events "
    "WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY event_type"
)


def q_conditional(spark, sf_dir):
    """P2/F5: BIND(IF(...)) computed projection (sembench.md:178-179)."""
    return (
        _t(spark, sf_dir, "orders")
        .withColumn(
            "bucket",
            F.when(F.col("o_totalprice") > 200000, F.lit("high")).otherwise(
                F.lit("low")
            ),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_CONDITIONAL = (
    "SELECT CASE WHEN o_totalprice > 200000 THEN 'high' ELSE 'low' END AS bucket, "
    "COUNT(*) AS n FROM orders GROUP BY 1"
)


def q_str_funcs(spark, sf_dir):
    """F1/F2/F4: CONTAINS / STRLEN / CONCAT (faq.md:216-222,
    sembench.md:209, advanced-topics.md:368)."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("ol"))
        .select(
            "p_partkey",
            F.length("p_name").alias("name_len"),
            F.concat_ws("-", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        )
    )


ORACLE_STR_FUNCS = (
    "SELECT p_partkey, LENGTH(p_name) AS name_len, "
    "p_brand || '-' || p_type AS brand_type FROM part WHERE contains(p_name, 'ol')"
)


def q_limit_early(spark, sf_dir):
    """O5: limit-early staging before a join (advanced-topics.md:439-462).
    Catalyst won't push limits through joins either — staged explicitly."""
    o = _t(spark, sf_dir, "orders").orderBy("o_orderkey").limit(1000)
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("l_quantity").alias("sum_qty"))
    )


ORACLE_LIMIT_EARLY = (
    "SELECT COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty FROM "
    "(SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000) o "
    "JOIN lineitem ON o.o_orderkey = l_orderkey"
)


def _dec(col: str):
    """TPC-H money arithmetic: decimal(18,2) casts so Spark and the
    DuckDB oracles agree digit-for-digit (shared by Q1/Q3/Q5/Q6)."""
    return F.col(col).cast("decimal(18,2)")


def _tpch_revenue():
    """sum(l_extendedprice * (1 - l_discount)) — ONE definition for
    every query and its paired oracle string."""
    return F.sum(
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    )


def q_tpch_q1(spark, sf_dir):
    """A-series showcase: TPC-H Q1 shape. Money sums go through
    per-row DECIMAL casts (exact, order-independent) then back to
    rounded doubles — hash-stable across engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_latest_version(spark, sf_dir):
    """U6: versioned-member materialization — latest record per key
    (MATERIALIZE, ldes-feeds-example.yml:16,20).

    r07: the row_number window (shuffle + full per-user sort) became a
    hash-aggregation argmax — ``max(struct(ts, event_id, event_type))``
    picks the same row as ``row_number() OVER (ORDER BY ts DESC,
    event_id DESC) = 1`` because struct comparison is lexicographic and
    (ts, event_id) leads. Map-side partial aggregation replaces the
    per-partition sort, which also neutralizes hot-user skew at scale
    (same pattern as link.score.link_mentions)."""
    _utc(spark)
    e = _t(spark, sf_dir, "events")
    best = (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("_b"))
    )
    return best.select(
        "user_id",
        F.col("_b.event_type").alias("event_type"),
        F.date_format("_b.ts", "yyyy-MM-dd HH:mm:ss").alias("latest"),
    )


ORACLE_LATEST_VERSION = """
SELECT user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) rn
      FROM events) WHERE rn = 1
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join (region→nation→customer→orders→
    lineitem→supplier with the c_nationkey = s_nationkey co-location
    constraint) + decimal revenue agg — the heaviest multiway-join
    pattern in the workload. Catalyst broadcast-plans the dimension
    chain (region/nation/supplier are dim-sized); the fact-fact join
    shuffles once on orderkey."""
    _utc(spark)
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = _tpch_revenue()
    joined = (
        r.join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(rev.cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


ORACLE_TPCH_Q5 = """
SELECT n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
         AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q_sessionize_native(spark, sf_dir):
    """Sessionization via Spark's NATIVE session windows
    (``F.session_window``, gap-merging inside the agg operator — the
    same operator runs under Structured Streaming with watermark-based
    state eviction). Same 30-min gap rule and oracle as the lag-based
    twin: two independent implementations, one oracle.

    Gap semantics note: ``session_window`` keeps events together when
    the delta is strictly LESS than the gap; the lag twin when the
    delta is ≤ 1800 s. The gap is therefore 1800 s + 1 µs (one tick at
    timestamp resolution), making both formulations identical on all
    inputs."""
    _utc(spark)
    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sessions = e.groupBy(
        "user_id", F.session_window("ts", "1800 seconds 1 microseconds")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        sessions.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: per-user session count with 30-min gap rule
    (lag + flag-sum; the batch analog of session windows)."""
    _utc(spark)
    e = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ from parquet; route via TIMESTAMP (session
    # pinned UTC) to get fractional epoch seconds, matching DuckDB's
    # epoch() over the same naive values.
    secs = F.col("ts").cast("timestamp").cast("double")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag(secs).over(w)
    new_s = F.when(prev.isNull() | ((secs - prev) > 1800.0), 1).otherwise(0)
    return (
        e.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"))
    )


ORACLE_SESSIONIZE = """
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions FROM (
  SELECT user_id,
         CASE WHEN prev IS NULL OR (epoch(ts) - epoch(prev)) > 1800.0
              THEN 1 ELSE 0 END AS new_s
  FROM (SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC) AS prev
        FROM events)
) GROUP BY user_id
"""


def q_dereference(spark, sf_dir):
    """J7: recursive dereference — 2-hop frontier traversal over a
    triple-ized customer→nation→region edge set
    (advanced-topics.md:226-277)."""
    from kgap_spark.query.traverse import recursive_dereference

    c = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("subj"),
        F.lit("in_nation").alias("pred"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("obj"),
    )
    n = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("subj"),
        F.lit("in_region").alias("pred"),
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("obj"),
    )
    triples = c.unionByName(n)
    start = c.select(F.col("subj").alias("node")).distinct()
    edges = recursive_dereference(triples, start, max_depth=2, uri_only=False)
    return edges.groupBy("depth", "pred").agg(F.count(F.lit(1)).alias("n_edges"))


ORACLE_DEREFERENCE = """
WITH hop1 AS (
  SELECT DISTINCT 'cust:' || CAST(c_custkey AS VARCHAR) AS src,
         'in_nation' AS pred,
         'nation:' || CAST(c_nationkey AS VARCHAR) AS node
  FROM customer
), hop2 AS (
  SELECT DISTINCT h.node AS src, 'in_region' AS pred,
         'region:' || CAST(n_regionkey AS VARCHAR) AS node
  FROM (SELECT DISTINCT node FROM hop1) h
  JOIN nation ON h.node = 'nation:' || CAST(n_nationkey AS VARCHAR)
)
SELECT 1 AS depth, 'in_nation' AS pred, COUNT(*) AS n_edges FROM hop1
UNION ALL
SELECT 2 AS depth, 'in_region' AS pred, COUNT(*) AS n_edges FROM hop2
"""


# ---------------------------------------------------------------------------
# Text analysis over `documents` (native Catalyst; training-data ops).

def q_doc_token_count(spark, sf_dir):
    from kgap_spark.functions.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


ORACLE_DOC_TOKEN_COUNT = (
    "SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
    "t -> t <> '')) AS n_tokens FROM documents"
)


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish subword-proxy token count (word/number units + isolated
    punctuation units), fully native."""
    from kgap_spark.functions.textstats import bpe_ish_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe"))


ORACLE_BPE_TOKEN_COUNT = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       t -> t <> ''))
       + len(list_filter(regexp_split_to_array(text, '[a-zA-Z0-9\\s]+'),
                         t -> t <> '')) AS n_bpe
FROM documents
"""


def q_frame_sample_plan(spark, sf_dir):
    """Video frame-sampling plan: (media_id, frame_idx) rows for a
    downstream decoder — native explode, no decode."""
    from kgap_spark.functions.multimodal import frame_sample_plan

    media = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("media:"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("video").alias("kind"),
    )
    return frame_sample_plan(media, every_n=5)


ORACLE_FRAME_SAMPLE = """
SELECT 'media:' || CAST(doc_id AS VARCHAR) AS media_id,
       CAST(i AS INT) AS frame_idx
FROM documents, range(0, 5) r(i)
"""


def q_doc_quality(spark, sf_dir):
    from kgap_spark.functions.textstats import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


ORACLE_DOC_QUALITY = """
SELECT doc_id,
       ROUND(least(1.0, n / 100.0) *
             (1.0 - least(1.0, abs(nsp / greatest(CAST(n AS DOUBLE), 1.0) - 5.0) / 10.0)), 4)
       AS quality
FROM (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS n,
         length(regexp_replace(lower(text), '\\s+', '', 'g')) AS nsp
  FROM documents)
"""


def q_doc_lang_id(spark, sf_dir):
    from kgap_spark.functions.textstats import language_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


ORACLE_DOC_LANG_ID = """
WITH s AS (
  SELECT doc_id,
    len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS de,
    len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS en,
    len(list_filter(toks, t -> t IN ('el','la','los','y','es'))) AS es,
    len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS fr
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') toks
        FROM documents)
)
SELECT doc_id,
  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
       WHEN en > de AND en >= es AND en >= fr THEN 'en'
       WHEN es > de AND es > en AND es >= fr THEN 'es'
       WHEN fr > de AND fr > en AND fr > es THEN 'fr'
       ELSE 'de' END AS lang_pred
FROM s
"""


def q_doc_fingerprint(spark, sf_dir):
    from kgap_spark.functions.textstats import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


ORACLE_DOC_FINGERPRINT = (
    "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp "
    "FROM documents"
)


# ---------------------------------------------------------------------------
# Deduplication (training-data ops).

def q_quality_topk_per_source(spark, sf_dir):
    """Curation: top-3 docs per source by quality (desc) with doc_id
    tie-break — the keep-best-K-per-domain selection op."""
    from kgap_spark.functions.selection import topk_per_group
    from kgap_spark.functions.textstats import quality_score

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    return topk_per_group(
        d, "source", [F.desc("quality"), F.asc("doc_id")], k=3
    )


ORACLE_QUALITY_TOPK = """
WITH q AS (
  SELECT doc_id, source,
         ROUND(least(1.0, n / 100.0) *
               (1.0 - least(1.0, abs(nsp / greatest(CAST(n AS DOUBLE), 1.0) - 5.0) / 10.0)), 4)
           AS quality
  FROM (
    SELECT doc_id, source,
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS n,
           length(regexp_replace(lower(text), '\\s+', '', 'g')) AS nsp
    FROM documents)
), ranked AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rk
  FROM q
)
SELECT doc_id, source, quality FROM ranked WHERE rk <= 3
"""


def q_doc_split(spark, sf_dir):
    """Curation: deterministic train/val/test assignment by content
    hash — stable across runs, partitionings, and engines."""
    from kgap_spark.functions.selection import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return hash_split(d, "text").select("doc_id", "split")


ORACLE_DOC_SPLIT = """
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS b
      FROM documents)
"""


def q_doc_len_quantiles(spark, sf_dir):
    """Curation: per-language length-distribution quantiles (exact,
    interpolated — drift monitoring)."""
    from kgap_spark.functions.selection import length_quantiles

    d = _t(spark, sf_dir, "documents")
    return length_quantiles(d, "lang", "n_chars")


ORACLE_DOC_LEN_QUANTILES = """
SELECT lang,
       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
       ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY lang
"""


def q_doc_mix(spark, sf_dir):
    """Curation: deterministic weighted source mixing — src0 kept
    fully, src1 at 50%, src2 at 10%, everything else at 25%."""
    from kgap_spark.functions.selection import weighted_mix

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mixed = weighted_mix(
        d, "source", "text",
        {"src0": 1.0, "src1": 0.5, "src2": 0.1},
        default_fraction=0.25,
    )
    return mixed.select("doc_id", "source")


ORACLE_DOC_MIX = """
SELECT doc_id, source
FROM (SELECT doc_id, source,
             ('0x' || substr(md5(text), 1, 8))::BIGINT % 10000 AS b
      FROM documents)
WHERE b < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                       WHEN 'src2' THEN 0.1 ELSE 0.25 END) * 10000
"""


def q_doc_pack(spark, sf_dir):
    """Curation: concat-then-chunk sequence packing per source with a
    512-token budget — (doc, start_offset, seq_id) assignment."""
    from kgap_spark.functions.selection import pack_documents
    from kgap_spark.functions.textstats import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_documents(d, "source", "doc_id", "n_tokens", budget=512)


ORACLE_DOC_PACK = """
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tokens AS BIGINT) AS start_offset,
       CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tokens) / 512) AS BIGINT) AS seq_id
FROM t
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup with an injected duplicate block: the synthetic
    documents table has no byte-identical texts, so docs 0–24 are
    re-tagged (doc_id+10000) and unioned in — the operator must find
    exactly those 25 groups (mirrored in the oracle SQL)."""
    from kgap_spark.functions.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(dup), "doc_id", "text")


ORACLE_DEDUP_EXACT = """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 25
)
SELECT fp, COUNT(*) AS n_docs, MIN(doc) AS first_doc, MAX(doc) AS last_doc
FROM (SELECT doc_id AS doc,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM docs)
GROUP BY fp HAVING COUNT(*) > 1
"""


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs with the document-frequency cap ACTIVE (df ≤ 10):
    the scale guard itself is oracle-verified, not just the happy
    path."""
    from kgap_spark.functions.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.01, max_shingle_df=10
    )


ORACLE_NGRAM_JACCARD = """
WITH d AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents WHERE doc_id < 40
), sh0 AS (
  SELECT doc, unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM d WHERE len(t) >= 3
), keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 10
), sh AS (
  SELECT sh0.doc, sh0.shingle FROM sh0 JOIN keep USING (shingle)
), sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc JOIN sizes sb ON doc_b = sb.doc
WHERE ROUND(i / (sa.sz + sb.sz - i), 4) >= 0.01
"""


def q_minhash_band(spark, sf_dir):
    from kgap_spark.functions.dedup import minhash_band_candidates

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return minhash_band_candidates(d, "doc_id", "text", n=3, bands=4)


ORACLE_MINHASH_BAND = """
WITH d AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
  FROM documents WHERE doc_id < 60
), sh AS (
  SELECT doc, unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM d WHERE len(t) >= 3
), sig AS (
  SELECT doc, band, MIN(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS band_sig
  FROM sh, range(0, 4) r(band) GROUP BY doc, band
)
SELECT DISTINCT s1.doc AS doc_a, s2.doc AS doc_b
FROM sig s1 JOIN sig s2
  ON s1.band = s2.band AND s1.band_sig = s2.band_sig AND s1.doc < s2.doc
"""


def q_simhash(spark, sf_dir):
    from kgap_spark.functions.dedup import simhash

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return simhash(d, "doc_id", "text")


ORACLE_SIMHASH = """
WITH tf AS (
  SELECT doc_id AS doc, tok, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
    FROM documents WHERE doc_id < 50)
  GROUP BY 1, 2
), h AS (
  SELECT doc, tf, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tf
), votes AS (
  SELECT doc, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM h, range(0, 32) r(i) GROUP BY doc, i
)
SELECT doc, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc
"""


# ---------------------------------------------------------------------------
# Full-text search + similarity search.

def q_fts_search(spark, sf_dir):
    """F9: Lucene FTS analog — posting table + TF-scored search
    (quick-reference.md:215-222, template-repo-config.ttl:29-32)."""
    from kgap_spark.index.fts import build_posting_table, fts_search

    posting = build_posting_table(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return fts_search(posting, "join stream", k=20)


ORACLE_FTS_SEARCH = """
WITH posting AS (
  SELECT doc_id AS subj, tok AS token, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      t -> t <> '')) AS tok
    FROM documents)
  GROUP BY 1, 2
)
SELECT subj, CAST(SUM(tf) AS BIGINT) AS score, COUNT(DISTINCT token) AS n_terms
FROM posting WHERE token IN ('join', 'stream')
GROUP BY subj ORDER BY score DESC, n_terms DESC, subj ASC LIMIT 20
"""


# tf·idf twin of the above: idf = ln((N+1)/(df+1)), N = corpus size,
# df = docs containing the token; round(…, 6) on both engines (the
# per-doc sum has ≤ |query tokens| addends, so fp accumulation order
# cannot flip the 6th decimal).
ORACLE_FTS_TFIDF = """
WITH posting AS (
  SELECT doc_id AS subj, tok AS token, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      t -> t <> '')) AS tok
    FROM documents)
  GROUP BY 1, 2
),
hits AS (SELECT * FROM posting WHERE token IN ('join', 'stream')),
df AS (SELECT token, COUNT(DISTINCT subj) AS df FROM hits GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
SELECT h.subj,
       ROUND(SUM(h.tf * ln((n.n + 1.0) / (df.df + 1.0))), 6) AS score,
       COUNT(DISTINCT h.token) AS n_terms
FROM hits h JOIN df ON h.token = df.token CROSS JOIN n
GROUP BY h.subj
ORDER BY score DESC, n_terms DESC, subj ASC LIMIT 20
"""


def q_fts_search_indexed(spark, sf_dir):
    """F9 production path: the posting table MATERIALIZED partitioned by
    token bucket (built once per sf_dir, cached); the search prunes to
    its query tokens' buckets instead of rebuilding the index. Scored
    tf·idf (the Lucene-relevance analog: luc:score,
    quick-reference.md:215-222) with df from the pruned posting rows and
    the corpus size from the index's _doc_count sidecar."""
    import os

    from kgap_spark.index.fts import (
        build_posting_table,
        fts_search_indexed,
        write_posting_table,
    )

    # v3: crc32 token buckets — bust the xxhash64-bucketed v2 caches
    idx_dir = os.path.join(
        "/tmp/kgap_fts_v3", _cache_key(sf_dir, "documents")
    )
    if not os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        docs = _t(spark, sf_dir, "documents")
        posting = build_posting_table(docs, "doc_id", "text")
        write_posting_table(posting, idx_dir, n_docs=docs.count())
    return fts_search_indexed(spark, idx_dir, "join stream", k=20,
                              scoring="tfidf")


SHACL_DOC_SHAPE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:DocShape a sh:NodeShape ;
    sh:targetClass ex:Doc ;
    sh:property [ sh:path ex:title ; sh:minCount 1 ] ;
    sh:property [ sh:path ex:lang ; sh:in ( "en" "de" ) ] .
"""


def q_shacl_validate(spark, sf_dir):
    """U5: SHACL shape file → distributed validation. The documents
    table is triple-ized (rdf:type + ex:lang), then validated against a
    shape requiring ex:title (absent → every doc violates) and
    restricting ex:lang to {en, de} — both violation families have an
    exact SQL oracle."""
    from kgap_spark.validate.shacl import validate_with_shape

    d = _t(spark, sf_dir, "documents")
    subj = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
    nulls = [
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit("urn:g").alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    ]
    types = d.select(
        subj.alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.lit("http://example.org/Doc").alias("obj"),
        *nulls,
    )
    langs = d.select(
        subj.alias("subj"),
        F.lit("http://example.org/lang").alias("pred"),
        F.col("lang").alias("obj"),
        *nulls,
    )
    return validate_with_shape(types.unionByName(langs), SHACL_DOC_SHAPE)


ORACLE_SHACL_VALIDATE = """
WITH e AS (SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS entity, lang
           FROM documents)
SELECT entity, 'missing required http://example.org/title' AS issue FROM e
UNION ALL
SELECT entity,
       'http://example.org/lang value not allowed: ' || lang AS issue
FROM e WHERE lang NOT IN ('en', 'de')
"""


def q_emb_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 embedding — exact ANN
    baseline, all-native double arithmetic."""
    from kgap_spark.functions.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    # inline the query vector as a literal array (driver-side fetch):
    # no join node at all — the scan + TakeOrderedAndProject is the
    # whole plan (float→double widening is exact, values unchanged).
    # r07: route through cosine_topk, which precomputes ||q|| in
    # Python — the previous inline _norm(qe) over the literal array is
    # a higher-order function, which Catalyst cannot constant-fold, so
    # every row re-reduced the 128-element query norm. The Python sum
    # folds left-to-right over the same doubles — bit-identical.
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0)
            .select("embedding").first()[0]]
    return cosine_topk(e, qvec, k=10)


ORACLE_EMB_COSINE_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(embedding::DOUBLE[], qe) /
             (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              sqrt(list_dot_product(qe, qe))), 5) AS cosine
FROM embeddings, q
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# Non-SQL-expressible ops (driver records a rows-only check).

def q_emb_lsh_topk(spark, sf_dir):
    """Approximate ANN, production path: a materialized signature table
    partitioned by `_sig` (built once per sf_dir, cached), then a
    partition-pruned bucket probe + in-bucket cosine (verified against
    brute force in pytest, not SQL-expressible)."""
    import os

    from kgap_spark.functions.similarity import (
        build_signature_table,
        lsh_topk_from_signature_table,
    )

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0)
            .select("embedding").first()[0]]
    sig_dir = os.path.join(
        "/tmp/kgap_sig", _cache_key(sf_dir, "embeddings")
    )
    if not os.path.exists(os.path.join(sig_dir, "_SUCCESS")):
        build_signature_table(e, sig_dir, n_planes=6)
    return lsh_topk_from_signature_table(spark, sig_dir, qvec, k=10, n_planes=6)


def _doc_triples(spark, sf_dir, multigraph: bool = False):
    """documents → a small triple graph for the canned hygiene queries:
    rdf:type = source for every doc, a second rdf:type ex:Short for
    short docs (conflict vector), rdfs:label only for 'en' docs.
    ``multigraph``: graph = urn:g:{source} (one named graph per feed,
    the GRAPH ?var workload shape) instead of a single urn:g."""
    d = _t(spark, sf_dir, "documents")
    subj = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
    graph_col = (
        F.concat(F.lit("urn:g:"), F.col("source")) if multigraph
        else F.lit("urn:g")
    )
    nulls = [
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        graph_col.alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    ]
    t1 = d.select(subj.alias("subj"), F.lit("rdf:type").alias("pred"),
                  F.col("source").alias("obj"), *nulls)
    t2 = d.filter(F.col("n_chars") < 200).select(
        subj.alias("subj"), F.lit("rdf:type").alias("pred"),
        F.lit("ex:Short").alias("obj"), *nulls)
    t3 = d.filter(F.col("lang") == "en").select(
        subj.alias("subj"), F.lit("rdfs:label").alias("pred"),
        F.col("text").substr(1, 20).alias("obj"), *nulls)
    return t1.unionByName(t2).unionByName(t3)


def q_type_distribution(spark, sf_dir):
    """Canned hygiene query: top-k entity types
    (docs/quick-reference.md:190-194)."""
    from kgap_spark.query.patterns import type_distribution

    return type_distribution(_doc_triples(spark, sf_dir), k=10)


ORACLE_TYPE_DISTRIBUTION = """
WITH t AS (
  SELECT source AS type FROM documents
  UNION ALL
  SELECT 'ex:Short' AS type FROM documents WHERE n_chars < 200
)
SELECT type, COUNT(*) AS n FROM t
GROUP BY type ORDER BY n DESC, type LIMIT 10
"""


def q_entities_without_label(spark, sf_dir):
    """Canned hygiene query: subjects lacking rdfs:label
    (docs/components/jupyter.md:557-566) — anti join."""
    from kgap_spark.query.patterns import entities_without_label

    return entities_without_label(_doc_triples(spark, sf_dir))


ORACLE_ENTITIES_WITHOUT_LABEL = """
SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS entity
FROM documents WHERE lang <> 'en'
"""


def q_conflicting_types(spark, sf_dir):
    """Canned hygiene query: entities with >1 rdf:type
    (docs/advanced-topics.md:377-394)."""
    from kgap_spark.query.patterns import conflicting_types

    return conflicting_types(_doc_triples(spark, sf_dir))


ORACLE_CONFLICTING_TYPES = """
SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS entity,
       CAST(2 AS BIGINT) AS n_types
FROM documents WHERE n_chars < 200
"""


def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition signals: most-frequent-word share
    (explode + keyed partial aggs) and duplicate-3-gram share (pure
    per-row array ops, zero shuffle) — the boilerplate/spam filters of
    a training-data pipeline."""
    from kgap_spark.functions.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_DOC_REPETITION = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS tks
  FROM documents),
tri AS (
  SELECT doc_id, len(tks) AS n,
         CASE WHEN len(tks) >= 3 THEN
           list_transform(range(1, len(tks) - 1),
                          i -> tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2])
         ELSE [] END AS tg
  FROM t),
wc AS (
  SELECT doc_id, MAX(c) AS topc, SUM(c) AS ntok FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(tks) AS tok FROM t) GROUP BY 1, 2)
  GROUP BY 1)
SELECT tri.doc_id,
  ROUND(CASE WHEN COALESCE(wc.ntok, 0) > 0
             THEN wc.topc::DOUBLE / wc.ntok ELSE 0.0 END, 6) AS top_word_frac,
  ROUND(CASE WHEN len(tg) > 0
             THEN (len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg)
             ELSE 0.0 END, 6) AS dup_trigram_frac
FROM tri LEFT JOIN wc ON tri.doc_id = wc.doc_id
"""


PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{1,3}[ \-][0-9]{2,4}[ \-][0-9]{4,8}"


def q_pii_redact(spark, sf_dir):
    """PII scrubbing: the corpus gets one deterministic email + phone
    appended per doc (the synthetic text has none — injection inside
    query AND oracle, the anti_join pattern), then emails/phones are
    counted and redacted in one native regexp scan (no shuffle)."""
    from kgap_spark.functions.textstats import redact_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +32 123 4567"),
        ).alias("text"),
    )
    out = redact_pii(d, "doc_id", "text")
    return out.select(
        "doc_id", "n_emails", "n_phones",
        F.expr("right(clean_text, 80)").alias("clean_tail"),
    )


ORACLE_PII_REDACT = """
WITH d AS (
  SELECT doc_id,
         text || ' contact doc' || CAST(doc_id AS VARCHAR)
              || '@example.com or +32 123 4567' AS text
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text,
    '\\+[0-9]{1,3}[ \\-][0-9]{2,4}[ \\-][0-9]{4,8}')) AS BIGINT) AS n_phones,
  right(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      '\\+[0-9]{1,3}[ \\-][0-9]{2,4}[ \\-][0-9]{4,8}', '[PHONE]', 'g'),
    80) AS clean_tail
FROM d
"""


SPARQL_TYPE_COUNTS = """
SELECT ?type (COUNT(?d) as ?n)
WHERE { ?d a ?type . }
GROUP BY ?type
ORDER BY DESC(?n) ?type
"""


def q_sparql_select(spark, sf_dir):
    """SPARQL-text front-end, end-to-end: the doc-triple graph queried
    from a SPARQL string (parse → bgp/groupBy compile → Catalyst plan;
    the notebooks' query surface, kgap_tools.py:17-26,
    quick-reference.md:190-196)."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_doc_triples(spark, sf_dir), SPARQL_TYPE_COUNTS)


ORACLE_SPARQL_SELECT = """
SELECT type, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT source AS type FROM documents
  UNION ALL
  SELECT 'ex:Short' AS type FROM documents WHERE n_chars < 200
) GROUP BY type ORDER BY n DESC, type
"""


SPARQL_UNLABELED = """
PREFIX ex: <http://example.org/>
SELECT ?d ?type
WHERE {
  ?d a ?type .
  FILTER(?type != "ex:Short")
  FILTER NOT EXISTS { ?d rdfs:label ?label }
}
ORDER BY ?d ?type
"""


def q_sparql_notexists(spark, sf_dir):
    """SPARQL front-end with FILTER + FILTER NOT EXISTS (the jupyter
    data-quality pattern, jupyter.md:557-566) compiled to a
    filtered-scan + anti join."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_doc_triples(spark, sf_dir), SPARQL_UNLABELED)


ORACLE_SPARQL_NOTEXISTS = """
SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d, source AS type
FROM documents WHERE lang <> 'en' ORDER BY d, type
"""


SPARQL_GRAPH_COUNTS = """
# Count triples per named graph (per feed)
SELECT ?graph (COUNT(*) as ?count)
WHERE {
  GRAPH ?graph { ?s ?p ?o . }
}
GROUP BY ?graph
ORDER BY DESC(?count) ?graph
"""


def q_sparql_graph_counts(spark, sf_dir):
    """GRAPH ?var through the SPARQL-text front-end — the reference's
    per-feed accounting query (docs/components/ldes-consumer.md:
    330-336; verbatim form in tests/test_sparql.py) over a multi-graph
    doc-triple store (one named graph per source feed). The graph
    column binds as ?graph inside the scope and the whole thing
    compiles to one grouped aggregate over the quad scan."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(
        _doc_triples(spark, sf_dir, multigraph=True), SPARQL_GRAPH_COUNTS
    )


ORACLE_SPARQL_GRAPH_COUNTS = """
WITH t AS (
  SELECT source FROM documents
  UNION ALL SELECT source FROM documents WHERE n_chars < 200
  UNION ALL SELECT source FROM documents WHERE lang = 'en'
)
SELECT 'urn:g:' || source AS graph, CAST(COUNT(*) AS BIGINT) AS "count"
FROM t GROUP BY 1 ORDER BY 2 DESC, 1
"""


SPARQL_HAVING = """
SELECT ?g (COUNT(*) AS ?n)
WHERE { GRAPH ?g { ?s rdf:type ?t } }
GROUP BY ?g
HAVING ((COUNT(*) > 32 && MIN(?t) = "ex:Short") || STRLEN(?g) <= 10)
ORDER BY ?g
"""


def q_sparql_having(spark, sf_dir):
    """General HAVING through the SPARQL-text front-end (§11.1 widened
    past `<aggregate> <op> <number>` in round 6): boolean combination
    of two aggregates (one of them projected nowhere — lifted into a
    hidden aggregate column) and a function over the group key,
    compiling through the same expression machinery as FILTER."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(
        _doc_triples(spark, sf_dir, multigraph=True), SPARQL_HAVING
    )


ORACLE_SPARQL_HAVING = """
WITH t AS (
  SELECT 'urn:g:' || source AS g, source AS tt FROM documents
  UNION ALL
  SELECT 'urn:g:' || source, 'ex:Short' FROM documents WHERE n_chars < 200
)
SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY g
HAVING (COUNT(*) > 32 AND MIN(tt) = 'ex:Short') OR LENGTH(g) <= 10
ORDER BY g
"""


SPARQL_SUBSELECT = """
SELECT ?d (COUNT(?type) AS ?n_types)
WHERE {
  { SELECT ?d WHERE { ?d rdfs:label ?l } ORDER BY ?d LIMIT 50 }
  ?d a ?type .
}
GROUP BY ?d
ORDER BY ?d
"""


def q_sparql_subselect(spark, sf_dir):
    """Nested { SELECT … LIMIT } sub-query through the front-end — the
    docs' limit-early staging (advanced-topics.md:441-452): the
    TakeOrderedAndProject(50) runs BELOW the type join (plan-asserted
    in tests/test_sparql.py)."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_doc_triples(spark, sf_dir), SPARQL_SUBSELECT)


ORACLE_SPARQL_SUBSELECT = """
WITH sub AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d FROM documents
  WHERE lang = 'en' ORDER BY d LIMIT 50
), t AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d FROM documents
  UNION ALL
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d FROM documents
  WHERE n_chars < 200
)
SELECT sub.d AS d, CAST(COUNT(*) AS BIGINT) AS n_types
FROM sub JOIN t ON sub.d = t.d GROUP BY sub.d ORDER BY sub.d
"""


SPARQL_MINUS = """
SELECT ?d ?type
WHERE {
  ?d a ?type .
  FILTER(?type != "ex:Short")
  MINUS { ?d rdfs:label ?l }
}
ORDER BY ?d ?type
"""


def q_sparql_minus(spark, sf_dir):
    """SPARQL MINUS through the front-end (compiles to a distinct
    projection + anti join; on this shape — shared ?d bound on both
    sides — it agrees with the NOT EXISTS formulation, so the same
    oracle applies)."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_doc_triples(spark, sf_dir), SPARQL_MINUS)


SPARQL_MINUS_DISJOINT = """
SELECT ?d ?type
WHERE {
  ?d a ?type .
  MINUS { ?x rdfs:label ?l }
}
ORDER BY ?d ?type
"""


def q_sparql_minus_disjoint(spark, sf_dir):
    """The MINUS case that DIVERGES from NOT EXISTS: the MINUS group
    shares no variables with the outer pattern, so no solution pair
    has a compatible non-empty domain and MINUS removes NOTHING
    (SPARQL 1.1 §8.3.3; a NOT EXISTS here would empty the result).
    Oracle = the full outer set."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_doc_triples(spark, sf_dir),
                          SPARQL_MINUS_DISJOINT)


ORACLE_SPARQL_MINUS_DISJOINT = """
WITH t AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d, source AS type
  FROM documents
  UNION ALL
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d, 'ex:Short' AS type
  FROM documents WHERE n_chars < 200
)
SELECT d, type FROM t ORDER BY d, type
"""


SPARQL_CONSTRUCT = """
PREFIX ex: <http://example.org/>
CONSTRUCT { ?d ex:category ?type . }
WHERE {
  ?d a ?type .
  FILTER(?type != "ex:Short")
}
"""


def q_kg_degree(spark, sf_dir):
    """KG hygiene analytics: per-entity in/out degree over the doc
    triple graph and the top hubs — the connectivity profile an
    operator reads before picking broadcast/skew strategies. Two
    keyed partial aggs + one outer merge; no self-join."""
    t = _doc_triples(spark, sf_dir)
    out_deg = t.groupBy(F.col("subj").alias("entity")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = t.groupBy(F.col("obj").alias("entity")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_deg.join(in_deg, "entity", "full_outer")
        .select(
            "entity",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .orderBy(F.desc(F.col("out_degree") + F.col("in_degree")),
                 F.asc("entity"))
        .limit(25)
    )


ORACLE_KG_DEGREE = """
WITH t AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS subj, source AS obj
  FROM documents
  UNION ALL
  SELECT 'doc:' || CAST(doc_id AS VARCHAR), 'ex:Short'
  FROM documents WHERE n_chars < 200
  UNION ALL
  SELECT 'doc:' || CAST(doc_id AS VARCHAR), substr(text, 1, 20)
  FROM documents WHERE lang = 'en'
), o AS (
  SELECT subj AS entity, CAST(COUNT(*) AS BIGINT) AS out_degree
  FROM t GROUP BY subj
), i AS (
  SELECT obj AS entity, CAST(COUNT(*) AS BIGINT) AS in_degree
  FROM t GROUP BY obj
)
SELECT COALESCE(o.entity, i.entity) AS entity,
       COALESCE(out_degree, 0) AS out_degree,
       COALESCE(in_degree, 0) AS in_degree
FROM o FULL OUTER JOIN i ON o.entity = i.entity
ORDER BY COALESCE(out_degree, 0) + COALESCE(in_degree, 0) DESC,
         entity ASC
LIMIT 25
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping-priority): customer⋈orders⋈lineitem
    with segment/date filters, revenue agg per order, top-10. The
    dimension (filtered customers) broadcasts; the fact-fact join
    shuffles once on orderkey; TakeOrderedAndProject bounds the
    result."""
    _utc(spark)
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    rev = _tpch_revenue()
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(rev.cast("double"), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate",
                "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"),
                 F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_TPCH_Q3 = """
SELECT l_orderkey,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
         AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecast-revenue change): single-table scan
    with tight range predicates + one global agg — the pushdown
    showcase (every filter reaches the parquet scan; no shuffle
    beyond the final partial-agg exchange)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 10)
    )
    return li.agg(
        F.round(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double"), 2
        ).alias("revenue")
    )


ORACLE_TPCH_Q6 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 10
"""


def q_fts_boolean(spark, sf_dir):
    """F9 extension: Lucene-style boolean query syntax over the
    posting table — ``+join stream -slow`` = join required, stream an
    optional scorer, docs containing slow excluded (the operator mix
    GraphDB's luc:searchIndex accepts). One token-pruned scan + the
    usual score agg + a broadcast anti join for the exclusion."""
    from kgap_spark.index.fts import build_posting_table, fts_search

    posting = build_posting_table(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return fts_search(posting, "+join stream -slow", k=20)


ORACLE_FTS_BOOLEAN = """
WITH posting AS (
  SELECT doc_id AS subj, tok AS token, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      t -> t <> '')) AS tok
    FROM documents)
  GROUP BY 1, 2
),
scored AS (
  SELECT subj, CAST(SUM(tf) AS BIGINT) AS score,
         COUNT(DISTINCT token) AS n_terms
  FROM posting WHERE token IN ('join', 'stream')
  GROUP BY subj
)
SELECT s.subj, s.score, s.n_terms
FROM scored s
WHERE s.subj IN (SELECT subj FROM posting WHERE token = 'join')
  AND s.subj NOT IN (SELECT subj FROM posting WHERE token = 'slow')
ORDER BY s.score DESC, s.n_terms DESC, s.subj ASC LIMIT 20
"""


def q_sparql_construct(spark, sf_dir):
    """CONSTRUCT through the text front-end (U4, the vocabulary-
    mapping archetype, docs/components/sembench.md:443-455): solutions
    instantiate the template into TRIPLES-schema quads that feed
    straight into TripleStore."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_doc_triples(spark, sf_dir), SPARQL_CONSTRUCT)


ORACLE_SPARQL_CONSTRUCT = """
SELECT DISTINCT
  'doc:' || CAST(doc_id AS VARCHAR) AS subj,
  'http://example.org/category' AS pred,
  source AS obj,
  CAST(NULL AS VARCHAR) AS obj_lang,
  CAST(NULL AS VARCHAR) AS obj_datatype,
  CAST(NULL AS VARCHAR) AS graph,
  CAST(NULL AS VARCHAR) AS src_url
FROM documents ORDER BY subj
"""


def _taxonomy_triples(spark, sf_dir):
    """documents → a shallow skos-style hierarchy for property-path
    closure queries: doc —ex:broader→ cat:{source} —ex:broader→
    dom:root (the concept-scheme shape of the reference's vocabulary
    graphs)."""
    d = _t(spark, sf_dir, "documents")
    subj = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
    cat = F.concat(F.lit("cat:"), F.col("source"))
    nulls = [
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit("urn:g").alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    ]
    t1 = d.select(subj.alias("subj"), F.lit("ex:broader").alias("pred"),
                  cat.alias("obj"), *nulls)
    t2 = d.select(cat.alias("subj"), F.lit("ex:broader").alias("pred"),
                  F.lit("dom:root").alias("obj"), *nulls).distinct()
    return t1.unionByName(t2)


SPARQL_PATH_STAR = """
SELECT ?a ?b
WHERE { ?a ex:broader* ?b }
ORDER BY ?a ?b
"""


def q_sparql_path_star(spark, sf_dir):
    """Zero-or-more property path through the front-end — the
    skos:broader* ancestor-closure shape over a doc→category→root
    hierarchy. Pairs = the per-depth closure (iterated edge joins)
    UNION the zero-length identity over every graph term (SPARQL 1.1
    §18.4 ZeroLengthPath)."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_taxonomy_triples(spark, sf_dir),
                          SPARQL_PATH_STAR)


ORACLE_SPARQL_PATH_STAR = """
WITH docs AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d, 'cat:' || source AS c
  FROM documents
), nodes AS (
  SELECT d AS n FROM docs
  UNION SELECT c FROM docs
  UNION SELECT 'dom:root'
), closure AS (
  SELECT d AS a, c AS b FROM docs
  UNION SELECT d AS a, 'dom:root' AS b FROM docs
  UNION SELECT c AS a, 'dom:root' AS b FROM docs
)
SELECT a, b FROM (
  SELECT n AS a, n AS b FROM nodes
  UNION
  SELECT a, b FROM closure
) ORDER BY a, b
"""


SPARQL_DESCRIBE = """
DESCRIBE ?d
WHERE { ?d rdf:type "ex:Short" }
"""


SPARQL_PAGINATE = """
SELECT ?d ?label
WHERE { ?d rdfs:label ?label }
ORDER BY ?label ?d
LIMIT 15 OFFSET 10
"""


def q_sparql_paginate(spark, sf_dir):
    """OFFSET pagination (SURVEY O4): ORDER BY + LIMIT + OFFSET slice
    through the SPARQL text front-end — the notebooks' paged result
    browsing (docs/quick-reference.md LIMIT examples; GraphDB pages
    with OFFSET). Deterministic because the sort key (?label, ?d) is
    unique per row; Catalyst folds orderBy+offset+limit into ONE
    TakeOrderedAndProject over offset+limit rows (per-partition top-25
    heaps, no global sort, offset skipped at the gather) with the
    lang filter pushed to the parquet scan — plan-checked."""
    from kgap_spark.query.sparql import execute_sparql

    return execute_sparql(_doc_triples(spark, sf_dir), SPARQL_PAGINATE)


ORACLE_SPARQL_PAGINATE = """
SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS d, substr(text, 1, 20) AS label
FROM documents WHERE lang = 'en'
ORDER BY label, d LIMIT 15 OFFSET 10
"""


def q_sparql_describe(spark, sf_dir):
    """DESCRIBE ?var WHERE — the jupyter export workflow's resource-
    dump form (docs/components/jupyter.md): solutions' distinct
    resource set, then ONE semi-join per role (subject / object)
    against the quad table — never a driver-side loop over
    resources. Returns the resources' triples in TRIPLES schema."""
    from kgap_spark.query.sparql import execute_sparql

    out = execute_sparql(_doc_triples(spark, sf_dir), SPARQL_DESCRIBE)
    return out.orderBy("subj", "pred", "obj")


ORACLE_SPARQL_DESCRIBE = """
WITH t AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS subj,
         'rdf:type' AS pred, source AS obj,
         CAST(NULL AS VARCHAR) AS obj_lang,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         'urn:g' AS graph, CAST(NULL AS VARCHAR) AS src_url
  FROM documents
  UNION ALL
  SELECT 'doc:' || CAST(doc_id AS VARCHAR), 'rdf:type', 'ex:Short',
         NULL, NULL, 'urn:g', NULL
  FROM documents WHERE n_chars < 200
  UNION ALL
  SELECT 'doc:' || CAST(doc_id AS VARCHAR), 'rdfs:label',
         substr(text, 1, 20), NULL, NULL, 'urn:g', NULL
  FROM documents WHERE lang = 'en'
), res AS (
  SELECT DISTINCT subj AS r FROM t
  WHERE pred = 'rdf:type' AND obj = 'ex:Short'
)
SELECT DISTINCT subj, pred, obj, obj_lang, obj_datatype, graph, src_url
FROM t
WHERE subj IN (SELECT r FROM res) OR obj IN (SELECT r FROM res)
ORDER BY subj, pred, obj
"""


SPARQL_PATH_DEEP = """
SELECT ?a ?b
WHERE { ?a ex:next+ ?b }
ORDER BY ?a ?b
"""


def q_sparql_path_deep(spark, sf_dir):
    """Transitive closure over a 63-hop chain — MUST iterate to
    fixpoint (round-6: the engine previously truncated closures at 12
    hops silently; the reference's concept hierarchies are deep
    skos:broader chains, docs/advanced-topics.md:226-277). The chain
    is data-derived: doc n —ex:next→ doc n−1 for doc_id 1..63, so the
    closure is every ordered ancestor pair and its deepest path is 63
    hops. Var-var closures use path-doubling: ⌈log2 63⌉ = 6 shuffle
    rounds, not 63."""
    from kgap_spark.query.sparql import execute_sparql

    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 1) & (F.col("doc_id") <= 63)
    )
    t = d.select(
        F.concat(F.lit("n:"), F.col("doc_id").cast("string"))
        .alias("subj"),
        F.lit("ex:next").alias("pred"),
        F.concat(F.lit("n:"), (F.col("doc_id") - 1).cast("string"))
        .alias("obj"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit("urn:g").alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    )
    return execute_sparql(t, SPARQL_PATH_DEEP)


SPARQL_BUILTIN_FUNCS = """
SELECT ?e ?y ?mo ?d ?h ?tz ?hash
WHERE { ?e ex:ts ?t .
  BIND(YEAR(?t) AS ?y) BIND(MONTH(?t) AS ?mo) BIND(DAY(?t) AS ?d)
  BIND(HOURS(?t) AS ?h) BIND(TZ(?t) AS ?tz) BIND(MD5(?t) AS ?hash)
}
ORDER BY ?e
"""


def q_sparql_builtin_funcs(spark, sf_dir):
    """Round-6 builtin coverage row: §17.4.5 lexical date accessors +
    MD5 over event timestamps rendered to a fixed format (the same
    format string on the DuckDB side keeps the hashes comparable)."""
    from kgap_spark.query.sparql import execute_sparql

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    t = e.select(
        F.concat(F.lit("e:"), F.col("event_id").cast("string"))
        .alias("subj"),
        F.lit("ex:ts").alias("pred"),
        F.date_format(F.col("ts").cast("timestamp"),
                      "yyyy-MM-dd HH:mm:ss").alias("obj"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit("xsd:dateTime").alias("obj_datatype"),
        F.lit("urn:g").alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    )
    return execute_sparql(t, SPARQL_BUILTIN_FUNCS)


ORACLE_SPARQL_BUILTIN_FUNCS = r"""
WITH t AS (
  SELECT 'e:' || CAST(event_id AS VARCHAR) AS e,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS s
  FROM events WHERE event_id < 200
)
SELECT e,
       CAST(regexp_extract(s, '^(-?\d{4,})-', 1) AS INT) AS y,
       CAST(regexp_extract(s, '^-?\d{4,}-(\d{2})-', 1) AS INT) AS mo,
       CAST(regexp_extract(s, '^-?\d{4,}-\d{2}-(\d{2})', 1) AS INT) AS d,
       CAST(regexp_extract(s, '[T ](\d{2}):', 1) AS INT) AS h,
       regexp_extract(s, '(Z|[+-]\d{2}:\d{2})$', 1) AS tz,
       md5(s) AS hash
FROM t ORDER BY e
"""


SPARQL_PATH_NPS = """
SELECT ?a ?b
WHERE { ?a !(ex:skip|^ex:next)+ ?b }
ORDER BY ?a ?b
"""


def q_sparql_path_nps(spark, sf_dir):
    """Mixed negated-property-set closure through the front-end
    (round 6: ``!(p|^q)`` under ``+`` was a loud reject). The edge
    relation is the §9.1 union — forward edges whose predicate avoids
    {ex:skip} (the ex:next descending chain) ∪ SWAPPED edges whose
    predicate avoids {ex:next} (the ex:skip triples become ascending
    jumps 10→30 and 20→40) — closed to fixpoint by path-doubling.
    Nodes ≥ 10 therefore reach everything (descend, jump, repeat);
    nodes < 10 only descend."""
    from kgap_spark.query.sparql import execute_sparql

    d = _t(spark, sf_dir, "documents")
    nulls = [
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit("urn:g").alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    ]
    chain = d.filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 40)) \
        .select(
            F.concat(F.lit("n:"), F.col("doc_id").cast("string"))
            .alias("subj"),
            F.lit("ex:next").alias("pred"),
            F.concat(F.lit("n:"), (F.col("doc_id") - 1).cast("string"))
            .alias("obj"), *nulls,
        )
    skips = d.filter(F.col("doc_id").isin(30, 40)).select(
        F.concat(F.lit("n:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("ex:skip").alias("pred"),
        F.concat(F.lit("n:"), (F.col("doc_id") - 20).cast("string"))
        .alias("obj"), *nulls,
    )
    return execute_sparql(chain.unionByName(skips), SPARQL_PATH_NPS)


ORACLE_SPARQL_PATH_NPS = """
WITH RECURSIVE base AS (
  SELECT 'n:' || CAST(doc_id AS VARCHAR) AS s, 'ex:next' AS p,
         'n:' || CAST(doc_id - 1 AS VARCHAR) AS o
  FROM documents WHERE doc_id BETWEEN 1 AND 40
  UNION ALL
  SELECT 'n:' || CAST(doc_id AS VARCHAR), 'ex:skip',
         'n:' || CAST(doc_id - 20 AS VARCHAR)
  FROM documents WHERE doc_id IN (30, 40)
), edges AS (
  SELECT s AS a, o AS b FROM base WHERE p <> 'ex:skip'
  UNION
  SELECT o AS a, s AS b FROM base WHERE p <> 'ex:next'
), closure(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a
)
SELECT a, b FROM closure ORDER BY a, b
"""


# a REAL recursive oracle (DuckDB WITH RECURSIVE iterates to the same
# fixpoint) — not a closed-form shortcut that would assume contiguity
ORACLE_SPARQL_PATH_DEEP = """
WITH RECURSIVE edges AS (
  SELECT 'n:' || CAST(doc_id AS VARCHAR) AS a,
         'n:' || CAST(doc_id - 1 AS VARCHAR) AS b
  FROM documents WHERE doc_id BETWEEN 1 AND 63
), closure(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a
)
SELECT a, b FROM closure ORDER BY a, b
"""


def q_windowed_event_counts(spark, sf_dir):
    """T6 batch twin: the watermarked windowed rollup evaluated over the
    static events table (same code path as the streaming query —
    window+groupBy compiles identically in both runtimes)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = F.window("ts", "1 hour")
    return (
        e.groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )


ORACLE_WINDOWED_COUNTS = """
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
         + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY 1, 2, 3
"""


def q_emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH bucket join (never
    all-pairs). The synthetic embeddings have no near-dups (max cross
    cosine ≈ 0.51), so vec_id<50 is unioned back verbatim as
    vec_id+10000: qualifying pairs are exactly the 50 identical copies
    (cosine 1.0), which land in the same bucket by construction — the
    bucketed result equals the exact all-pairs oracle."""
    from kgap_spark.functions.similarity import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50).select(
        "vec_id", "embedding"
    )
    dup = e.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    return embedding_near_dup_pairs(e.unionByName(dup), threshold=0.9)


ORACLE_EMB_NEAR_DUP = """
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.embedding, b.embedding)
               / (sqrt(list_dot_product(a.embedding, a.embedding))
                  * sqrt(list_dot_product(b.embedding, b.embedding))), 6)
           AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.9
"""


def _emb_lsh_oracle() -> str:
    """Full SQL oracle for the LSH-bucketed ANN path: the deterministic
    sha-derived hyperplanes are inlined as list literals, so DuckDB
    reproduces the signature, the multiprobe bucket set, and the
    in-bucket cosine top-k exactly. Sign-boundary safety: the smallest
    |dot(vector, plane)| in the testdata is ~8e-05 — orders of
    magnitude above float accumulation error, so bucket membership
    cannot flip between engines."""
    from kgap_spark.functions.similarity import _hyperplanes

    planes = _hyperplanes(64, 6)

    def sig_expr(vec: str) -> str:
        bits = " + ".join(
            f"(CASE WHEN list_dot_product({vec}, "
            f"{[round(v, 17) for v in planes[b]]}) >= 0 "
            f"THEN {1 << b} ELSE 0 END)"
            for b in range(6)
        )
        return f"({bits})"

    probe = " OR ".join(
        ["s.sig = qs.s"] + [f"s.sig = xor(qs.s, {1 << b})" for b in range(6)]
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sigs AS (SELECT vec_id, embedding, {sig_expr('embedding')} AS sig
         FROM embeddings),
qs AS (SELECT {sig_expr('qe')} AS s FROM q)
SELECT s.vec_id,
       ROUND(list_dot_product(s.embedding, q.qe)
             / (sqrt(list_dot_product(s.embedding, s.embedding))
                * sqrt(list_dot_product(q.qe, q.qe))), 5) AS cosine
FROM sigs s, qs, q
WHERE {probe}
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


ORACLE_EMB_LSH = _emb_lsh_oracle()


def _near_dup_docs(spark, sf_dir):
    """docs 0–39 plus near-copies of docs 0–9 (one appended token,
    doc_id+10000): the synthetic corpus shares no shingles between
    distinct docs, so each copy is the only true near-dup of its
    source — a deterministic LSH-join fixture."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        "doc_id", "text"
    )
    near = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    return d.unionByName(near)


def q_minhash_lsh(spark, sf_dir):
    """Deterministic MinHash-LSH approximate similarity join: seeded
    md5 hash family → banded signatures → bucket-join candidates →
    exact jaccard on candidates only. Fully reproducible in SQL (the
    Spark-ML variant stays as the optional JVM path, pytest-gated)."""
    from kgap_spark.functions.dedup import minhash_lsh_approx_join

    return minhash_lsh_approx_join(
        _near_dup_docs(spark, sf_dir), "doc_id", "text",
        n=3, max_jaccard_dist=0.5, num_perm=16, bands=4,
    )


ORACLE_MINHASH_LSH = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 10000, text || ' extraword'
  FROM documents WHERE doc_id < 10
), d AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
  FROM corpus
), sh AS (
  SELECT doc, unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM d WHERE len(t) >= 3
), mh AS (
  SELECT doc, p, MIN(md5(CAST(p AS VARCHAR) || ':' || shingle)) AS h
  FROM sh, range(0, 16) r(p) GROUP BY doc, p
), bandsig AS (
  SELECT doc, p // 4 AS band, string_agg(h, '|' ORDER BY p) AS sig
  FROM mh GROUP BY doc, p // 4
), cand AS (
  SELECT DISTINCT s1.doc AS doc_a, s2.doc AS doc_b
  FROM bandsig s1 JOIN bandsig s2
    ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc < s2.doc
), sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN sh a ON a.doc = c.doc_a
  JOIN sh b ON b.doc = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE i / (sa.sz + sb.sz - i) > 0.5
"""


def q_minhash_lsh_ml(spark, sf_dir):
    """Spark-ML MinHashLSH near-duplicates (JVM hash internals — no SQL
    oracle; recall vs exact jaccard is pytest-gated). Optional JVM
    path behind the same fixture as the deterministic q_minhash_lsh."""
    from kgap_spark.functions.dedup import minhash_lsh_near_duplicates

    return minhash_lsh_near_duplicates(
        _near_dup_docs(spark, sf_dir), "doc_id", "text",
        n=3, max_jaccard_dist=0.8,
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload → sha256-stub features,
    computed in Catalyst (``extract_features`` is one projection).

    The feature vector is projected to an integer-CSV canonical form so
    the driver can hash it (arrays of doubles are unhashable in the
    canonicalizer): the stub feature i is sha256(payload)[i]/255.0, so
    round(x*255) recovers the exact digest byte — and DuckDB's sha256()
    expresses the same bytes, giving this query a full value oracle."""
    from kgap_spark.functions.multimodal import extract_features

    media = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("media:"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map().alias("meta"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda x: F.round(x * F.lit(255.0)).cast("int").cast("string"),
            ),
        ).alias("features_csv"),
    )


ORACLE_MULTIMODAL = """
SELECT 'media:' || CAST(doc_id AS VARCHAR) AS media_id,
       'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       array_to_string(
         list_transform(range(0, 16),
                        i -> CAST(('0x' || substr(sha256(text), i*2+1, 2))::INT AS VARCHAR)),
         ',') AS features_csv
FROM documents
"""


def q_kg_changelog(spark, sf_dir):
    """Incremental (changelog/CDC) scan of the triple store — what a
    resumable downstream consumer reads instead of the full table
    (reference analog: LDES consumers poll a feed for new members,
    ``ldes-consumer/app.py``; here the consumer polls the store's
    commit log). Builds a three-commit store in a fresh temp dir —
    v1 appends the nation dim as triples, v2 appends the region dim,
    v3 deletes the region-0 nations — then reads the v1→v3 window:
    the region inserts plus the nation deletes, and nothing from the
    untouched v1 remainder (the plan prunes at the manifest level, so
    unchanged files are never scanned). The temp dir must outlive the
    returned plan, so it is not cleaned up here (OS tmp reaping)."""
    import tempfile

    from kgap_spark.triples import TripleStore

    def to_quads(df, kind, key, name):
        return df.select(
            F.concat(F.lit(f"urn:{kind}:"),
                     F.col(key).cast("string")).alias("subj"),
            F.lit("urn:p:name").alias("pred"),
            F.col(name).cast("string").alias("obj"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(f"urn:g:{kind}").alias("graph"),
            F.lit(None).cast("string").alias("src_url"),
        )

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    st = TripleStore(
        spark, tempfile.mkdtemp(prefix="kgap-changelog-") + "/store")
    st.append(to_quads(nation, "nation", "n_nationkey", "n_name"))
    st.append(to_quads(region, "region", "r_regionkey", "r_name"))
    st.delete_quads(to_quads(nation.filter(F.col("n_regionkey") == 0),
                             "nation", "n_nationkey", "n_name"))
    return st.read_changes(1).select(
        F.col("_change").alias("change"), "subj", "obj", "graph"
    )


ORACLE_KG_CHANGELOG = """
SELECT 'insert' AS change,
       'urn:region:' || CAST(r_regionkey AS VARCHAR) AS subj,
       r_name AS obj,
       'urn:g:region' AS graph
FROM region
UNION ALL
SELECT 'delete' AS change,
       'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS subj,
       n_name AS obj,
       'urn:g:nation' AS graph
FROM nation WHERE n_regionkey = 0
"""


def q_kg_pagerank(spark, sf_dir):
    """PageRank centrality over a KG edge list (customer→nation→region
    membership edges — nations are hubs with thousands of in-edges,
    regions are dangling sinks): 3 deterministic power iterations of
    the textbook formulation with uniform dangling redistribution
    (`kgap_spark/graph.py`). The oracle is the SAME formulation
    unrolled into per-iteration CTEs, so values match to double
    precision (both sides round to 6 decimals)."""
    from kgap_spark.graph import pagerank

    cust = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("urn:c:"),
                 F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("urn:n:"),
                 F.col("c_nationkey").cast("string")).alias("dst"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("urn:n:"),
                 F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("urn:r:"),
                 F.col("n_regionkey").cast("string")).alias("dst"),
    )
    ranks = pagerank(cust.unionByName(nat), iters=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_oracle_sql(iters: int = 3, d: float = 0.85) -> str:
    """The q_kg_pagerank formulation with the power iteration unrolled
    into CTE stages (recursive CTEs cannot aggregate over their own
    recursive reference, so a fixed-iteration unroll is the exact-SQL
    form)."""
    parts = ["""WITH edges AS (
  SELECT 'urn:c:' || CAST(c_custkey AS VARCHAR) AS src,
         'urn:n:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'urn:n:' || CAST(n_nationkey AS VARCHAR),
         'urn:r:' || CAST(n_regionkey AS VARCHAR) FROM nation
),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS deg
           FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0/nn.n AS rank FROM nodes, nn)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
c{i} AS (SELECT e.dst AS node, SUM(r.rank/od.deg) AS contrib
  FROM edges e JOIN r{i - 1} r ON r.node = e.src
  JOIN outdeg od ON od.node = e.src GROUP BY e.dst),
d{i} AS (SELECT COALESCE(SUM(r.rank), 0) AS mass FROM r{i - 1} r
  LEFT JOIN outdeg od ON od.node = r.node WHERE od.node IS NULL),
r{i} AS (SELECT n.node,
  (1-{d})/nn.n + {d}*(COALESCE(c.contrib, 0) + di.mass/nn.n) AS rank
  FROM nodes n CROSS JOIN nn CROSS JOIN d{i} di
  LEFT JOIN c{i} c ON c.node = n.node)""")
    parts.append(f"\nSELECT node, ROUND(rank, 6) AS rank FROM r{iters}")
    return "".join(parts)


ORACLE_KG_PAGERANK = _pagerank_oracle_sql()


def q_kg_triangles(spark, sf_dir):
    """Per-node triangle counts (`kgap_spark/graph.py`,
    degree-ordered wedge enumeration — O(E^1.5) bound under hub skew)
    over a triangle-rich KG: same-region nation pairs form five
    cliques, customer→nation membership edges add bipartite bulk that
    must contribute zero triangles. The oracle enumerates canonical
    a<b<c triangles directly — triangle counts are
    orientation-independent, so the simple SQL form is exact."""
    from kgap_spark.graph import triangle_counts

    nat = _t(spark, sf_dir, "nation")
    a, b = nat.alias("a"), nat.alias("b")
    cliques = (
        a.join(b, (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
               & (F.col("a.n_nationkey") < F.col("b.n_nationkey")))
        .select(
            F.concat(F.lit("urn:n:"),
                     F.col("a.n_nationkey").cast("string")).alias("src"),
            F.concat(F.lit("urn:n:"),
                     F.col("b.n_nationkey").cast("string")).alias("dst"),
        )
    )
    membership = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("urn:c:"),
                 F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("urn:n:"),
                 F.col("c_nationkey").cast("string")).alias("dst"),
    )
    return triangle_counts(cliques.unionByName(membership))


ORACLE_KG_TRIANGLES = """
WITH edges AS (
  SELECT 'urn:n:' || CAST(a.n_nationkey AS VARCHAR) AS src,
         'urn:n:' || CAST(b.n_nationkey AS VARCHAR) AS dst
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey
   AND a.n_nationkey < b.n_nationkey
  UNION ALL
  SELECT 'urn:c:' || CAST(c_custkey AS VARCHAR),
         'urn:n:' || CAST(c_nationkey AS VARCHAR) FROM customer
),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM edges WHERE src != dst
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
tnode AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
FROM tnode GROUP BY node
"""


# ---------------------------------------------------------------------------
# Registry.
#
# The driver's correctness gate records the FIRST 50 entries of
# ``queries()`` (round-3 lesson: adding queries pushed verified ones
# past the cap). The registry is therefore split: ``QUERIES`` holds
# exactly the 50-entry core window, ordered so the newest /
# least-stable queries sit inside it, and ``EXTRA_QUERIES`` holds the
# stable overflow — verified by the identical local harness
# (``python tools/check_oracles.py``, which checks BOTH registries;
# run log committed at BENCH/ORACLES_LOCAL_r04.txt, see README).

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kg_mentions": q_kg_mentions,
    "kg_counts_by_graph": q_kg_counts_by_graph,
    "lang_filter": q_lang_filter,
    "count_all": q_count_all,
    "group_count": q_group_count,
    "count_distinct": q_count_distinct,
    "max_ts": q_max_ts,
    "having": q_having,
    "distinct": q_distinct,
    "topk": q_topk,
    "left_join": q_left_join,
    "anti_join": q_anti_join,
    "semi_join": q_semi_join,
    "bgp_chain": q_bgp_chain,
    "range_filter": q_range_filter,
    "conditional": q_conditional,
    "limit_early": q_limit_early,
    "tpch_q1": q_tpch_q1,
    "tpch_q5": q_tpch_q5,
    "latest_version": q_latest_version,
    "dereference": q_dereference,
    "doc_token_count": q_doc_token_count,
    "doc_quality": q_doc_quality,
    "doc_repetition": q_doc_repetition,
    "pii_redact": q_pii_redact,
    "doc_lang_id": q_doc_lang_id,
    "quality_topk_per_source": q_quality_topk_per_source,
    "doc_split": q_doc_split,
    "doc_len_quantiles": q_doc_len_quantiles,
    "doc_pack": q_doc_pack,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_band": q_minhash_band,
    # the Python-adjacent path sits mid-registry on purpose: a driver
    # that trims the tail of a long run must not silently drop it
    # (round-2 lesson — it was last and absent from
    # CORRECTNESS_r02.json). minhash_lsh replaced minhash_lsh_ml in
    # round 6: the deterministic seeded-md5 LSH join is hash-
    # verifiable; the Spark-ML variant moved to the overflow.
    "minhash_lsh": q_minhash_lsh,
    "multimodal_features": q_multimodal_features,
    "fts_search": q_fts_search,
    "fts_search_indexed": q_fts_search_indexed,
    "shacl_validate": q_shacl_validate,
    "sparql_notexists": q_sparql_notexists,
    # round-4 front-end additions — newest, so inside the window
    "sparql_graph_counts": q_sparql_graph_counts,
    "sparql_subselect": q_sparql_subselect,
    "sparql_minus": q_sparql_minus,
    # round-5 front-end additions (CONSTRUCT text form, the MINUS
    # divergence case, zero-or-more property paths) — newest, inside
    # the window; bpe_token_count / doc_mix / sessionize_native moved
    # to the stable overflow to keep the window at exactly 50
    "sparql_construct": q_sparql_construct,
    "sparql_minus_disjoint": q_sparql_minus_disjoint,
    "sparql_path_star": q_sparql_path_star,
    # round-6 front-end additions (fixpoint deep closure, DESCRIBE
    # text form) — newest, inside the window; sparql_select /
    # type_distribution moved to the stable overflow (their operator
    # families stay covered in-core by the other sparql_* rows and
    # group_count) to keep the window at exactly 50
    "sparql_path_deep": q_sparql_path_deep,
    "sparql_describe": q_sparql_describe,
    # round-6 addition: snapshot-store incremental/changelog scan —
    # newest, inside the window; simhash moved to the stable overflow
    # (the dedup family keeps four in-core rows: dedup_exact,
    # ngram_jaccard, minhash_band, minhash_lsh)
    "kg_changelog": q_kg_changelog,
    # round-6 addition: PageRank centrality (iterative DataFrame
    # power method, exact-SQL unrolled oracle) — doc_fingerprint
    # moved to the stable overflow (textstats keeps five in-core)
    "kg_pagerank": q_kg_pagerank,
    # round-6 addition: degree-ordered triangle counting —
    # frame_sample_plan moved to the stable overflow (multimodal
    # stays covered in-core by multimodal_features)
    "kg_triangles": q_kg_triangles,
}

# Stable overflow past the driver's 50-entry window: unchanged code
# paths whose oracles are re-verified every round by the local harness
# (tools/check_oracles.py covers QUERIES ∪ EXTRA_QUERIES).
EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # moved from the core window in round 5 (stable since rounds 1-2;
    # their operator families stay covered in-core by doc_token_count,
    # doc_split/doc_pack, and latest_version/sessionize)
    "bpe_token_count": q_bpe_token_count,
    "doc_mix": q_doc_mix,
    "sessionize_native": q_sessionize_native,
    # moved from the core window in round 6 to make room for
    # sparql_path_deep / sparql_describe / minhash_lsh / kg_changelog
    # / kg_pagerank
    "simhash": q_simhash,
    "doc_fingerprint": q_doc_fingerprint,
    "frame_sample_plan": q_frame_sample_plan,
    "sparql_select": q_sparql_select,
    "type_distribution": q_type_distribution,
    "minhash_lsh_ml": q_minhash_lsh_ml,
    # round-5 addition (boolean FTS) — new but the core window is
    # full; verified by the local harness like every extra entry
    "fts_boolean": q_fts_boolean,
    "tpch_q3": q_tpch_q3,
    "tpch_q6": q_tpch_q6,
    "kg_degree": q_kg_degree,
    "str_funcs": q_str_funcs,
    "ts_filter": q_ts_filter,
    "sessionize": q_sessionize,
    "entities_without_label": q_entities_without_label,
    "conflicting_types": q_conflicting_types,
    "windowed_event_counts": q_windowed_event_counts,
    "emb_cosine_topk": q_emb_cosine_topk,
    "emb_near_dup": q_emb_near_dup,
    "emb_lsh_topk": q_emb_lsh_topk,
    # round-6 addition: OFFSET pagination (SURVEY O4, previously
    # documented-skip) — core window is full, verified by the harness
    "sparql_paginate": q_sparql_paginate,
    # round-6 addition: mixed negated-property-set closure (was a
    # loud reject) — recursive DuckDB oracle, harness-verified
    "sparql_path_nps": q_sparql_path_nps,
    # round-6 addition: hash + lexical date-accessor builtins
    "sparql_builtin_funcs": q_sparql_builtin_funcs,
    # round-6 addition: general HAVING expressions (boolean combos,
    # hidden aggregates, functions over group keys)
    "sparql_having": q_sparql_having,
}

ORACLES: dict[str, str] = {
    "kg_mentions": ORACLE_KG_MENTIONS,
    "kg_counts_by_graph": ORACLE_KG_COUNTS,
    "lang_filter": ORACLE_LANG_FILTER,
    "count_all": ORACLE_COUNT_ALL,
    "group_count": ORACLE_GROUP_COUNT,
    "count_distinct": ORACLE_COUNT_DISTINCT,
    "max_ts": ORACLE_MAX_TS,
    "having": ORACLE_HAVING,
    "distinct": ORACLE_DISTINCT,
    "topk": ORACLE_TOPK,
    "left_join": ORACLE_LEFT_JOIN,
    "anti_join": ORACLE_ANTI_JOIN,
    "semi_join": ORACLE_SEMI_JOIN,
    "bgp_chain": ORACLE_BGP_CHAIN,
    "range_filter": ORACLE_RANGE_FILTER,
    "conditional": ORACLE_CONDITIONAL,
    "limit_early": ORACLE_LIMIT_EARLY,
    "tpch_q1": ORACLE_TPCH_Q1,
    "tpch_q5": ORACLE_TPCH_Q5,
    "latest_version": ORACLE_LATEST_VERSION,
    "dereference": ORACLE_DEREFERENCE,
    "doc_token_count": ORACLE_DOC_TOKEN_COUNT,
    "doc_quality": ORACLE_DOC_QUALITY,
    "doc_repetition": ORACLE_DOC_REPETITION,
    "pii_redact": ORACLE_PII_REDACT,
    "doc_lang_id": ORACLE_DOC_LANG_ID,
    "quality_topk_per_source": ORACLE_QUALITY_TOPK,
    "doc_split": ORACLE_DOC_SPLIT,
    "doc_len_quantiles": ORACLE_DOC_LEN_QUANTILES,
    "doc_pack": ORACLE_DOC_PACK,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "minhash_band": ORACLE_MINHASH_BAND,
    "minhash_lsh": ORACLE_MINHASH_LSH,
    "fts_search": ORACLE_FTS_SEARCH,
    "fts_search_indexed": ORACLE_FTS_TFIDF,
    "shacl_validate": ORACLE_SHACL_VALIDATE,
    "sparql_notexists": ORACLE_SPARQL_NOTEXISTS,
    "sparql_graph_counts": ORACLE_SPARQL_GRAPH_COUNTS,
    "sparql_subselect": ORACLE_SPARQL_SUBSELECT,
    "sparql_minus": ORACLE_SPARQL_NOTEXISTS,
    "sparql_construct": ORACLE_SPARQL_CONSTRUCT,
    "sparql_minus_disjoint": ORACLE_SPARQL_MINUS_DISJOINT,
    "sparql_path_star": ORACLE_SPARQL_PATH_STAR,
    "sparql_path_deep": ORACLE_SPARQL_PATH_DEEP,
    "sparql_describe": ORACLE_SPARQL_DESCRIBE,
    "multimodal_features": ORACLE_MULTIMODAL,
    "kg_changelog": ORACLE_KG_CHANGELOG,
    "kg_pagerank": ORACLE_KG_PAGERANK,
    "kg_triangles": ORACLE_KG_TRIANGLES,
}

EXTRA_ORACLES: dict[str, str] = {
    "simhash": ORACLE_SIMHASH,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "frame_sample_plan": ORACLE_FRAME_SAMPLE,
    "bpe_token_count": ORACLE_BPE_TOKEN_COUNT,
    "doc_mix": ORACLE_DOC_MIX,
    "sessionize_native": ORACLE_SESSIONIZE,
    "sparql_select": ORACLE_SPARQL_SELECT,
    "type_distribution": ORACLE_TYPE_DISTRIBUTION,
    # minhash_lsh_ml: rows-only (Spark-ML JVM hash internals).
    "fts_boolean": ORACLE_FTS_BOOLEAN,
    "tpch_q3": ORACLE_TPCH_Q3,
    "tpch_q6": ORACLE_TPCH_Q6,
    "kg_degree": ORACLE_KG_DEGREE,
    "str_funcs": ORACLE_STR_FUNCS,
    "ts_filter": ORACLE_TS_FILTER,
    "sessionize": ORACLE_SESSIONIZE,
    "entities_without_label": ORACLE_ENTITIES_WITHOUT_LABEL,
    "conflicting_types": ORACLE_CONFLICTING_TYPES,
    "windowed_event_counts": ORACLE_WINDOWED_COUNTS,
    "emb_cosine_topk": ORACLE_EMB_COSINE_TOPK,
    "emb_near_dup": ORACLE_EMB_NEAR_DUP,
    "emb_lsh_topk": ORACLE_EMB_LSH,
    "sparql_paginate": ORACLE_SPARQL_PAGINATE,
    "sparql_path_nps": ORACLE_SPARQL_PATH_NPS,
    "sparql_builtin_funcs": ORACLE_SPARQL_BUILTIN_FUNCS,
    "sparql_having": ORACLE_SPARQL_HAVING,
}
