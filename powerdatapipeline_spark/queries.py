"""Declared query registry: every operator from SURVEY.md §2 (and the §2.12
gap ledger) as a (Spark builder, DuckDB oracle SQL) pair consumed by
``__spark_entry__.py``.

Engine-parity rules used throughout (so the driver's order-insensitive
value-hash matches bit-for-bit):

  * **Exact sums**: ``SUM(double)`` is order-dependent; both sides compute
    ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`` — decimal addition is
    exact, the final decimal→double conversion is identical IEEE rounding in
    both engines. Averages = exact decimal sum / count, divided in double.
    **Scale rule (round-10c lesson, q227)**: the decimal scale must not ask
    for digits past double precision — value·10^scale must stay ≲ 2^53, or
    DuckDB (which rounds the exact binary expansion) and Spark (which
    rounds the shortest decimal repr) disagree in the last decimal digit.
    Raw magnitudes ≤ ~1e5 are safe at scale 10; 6-rounded derived values
    (fl6/round6 outputs, magnitudes to 1e9) cast at ``DECIMAL(38,6)``.
  * **Transcendentals** (sin/cos/sqrt-of-aggregates): rounded to 6 decimals
    on both sides — libm vs JVM can differ in the last ulp; 1e-16 error vs
    5e-7 rounding spacing makes boundary collisions negligible.
  * **Epoch seconds**: Spark ``ts.cast("double")`` ≡ DuckDB ``epoch(ts)``
    (both keep microsecond fractions exactly).
  * **Truncation**: always explicit ``floor()`` — DuckDB's double→int cast
    ROUNDS while Spark's truncates.
  * **Regex whitespace**: never ``\\s`` — Java's matches vertical tab
    (\\x0B), RE2's does not. Both sides spell the class out:
    ``[ \\t\\n\\r\\f\\x0B]`` (``tx.WS_CLASS``, == Java ``\\s`` exactly).
  * Every computed column is aliased identically in both plans (the driver
    sorts columns by name before hashing).

Each builder cites the reference operator it re-expresses (SURVEY.md §2
inventory) so parity can be checked line-by-line.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powerdatapipeline_spark.functions.datetime_funcs import _cyclical
from powerdatapipeline_spark.operators import dedup as dd
from powerdatapipeline_spark.operators import graph as gr
from powerdatapipeline_spark.operators import relational as rel
from powerdatapipeline_spark.operators import similarity as sim
from powerdatapipeline_spark.operators import text as tx
from powerdatapipeline_spark.operators import timeseries as ts

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark builder, oracle SQL or None for rows-only checks)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

#: name -> snapshot priority. The driver's correctness snapshot records the
#: FIRST 50 ``queries()`` entries only, so the registry is ordered by
#: (priority desc, registration order) and the head IS the top-50 by
#: priority — rotation into/out of the recorded window is a one-argument
#: edit on a query's ``@register(..., priority=...)`` (VERDICT r6 #8, the
#: last hand-maintained list removed).
PRIORITY: dict[str, int] = {}

#: default: competes for the driver's recorded window
PRI_HEAD = 100
#: demoted: multi-round driver-green AND pinned by the tail-parity pytest
#: (sf0.001 + sf0.01 strict DuckDB compare), or operator-redundant with a
#: head entry — documented per call site
PRI_TAIL = 10


def register(name: str, oracle: str | None, priority: int = PRI_HEAD):
    def deco(fn: QueryFn):
        REGISTRY[name] = (fn, oracle)
        PRIORITY[name] = priority
        return fn
    return deco


#: expected columns per fixture table — the parquet twin of the reference's
#: ingest-time CSV validation (check_csv_file, reference
#: datapipeline/datapipeline_utilities.py:47-75). The driver regenerates
#: the fixtures between rounds; a drifted table fails with a named error
#: here instead of N identical downstream stack traces (round-4 lesson).
TABLE_COLUMNS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Every registry query loads its tables here, so pin the session zone
    # once for ALL of them: oracle parity assumes UTC (DuckDB timestamps
    # are naive), get_spark() sets it at session creation, but the driver
    # hands us a vanilla session — without this, timezone-sensitive
    # results would depend on which query (events-touching or not) ran
    # first in the session (ADVICE r5: no order-dependent globals).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return load_events(spark, sf_dir)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    missing = [c for c in TABLE_COLUMNS.get(name, []) if c not in df.columns]
    if missing:
        raise ValueError(
            f"{name} fixture drifted: missing columns {missing} "
            f"(has {df.columns})")
    return df


#: columns every events fixture must expose after loading (loud failure on
#: schema drift — the parquet twin of readers.check_columns for CSV)
EVENTS_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def events_ts_unit(sf_dir: str) -> str | None:
    """Physical time unit of ``events.parquet``'s ``ts`` column ('ns', 'us',
    'ms', 's') or None when it is a plain INT64. The driver regenerates the
    fixture between rounds with different physical schemas (round 3:
    TIMESTAMP(NANOS); round 4+: timestamp[us]), so the loaders dispatch on
    the footer instead of assuming — one pyarrow footer read, no data scan."""
    import pyarrow.parquet as pq

    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    return getattr(t, "unit", None)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-tolerant events loader. Dispatches on the parquet footer:

    * ``timestamp[us]/[ms]/[s]`` → Spark reads TIMESTAMP_NTZ; cast to the
      session-zoned TIMESTAMP under a UTC session zone, so ``ts.cast(
      "double")`` (epoch seconds) and collected values match DuckDB's naive
      ``epoch(ts)`` bit-for-bit.
    * ``timestamp[ns]`` / INT64 → Spark rejects TIMESTAMP(NANOS); read the
      nanos as long (legacy conf) and truncate to microseconds — exactly
      what DuckDB does loading the same file.

    Mirrors the reference's ingest-time validation (check_csv_file,
    reference datapipeline/datapipeline_utilities.py:47-75): column presence
    and the ts type are asserted loudly instead of trusted."""
    # Epoch/collect parity with DuckDB's naive timestamps requires UTC
    # (runtime conf, so this holds under any driver-created session).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    unit = events_ts_unit(sf_dir)
    if unit == "ns" or unit is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if df.schema["ts"].dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    missing = [c for c in EVENTS_COLUMNS if c not in df.columns]
    if missing or df.schema["ts"].dataType.simpleString() != "timestamp":
        raise ValueError(
            f"events fixture drifted: missing columns {missing}, "
            f"ts type {df.schema['ts'].dataType.simpleString()!r} "
            f"(expected 'timestamp'); physical unit was {unit!r}")
    return df


def events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of :func:`load_events` — one shared reader so the
    batch loader and every streaming query dispatch on the same footer and
    can never drift apart again (this divergence was round 4's q45/q65
    wrong-rows bug). ``readStream`` needs an explicit schema, so the footer
    probe picks it: timestamp units → ``ts timestamp_ntz`` then cast;
    nanos/int64 → ``ts long`` then nanos→micros."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    unit = events_ts_unit(sf_dir)
    base = ("event_id long, {ts}, user_id long, event_type string,"
            " value double, props string")
    reader = spark.readStream
    if unit == "ns" or unit is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        s = (reader.schema(base.format(ts="ts long"))
             # the file stream source requires a DIRECTORY basePath; select
             # just the events file from the sf dir via the glob filter
             .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
        return s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    s = (reader.schema(base.format(ts="ts timestamp_ntz"))
         .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    return s.withColumn("ts", F.col("ts").cast("timestamp"))


def docs_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming reader for the documents table (q196): readStream with
    the documents fixture's explicit schema, glob-filtered to the single
    parquet inside the sf dir (the events_stream_source convention)."""
    return (spark.readStream
            .schema("doc_id long, text string, lang string,"
                    " source string, n_chars long")
            .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))


def dsum(col, alias: str):
    """Exact engine-portable sum of a double column (see module docstring)."""
    return F.sum(F.col(col).cast("decimal(18,6)")).cast("double").alias(alias)


def davg(col, alias: str):
    """Exact decimal sum / count, divided in double — identical both sides."""
    return (F.sum(F.col(col).cast("decimal(18,6)")).cast("double")
            / F.count(col)).alias(alias)


_DSUM = "CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"
_DAVG = f"({_DSUM} / COUNT({{c}}))"


# ===========================================================================
# Relational core (SURVEY.md §2.12) over the TPC-H-ish star schema
# ===========================================================================

@register("q01_pricing_summary", f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM.format(c='l_quantity')} AS sum_qty,
       {_DSUM.format(c='l_extendedprice')} AS sum_base_price,
       {_DSUM.format(c='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_DAVG.format(c='l_quantity')} AS avg_qty,
       {_DAVG.format(c='l_extendedprice')} AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""", priority=PRI_TAIL)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped hash aggregation (gap §2.12; the reference's only grouped agg
    is the pandas resample mean, pandas_utilities.py:115-129). Map-side
    partial agg + single shuffle on the 6-value group key."""
    li = _t(spark, sf_dir, "lineitem")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(dsum("l_quantity", "sum_qty"),
                 dsum("l_extendedprice", "sum_base_price"),
                 F.sum(disc.cast("decimal(18,6)")).cast("double").alias("sum_disc_price"),
                 davg("l_quantity", "avg_qty"),
                 davg("l_extendedprice", "avg_price"),
                 F.count("*").alias("count_order")))


@register("q02_revenue_by_nation", f"""
SELECT n_name,
       {_DSUM.format(c='l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""", priority=PRI_TAIL)
def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi-join (gap §2.12 — the reference has NO joins,
    SURVEY.md §2.3). Dimensions are broadcast (customer/nation/region are
    tiny at star ratios) so the lineitem fact never shuffles for the join;
    only the final groupBy shuffles on n_name."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .where(F.col("r_name") == "ASIA"))
    return df.groupBy("n_name").agg(
        F.sum(disc.cast("decimal(18,6)")).cast("double").alias("revenue"),
        F.count("*").alias("n_items"))


@register("q03_part_type_revenue", f"""
SELECT p_type,
       {_DSUM.format(c='l_extendedprice')} AS revenue,
       {_DSUM.format(c='l_quantity')} AS total_qty,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 25
GROUP BY p_type
""", priority=PRI_TAIL)
def q03_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast fact-dim join (operators/relational.join_dim): the part dim
    rides to every executor; predicate on the dim prunes before broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 25)
    return (rel.join_dim(li, part, on=[li.l_partkey == part.p_partkey])
            .groupBy("p_type")
            .agg(dsum("l_extendedprice", "revenue"),
                 dsum("l_quantity", "total_qty"),
                 F.count("*").alias("n_items")))


@register("q04_semi_anti_joins", """
SELECT 'with_orders' AS op, c_mktsegment AS segment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
UNION ALL
SELECT 'without_orders' AS op, 'ALL' AS segment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""", priority=PRI_TAIL)
def q04_semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS; never duplicates the left side) and left-anti
    join (NOT EXISTS) in one tagged result (gap §2.12)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = (rel.semi_join(cust, orders, on="c_custkey")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("n_customers"))
            .select(F.lit("with_orders").alias("op"), "segment", "n_customers"))
    anti = (rel.anti_join(cust, orders, on="c_custkey")
            .agg(F.count("*").alias("n_customers"))
            .select(F.lit("without_orders").alias("op"),
                    F.lit("ALL").alias("segment"), "n_customers"))
    return semi.unionByName(anti)


@register("q06_topk_orders", """
SELECT 'per_customer' AS scope, o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3
UNION ALL
SELECT 'global' AS scope, o_custkey, o_orderkey, o_totalprice,
       ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
""", priority=PRI_TAIL)
def q06_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k both ways, tagged (gap §2.12 — the reference has no analytic
    windows or sort at all, SURVEY.md §2.6/§2.8): per-customer top-3 via a
    ranking window (one shuffle on o_custkey, ties broken by orderkey), and
    global top-10 via orderBy+limit, which compiles to TakeOrderedAndProject
    — per-partition local top-10 + driver merge, never a global sort. The
    global ranks are re-derived on the 10-row result, not the full table."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    per_group = (rel.top_k_per_group(
        orders, ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], k=3)
        .select(F.lit("per_customer").alias("scope"),
                "o_custkey", "o_orderkey", "o_totalprice", "rn"))
    top10 = rel.top_k(orders, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 10)
    w10 = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    global_ = (top10.withColumn("rn", F.row_number().over(w10).cast("bigint"))
               .select(F.lit("global").alias("scope"),
                       "o_custkey", "o_orderkey", "o_totalprice", "rn"))
    return per_group.unionByName(global_)


@register("q08_rollup_cube_gsets", f"""
SELECT 'rollup' AS op,
       COALESCE(l_returnflag, 'ALL') AS dim1,
       COALESCE(l_linestatus, 'ALL') AS dim2,
       COUNT(*) AS n,
       {_DSUM.format(c='l_quantity')} AS sum_val
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS op,
       COALESCE(o_orderstatus, 'ALL') AS dim1,
       COALESCE(o_orderpriority, 'ALL') AS dim2,
       COUNT(*) AS n,
       {_DSUM.format(c='o_totalprice')} AS sum_val
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'gsets' AS op,
       COALESCE(l_returnflag, 'ALL') AS dim1,
       COALESCE(CAST(year(l_shipdate) AS VARCHAR), 'ALL') AS dim2,
       COUNT(*) AS n,
       {_DSUM.format(c='l_extendedprice')} AS sum_val
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (year(l_shipdate)), ())
""", priority=PRI_TAIL)
def q08_rollup_cube_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole multi-dimensional grouping family, tagged (gap §2.12):
    hierarchical ROLLUP, full CUBE, and explicit GROUPING SETS (via the SQL
    front-end — the Expand operator fans each row into its sets, map-side
    partial aggregation still applies to every branch)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rollup = (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.count("*").alias("n"), dsum("l_quantity", "sum_val"))
              .select(F.lit("rollup").alias("op"),
                      F.coalesce("l_returnflag", F.lit("ALL")).alias("dim1"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("dim2"),
                      "n", "sum_val"))
    cube = (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"), dsum("o_totalprice", "sum_val"))
            .select(F.lit("cube").alias("op"),
                    F.coalesce("o_orderstatus", F.lit("ALL")).alias("dim1"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("dim2"),
                    "n", "sum_val"))
    # DataFrame template arg instead of a temp view — nothing leaks into the
    # session catalog (library hygiene: no name-collision risk)
    gsets = spark.sql(f"""
        SELECT 'gsets' AS op,
               COALESCE(l_returnflag, 'ALL') AS dim1,
               COALESCE(CAST(year(l_shipdate) AS STRING), 'ALL') AS dim2,
               COUNT(*) AS n,
               {_DSUM.format(c='l_extendedprice')} AS sum_val
        FROM {{li}}
        GROUP BY GROUPING SETS ((l_returnflag), (year(l_shipdate)), ())
    """, li=li)
    return rollup.unionByName(cube).unionByName(gsets)


@register("q10_set_operations", """
SELECT 'buyers_high_balance' AS op, COUNT(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 0
  INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'high_balance_non_buyers' AS op, COUNT(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 0
  EXCEPT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'all_keys_union' AS op, COUNT(*) AS n FROM (
  SELECT c_custkey FROM customer UNION SELECT o_custkey FROM orders)
""", priority=PRI_TAIL)
def q10_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except (gap §2.12 — the reference's concats are
    feature-wise, not row-wise, SURVEY.md §2.8)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    rich = cust.where(F.col("c_acctbal") > 0).select(F.col("c_custkey"))
    buyers = orders.select(F.col("o_custkey").alias("c_custkey"))
    allc = cust.select("c_custkey")

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (one("buyers_high_balance", rich.intersect(buyers))
            .unionByName(one("high_balance_non_buyers", rich.exceptAll(buyers).distinct()))
            .unionByName(one("all_keys_union", allc.union(buyers).distinct())))


@register("q11_distinct_counts", """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""", priority=PRI_TAIL)
def q11_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("n_parts"),
                 F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.count("*").alias("n_rows")))


_JSON_K = "CAST(props->>'$.k' AS INT)"


@register("q13_json_extract", f"""
SELECT event_type,
       {_DSUM.format(c=_JSON_K)} AS sum_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""", priority=PRI_TAIL)
def q13_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction on events.props (gap §2.12): get_json_object — JVM
    Jackson parse, pushed inside codegen; no Python."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.groupBy("event_type")
            .agg(F.sum(k.cast("decimal(18,6)")).cast("double").alias("sum_k"),
                 F.count("*").alias("n")))


@register("q14_conditional_agg", f"""
SELECT CAST(floor(value / 20.0) AS BIGINT) AS value_bucket,
       COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
       {_DSUM.format(c="CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS purchase_value
FROM events WHERE value IS NOT NULL
GROUP BY 1
""", priority=PRI_TAIL)
def q14_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/conditional aggregation (pivot-style without pivot's schema
    inference — fixed columns, deterministic)."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bucket = F.floor(F.col("value") / 20.0).cast("bigint").alias("value_bucket")
    pv = F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0))
    return (ev.groupBy(bucket)
            .agg(F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
                 F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
                 F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
                 F.sum(pv.cast("decimal(18,6)")).cast("double").alias("purchase_value")))


@register("q16_adjacent_intervals", """
WITH stepped AS (
  SELECT event_type,
         epoch(ts) AS s,
         lead(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) - epoch(ts) AS interval
  FROM events)
SELECT event_type,
       CAST(count(interval) AS BIGINT) AS n_intervals,
       round(min(interval), 6) AS min_interval,
       round(max(interval), 6) AS max_interval,
       round(CAST(SUM(CAST(interval AS DECIMAL(18,6))) AS DOUBLE) / count(interval), 6) AS avg_interval
FROM stepped WHERE interval IS NOT NULL
GROUP BY event_type
""", priority=PRI_TAIL)
def q16_adjacent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-row interval audit (reference get_interval_dataset,
    tfdataset_utilities.py:162-170 — self-zip with skip(1); here a lead()
    window per series, the idiomatic Spark form per SURVEY.md §2.3). The
    reference asserts a constant cadence; events are irregular, so the audit
    reports the min/max/avg step per event type instead."""
    # same shape as operators/timeseries.with_interval, with an explicit
    # event_id tie-break for cross-engine determinism
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step = (F.lead("s").over(w) - F.col("s")).alias("interval")
    stepped = (_t(spark, sf_dir, "events")
               .withColumn("s", F.col("ts").cast("double"))
               .select("event_type", step))
    return (stepped.where(F.col("interval").isNotNull())
            .groupBy("event_type")
            .agg(F.count("interval").cast("bigint").alias("n_intervals"),
                 F.round(F.min("interval"), 6).alias("min_interval"),
                 F.round(F.max("interval"), 6).alias("max_interval"),
                 F.round(F.sum(F.col("interval").cast("decimal(18,6)")).cast("double")
                         / F.count("interval"), 6).alias("avg_interval")))


@register("q17_downsample_mean_hourly", f"""
SELECT date_trunc('hour', ts) AS bucket_ts,
       event_type,
       {_DAVG.format(c='value')} AS avg_value,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
""", priority=PRI_TAIL)
def q17_downsample_mean_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window mean downsample (reference pandas
    resample('1S').mean(), pandas_utilities.py:115-129 → SURVEY.md §2.4's
    'one true grouped aggregation'): groupBy on the hour bucket, map-side
    partial agg, one shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
            .agg(davg("value", "avg_value"), F.count("*").alias("n")))


@register("q18_downsample_modulo", """
SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value
FROM events
WHERE CAST(floor(epoch(ts)) AS BIGINT) % 2 = 0
""", priority=PRI_TAIL)
def q18_downsample_modulo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modulo-grid downsample (reference downsample_to_interval,
    tfdataset_resampling.py:32-48: keep rows with ts % i == 0). Pure filter —
    Catalyst pushes it to the scan; zero shuffle. Explicit floor() because
    DuckDB's double→int cast rounds while Spark's truncates."""
    ev = _t(spark, sf_dir, "events")
    es = F.floor(F.col("ts").cast("double")).cast("bigint")
    return (ev.select("event_id", es.alias("epoch_s"), "value")
            .where(es % 2 == 0))


@register("q19_upsample_repeat", f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
         {_DAVG.format(c='value')} AS avg_value
  FROM events GROUP BY 1, 2)
SELECT bucket_ts, event_type, avg_value,
       CAST(floor(epoch(bucket_ts)) + tick AS BIGINT) AS tick_s
FROM hourly, unnest(generate_series(0, 3600 - 900, 900)) u(tick)
""", priority=PRI_TAIL)
def q19_upsample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsample with repeat fill (reference upsample_to_interval,
    tfdataset_resampling.py:11-30): 1→N tick generation via
    explode(sequence(...)) — the idiomatic UDTF path (SURVEY.md §2.11), a
    narrow op that never shuffles. Hourly means re-spread to a 900 s grid,
    values repeated (the reference's fill_method='repeat')."""
    hourly = q17_downsample_mean_hourly(spark, sf_dir).drop("n")
    start = F.floor(F.col("bucket_ts").cast("double")).cast("long")
    ticks = F.sequence(F.lit(0), F.lit(3600 - 900), F.lit(900))
    return (hourly
            .withColumn("tick", F.explode(ticks))
            .select("bucket_ts", "event_type", "avg_value",
                    (start + F.col("tick")).cast("bigint").alias("tick_s")))


@register("q20_forward_fill", """
WITH gapped AS (
  SELECT event_id, user_id, ts,
         CASE WHEN value < 10 THEN NULL ELSE value END AS v
  FROM events)
SELECT event_id,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM gapped
""", priority=PRI_TAIL)
def q20_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (reference fill_missing_values_in_df ffill,
    pandas_utilities.py:131-152) = last non-null over the unbounded-preceding
    frame per series. Values below 10 are masked to NULL to create gaps —
    same masking on both sides."""
    ev = _t(spark, sf_dir, "events")
    gapped = ev.select(
        "event_id", "user_id", "ts",
        F.when(F.col("value") < 10, None).otherwise(F.col("value")).alias("v"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return gapped.select(
        "event_id", F.last("v", ignorenulls=True).over(w).alias("v_filled"))


#: cyclical-encoding oracle fragment: ``sin/cos((s mod p)·(2π/p))`` with the
#: period and the exact-π angular frequency embedded as identical double
#: literals in both plans (cf. module docstring: epoch*2*pi()/period
#: associates differently across engines, and epoch-sized sin arguments hit
#: large-argument reduction where libms diverge at 1e-6 — the mod keeps
#: arguments in [0, 2π) where engines agree to ulps; see
#: functions/datetime_funcs._cyc, the Spark twin)
#: the trailing ``+ 0.0`` normalizes IEEE negative zero: at phase multiples
#: of π/2 the true sin/cos is ~±1e-16 and its SIGN differs across libms, so
#: one engine rounds to -0.0 and the other to 0.0; adding +0.0 maps both to
#: +0.0 (and is a no-op for every other value)
def _sql_cyc(s: str, period: float, kind: str) -> str:
    return (f"(round({kind}(fmod({s}, {period!r})"
            f" * {2 * 3.141592653589793 / period!r}), 6) + 0.0)")


@register("q22_normalize", """
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS m,
         CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS m2,
         min(value) AS lo, max(value) AS hi
  FROM events GROUP BY event_type)
SELECT event_id,
       round((value - m) / sqrt(m2 - m * m), 6) AS value_z,
       round((value - lo) / (hi - lo), 6) AS value_rescaled
FROM events JOIN stats USING (event_type)
""", priority=PRI_TAIL)
def q22_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase normalization, both modes in one pass (reference normalizer
    fit/apply, tfdataset_utilities.py:81-112, and the FeatureSpace's
    float_rescaled mode, datapipeline.py:283-361): per-group fit stats —
    mean/variance from exact decimal sums (numpy .var() population-variance
    parity, Appendix A.10) plus min/max — via ONE aggregate, then a
    broadcast join back applies z-score AND min-max rescale. At 100 TB the
    stats side is a handful of rows: broadcast, never a shuffle of the fact
    table; one fit job instead of two."""
    ev = _t(spark, sf_dir, "events")
    stats = (ev.groupBy("event_type")
             .agg((F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                   / F.count("value")).alias("m"),
                  (F.sum((F.col("value") * F.col("value")).cast("decimal(18,6)"))
                   .cast("double") / F.count("value")).alias("m2"),
                  F.min("value").alias("lo"), F.max("value").alias("hi")))
    z = F.round((F.col("value") - F.col("m"))
                / F.sqrt(F.col("m2") - F.col("m") * F.col("m")), 6)
    scaled = F.round((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")), 6)
    return (ev.join(F.broadcast(stats), "event_type")
            .select("event_id", z.alias("value_z"), scaled.alias("value_rescaled")))


@register("q24_onehot_encode", """
SELECT event_id,
       CASE WHEN event_type = 'click'    THEN 1.0 ELSE 0.0 END AS event_type_onehot_0,
       CASE WHEN event_type = 'error'    THEN 1.0 ELSE 0.0 END AS event_type_onehot_1,
       CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS event_type_onehot_2,
       CASE WHEN event_type = 'signup'   THEN 1.0 ELSE 0.0 END AS event_type_onehot_3,
       CASE WHEN event_type = 'view'     THEN 1.0 ELSE 0.0 END AS event_type_onehot_4
FROM events
""", priority=PRI_TAIL)
def q24_onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String one-hot with a distinct-scan vocabulary (reference
    StringLookup path, tfdataset_utilities.py:199-210; depth-5 parity with
    the reference's hard-coded 5 categories, Appendix A.7) via the
    FeatureSpace registry — vocab fitted on the data (sorted distinct),
    transform is pure when/otherwise expressions."""
    from powerdatapipeline_spark.features import FeatureSpace, FeatureSpec

    ev = _t(spark, sf_dir, "events")
    fs = FeatureSpace([FeatureSpec("event_type", "string", "one_hot")]).fit(ev)
    return fs.transform(ev, keep=["event_id"])


@register("q25_prefix_split", """
WITH s AS (SELECT epoch(ts) AS s FROM events),
thr AS (SELECT quantile_cont(s, 0.8) AS t80, quantile_cont(s, 0.9) AS t90 FROM s)
SELECT CASE WHEN s <= t80 THEN 'train'
            WHEN s <= t90 THEN 'test'
            ELSE 'eval' END AS split,
       COUNT(*) AS n_rows,
       CAST(floor(min(s)) AS BIGINT) AS first_s,
       CAST(floor(max(s)) AS BIGINT) AS last_s
FROM s, thr GROUP BY 1
""", priority=PRI_TAIL)
def q25_prefix_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ORDERED prefix split 0.8/0.1/0.1 (reference
    get_train_test_eval_dataset, datapipeline.py:404-424 — a prefix-by-
    fraction split, NOT randomSplit, Appendix A.9), via the SCALE path
    (operators/timeseries.prefix_split): the fraction boundaries are
    timestamp quantiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    same (1−g)·a+g·b interpolation — verified bit-identical in q50), then
    three filters. NO global row_number, NO single-task sort — the plan is
    one grouped-percentile job plus narrow filters, which survives a 100×
    scale-up where the rank-based form collapses to one task."""
    ev = _t(spark, sf_dir, "events").select("ts")
    train, test, eval_df = ts.prefix_split(ev, "ts", 0.8, 0.1)
    s = F.col("ts").cast("double")

    def summarize(tag: str, df: DataFrame) -> DataFrame:
        return (df.agg(F.count("*").alias("n_rows"),
                       F.floor(F.min(s)).cast("bigint").alias("first_s"),
                       F.floor(F.max(s)).cast("bigint").alias("last_s"))
                .select(F.lit(tag).alias("split"), "n_rows", "first_s", "last_s"))

    out = (summarize("train", train)
           .unionByName(summarize("test", test))
           .unionByName(summarize("eval", eval_df)))
    # DuckDB's GROUP BY never emits empty groups; Spark's global agg on an
    # empty split would emit an n_rows=0 row — drop it for parity
    return out.where(F.col("n_rows") > 0)


# ===========================================================================
# Text analysis / dedup / similarity (BASELINE.json north star, §2.12)
# ===========================================================================

#: DuckDB fragments kept textually in sync with operators/text.py —
#: tokenization must match bit-for-bit for ratio parity: Spark tokens()
#: regex-splits on the explicit whitespace class (tx.WS_CLASS — spelled
#: out because Java \s matches \x0B and RE2's does not), so the oracle
#: splits on the same class (a single-space split would diverge on any
#: tab/newline/double-space document).
_SQL_TOKENS = r"regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+')"
_SQL_STOP = "('" + "','".join(
    "the a an and or of to in is are was were be been it that this with as "
    "for on at by from not but".split()) + "')"
@register("q26_exact_dedup", """
SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fp,
       min(doc_id) AS doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
""", priority=PRI_TAIL)
def q26_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text md5 fingerprint (operators/dedup.
    exact_dedup): one shuffle keyed by a uniform 32-byte digest — never the
    document payload."""
    return dd.exact_dedup(_t(spark, sf_dir, "documents"))


@register("q27_text_stats", f"""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(list_filter({_SQL_TOKENS}, t -> t != ''))) AS BIGINT) AS total_tokens,
       (CAST(SUM(len(list_filter({_SQL_TOKENS}, t -> t != ''))) AS DOUBLE) / COUNT(*)) AS avg_tokens
FROM documents GROUP BY lang, source
""", priority=PRI_TAIL)
def q27_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics (operators/text.token_count): integer sums
    are exact in any engine; the average is one double division."""
    docs = _t(spark, sf_dir, "documents")
    ntok = tx.token_count("text")
    return (docs.groupBy("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.sum(ntok).cast("bigint").alias("total_tokens"),
                 (F.sum(ntok).cast("double") / F.count("*")).alias("avg_tokens")))


@register("q28_quality_scores", f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter({_SQL_TOKENS}, x -> x != '')) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter({_SQL_TOKENS}, x -> x IN {_SQL_STOP})) AS n_stop,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
       round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS punct_ratio,
       CASE WHEN n_tokens > 0 AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.08
            THEN 'en' ELSE 'other' END AS lang_pred
FROM t
""", priority=PRI_TAIL)
def q28_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + language-ID heuristic
    (operators/text.quality_score / langid_heuristic): pure string/array
    built-ins, whole-stage codegen, no Python."""
    docs = _t(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    n_tok = F.size(toks)
    sw = F.array(*[F.lit(w) for w in tx.STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    sw_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(0.0)
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(F.when(n_chars > 0, n_punct.cast("double") / n_chars)
                .otherwise(0.0), 6).alias("punct_ratio"),
        F.when(sw_ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"))


#: Word-3-gram shingles for MinHash — word shingles (not char) because on a
#: small-vocabulary corpus the char-trigram sets of any two long documents
#: overlap almost completely, driving LSH candidates to O(n²)
#: (operators/text.shingles docstring). Structure mirrors Spark word_ngrams.
#: Kirsch–Mitzenmacher double-hashed MinHash (operators/text.minhash_signature):
#: one md5 per shingle, split into two 32-bit halves, permutation i =
#: (h1 + i*h2) mod 2^31-1 — pure integer arithmetic, bit-identical across
#: engines. COALESCE to the prime (the `least` identity) so an empty shingle
#: set matches Spark's aggregate-with-init semantics, never NULL.
_SQL_MINHASH = r"""
  SELECT doc_id, g,
         list_transform(generate_series(0, 15),
           i -> coalesce(list_min(list_transform(g,
                  s -> (CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)
                        + i * CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT))
                       % 2147483647)), 2147483647)) AS sig
  FROM (
    SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 0)),
             i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS g
    FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'), x -> x != '') AS tok
          FROM documents))
"""

_SQL_BANDED = """
  SELECT doc_id, g, sig, band,
         md5(list_aggregate(list_slice(sig, band*4+1, band*4+4), 'string_agg', '|')) AS bh
  FROM mh, unnest(generate_series(0, 3)) u(band)
"""


@register("q29_lsh_neardup", f"""
WITH mh AS ({_SQL_MINHASH}),
banded AS ({_SQL_BANDED}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
SELECT id_a, id_b,
       round(CAST(len(list_filter(list_zip(ma.sig, mb.sig), z -> z[1] = z[2])) AS DOUBLE) / 16, 6) AS est_jaccard,
       round(CAST(len(list_intersect(ma.g, mb.g)) AS DOUBLE)
             / (len(ma.g) + len(mb.g) - len(list_intersect(ma.g, mb.g))), 6) AS jaccard
FROM cand JOIN mh ma ON ma.doc_id = id_a JOIN mh mb ON mb.doc_id = id_b
WHERE CAST(len(list_filter(list_zip(ma.sig, mb.sig), z -> z[1] = z[2])) AS DOUBLE) / 16 >= 0.5
""", priority=PRI_TAIL)
def q29_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup with exact verification, one pass
    (operators/dedup.neardup_report): K–M double-hashed MinHash (16 perms, 4 bands
    × 4 rows) → band-bucket join → BOTH the signature-agreement Jaccard
    estimate (operators/dedup.minhash_lsh_pairs semantics) and the EXACT
    3-gram Jaccard from the carried shingle sets
    (operators/dedup.lsh_verified_pairs semantics) per candidate pair. This
    is the production near-dedup shape: sub-quadratic candidate generation,
    exact verification only on candidates, one signature computation and
    one self-join serving both metrics. The md5-seeded integer family is
    bit-portable, so even the LSH candidate set is oracle-checkable — no
    weaker rows-only check needed."""
    return dd.neardup_report(_t(spark, sf_dir, "documents"),
                             num_perm=16, bands=4, est_threshold=0.5,
                             shingle_unit="word")


def _ddot(x, y):
    """Decimal-exact dot product — moved to functions/vector.ddot so
    operators (embedding near-dup) share the same parity-safe kernel."""
    from powerdatapipeline_spark.functions.vector import ddot
    return ddot(x, y)


_SQL_DOT = ("CAST(list_sum(list_transform(generate_series(1, 64), i -> "
            "CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
            " AS DECIMAL(28,12)))) AS DOUBLE)")
_SQL_NORM = ("sqrt(CAST(list_sum(list_transform(generate_series(1, 64), i -> "
             "CAST(CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE)"
             " AS DECIMAL(28,12)))) AS DOUBLE))")


@register("q31_cosine_topk", f"""
WITH scored AS (
  SELECT b.vec_id AS query_id, a.vec_id,
         round({_SQL_DOT} / ({_SQL_NORM.format(t='a')} * {_SQL_NORM.format(t='b')}), 6) AS cosine,
         round({_SQL_NORM.format(t='a')}, 6) AS vec_norm
  FROM embeddings a, embeddings b WHERE b.vec_id < 5)
SELECT * FROM (
  SELECT query_id, vec_id, cosine, vec_norm,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 10
""", priority=PRI_TAIL)
def q31_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (operators/similarity.brute_force_topk
    semantics, decimal-exact dot products for engine parity): queries are
    broadcast, the corpus never shuffles; per-query ranking windows on the
    (tiny) scored side only. Each neighbor also carries its L2 norm
    (functions/vector.l2_norm shape) so the vector-norm kernel is
    oracle-verified in the same pass."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))

    norm = F.sqrt(_ddot(F.col("embedding"), F.col("embedding")))
    cos = F.round(_ddot(F.col("embedding"), F.col("qv"))
                  / (norm * F.sqrt(_ddot(F.col("qv"), F.col("qv")))), 6)
    scored = (emb.crossJoin(F.broadcast(qs))
              .select("query_id", "vec_id", cos.alias("cosine"),
                      F.round(norm, 6).alias("vec_norm")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= 10))


@register("q37_asof_join", """
WITH purchases AS (
  SELECT user_id, ts, max(value) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT e.event_id,
       round(p.pvalue, 6) AS asof_value,
       round(epoch(e.ts) - epoch(p.ts), 6) AS asof_age_s
FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
ASOF LEFT JOIN purchases p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""", priority=PRI_TAIL)
def q37_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (gap §2.12): each non-purchase event enriched
    with the user's most recent purchase at-or-before it.

    Spark has no ASOF JOIN operator — operators/timeseries.asof_join
    implements it as tag-union + one keyed window (cost |L|+|R|, one
    shuffle), NOT an inequality join (which Catalyst would execute as a
    quadratic nested loop). DuckDB's native ASOF JOIN is the oracle."""
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts").agg(F.max("value").alias("pvalue")))
    left = ev.where(F.col("event_type") != "purchase")
    out = ts.asof_join(left, purchases.withColumn("pts", F.col("ts").cast("double")),
                       partition_by=["user_id"], ts_col="ts",
                       right_value_cols=["pvalue", "pts"])
    return out.select(
        "event_id",
        F.round("asof_pvalue", 6).alias("asof_value"),
        F.round(F.col("ts").cast("double") - F.col("asof_pts"), 6).alias("asof_age_s"))


@register("q38_range_join", """
SELECT e.event_id, COUNT(p.event_id) AS n_nearby_purchases
FROM (SELECT * FROM events WHERE event_type = 'click') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON epoch(p.ts) >= epoch(e.ts) - 3600 AND epoch(p.ts) <= epoch(e.ts) + 3600
GROUP BY e.event_id
""", priority=PRI_TAIL)
def q38_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (gap §2.12): purchases within ±1 h of each click, counted.
    Executed via operators/timeseries.range_join_bucketed — time-bucket
    replication turns the inequality join into an equi-join (hash, shuffle
    by bucket) with fan-out bounded by match density; a naive range
    predicate would run as BroadcastNestedLoopJoin. DuckDB executes the
    naive form with its IEJoin — same semantics, different physical plan."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "ts")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("p_id"), F.col("ts").alias("pts")))
    joined = ts.range_join_bucketed(clicks, purchases, "ts", "pts",
                                    lo_seconds=-3600, hi_seconds=3600)
    counts = joined.groupBy("event_id").agg(F.count("p_id").alias("n_nearby_purchases"))
    return (clicks.join(counts, "event_id", "left")
            .select("event_id",
                    F.coalesce("n_nearby_purchases", F.lit(0)).alias("n_nearby_purchases")))


@register("q39_sessionize", f"""
WITH seq AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM seq)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       round(max(epoch(ts)) - min(epoch(ts)), 6) AS duration_s,
       {_DSUM.format(c='value')} AS sum_value
FROM sessions GROUP BY user_id, session_id
""", priority=PRI_TAIL)
def q39_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (operators/timeseries.sessionize): 30-min-gap sessions
    per user — lag + running-sum windows, one shuffle on user_id. The
    streaming twin is F.session_window with a watermark (§2.10)."""
    ev = _t(spark, sf_dir, "events")
    sess = ts.sessionize(ev, "ts", ["user_id"], gap_seconds=1800)
    es = F.col("ts").cast("double")
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.max(es) - F.min(es), 6).alias("duration_s"),
                 dsum("value", "sum_value")))


@register("q41_moving_average", """
SELECT event_id,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                  OVER w AS DOUBLE) / COUNT(value) OVER w, 6) AS moving_avg_4,
       COUNT(value) OVER w AS n_in_window,
       CAST(count(*) OVER wr AS BIGINT) AS n_last_hour,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wr AS DOUBLE)
             / count(value) OVER wr, 6) AS avg_last_hour
FROM (SELECT event_id, user_id, value, ts, epoch(ts) AS s FROM events)
WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY user_id ORDER BY s
              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""", priority=PRI_TAIL)
def q41_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based moving aggregates, ROW and RANGE flavors side by side
    (SURVEY.md §2.6 — the reference has only fixed ROW frames):

      * trailing-4 mean per series — rowsBetween frame, decimal-exact sum;
      * trailing-HOUR mean per series — a RANGE frame over event TIME, the
        frame width adapting to irregular cadence, which a row-count frame
        cannot express.

    Both windows share the user_id partition key, so the plan shuffles ONCE
    and only re-sorts between the two frame evaluations. (Round 5: absorbed
    the former q57_time_range_frame — its n_last_hour/avg_last_hour columns
    are verified here, freeing a slot in the driver's 50-entry
    verification window.)"""
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", "value", "ts",
                  F.col("ts").cast("double").alias("s")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, 0))
    wr = (Window.partitionBy("user_id").orderBy("s")
          .rangeBetween(-3600, Window.currentRow))
    ma = (F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
          / F.count("value").over(w))
    avg_hr = (F.sum(F.col("value").cast("decimal(18,6)")).over(wr).cast("double")
              / F.count("value").over(wr))
    return ev.select("event_id", F.round(ma, 6).alias("moving_avg_4"),
                     F.count("value").over(w).alias("n_in_window"),
                     F.count("*").over(wr).cast("bigint").alias("n_last_hour"),
                     F.round(avg_hr, 6).alias("avg_last_hour"))


@register("q42_derive_datetime", f"""
WITH split AS (
  SELECT event_id,
         strftime(ts, '%Y-%m-%d') AS date_block,
         strftime(ts, '%H:%M:%S') AS time_block
  FROM events),
derived AS (
  SELECT event_id,
         date_block || ' ' || time_block AS datetimestamp,
         CAST(epoch(strptime(date_block || ' ' || time_block, '%Y-%m-%d %H:%M:%S')) AS DOUBLE) AS datetimestampseconds
  FROM split)
SELECT event_id, datetimestamp, datetimestampseconds,
       CAST(floor(datetimestampseconds / 86400) AS BIGINT) AS days,
       CAST(floor((floor(datetimestampseconds) % 86400) / 60) AS BIGINT) AS minutes,
       {_sql_cyc('datetimestampseconds', 1.0, 'sin')}  AS sin_second,
       {_sql_cyc('datetimestampseconds', 1.0, 'cos')}  AS cos_second,
       {_sql_cyc('datetimestampseconds', 60.0, 'sin')}  AS sin_minute,
       {_sql_cyc('datetimestampseconds', 60.0, 'cos')}  AS cos_minute,
       {_sql_cyc('datetimestampseconds', 3600.0, 'sin')} AS sin_hour,
       {_sql_cyc('datetimestampseconds', 3600.0, 'cos')} AS cos_hour,
       {_sql_cyc('datetimestampseconds', 86400.0, 'sin')}  AS sin_day,
       {_sql_cyc('datetimestampseconds', 86400.0, 'cos')}  AS cos_day,
       {_sql_cyc('datetimestampseconds', 365.2425 * 86400.0, 'sin')} AS sin_year,
       {_sql_cyc('datetimestampseconds', 365.2425 * 86400.0, 'cos')} AS cos_year
FROM derived
""", priority=PRI_TAIL)
def q42_derive_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature derived columns (SURVEY.md §2.5): split
    date/time text blocks → ``datetimestamp`` concat
    (tfdataset_utilities.py:114-134) → epoch-seconds float64
    (:122-140) → days/minutes decomposition (datapipeline_utilities.py:
    182-191) → cyclical sin/cos encodings at ALL FIVE reference periods —
    second/minute/hour/day/year (datapipeline_utilities.py:80-106,
    datapipeline.py:511-566). Exact π — the reference's executed paths
    hard-code 3.14 (SURVEY.md Appendix A.1); outputs rounded to 6 dp
    because libm and the JVM may differ in the last ulp. The reference
    bounces every row through ``tf.py_function``; here the whole chain is
    codegen'd built-ins."""
    from powerdatapipeline_spark.functions.datetime_funcs import (
        concat_date_time, epoch_seconds)

    ev = _t(spark, sf_dir, "events")
    split = ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("date_block"),
        F.date_format("ts", "HH:mm:ss").alias("time_block"))
    stamp = concat_date_time("date_block", "time_block")
    secs = epoch_seconds(stamp, "yyyy-MM-dd HH:mm:ss")
    derived = split.select("event_id", stamp.alias("datetimestamp"),
                           secs.alias("datetimestampseconds"))
    s = F.col("datetimestampseconds")
    periods = ["second", "minute", "hour", "day", "year"]
    names = [f"{k}_{p}" for p in periods for k in ("sin", "cos")]
    # + 0.0 normalizes -0.0 (see _sql_cyc: the sign of a ~1e-16 result at
    # π/2 phase multiples is libm-dependent)
    cyc = [(F.round(c, 6) + F.lit(0.0)).alias(n)
           for n, c in zip(names, _cyclical(s, periods))]
    return derived.select(
        "event_id", "datetimestamp", "datetimestampseconds",
        F.floor(s / 86400).cast("bigint").alias("days"),
        F.floor((F.floor(s) % 86400) / 60).cast("bigint").alias("minutes"),
        *cyc)


@register("q43_supervised_lags", """
SELECT event_id,
       value AS target,
       lag(value, 1) OVER w AS feat_1,
       lag(value, 2) OVER w AS feat_2,
       lag(value, 3) OVER w AS feat_3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY lag(value, 3) OVER w IS NOT NULL
""", priority=PRI_TAIL)
def q43_supervised_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed next-step supervision (reference windowed_dataset_v1,
    tfdataset.py:256-263: first w−1 rows = features, last = target) in
    relational form: lagged feature columns per series, complete windows
    only (drop_remainder ≡ the QUALIFY). The array-shaped variant is
    operators/timeseries.window_features_targets."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = ev.select(
        "event_id", F.col("value").alias("target"),
        F.lag("value", 1).over(w).alias("feat_1"),
        F.lag("value", 2).over(w).alias("feat_2"),
        F.lag("value", 3).over(w).alias("feat_3"))
    return out.where(F.col("feat_3").isNotNull())


@register("q44_data_quality", """
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(value) AS n_null_value,
       COUNT(*) - COUNT(props) AS n_null_props,
       COUNT(DISTINCT event_type) AS n_event_types,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(floor(min(epoch(ts))) AS BIGINT) AS first_s,
       CAST(floor(max(epoch(ts))) AS BIGINT) AS last_s,
       CASE WHEN min(event_type) = max(event_type) THEN 1 ELSE 0 END AS all_types_equal
FROM events
""", priority=PRI_TAIL)
def q44_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit in ONE pass (reference streams the file once per
    check — null audit datapipeline_utilities.py:12-38, all-equal reduction
    tfdataset_utilities.py:172-188 as min=max, row count :40-45; SURVEY.md
    §2.4). One job, map-side combined."""
    ev = _t(spark, sf_dir, "events")
    es = F.col("ts").cast("double")
    return ev.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("value")).alias("n_null_value"),
        (F.count("*") - F.count("props")).alias("n_null_props"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.countDistinct("user_id").alias("n_users"),
        F.floor(F.min(es)).cast("bigint").alias("first_s"),
        F.floor(F.max(es)).cast("bigint").alias("last_s"),
        F.when(F.min("event_type") == F.max("event_type"), 1).otherwise(0)
         .alias("all_types_equal"))


@register("q45_streaming_downsample", f"""
SELECT date_trunc('hour', ts) AS bucket_ts,
       event_type,
       {_DAVG.format(c='value')} AS avg_value,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
""", priority=PRI_TAIL)
def q45_streaming_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING twin of q17 (SURVEY.md §2.10, §7.6): the same
    hourly tumbling mean executed incrementally — file stream source →
    watermarked window agg → availableNow trigger → memory sink — and
    verified against the SAME DuckDB oracle as the batch version, proving
    batch/stream semantic parity. The reference only declared streaming
    (use_streaming config, reference config/config.py:89-90); nothing
    consumed it.

    NOTE: ``complete`` mode + memory sink is the VERIFICATION shape only
    (one availableNow pass, whole result needed for the oracle compare).
    The production shape is ``append`` mode past the watermark into a
    durable sink — complete mode re-emits all state every trigger and
    cannot stream to parquet; see streaming/pipeline.write_stream_parquet."""
    return _run_stream_to_memory(spark, q45_stream_frame(spark, sf_dir),
                                 "q45", "complete",
                                 source_paths=(f"{sf_dir}/events.parquet",))


def q45_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT pre-sink streaming frame q45 executes — shared with
    tools/dump_plans so the plan audit inspects the DAG the query runs,
    not a hand-written twin that can drift."""
    stream = events_stream_source(spark, sf_dir)
    agg = (stream
           .withWatermark("ts", "1 minute")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg((F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                 / F.count("value")).alias("avg_value"),
                F.count("*").alias("n")))
    return agg.select(F.col("w.start").alias("bucket_ts"), "event_type",
                      "avg_value", "n")


def _stream_scratch(prefix: str) -> str:
    """Scratch base for the foreachBatch monitor queries' partial
    frames + checkpoints — tmpfs-preferring (round 16: ~0.4-0.7 s of
    small-file ext4 I/O per monitor run measured on q231). The partials
    are read LAZILY by the finalize frame each query returns, so these
    dirs are not removed at query end (same lifetime as the previous
    /tmp mkdtemp, a few KB per run)."""
    from powerdatapipeline_spark.streaming.pipeline import scratch_dir

    return scratch_dir(prefix)


def _run_stream_to_memory(spark: SparkSession, frame: DataFrame,
                          tag: str, mode: str,
                          source_paths: tuple[str, ...] = (),
                          final_watermark_batch: bool = False) -> DataFrame:
    """Shared verification harness for the streaming registry queries:
    availableNow trigger into a memory sink under a state-sized shuffle
    conf, loud timeout (a silent one would hand a partially-filled sink
    to the oracle compare).

    Round 16 (VERDICT r15 #3 — the state-store/checkpoint overhead):

    * state partitions derive from SOURCE bytes
      (pipeline.stream_state_partitions) instead of a pinned 8 — each
      state store pays a fixed per-batch commit, so the count must
      track stream volume (2 here, the session ceiling at firehose
      scale); partition count never changes aggregation/join results.
    * the checkpoint is an explicit tmpfs scratch dir, removed after
      the run, whether it succeeds, times out or fails to start (the
      memory sink holds the rows; these one-shot
      checkpoints are never resumed — write_stream_parquet keeps the
      durable-checkpoint production contract).
    * ``noDataMicroBatches`` is disabled unless
      ``final_watermark_batch=True``: the extra empty batch exists to
      advance the watermark and flush/evict state, which changes NO
      output row for the shapes registered here — complete-mode aggs
      (q45/q95) re-emit their ENTIRE state every trigger, so the final
      re-emit is byte-identical; append-mode INNER stream-stream joins
      (q65) emit matches in the batch both rows arrive (only state
      EVICTION is watermark-gated, measured 2→1 batches, identical 46
      rows); stateless append (q124) has nothing to finalize. A future
      APPEND-MODE WINDOWED AGG would emit nothing without the final
      watermark batch — it must pass ``final_watermark_batch=True``.
      Every registered shape stays oracle-verified either way
      (PARITY sweeps run against this harness)."""
    import shutil
    import uuid

    from powerdatapipeline_spark.streaming.pipeline import (
        scratch_dir, state_sized, stream_state_partitions)

    name = f"{tag}_sink_{uuid.uuid4().hex[:8]}"
    nparts = (stream_state_partitions(spark, *source_paths)
              if source_paths else 8)
    ckpt = scratch_dir(f"{tag}_ckpt_")
    ndb_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_ndb = spark.conf.get(ndb_key, "true")
    if not final_watermark_batch:
        spark.conf.set(ndb_key, "false")
    try:
        with state_sized(spark, nparts):
            q = (frame.writeStream.format("memory").queryName(name)
                 .outputMode(mode).trigger(availableNow=True)
                 .option("checkpointLocation", ckpt).start())
            finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"{tag} streaming job did not finish within 300 s")
    finally:
        spark.conf.set(ndb_key, old_ndb)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


@register("q47_kmeans_assign", f"""
WITH scored AS (
  SELECT a.vec_id, b.vec_id AS centroid_id, {_SQL_DOT} AS dot
  FROM embeddings a JOIN embeddings b ON b.vec_id < 8),
assigned AS (
  SELECT vec_id, centroid_id, dot,
         row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, centroid_id) AS rn
  FROM scored)
SELECT centroid_id, COUNT(*) AS n_assigned,
       round(CAST(SUM(CAST(dot AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_dot
FROM assigned WHERE rn = 1 GROUP BY centroid_id
""", priority=PRI_TAIL)
def q47_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means E-step (assignment) — the building block of iterative
    algorithms on the engine: deterministic seed centroids (vec_id < 8)
    broadcast to the corpus, each vector assigned to its max-dot centroid
    (decimal-exact dots, centroid-id tie-break), cluster sizes + mean
    affinity out. The driver-side loop (M-step: collect tiny centroids,
    re-broadcast) is how Lloyd iterations run at 100 TB — the corpus never
    moves, only k·dim floats per iteration do."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = F.broadcast(emb.where(F.col("vec_id") < 8)
                        .select(F.col("vec_id").alias("centroid_id"),
                                F.col("embedding").alias("cvec")))
    scored = (emb.crossJoin(cents)
              .select("vec_id", "centroid_id",
                      _ddot(F.col("embedding"), F.col("cvec")).alias("dot")))
    w = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("centroid_id"))
    assigned = scored.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    return (assigned.groupBy("centroid_id")
            .agg(F.count("*").alias("n_assigned"),
                 F.round(F.sum(F.col("dot").cast("decimal(18,6)")).cast("double")
                         / F.count("*"), 6).alias("avg_dot")))


@register("q49_analytic_functions", """
SELECT o_orderkey,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       ntile(4)       OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cume,
       first_value(o_orderkey) OVER w AS first_key,
       nth_value(o_orderkey, 2) OVER w AS second_key,
       lead(o_orderkey) OVER w AS next_key,
       o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total,
       CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
       CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00') AS INT) AS days_to_eoy,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr,
       CAST(extract(isodow FROM o_orderdate) AS INT) AS iso_dow,
       CAST(extract(doy FROM o_orderdate) AS INT) AS doy,
       upper(substr(o_orderpriority, 1, 8)) AS prio_prefix,
       CAST(length(o_orderstatus) AS INT) AS status_len
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
""", priority=PRI_TAIL)
def q49_analytic_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic window-function family (gap §2.12 — the reference
    has zero SQL window functions, SURVEY.md §2.6) plus the per-row scalar
    families, all in ONE pass over orders:

      * eight ranking/analytic functions over one window definition — a
        single shuffle on o_orderstatus serves all eight;
      * a decimal-exact running sum per customer (a second window keyed on
        o_custkey — its own shuffle, exactly as the oracle's second WINDOW
        clause implies; prefix sums stay bit-identical across engines
        regardless of frame evaluation strategy);
      * the date/interval + string scalar-function families (SURVEY.md
        §2.5 — the reference rides py_function for these; here they're
        codegen'd built-ins, zero extra cost: narrow expressions piggyback
        on the window pass). Day-of-week uses the ISO convention on BOTH
        sides (Spark's ``dayofweek`` is Sunday=1 but DuckDB's ``dow`` is
        Sunday=0 — ``weekday``/``isodow`` with Monday=1 is the portable
        choice)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    wcust = (Window.partitionBy("o_custkey")
             .orderBy("o_orderdate", "o_orderkey")
             .rowsBetween(Window.unboundedPreceding, 0))
    run = (F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
           .over(wcust).cast("double"))
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(wr).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(wr).alias("second_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        "o_custkey",
        run.alias("running_total"),
        (d + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("int").alias("days_to_eoy"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.date_trunc("month", d).alias("month_start"),
        F.quarter(d).cast("int").alias("qtr"),
        (F.weekday(d) + 1).cast("int").alias("iso_dow"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.upper(F.substring("o_orderpriority", 1, 8)).alias("prio_prefix"),
        F.length("o_orderstatus").cast("int").alias("status_len"))


@register("q50_percentiles", """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5)  AS p50,
       quantile_cont(value, 0.9)  AS p90,
       max(value) AS vmax
FROM events GROUP BY event_type
""", priority=PRI_TAIL)
def q50_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p25/p90): Spark ``percentile``
    and DuckDB ``quantile_cont`` share the (1−g)·a + g·b linear
    interpolation at rank p·(n−1) — verified bit-identical, no rounding
    needed. (The sketch alternative at 100 TB is approx_percentile; exact
    percentile sorts per group.)"""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.percentile("value", 0.25).alias("p25"),
                 F.percentile("value", 0.5).alias("p50"),
                 F.percentile("value", 0.9).alias("p90"),
                 F.max("value").alias("vmax")))


@register("q51_string_functions", """
SELECT p_partkey,
       upper(p_brand) AS brand_u,
       lower(p_type)  AS type_l,
       trim(p_name)   AS name_t,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       replace(p_type, ' ', '_') AS type_us,
       substr(p_name, 1, 10) AS name10,
       CAST(length(p_name) AS INT) AS name_len,
       CAST(levenshtein(p_brand, 'Brand#00') AS INT) AS lev_brand,
       regexp_extract(p_type, '([A-Z]+)', 1) AS type_first_word,
       CAST(position(' ' IN p_type) AS INT) AS first_space
FROM part
""", priority=PRI_TAIL)
def q51_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function family (SURVEY.md §2.5 — the reference's only
    string ops ride py_function): case, trim, pad, replace, substring,
    length, edit distance, regex extract, position — all codegen'd."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.trim("p_name").alias("name_t"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.length("p_name").cast("int").alias("name_len"),
        F.levenshtein("p_brand", F.lit("Brand#00")).cast("int").alias("lev_brand"),
        F.regexp_extract("p_type", r"([A-Z]+)", 1).alias("type_first_word"),
        F.instr("p_type", " ").cast("int").alias("first_space"))


@register("q53_shipping_priority", f"""
SELECT l_orderkey,
       {_DSUM.format(c='l_extendedprice * (1 - l_discount)')} AS revenue,
       CAST(o_orderdate AS TIMESTAMP) AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""", priority=PRI_TAIL)
def q53_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on BOTH join sides pushed into
    their scans before the join, then top-k on the aggregate (a global
    sort-limit = TakeOrderedAndProject)."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")))
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
             .agg(F.sum(disc.cast("decimal(18,6)")).cast("double").alias("revenue"))
             .select("l_orderkey", "revenue",
                     F.col("o_orderdate").alias("orderdate"), "o_orderpriority"))
    return out.orderBy(F.col("revenue").desc(), "l_orderkey").limit(10)


@register("q54_disjunctive_predicates", f"""
SELECT COUNT(*) AS n,
       {_DSUM.format(c='l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 5 AND l_quantity <= 25)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 10 AND l_quantity <= 40)
   OR (p_type LIKE '%PROMO%' AND l_discount > 0.05)
""", priority=PRI_TAIL)
def q54_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctive range/LIKE predicates
    across both join sides — Catalyst extracts the common-side filters it
    can push (p_partkey/l_partkey IsNotNull) and evaluates the residual OR
    post-join inside codegen; no manual predicate surgery needed."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(5, 25))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | (F.col("p_type").like("%PROMO%") & (F.col("l_discount") > 0.05)))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .where(cond)
            .agg(F.count("*").alias("n"),
                 F.sum(disc.cast("decimal(18,6)")).cast("double").alias("revenue")))


@register("q55_supplier_customer_volume", f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       {_DSUM.format(c='l_extendedprice * (1 - l_discount)')} AS volume
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
""", priority=PRI_TAIL)
def q55_supplier_customer_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined TWICE under
    different roles (supplier vs customer side) with an inequality between
    the roles — alias hygiene plus two broadcasts; the fact still never
    shuffles for the joins."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
            .where(F.col("supp_nation") != F.col("cust_nation")))
    return (df.groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").cast("int").alias("ship_year"))
            .agg(F.sum(disc.cast("decimal(18,6)")).cast("double").alias("volume")))


@register("q56_correlated_subquery", f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > 2 * (SELECT {_DAVG.format(c='o2.o_totalprice')}
                          FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_quantity > 45)
""", priority=PRI_TAIL)
def q56_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + correlated EXISTS (gap §2.12): Catalyst
    DECORRELATES both — the scalar subquery becomes an aggregate joined back
    on the correlation key, the EXISTS a left-semi join; no per-row
    re-execution ever happens (the plan shows two joins, zero subqueries).
    Expressed in SQL to exercise the subquery front-end. The correlated
    average uses the module's decimal-exact form on BOTH sides so
    summation-order differences can never flip boundary rows."""
    # DataFrame template args — no temp views leak into the session catalog
    return spark.sql(f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM {{orders}} o
        WHERE o_totalprice > 2 * (SELECT {_DAVG.format(c='o2.o_totalprice')}
                                  FROM {{orders}} o2
                                  WHERE o2.o_custkey = o.o_custkey)
          AND EXISTS (SELECT 1 FROM {{lineitem}} l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    """, orders=_t(spark, sf_dir, "orders"), lineitem=_t(spark, sf_dir, "lineitem"))


@register("q58_unpivot", """
SELECT c_custkey, metric, round(value, 6) AS value
FROM (SELECT c_custkey, c_acctbal AS balance,
             CAST(c_nationkey AS DOUBLE) AS nation
      FROM customer)
UNPIVOT (value FOR metric IN (balance, nation))
""", priority=PRI_TAIL)
def q58_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of q14's conditional-agg pivot):
    ``df.unpivot`` generates an Expand — one pass, rows × n_metrics output,
    no shuffle. Spark's unpivot KEEPS null-valued rows while DuckDB's
    UNPIVOT excludes them by default — the explicit IS NOT NULL filter pins
    the DuckDB semantics on any data (no null column exists in the test
    tables, but the contract shouldn't depend on that)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("balance"),
        F.col("c_nationkey").cast("double").alias("nation"))
    out = cust.unpivot("c_custkey", ["balance", "nation"], "metric", "value")
    return (out.where(F.col("value").isNotNull())
            .withColumn("value", F.round("value", 6)))


@register("q59_resample_linear", f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
         {_DAVG.format(c='value')} AS avg_value
  FROM events GROUP BY 1, 2),
seq AS (
  SELECT event_type, epoch(bucket_ts) AS t0, avg_value AS v0,
         lead(epoch(bucket_ts)) OVER (PARTITION BY event_type ORDER BY bucket_ts) AS t1,
         lead(avg_value)        OVER (PARTITION BY event_type ORDER BY bucket_ts) AS v1
  FROM hourly),
ticks AS (
  SELECT event_type, t0, v0, t1, v1, tick
  FROM seq, unnest(CASE WHEN t1 IS NULL THEN [CAST(t0 AS BIGINT)]
                        ELSE generate_series(CAST(t0 AS BIGINT),
                                             CAST(t1 AS BIGINT) - 1, 900) END) u(tick))
SELECT event_type, tick AS tick_s,
       CASE WHEN t1 IS NULL OR tick = t0 THEN v0
            ELSE v0 + (v1 - v0) * ((tick - t0) / (t1 - t0)) END AS value_interp
FROM ticks
""", priority=PRI_TAIL)
def q59_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsample with LINEAR interpolation (the reference's stubbed
    ``fill_method='linear'`` intent, tfdataset_resampling.py:22-25, now
    wired through the resample dispatcher): hourly per-type means re-spread
    to a 900 s grid, each tick linearly interpolated between its bracketing
    hourly samples — gaps in the hourly series interpolate across the gap
    instead of repeating stale values (contrast q19's repeat fill). One
    lead() window per series + explode(sequence) — a single keyed shuffle,
    then narrow 1→N generation; identical IEEE interpolation arithmetic on
    both engines."""
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
              .agg(davg("value", "avg_value")))
    h = hourly.select("event_type", F.col("bucket_ts").cast("double").alias("s"),
                      "avg_value")
    out = ts.resample(h, "s", interval_original=3600, interval_desired=900,
                      value_cols=["avg_value"], method="linear",
                      partition_by=["event_type"])
    # no rounding: v0/v1 are decimal-exact averages and the interpolation is
    # the same IEEE expression tree on both engines — results are
    # bit-identical, and rounding would only introduce half-way-tie
    # divergence (frac ∈ {0, .25, .5, .75} makes exact ties common)
    return out.select("event_type", F.col("s").cast("bigint").alias("tick_s"),
                      F.col("avg_value").alias("value_interp"))


def _emb_lsh_oracle(n_tables: int = 4, n_planes: int | None = None,
                    dim: int = 64, seed: int = 99,
                    threshold: float = 0.3) -> str:
    """DuckDB twin of dedup.embedding_neardup_pairs: the SAME hyperplane
    constants (same seed/order as the operator's rng) embed as SQL
    literals, bucket signs come from plain double dots (sign parity is
    safe — a flip needs |dot| < 1e-15), and the verify cosine reuses the
    decimal-exact _SQL_DOT kernel. The q29 portable-MinHash philosophy: even the
    approximate candidate set is oracle-checkable.

    ``n_planes=None`` (the operator's scale-safe default, VERDICT r14
    #1) is oracle-checkable TOO, at any SF from one static SQL string:
    the operator's plane draw is prefix-stable (always 24 plane rows
    per table, sliced), so this twin embeds the full 24-plane literal
    set and masks bit ``i`` unless ``i < k``, where a 1-row CTE derives
    ``k`` from ``count(*)`` by the operator's own integer-exact rule
    (``length(bin(m-1))`` ≡ Python ``(m-1).bit_length()``, m =
    ceil(n/8), clamped to [4, 24] — dedup.derive_n_planes)."""
    import numpy as np

    from powerdatapipeline_spark.operators.dedup import (
        EMB_LSH_MAX_PLANES, EMB_LSH_MIN_PLANES, EMB_LSH_TARGET_OCCUPANCY)

    adaptive = n_planes is None
    width = EMB_LSH_MAX_PLANES if adaptive else n_planes
    planes = np.random.default_rng(seed).standard_normal(
        (n_tables, max(width, EMB_LSH_MAX_PLANES), dim))[:, :width, :]

    def bucket(t: int) -> str:
        terms = []
        for i in range(width):
            plist = "[" + ",".join(repr(float(x)) for x in planes[t][i]) + "]"
            gate = f"{i} < nb.k AND " if adaptive else ""
            terms.append(
                f"(CASE WHEN {gate}list_sum(list_transform(generate_series(1,{dim}), "
                f"j -> CAST(embedding[j] AS DOUBLE) * ({plist})[j])) >= 0 "
                f"THEN {2 ** i} ELSE 0 END)")
        return " + ".join(terms)

    src = "embeddings, nb" if adaptive else "embeddings"
    hashed = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS t, ({bucket(t)}) AS bk FROM {src}"
        for t in range(n_tables))
    occ = EMB_LSH_TARGET_OCCUPANCY
    nb_cte = (f"nb AS (SELECT GREATEST({EMB_LSH_MIN_PLANES}, "
              f"LEAST({EMB_LSH_MAX_PLANES}, CASE WHEN m <= 1 THEN 0 "
              f"ELSE length(bin(m - 1)) END)) AS k FROM "
              f"(SELECT (count(*) + {occ - 1}) // {occ} AS m "
              f"FROM embeddings)),\n" if adaptive else "")
    return f"""
WITH {nb_cte}h AS MATERIALIZED ({hashed}),
cand AS (
  SELECT DISTINCT ha.vec_id AS id_a, hb.vec_id AS id_b
  FROM h ha JOIN h hb ON ha.t = hb.t AND ha.bk = hb.bk AND ha.vec_id < hb.vec_id)
SELECT * FROM (
  SELECT id_a, id_b,
         round({_SQL_DOT} / ({_SQL_NORM.format(t='a')} * {_SQL_NORM.format(t='b')}), 6) AS cosine
  FROM cand JOIN embeddings a ON a.vec_id = id_a
            JOIN embeddings b ON b.vec_id = id_b)
WHERE cosine >= {threshold}
"""


@register("q62_hash_split", """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10000 AS bk
  FROM documents)
SELECT doc_id,
       CASE WHEN bk < 8000 THEN 'train'
            WHEN bk < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b
""", priority=PRI_TAIL)
def q62_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split
    (operators/relational.hash_split): md5-bucket assignment — stable
    across runs/engines/cluster sizes, no RNG state, new keys never
    reassign old ones (contrast q46's engine-specific Bernoulli sample and
    q25's time-ordered prefix split). Pure narrow map; every one of the
    per-document labels is hash-verified against the oracle."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return rel.hash_split(d, "doc_id").select("doc_id", "split")


@register("q61_token_fingerprints", f"""
WITH n AS (
  SELECT doc_id, lower(text) AS lo,
         trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS t
  FROM documents)
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lo, '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(lo, '{tx.BPE_PIECE_RE}')) AS INT) AS n_pieces,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(t)),
                                  i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
                   (acc, x) -> (acc * 131 + x) % 1000000007) AS rolling_fp
FROM n
""", priority=PRI_TAIL)
def q61_token_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + document fingerprinting (operators/text): whitespace
    token count, BPE-ish piece count (letter/digit/symbol pre-tokenization —
    the LLM-token-count proxy), and a Rabin–Karp rolling fingerprint (the
    incrementally-updatable hash, vs. the md5 fingerprint q26 dedups on).
    All codegen'd built-ins; the mod-arithmetic fold is bit-identical across
    engines, so the fingerprint itself is hash-verified."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.bpe_piece_count("text").alias("n_pieces"),
        tx.rolling_fingerprint("text").alias("rolling_fp"))


@register("q60_embedding_neardup", _emb_lsh_oracle(), priority=PRI_TAIL)
def q60_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs
    (operators/dedup.embedding_neardup_pairs) at the operator's DEFAULTS
    (VERDICT r14 #1): 4 hyperplane-LSH tables × corpus-derived sign bits
    (occupancy-constant, dedup.derive_n_planes — 6 bits at n=500, 8 at
    n=2000) generate candidates (collision in ≥1 table), decimal-exact
    cosine verifies — never all pairs; candidate volume scales with the
    CONSTANT bucket occupancy, i.e. linearly in n, at every SF. The
    oracle derives the identical bit width from ``count(*)`` and masks
    the prefix-stable 24-plane literal set, so the adaptive sizing
    itself is hash-verified at every test SF. The synthetic embeddings
    are near-dup-free (max pairwise cosine ≈0.5), so the demo threshold
    is 0.3; the recall contract at real near-dup thresholds is pinned by
    test_embedding_neardup_recall on a planted-duplicate corpus."""
    return dd.embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"),
                                      threshold=0.3, n_tables=4)


#: shared blocking-pair → connected-components CTEs (DuckDB twin of
#: dedup.blocked_pairs + dedup_clusters over the q63 prefix/suffix
#: blocking keys) — prefix of the q63 cluster-assignment and q182
#: dedup-savings oracles so the recursive-reachability replay has
#: exactly one SQL definition
_DEDUP_CLUSTER_CTES = """
WITH RECURSIVE n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS txt
  FROM documents),
k AS (
  SELECT doc_id, md5(substr(txt, 1, 40)) AS k1,
         md5(substr(reverse(txt), 1, 40)) AS k2
  FROM n),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM k a JOIN k b ON a.k1 = b.k1 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id
  FROM k a JOIN k b ON a.k2 = b.k2 AND a.doc_id < b.doc_id),
e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
r AS (
  SELECT src AS node, src AS reach FROM e
  UNION
  SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
lab AS (SELECT node, min(reach) AS label FROM r GROUP BY node)"""


@register("q63_dedup_clusters", f"""{_DEDUP_CLUSTER_CTES}
SELECT d.doc_id,
       COALESCE(lab.label, d.doc_id) AS cluster_id,
       CAST(CASE WHEN COALESCE(lab.label, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM documents d LEFT JOIN lab ON lab.node = d.doc_id
""", priority=PRI_TAIL)
def q63_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: blocking pairs → connected components →
    canonical pick (operators/dedup.blocked_pairs + dedup_clusters). Pair
    evidence is two cheap blocking keys (md5 of the 40-char normalized
    prefix and of the reversed-text prefix, i.e. the suffix) — a document
    pair matching EITHER key is an edge, so components chain across keys
    and the cluster id is a genuine graph computation, not a groupBy. The
    Spark side iterates min-label propagation (diameter-bounded driver
    loop, lineage truncated per round); the oracle replays it as a
    recursive reachability CTE — an iterative distributed algorithm whose
    every output row is still hash-checked. Canonical = the component's
    minimum doc_id, the keep-one-per-cluster rule of a dedup pipeline."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), tx.WS_CLASS + "+", " "))
    k1 = F.md5(F.substring(norm, 1, 40))
    k2 = F.md5(F.substring(F.reverse(norm), 1, 40))
    pairs = dd.blocked_pairs(docs, [k1, k2], id_col="doc_id")
    labels = dd.dedup_clusters(pairs)
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    return (docs.select("doc_id")
            .join(labels, F.col("doc_id") == F.col("node"), "left")
            .select("doc_id", cluster.alias("cluster_id"),
                    (F.col("doc_id") == cluster).cast("int").alias("is_canonical")))


@register("q64_fuzzy_match", """
WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
cand AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey)
SELECT id_a, id_b, a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM cand JOIN p a ON a.p_partkey = id_a JOIN p b ON b.p_partkey = id_b
WHERE levenshtein(a.p_name, b.p_name) <= 4
""", priority=PRI_TAIL)
def q64_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy key matching (operators/dedup.fuzzy_blocked_match): blocking on
    (p_brand, p_size) generates candidates, Levenshtein ≤ 4 verifies —
    never all pairs; edit distance runs only within blocks (~8 rows each
    here), the record-linkage shape that stays sub-quadratic at 100 TB.
    Levenshtein is integer-exact in both engines, so the fuzzy match is
    fully hash-checked."""
    p = _t(spark, sf_dir, "part")
    key = F.concat_ws("|", F.col("p_brand"), F.col("p_size").cast("string"))
    return dd.fuzzy_blocked_match(p, "p_name", [key], id_col="p_partkey",
                                  max_dist=4)


@register("q66_stats_profile", """
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round((sxy - sx * sy / n) / n, 6) AS covar_pop,
       round(sqrt((sxx - sx * sx / n) / n), 6) AS stddev_pop_qty,
       round(sqrt((syy - sy * sy / n) / n), 6) AS stddev_pop_price,
       round((sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6) AS corr_qty_price
FROM s
""", priority=PRI_TAIL)
def q66_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column statistical profile (covariance, stddev, correlation) per
    group from exact decimal moment sums. Built-in ``corr``/``covar_pop``
    accumulate running co-moments in floating point — merge order varies
    with partitioning, so their last bits are not reproducible across
    engines OR across cluster sizes. Here each moment (Σx, Σy, Σx², Σy²,
    Σxy) is an exact DECIMAL sum (products formed in double — identical
    IEEE rounding both sides — then decimal-cast), and the closed-form
    combinations are one deterministic double expression, rounded to 6 dp.
    Map-side partial aggregation still applies — decimal addition is
    associative, which is the whole point."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = (li.groupBy("l_returnflag")
         .agg(F.count("*").alias("n"),
              F.sum(x.cast("decimal(18,6)")).cast("double").alias("sx"),
              F.sum(y.cast("decimal(18,6)")).cast("double").alias("sy"),
              F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
              F.sum((y * y).cast("decimal(28,6)")).cast("double").alias("syy"),
              F.sum((x * y).cast("decimal(28,6)")).cast("double").alias("sxy")))
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        F.round((sxy - sx * sy / n) / n, 6).alias("covar_pop"),
        F.round(F.sqrt((sxx - sx * sx / n) / n), 6).alias("stddev_pop_qty"),
        F.round(F.sqrt((syy - sy * sy / n) / n), 6).alias("stddev_pop_price"),
        F.round((sxy - sx * sy / n)
                / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)), 6)
         .alias("corr_qty_price"))


@register("q65_stream_stream_join", """
SELECT a.user_id,
       a.event_id AS click_id,
       b.event_id AS purchase_id,
       round(epoch(b.ts) - epoch(a.ts), 6) AS lag_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
""", priority=PRI_TAIL)
def q65_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING stream-stream join
    (streaming/pipeline.stream_stream_join): clicks and purchases arrive as
    two independent file streams; each purchase joins the same user's
    clicks from the preceding 10 minutes. Watermarks + the time-range
    condition bound the buffered state on both sides — the attribution-join
    shape that runs forever on an event firehose. Verified against the
    equivalent BATCH join as the DuckDB oracle (same rows, same lag
    values), proving batch/stream parity like q45."""
    return _run_stream_to_memory(spark, q65_stream_frame(spark, sf_dir),
                                 "q65", "append",
                                 source_paths=(f"{sf_dir}/events.parquet",))


def q65_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT pre-sink streaming frame q65 executes (shared with
    tools/dump_plans — see q45_stream_frame)."""
    from powerdatapipeline_spark.streaming.pipeline import stream_stream_join

    clicks = (events_stream_source(spark, sf_dir)
              .where(F.col("event_type") == "click")
              .select(F.col("user_id"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (events_stream_source(spark, sf_dir)
                 .where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts")))
    joined = stream_stream_join(clicks, purchases,
                                left_key="user_id", right_key="p_user_id",
                                left_ts="click_ts", right_ts="purchase_ts",
                                max_lag_seconds=600)
    return joined.select(
        "user_id", "click_id", "purchase_id",
        F.round(F.col("purchase_ts").cast("double")
                - F.col("click_ts").cast("double"), 6).alias("lag_s"))


@register("q67_pivot", f"""
SELECT o_orderpriority,
       {_DSUM.format(c="CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS status_f,
       {_DSUM.format(c="CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS status_o,
       {_DSUM.format(c="CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS status_p
FROM orders GROUP BY o_orderpriority
""", priority=PRI_TAIL)
def q67_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot (operators/relational.pivot_table, the inverse of
    q58's unpivot): total order value per priority × status. The status
    value list is explicit, so the pivot is ONE hash aggregate (no distinct
    pre-scan, schema fixed at plan time); the oracle is the equivalent
    CASE-WHEN conditional aggregation — which is exactly what Spark compiles
    a pivot into. Decimal-exact sums per the module parity rules."""
    orders = _t(spark, sf_dir, "orders")
    agg = F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
    out = rel.pivot_table(orders, ["o_orderpriority"], "o_orderstatus",
                          ["F", "O", "P"], agg)
    return out.select("o_orderpriority",
                      F.col("F").alias("status_f"),
                      F.col("O").alias("status_o"),
                      F.col("P").alias("status_p"))


@register("q68_regression_trend", """
WITH m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST((epoch(ts) - 1700000000.0) / 86400.0 AS DECIMAL(38,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(((epoch(ts) - 1700000000.0) / 86400.0) * value AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(((epoch(ts) - 1700000000.0) / 86400.0) * ((epoch(ts) - 1700000000.0) / 86400.0) AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS syy
  FROM events GROUP BY event_type)
SELECT event_type, n,
       round(CASE WHEN (n * sxx - sx * sx) <> 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
       round(CASE WHEN (n * sxx - sx * sx) <> 0
                  THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END, 6) AS intercept,
       round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r
FROM m
""", priority=PRI_TAIL)
def q68_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS time-trend (operators/stats.grouped_ols): slope/
    intercept/Pearson-r of value against time (days since a fixed epoch
    literal — centering keeps the normal-equation cancellation benign) for
    each event_type. One shuffle keyed by series; the moments are exact
    decimal sums, so the fitted coefficients are bit-reproducible across
    engines AND cluster sizes (q66's argument, applied to model fitting).
    The applyInPandas twin (stats.grouped_ols_pandas) is pinned to this
    native aggregate in tests/test_stats.py."""
    from powerdatapipeline_spark.operators import stats as st

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("ts").cast("double") - 1700000000.0) / 86400.0).alias("t_days"),
        "value")
    out = st.grouped_ols(ev, ["event_type"], "t_days", "value")
    # n arrives as bigint from count(*) on both sides
    return out.select("event_type", F.col("n"), "slope", "intercept", "r")


# --- rows-only declared ops (no SQL-expressible oracle; the driver records
# --- a weaker rows-only check, per __spark_entry__.py contract) ------------

@register("q46_sample", """
SELECT COUNT(*) AS n_total, TRUE AS sample_in_bounds FROM events
""", priority=PRI_TAIL)
def q46_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample (the reference's declared-but-unconsumed
    ``downsampling_rate`` knob, config/config.py:118-119 → df.sample).
    The sampled ROWS are engine-specific RNG, so the oracle checks the
    verifiable CONTRACT instead: exact population count plus a boolean
    that the sample size sits within ±4σ of n·p (binomial; a false value
    hash-mismatches against the oracle's TRUE literal and fails the
    gate). The sample itself still executes — the count aggregates it."""
    ev = _t(spark, sf_dir, "events")
    p = 0.1
    tot = ev.agg(F.count("*").alias("n_total"))
    smp = (ev.sample(fraction=p, seed=42)
           .agg(F.count("*").cast("double").alias("__n_smp")))
    return (tot.crossJoin(F.broadcast(smp))
            .select("n_total",
                    (F.abs(F.col("__n_smp") - F.col("n_total") * p)
                     <= 4.0 * F.sqrt(F.col("n_total") * p * (1 - p)))
                    .alias("sample_in_bounds")))


@register("q48_approx_distinct", """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_in_bounds
FROM lineitem GROUP BY l_returnflag
""", priority=PRI_TAIL)
def q48_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (gap §2.12): the sketch path for
    cardinalities where exact count-distinct's shuffle is not worth it at
    100 TB. The sketch VALUE is engine-specific by design, so the oracle
    checks the accuracy contract: the exact count (hash-verified) plus a
    boolean that the HLL estimate lands within 3× its configured rsd — a
    broken sketch fails the driver gate instead of passing unchecked."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("__approx"),
                 F.countDistinct("l_partkey").alias("exact_parts"))
            .select("l_returnflag", "exact_parts",
                    (F.abs(F.col("__approx") - F.col("exact_parts"))
                     <= 0.06 * F.col("exact_parts")).alias("approx_in_bounds")))


_SIMHASH_ORACLE = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(lower(text)) - 2, 0)),
           i -> substr(lower(text), i, 3)))) AS s
  FROM documents),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hv
  FROM sh),
votes AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
  GROUP BY doc_id, b.b),
fp AS (
  SELECT d.doc_id, COALESCE(SUM(CASE WHEN v.v > 0
           THEN (CAST(1 AS BIGINT) << v.b) ELSE 0 END), 0) AS fp
  FROM documents d LEFT JOIN votes v USING (doc_id)
  GROUP BY d.doc_id),
sliced AS (
  SELECT doc_id, fp, t.slot, (fp >> (t.slot * 16)) & 65535 AS key
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS slot) t),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM sliced a JOIN sliced b
    ON a.slot = b.slot AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


@register("q33_simhash_pairs", _SIMHASH_ORACLE, priority=PRI_TAIL)
def q33_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (operators/dedup.simhash_pairs): 64-bit
    fingerprints, 16-bit-slice LSH, Hamming verification. max_hamming is
    pinned to 3 — the 4-slice pigeonhole only guarantees candidate recall
    for distance ≤ 3; a larger threshold would silently miss qualifying
    pairs that disagree on every slice. Oracle-exact since round 5 via the
    engine-portable md5-prefix shingle hash (hash_fn="portable60" — same
    construction, reproducible in DuckDB), so votes, fingerprints, slice
    candidates, and Hamming filter all hash-verify; the xxhash64 hot-path
    default stays pinned by tests/test_text_dedup_similarity.py."""
    return dd.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3,
                            hash_fn="portable60")


def _lsh_topk_oracle(n_planes: int = 8, dim: int = 64, seed: int = 42,
                     n_probe: int = 4, k: int = 10, n_queries: int = 5) -> str:
    """DuckDB twin of similarity.hyperplane_lsh_topk with multi-probe: the
    SAME seeded hyperplanes embed as SQL literals (q60's technique), so
    even the approximate candidate set is oracle-checked. Margins/signs
    use plain double sums (parity-safe: a sign or |margin|-order flip
    needs two values within ~1e-15); the final cosine reuses the
    decimal-exact _SQL_DOT kernel and round(…,6) exactly like q31."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))

    def margin(i: int) -> str:
        plist = "[" + ",".join(repr(float(x)) for x in planes[i]) + "]"
        return (f"list_sum(list_transform(generate_series(1,{dim}), "
                f"j -> CAST(embedding[j] AS DOUBLE) * ({plist})[j]))")

    margins = "\nUNION ALL\n".join(
        f"SELECT vec_id, {i} AS bit, ({margin(i)}) AS m FROM embeddings"
        for i in range(n_planes))
    return f"""
WITH h AS ({margins}),
bk AS (
  SELECT vec_id,
         SUM(CASE WHEN m >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS bucket
  FROM h GROUP BY vec_id),
flips AS (
  SELECT vec_id AS query_id, bit,
         row_number() OVER (PARTITION BY vec_id ORDER BY abs(m), bit) AS rn
  FROM h WHERE vec_id < {n_queries}),
probes AS (
  SELECT vec_id AS query_id, bucket FROM bk WHERE vec_id < {n_queries}
  UNION ALL
  SELECT f.query_id, xor(q.bucket, CAST(1 AS BIGINT) << f.bit)
  FROM flips f JOIN bk q ON q.vec_id = f.query_id
  WHERE f.rn <= {n_probe - 1}),
cand AS (
  SELECT p.query_id, c.vec_id
  FROM probes p JOIN bk c ON c.bucket = p.bucket),
scored AS (
  SELECT cand.query_id, a.vec_id,
         round({_SQL_DOT} / ({_SQL_NORM.format(t='a')} * {_SQL_NORM.format(t='b')}), 6) AS cosine
  FROM cand JOIN embeddings a ON a.vec_id = cand.vec_id
            JOIN embeddings b ON b.vec_id = cand.query_id)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored) WHERE rank <= {k}
"""


@register("q34_ann_lsh_topk", _lsh_topk_oracle(), priority=PRI_TAIL)
def q34_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via multi-probe random-hyperplane LSH
    (operators/similarity.hyperplane_lsh_topk) — the 100 TB scale path for
    q31's exact semantics. n_probe=4 additionally scans the 3
    lowest-|margin| bit-flip buckets per query (recall floor pinned by
    test_multiprobe_lsh_recall_floor). Oracle-exact since round 5: the
    seeded hyperplanes embed in the DuckDB SQL (_lsh_topk_oracle), so the
    candidate buckets, probe choice, AND the ranked cosines all
    hash-verify — approximate ≠ unverifiable."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return sim.hyperplane_lsh_topk(emb, qs, k=10, n_probe=4)


def _ivf_topk_oracle(n_cells: int = 16, dim: int = 64, seed: int = 7,
                     iters: int = 2, n_probe: int = 4, k: int = 10,
                     n_queries: int = 5) -> str:
    """DuckDB twin of similarity.ivf_topk(fit_iters=2): the ENTIRE
    spherical k-means fit replays as SQL CTEs — seeded unit-normalized
    init centroids embed as literals (exact: numpy float64 repr
    round-trips), then each Lloyd iteration is (E) argmax-dot assignment
    with the same first-index tie-break and (M) per-cell per-dim
    DECIMAL(27,10)-exact means renormalized to unit length, empty cells
    inheriting the previous centroid. Assignment/probe dots are plain
    double (parity-safe: an argmax flip needs two cell dots within
    ~1e-15); the final cosine uses the decimal-exact _SQL_DOT kernel +
    round(…,6) like q31/q34. Even the fitted index is oracle-checked."""
    import numpy as np

    rng = np.random.default_rng(seed)
    c0 = rng.standard_normal((n_cells, dim))
    c0 = c0 / np.linalg.norm(c0, axis=1, keepdims=True)
    c0_rows = ",\n".join(
        "({}, [{}])".format(c, ",".join(repr(float(x)) for x in c0[c]))
        for c in range(n_cells))

    def lloyd(prev: str, cur: str) -> str:
        """One E+M iteration: assignment vs ``prev`` → centroids ``cur``."""
        return f"""
a_{cur} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(generate_series(1,{dim}),
               j -> CAST(e.embedding[j] AS DOUBLE) * c.cvec[j])) DESC,
             c.cell) AS rn
    FROM embeddings e CROSS JOIN {prev} c) WHERE rn = 1),
m_{cur} AS (
  SELECT a.cell, t.j,
         CAST(SUM(CAST(e.embedding[t.j] AS DECIMAL(27,10))) AS DOUBLE)
           / COUNT(*) AS mean
  FROM a_{cur} a JOIN embeddings e USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1,{dim})) AS j) t
  GROUP BY a.cell, t.j),
mv_{cur} AS (
  SELECT cell, list(mean ORDER BY j) AS mvec FROM m_{cur} GROUP BY cell),
{cur} AS (
  SELECT p.cell,
         COALESCE(list_transform(mv.mvec,
                    x -> x / sqrt(list_sum(list_transform(mv.mvec, y -> y*y)))),
                  p.cvec) AS cvec
  FROM {prev} p LEFT JOIN mv_{cur} mv USING (cell))"""

    chain = "".join("," + lloyd(f"c{i}", f"c{i+1}") for i in range(iters))
    final = f"c{iters}"
    return f"""
WITH c0(cell, cvec) AS (VALUES {c0_rows}){chain},
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(generate_series(1,{dim}),
               j -> CAST(e.embedding[j] AS DOUBLE) * c.cvec[j])) DESC,
             c.cell) AS rn
    FROM embeddings e CROSS JOIN {final} c) WHERE rn = 1),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(generate_series(1,{dim}),
               j -> CAST(q.embedding[j] AS DOUBLE) * c.cvec[j])) DESC,
             c.cell) AS rn
    FROM embeddings q CROSS JOIN {final} c
    WHERE q.vec_id < {n_queries}) WHERE rn <= {n_probe}),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({_SQL_DOT} / ({_SQL_NORM.format(t='a')} * {_SQL_NORM.format(t='b')}), 6) AS cosine
  FROM probes p JOIN assign s ON s.cell = p.cell
       JOIN embeddings a ON a.vec_id = s.vec_id
       JOIN embeddings b ON b.vec_id = p.query_id)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored) WHERE rank <= {k}
"""


@register("q35_ann_ivf_topk", _ivf_topk_oracle(), priority=PRI_TAIL)
def q35_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (operators/similarity.ivf_topk): spherical-k-means-fitted
    coarse centroids (fit_iters=2 Lloyd passes, deterministic from the
    seed) + n_probe cell search — at scale the corpus is written
    partitioned by cell id so queries prune partitions. Oracle-exact since
    round 5: the whole fit replays as SQL CTEs in the DuckDB twin
    (_ivf_topk_oracle), so the fitted centroids, cell assignments, probe
    choice, and ranked cosines all hash-verify. Recall floor additionally
    pinned by test_ivf_fitted_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return sim.ivf_topk(emb, qs, k=10, fit_iters=2)


def _multimodal_oracle(rel_sql: str = "documents") -> str:
    """DuckDB twin of the fake decoder: _fake_decode expands
    md5(payload ‖ uint32be(counter)) digests into 64 pseudo-pixels
    (counters 0..3 × 16 digest bytes). DuckDB's md5 takes VARCHAR but
    hashes its UTF-8 bytes — identical to hashing the encoded payload —
    and chr(0) survives in varchar, so the counter suffix concatenates as
    text. mean_pixel divides an integer sum by 64 (a power of two), so
    the double is exact on both engines — no rounding needed.
    ``rel_sql`` is the (doc_id, text) relation to decode — ``documents``
    for q36, the fixture-subset CTE for q125's on-disk ingest twin."""
    def pxsum(c: int) -> str:
        suffix = " || ".join(f"chr({b})" for b in (0, 0, 0, c))
        return (f"list_sum(list_transform(generate_series(1,16), i -> "
                f"CAST(('0x' || substr(md5(text || {suffix}), 2*i-1, 2)) "
                f"AS INT)))")

    total = " + ".join(pxsum(c) for c in range(4))
    return f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       ({total}) / 64.0 AS mean_pixel
FROM {rel_sql}
"""


@register("q36_multimodal_features", _multimodal_oracle(), priority=PRI_TAIL)
def q36_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (operators/multimodal): documents.text encoded to
    a binary payload column + typed metadata (built-ins), then the
    deterministic fake decoder runs feature extraction through
    mapInPandas (Arrow-batched). Oracle-exact since round 5: the fake
    decoder is md5-expansion, which DuckDB replays (_multimodal_oracle) —
    so even the pandas-UDF path hash-verifies end to end, proving the
    Arrow batch plumbing delivers exactly the bytes the schema promises."""
    from powerdatapipeline_spark.operators import multimodal as mm

    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.encode("text", "UTF-8").alias("blob")))
    docs = mm.with_media_metadata(docs, media_type="text", fmt="utf-8")
    feats = mm.extract_image_features(docs, fake=True)
    return (docs.select("doc_id", F.col("meta.n_bytes").alias("n_bytes"),
                        F.col("meta.checksum").alias("checksum"))
            .join(feats, "doc_id")
            .select("doc_id", "n_bytes", "checksum", "mean_pixel"))




@register("q69_stratified_sample", """
WITH b AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10000 AS bk
  FROM orders)
SELECT o_orderkey, o_orderpriority
FROM b
WHERE bk < CASE o_orderpriority
             WHEN '1-URGENT' THEN 10000
             WHEN '2-HIGH'   THEN 5000
             WHEN '3-MEDIUM' THEN 2500
             ELSE 1000 END
""", priority=PRI_TAIL)
def q69_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators/relational.
    stratified_hash_sample — SURVEY.md §2.8's `downsampling_rate` config
    knob, reference config.py:118-119, generalized per-stratum): the corpus
    class-balancing rule — keep all of the rare class, thin the dominant
    ones — as a pure md5-bucket filter. Unlike q46's engine-specific
    Bernoulli sample, EVERY kept row is hash-verified against the oracle
    (membership is a function of the key, not of RNG state)."""
    o = _t(spark, sf_dir, "orders")
    return rel.stratified_hash_sample(
        o, "o_orderkey", "o_orderpriority",
        {"1-URGENT": 1.0, "2-HIGH": 0.5, "3-MEDIUM": 0.25},
        default_rate=0.1).select("o_orderkey", "o_orderpriority")


@register("q70_histogram", """
WITH t AS (
  SELECT l_returnflag,
         LEAST(CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0) / 5000.0)
                    AS BIGINT), 23) AS bin
  FROM lineitem
  WHERE CAST(l_extendedprice AS DOUBLE) >= 0.0
    AND CAST(l_extendedprice AS DOUBLE) <= 120000.0)
SELECT l_returnflag, bin,
       0.0 + bin * 5000.0 AS bin_lo,
       0.0 + (bin + 1) * 5000.0 AS bin_hi,
       COUNT(*) AS n
FROM t GROUP BY l_returnflag, bin
""", priority=PRI_TAIL)
def q70_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per group (operators/stats.histogram): the
    profile-a-column primitive (reference pandas_utilities.py:99-105 spans
    min/max; this bins the span). One shuffle keyed by (group, bin) with
    map-side partial counts — never ``df.rdd.histogram``'s driver-side
    per-partition arrays. Explicit floor() keeps the bin index
    engine-portable (DuckDB's double→int cast rounds, Spark's truncates);
    5000.0 is an exact double so the edges hash-match bit-for-bit."""
    from powerdatapipeline_spark.operators import stats as st

    li = _t(spark, sf_dir, "lineitem")
    return st.histogram(li, "l_extendedprice", 0.0, 120000.0, 24,
                        keys=["l_returnflag"])


@register("q71_curation_pipeline", f"""
WITH q AS (
  SELECT doc_id, text,
         len(list_filter({_SQL_TOKENS}, x -> x != '')) AS n_tokens,
         len(list_filter({_SQL_TOKENS}, x -> x IN {_SQL_STOP})) AS n_stop
  FROM documents),
f AS (
  SELECT * FROM q
  WHERE n_tokens >= 8
    AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.05),
k AS (
  SELECT min(doc_id) AS doc_id
  FROM f
  GROUP BY md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))),
s AS (
  SELECT f.doc_id, f.n_tokens,
         CASE WHEN CAST(('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM f JOIN k USING (doc_id))
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM s GROUP BY split
""", priority=PRI_TAIL)
def q71_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation (the BASELINE.json north-star
    pipeline as ONE composed query): quality filter (token count +
    stopword-ratio language evidence, operators/text) → exact near-dup
    removal keeping the min doc id per normalized-text fingerprint
    (operators/dedup.exact_dedup semantics) → deterministic hash split
    (operators/relational.hash_split) → per-split corpus statistics.
    Everything is a pure function of the data, so the WHOLE pipeline —
    filter, dedup survivorship, split assignment, final sums — is
    hash-verified against the oracle. Scale: one scan, the dedup groupBy
    is the only wide stage over documents (keyed by a uniform digest), the
    split is a narrow map, and the final agg is a 3-row reduce."""
    docs = _t(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    n_tok = F.size(toks)
    sw = F.array(*[F.lit(w) for w in tx.STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    quality = docs.select("doc_id", "text",
                          n_tok.alias("n_tokens"), n_stop.alias("n_stop"))
    filtered = quality.where(
        (F.col("n_tokens") >= 8)
        & (F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.05))
    keep = (filtered
            .withColumn("fp", tx.fingerprint("text"))
            .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    curated = filtered.join(keep, "doc_id")
    split = rel.hash_split(curated, "doc_id")
    return (split.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                 (F.sum("n_tokens").cast("double") / F.count("*"))
                 .alias("avg_tokens")))


@register("q73_redact_pii", r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\r\f\x0B]+')) AS INT) AS n_url,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ipv4,
       regexp_replace(regexp_replace(regexp_replace(text,
         'https?://[^ \t\n\r\f\x0B]+', '<URL>', 'g'),
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS clean_text
FROM documents
""", priority=PRI_TAIL)
def q73_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for corpus curation (operators/text.redact_pii): scrub
    URLs, emails, and IPv4 literals to typed placeholders and count each
    rule's matches on the original text — the audit+scrub pass a training
    corpus takes before shipping. Chained codegen'd regexp_replace, narrow
    map, no shuffle; patterns restricted to constructs with identical
    Java-regex/RE2 semantics so the full cleaned TEXT hash-verifies against
    the DuckDB oracle, not just the counts."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", *tx.pii_counts("text"),
                       tx.redact_pii("text").alias("clean_text"))


@register("q74_repetition_stats", r"""
WITH lines AS (
  SELECT doc_id,
         len(string_split(text, chr(10))) AS n_lines,
         round(CASE WHEN len(string_split(text, chr(10))) > 0
               THEN CAST(len(string_split(text, chr(10)))
                         - len(list_distinct(string_split(text, chr(10))))
                    AS DOUBLE) / len(string_split(text, chr(10)))
               ELSE 0.0 END, 6) AS dup_line_frac
  FROM documents),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> t[i] || ' ' || t[i + 1])) AS b
  FROM toks),
cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
top AS (
  SELECT doc_id, round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
  FROM cnt GROUP BY doc_id)
SELECT l.doc_id, CAST(l.n_lines AS INT) AS n_lines, l.dup_line_frac,
       COALESCE(t.top_bigram_frac, 0.0) AS top_bigram_frac
FROM lines l LEFT JOIN top t USING (doc_id)
""", priority=PRI_TAIL)
def q74_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (operators/text.repetition_stats):
    duplicate-line fraction + top-bigram share — the Gopher repetition
    filters a curation pass applies alongside q28's quality score. Narrow
    line stats + two map-side-combined aggregations; the round(…,6)
    double parity follows the module rules."""
    return tx.repetition_stats(_t(spark, sf_dir, "documents"))


@register("q72_latest_event", """
WITH r AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events)
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       value AS last_value, n_events
FROM r WHERE rn = 1
""", priority=PRI_TAIL)
def q72_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key via ONE aggregation — ``max(struct(ts,
    event_id, value))`` takes the lexicographic max, so the whole
    latest-row lookup is a single shuffle with map-side combine (each
    partition keeps one candidate per key before any data moves). The
    window-sort formulation the oracle uses (row_number over ts DESC) must
    materialize and sort EVERY row of every key — at 100 TB the aggregate
    form wins by the map-side reduction; tie-break is total because
    event_id is unique. The reference's span/min-max audit
    (pandas_utilities.py:99-105) is the same shape over time instead of
    value."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"),
                 F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("m.ts").alias("last_ts"),
                    F.col("m.event_id").alias("last_event_id"),
                    F.col("m.value").alias("last_value"),
                    "n_events"))


@register("q75_contamination", r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 7, 0)),
           i -> md5(array_to_string(list_slice(t, i, i + 7), ' '))))) AS gh
  FROM toks)
SELECT s.doc_id, count(DISTINCT s.gh) AS n_colliding_ngrams,
       count(DISTINCT b.doc_id) AS n_bench_docs
FROM sh s
JOIN (SELECT DISTINCT gh, doc_id FROM sh WHERE source = 'src0') b
  ON s.gh = b.gh
WHERE s.source <> 'src0'
GROUP BY s.doc_id
""", priority=PRI_TAIL)
def q75_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (operators/text.contamination_report):
    flag training documents sharing any word 8-gram with the eval set
    (here: source='src0' plays the benchmark) — the GPT-3 appendix-C /
    PaLM decontamination rule (Brown et al. 2020 use 13-grams). Join key
    is md5(ngram) — a uniform digest, never the raw shingle — and the
    bench side broadcasts, so the training corpus never shuffles: at
    100 TB this is a map-side hash probe + partial count agg. The n-gram
    pipeline (tokens → distinct 8-grams → md5) replays exactly in the
    oracle."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    train = docs.where(F.col("source") != "src0")
    return tx.contamination_report(train, bench, n=8)


@register("q76_chunking", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
n AS (
  SELECT doc_id, t,
         1 + floor((greatest(len(t) - 32, 0) + 23) / 24.0) AS n_chunks
  FROM toks),
c AS (
  SELECT doc_id, t, unnest(generate_series(0, CAST(n_chunks AS BIGINT) - 1))
         AS chunk_id
  FROM n)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS INT)
         AS n_tokens,
       array_to_string(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32),
                       ' ') AS chunk_text
FROM c
""", priority=PRI_TAIL)
def q76_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (operators/text.chunk_documents): split every
    document into 32-token training chunks with 8-token overlap (stride
    24) — the packing step from curated corpus to context-window-sized
    training examples. Narrow 1→N explode + per-chunk array slice, no
    shuffle; ceil-division spelled floor((extra+stride-1)/stride) so both
    engines compute identical chunk counts. Full chunk TEXT is
    hash-verified, not just counts."""
    return tx.chunk_documents(_t(spark, sf_dir, "documents"),
                              chunk_tokens=32, overlap=8)


@register("q77_tfidf", r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.doc_freq,
         round(tf.tf * round(ln(CAST(nd.n AS DOUBLE) / dfq.doc_freq), 6), 6)
           AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM s)
SELECT doc_id, term, tf, doc_freq, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
""", priority=PRI_TAIL)
def q77_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by TF-IDF (operators/text.tfidf_top_terms)
    — corpus topic profiling / salience scoring. One (doc, term) count
    agg, one vocabulary doc-freq agg (broadcast back — the vocab is tiny
    relative to a 100 TB corpus), N via a single-row broadcast cross join
    (no driver collect), then a per-doc top-k window pruned by
    WindowGroupLimit. ln() rounded to 6 before ranking per the parity
    rules; ties broken by term for a total order."""
    return tx.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@register("q78_offset_limit", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100 OFFSET 50
""", priority=PRI_TAIL)
def q78_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-then-take pagination (operators/relational.offset_limit — the
    reference's dataset.skip/take, examples/datapipeline_test.py:44-45)
    over an EXPLICIT total order (price desc, unique key tiebreak — file
    order is not an order in a distributed engine). Spark keeps
    sort+offset+limit in one TakeOrdered-style plan, no row_number
    materialization. Converts this §2.8 operator from pytest-only to
    oracle-verified."""
    o = _t(spark, sf_dir, "orders")
    return rel.offset_limit(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")], offset=50, limit=100)


@register("q79_positional_zip", """
WITH l AS (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_orderkey) AS __rn
  FROM orders),
r AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_custkey) AS __rn
  FROM customer)
SELECT l.o_orderkey, l.o_totalprice, r.c_custkey, r.c_acctbal
FROM l JOIN r ON l.__rn = r.__rn
""", priority=PRI_TAIL)
def q79_positional_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional zip of two plans (operators/timeseries.zip_by_position —
    the reference's zip_datasets, tfdataset.py:177-183): align by
    row_number over an EXPLICIT per-side ordering key and inner-join on
    position (truncating to the shorter side, tf.data zip semantics).
    Documented anti-pattern kept for reference parity — supervised_pair
    derives both column-sets from one plan instead. Converts the §2.3
    operator from pytest-only to oracle-verified."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return ts.zip_by_position(o, c, "o_orderkey", "c_custkey")


@register("q84_incremental_dedup", r"""
WITH new_batch AS (
  SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')))
           AS fp,
         min(doc_id) AS doc_id, count(*) AS n_copies_in_batch
  FROM documents WHERE doc_id >= 250 GROUP BY 1),
seen AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text),
           '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id < 250)
SELECT fp, doc_id, n_copies_in_batch
FROM new_batch b
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp)
""", priority=PRI_TAIL)
def q84_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest dedup (operators/dedup.incremental_dedup): documents
    with doc_id >= 250 play the newly-arrived batch, the rest the
    already-ingested corpus — keep one representative per batch
    fingerprint that the corpus has never seen. Both sides reduce to
    32-byte md5 digests before the anti-join, so the shuffle keys are
    uniform and the corpus can be maintained as a fingerprint-only
    table; the production incremental path that avoids re-deduplicating
    the full corpus per arrival."""
    docs = _t(spark, sf_dir, "documents")
    return dd.incremental_dedup(docs.where(F.col("doc_id") >= 250),
                                docs.where(F.col("doc_id") < 250))


@register("q83_bm25_search", r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN ('spark', 'window', 'join') GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         round(round(ln(1.0 + (stats.n - dfreq.df + 0.5)
                              / (dfreq.df + 0.5)), 6)
               * (tf.tf * 2.2
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
               6) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, CAST(count(*) AS INT) AS n_query_terms_hit,
       round(CAST(sum(CAST(s AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 10
""", priority=PRI_TAIL)
def q83_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (operators/text.bm25_topk): rank the corpus
    for the query {spark, window, join} — the inverted-index retrieval
    workload (Robertson & Zaragoza 2009; k1=1.2, b=0.75). The isin
    filter prunes the token stream BEFORE the tf shuffle; N/avgdl and
    per-term document frequencies broadcast; per-term scores round
    transcendentals to 6 and decimal-fold so the per-doc sum is
    partition-order-independent; (score desc, doc_id) gives a total
    order for the top-10."""
    return tx.bm25_topk(_t(spark, sf_dir, "documents"),
                        ["spark", "window", "join"], k=10)


@register("q82_salted_join", """
WITH u AS (
  SELECT user_id, count(*) AS user_n_events FROM events GROUP BY user_id)
SELECT e.event_id, e.user_id, e.value, u.user_n_events
FROM events e JOIN u ON e.user_id = u.user_id
""", priority=PRI_TAIL)
def q82_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/relational.salted_join): the
    skewed fact side (events, hot user_ids) takes a random salt in
    [0, 8), the small side replicates x8, and the join runs on
    (key, salt) so one hot key spreads over 8 tasks instead of
    serializing a stage. Salting redistributes WORK, not results — the
    output is row-identical to a plain equi-join, which is exactly what
    the oracle checks (the previously pytest-only 'salted == plain'
    pin, now hash-verified by the harness). AQE skew handling covers
    sort-merge joins; explicit salting remains the tool for skewed
    aggregations and non-AQE paths."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count("*").alias("user_n_events"))
    return (rel.salted_join(ev.select("event_id", "user_id", "value"),
                            u, on="user_id", salt=8)
            .select("event_id", "user_id", "value", "user_n_events"))


@register("q80_decontaminate", r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 7, 0)),
           i -> md5(array_to_string(list_slice(t, i, i + 7), ' '))))) AS gh
  FROM toks),
hits AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN (SELECT DISTINCT gh FROM sh WHERE source = 'src0') b
    ON s.gh = b.gh
  WHERE s.source <> 'src0')
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.source <> 'src0'
  AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)
""", priority=PRI_TAIL)
def q80_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, the action half of q75
    (operators/text.decontaminate): anti-join the contaminated ids out of
    the training corpus — detect-then-drop, the GPT-3 App. C remediation.
    The contaminated-id set scales with contamination density, so AQE
    executes a broadcast ANTI join and the corpus side never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    train = docs.where(F.col("source") != "src0")
    return (tx.decontaminate(train, bench, n=8)
            .select("doc_id", "source", "n_chars"))


@register("q81_unigram_logprob", r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
ct AS (SELECT term, count(*) AS ct FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS total FROM toks)
SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       round(CAST(-sum(CAST(tf.tf * round(ln(CAST(ct.ct AS DOUBLE)
                                             / tot.total), 6)
                            AS DECIMAL(28,12))) AS DOUBLE)
             / sum(tf.tf), 6) AS avg_neg_logprob
FROM tf JOIN ct USING (term) CROSS JOIN tot
GROUP BY tf.doc_id
""", priority=PRI_TAIL)
def q81_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document
    (operators/text.unigram_logprob) — the perplexity-proxy quality
    signal CCNet-style pipelines bucket corpora by, with a unigram model
    standing in for the KenLM. Corpus vocabulary broadcast back, total
    token count via single-row broadcast, decimal-folded weighted sum for
    partition-order independence; ln rounded to 6 per the parity rules."""
    return tx.unigram_logprob(_t(spark, sf_dir, "documents"))


@register("q85_span_dedup", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
n AS (SELECT doc_id, t,
             CAST(floor((len(t) + 7) / 8.0) AS BIGINT) AS n_spans
      FROM toks),
s AS (SELECT doc_id, t, unnest(generate_series(0, n_spans - 1)) AS span_id
      FROM n),
sp AS (SELECT doc_id, span_id,
              array_to_string(list_slice(t, span_id * 8 + 1,
                                         span_id * 8 + 8), ' ') AS span_text
       FROM s),
fr AS (SELECT md5(span_text) AS fp, count(DISTINCT doc_id) AS nd
       FROM sp GROUP BY 1),
fl AS (SELECT sp.doc_id, sp.span_id, sp.span_text, fr.nd >= 2 AS dropped
       FROM sp JOIN fr ON fr.fp = md5(sp.span_text)),
reb AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
               CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS INT)
                 AS n_removed,
               coalesce(string_agg(CASE WHEN NOT dropped THEN span_text END,
                                   ' ' ORDER BY span_id), '') AS clean_text
        FROM fl GROUP BY doc_id)
SELECT d.doc_id, coalesce(reb.n_spans, 0) AS n_spans,
       coalesce(reb.n_removed, 0) AS n_removed,
       coalesce(reb.clean_text, '') AS clean_text
FROM documents d LEFT JOIN reb USING (doc_id)
""", priority=PRI_TAIL)
def q85_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (fixed-width span) deduplication
    (operators/text.remove_repeated_spans): segment each document into
    non-overlapping 8-word spans, drop every span appearing in ≥2 distinct
    documents corpus-wide, reconstruct the cleaned text in original span
    order — the scalable approximation of suffix-array substring dedup
    (Lee et al. 2021; boilerplate headers/footers are the target). The
    doc-frequency shuffle keys on md5(span) digests; the repeated-span set
    is broadcast back; reconstruction is one per-doc sort_array aggregate."""
    return tx.remove_repeated_spans(_t(spark, sf_dir, "documents"),
                                    span_words=8, min_docs=2)


@register("q86_mixture_plan", r"""
WITH w(stratum, tw) AS (
  VALUES ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
         ('src2', CAST(0.125 AS DOUBLE)), ('src3', CAST(0.125 AS DOUBLE))),
base AS (
  SELECT source AS stratum, doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10000 AS b
  FROM documents),
counts AS (SELECT stratum, count(*) AS n_docs FROM base GROUP BY 1),
cw AS (SELECT c.stratum, c.n_docs, coalesce(w.tw, CAST(0.0 AS DOUBLE)) AS tw
       FROM counts c LEFT JOIN w USING (stratum)),
t AS (SELECT min(CAST(n_docs AS DOUBLE) / tw) AS tmax FROM cw WHERE tw > 0),
plan AS (
  SELECT stratum, n_docs, tw,
         CASE WHEN tw > 0
              THEN least(CAST(1.0 AS DOUBLE), tw * t.tmax / n_docs)
              ELSE CAST(0.0 AS DOUBLE) END AS rate
  FROM cw CROSS JOIN t),
pt AS (SELECT *, CAST(floor(rate * 10000 + 1e-9) AS BIGINT) AS thresh
       FROM plan),
sel AS (SELECT b.stratum, count(*) AS n_selected
        FROM base b JOIN pt USING (stratum)
        WHERE b.b < pt.thresh GROUP BY 1)
SELECT pt.stratum, pt.n_docs, round(pt.tw, 6) AS target_weight,
       round(pt.rate, 6) AS rate,
       coalesce(sel.n_selected, 0) AS n_selected
FROM pt LEFT JOIN sel USING (stratum)
""", priority=PRI_TAIL)
def q86_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling plan (operators/relational.
    mixture_resample_plan) — the Pile/DoReMi corpus-mixing step: target
    proportions over four sources, largest no-upsampling total
    T = min_s n_s/w_s, per-source keep rate w_s·T/n_s, and the realized
    deterministic hash-sample count at that rate (md5-bucket rule shared
    with q62/q69 — no RNG state, exact-oracle-checkable). Strata outside
    the target mix appear with weight/rate 0. Corpus never shuffles: two
    narrow passes with the tiny plan broadcast back."""
    return rel.mixture_resample_plan(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125})


@register("q87_quality_buckets", r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
ct AS (SELECT term, count(*) AS ct FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS total FROM toks),
u AS (
  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         round(CAST(-sum(CAST(tf.tf * round(ln(CAST(ct.ct AS DOUBLE)
                                               / tot.total), 6)
                              AS DECIMAL(28,12))) AS DOUBLE)
               / sum(tf.tf), 6) AS avg_neg_logprob
  FROM tf JOIN ct USING (term) CROSS JOIN tot
  GROUP BY tf.doc_id),
b AS (SELECT *, ntile(10) OVER (ORDER BY avg_neg_logprob ASC, doc_id ASC)
               AS bucket
      FROM u)
SELECT CAST(bucket AS INT) AS bucket, CAST(count(*) AS INT) AS n_docs,
       min(avg_neg_logprob) AS min_nlp, max(avg_neg_logprob) AS max_nlp,
       round(CAST(sum(CAST(avg_neg_logprob AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS avg_nlp,
       round(CAST(sum(CAST(n_tokens AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS avg_tokens
FROM b GROUP BY bucket
""", priority=PRI_TAIL)
def q87_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (operators/text.quality_buckets):
    rank documents by unigram-LM cross-entropy (q81's per-doc signal,
    derived from the same shared term-index pass) and ntile the corpus
    into 10 equal-frequency buckets over a TOTAL order (score, then id);
    per-bucket stats are decimal-folded. The exact ntile runs on the
    narrow per-doc score frame; the 100 TB path swaps in
    percentile_approx boundaries (see operator docstring)."""
    b = tx.quality_buckets(_t(spark, sf_dir, "documents"), n_buckets=10)
    return b.withColumn("bucket", F.col("bucket").cast("int")) \
            .withColumn("n_docs", F.col("n_docs").cast("int"))


@register("q88_sequence_packing", r"""
WITH toks AS (
  SELECT source AS shard, doc_id,
         len(list_filter(regexp_split_to_array(lower(text),
             '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS nt
  FROM documents),
c AS (
  SELECT shard, doc_id, nt,
         sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - nt AS start
  FROM toks)
SELECT shard,
       CAST(floor(CAST(start AS DOUBLE) / 256) AS INT) AS pack_id,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1, 2
""", priority=PRI_TAIL)
def q88_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches (operators/text.
    pack_sequences): per shard (source), concatenate documents in id
    order into a token stream cut every 256 tokens; a document belongs to
    the pack holding its first token (GPT-style pack-then-split). The
    cumulative-sum window is PARTITIONED BY shard — packing parallelizes
    per input shard exactly as real pipelines do; no global sort."""
    return tx.pack_sequences(_t(spark, sf_dir, "documents"), budget=256,
                             shard_col="source")


@register("q89_hybrid_rrf", f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) AS term
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN ('spark', 'window', 'join') GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         round(round(ln(1.0 + (stats.n - dfreq.df + 0.5)
                              / (dfreq.df + 0.5)), 6)
               * (tf.tf * 2.2
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
               6) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
bm AS (
  SELECT doc_id,
         round(CAST(sum(CAST(s AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
  FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
bmr AS (SELECT * FROM (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
  FROM bm) WHERE rank_a <= 50),
den AS (
  SELECT a.vec_id AS doc_id,
         round({_SQL_DOT} / ({_SQL_NORM.format(t='a')}
                             * {_SQL_NORM.format(t='b')}), 6) AS cosine
  FROM embeddings a, embeddings b WHERE b.vec_id = 0),
denr AS (SELECT * FROM (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_b
  FROM den) WHERE rank_b <= 50),
f AS (
  SELECT coalesce(bmr.doc_id, denr.doc_id) AS doc_id, rank_a, rank_b,
         round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_a),
                        CAST(0.0 AS DOUBLE))
               + coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_b),
                          CAST(0.0 AS DOUBLE)), 6) AS rrf_score
  FROM bmr FULL OUTER JOIN denr ON bmr.doc_id = denr.doc_id)
SELECT * FROM (
  SELECT doc_id, CAST(coalesce(rank_a, 0) AS INT) AS rank_a,
         CAST(coalesce(rank_b, 0) AS INT) AS rank_b, rrf_score,
         CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
           AS rank
  FROM f) WHERE rank <= 10
""", priority=PRI_TAIL)
def q89_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via reciprocal-rank fusion (operators/similarity.
    rrf_fuse; Cormack et al. 2009): fuse the BM25 keyword ranking (q83's
    inverted-index shape, top 50) with the dense cosine ranking for one
    query embedding (q31's brute-force shape, top 50) on the shared
    doc_id/vec_id key — 1/(60+rank) per list, missing list contributes 0
    (output rank_a/rank_b use 0 for 'not ranked by this list' so the
    columns stay non-null ints). Both inputs are tiny top-k frames; the
    fusion join and re-rank are constant-cost."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = tx.bm25_topk(docs, ["spark", "window", "join"], k=50)
    wa = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    sparse = bm.withColumn("rank", F.row_number().over(wa))
    q0 = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dense = (sim.brute_force_topk(emb, q0, k=50)
             .select(F.col("vec_id").alias("doc_id"), "rank"))
    fused = sim.rrf_fuse(sparse, dense, id_col="doc_id", k=10, c=60)
    return fused.select(
        "doc_id",
        F.coalesce("rank_a", F.lit(0)).cast("int").alias("rank_a"),
        F.coalesce("rank_b", F.lit(0)).cast("int").alias("rank_b"),
        "rrf_score", "rank")


@register("q90_corpus_bigrams", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM toks),
grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS ngram
  FROM g),
c AS (
  SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS INT) AS n_docs
  FROM grams GROUP BY 1)
SELECT * FROM (
  SELECT ngram, n_occurrences, n_docs,
         CAST(row_number() OVER (ORDER BY n_occurrences DESC, ngram ASC)
              AS INT) AS rank
  FROM c) WHERE rank <= 20
""", priority=PRI_TAIL)
def q90_corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams (operators/text.
    corpus_ngram_counts) — the non-distinct counting pass a BPE merge or
    collocation table starts from. Map-side partial aggregation before
    the corpus-wide shuffle on the gram key; final top-k is a
    TakeOrdered over the aggregated frame, total-ordered
    (count desc, gram asc)."""
    return tx.corpus_ngram_counts(_t(spark, sf_dir, "documents"), n=2, k=20)


@register("q91_ngram_jaccard", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks),
ex AS (SELECT doc_id, len(g) AS sh_n, unnest(g) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sh_n AS n_a, b.sh_n AS n_b, count(*) AS n_inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) AS jaccard
FROM inter
WHERE round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) >= 0.5
""", priority=PRI_TAIL)
def q91_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via the inverted-index
    join (operators/dedup.ngram_jaccard_pairs, unit='word') — the
    exactness BASELINE the banded LSH paths (q29/q33/q60) approximate;
    previously pytest-only, now oracle-paired. Word shingles keep the
    Σ df(g)² join cost tracking true duplicate density (the char-unit
    variant is OOM-confirmed pathological on a small-vocabulary corpus —
    see the operator's cost model); join key is md5(shingle), a narrow
    uniform digest."""
    return dd.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3,
                                  threshold=0.5, unit="word")


@register("q92_url_dedup", r"""
WITH u AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM/Path/'
           || CAST(doc_id % 25 AS VARCHAR)
           || '?utm_source=x&id=' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
c AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             lower(url),
             '^https?://', ''), '^www\.', ''), '[?#].*$', ''), '/$', '')
           AS canonical_url
  FROM u)
SELECT canonical_url,
       regexp_extract(canonical_url, '^([^/]+)', 1) AS domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc
FROM c GROUP BY 1
""", priority=PRI_TAIL)
def q92_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (operators/text.
    canonical_url / url_dedup) — the first dedup pass of every
    web-corpus pipeline (CCNet/RefinedWeb dedup by URL before content).
    The fixture carries no URL column, so the query CONSTRUCTS
    deterministic messy URLs from (source, doc_id) — mixed case, www,
    tracking query params — and the operator must normalize them to the
    canonical (domain, path) key; every rule (scheme/www/query/trailing-
    slash strip) is a single-match regex, so Spark's replace-all and
    DuckDB's replace-first semantics coincide by construction."""
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("HTTPS://WWW."), F.col("source"),
                 F.lit(".Example.COM/Path/"),
                 (F.col("doc_id") % 25).cast("string"),
                 F.lit("?utm_source=x&id="),
                 F.col("doc_id").cast("string")).alias("url"))
    return tx.url_dedup(urls)


@register("q93_winnowing", r"""
WITH c AS (SELECT doc_id, lower(text) AS c FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(c) - 4, 0)),
             i -> CAST(('0x' || substr(md5(substr(c, i, 5)), 1, 8))
                       AS BIGINT)) AS hs
  FROM c),
w AS (
  SELECT doc_id,
         CASE WHEN len(hs) - 3 > 0
              THEN list_transform(generate_series(1, len(hs) - 3),
                                  j -> list_min(hs[j:j+3]))
              WHEN len(hs) > 0 THEN [list_min(hs)]
              ELSE CAST([] AS BIGINT[]) END AS wins
  FROM g)
SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM w
""", priority=PRI_TAIL)
def q93_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document (operators/text.
    winnow_fingerprints; Schleimer et al., SIGMOD 2003 — MOSS): hash
    every 5-gram, keep each 4-window's minimum hash, emit the distinct
    selected (doc, fp) pairs. Any shared substring of length ≥ 8 chars
    yields a common fingerprint while keeping ~2/(w+1) of the hashes —
    the position-robust substring-dedup primitive. One codegen'd column
    expression, no shuffle; md5-prefix integer hashes keep the sets
    bit-identical across engines."""
    return tx.winnow_fingerprints(_t(spark, sf_dir, "documents"),
                                  k=5, w=4)


@register("q94_winnow_neardup", r"""
WITH c AS (SELECT doc_id, lower(text) AS c FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(c) - 4, 0)),
             i -> CAST(('0x' || substr(md5(substr(c, i, 5)), 1, 8))
                       AS BIGINT)) AS hs
  FROM c),
w AS (
  SELECT doc_id,
         CASE WHEN len(hs) - 3 > 0
              THEN list_transform(generate_series(1, len(hs) - 3),
                                  j -> list_min(hs[j:j+3]))
              WHEN len(hs) > 0 THEN [list_min(hs)]
              ELSE CAST([] AS BIGINT[]) END AS wins
  FROM g),
fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM w),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
dfreq AS (SELECT fp, count(DISTINCT doc_id) AS df FROM fp GROUP BY 1),
rare AS (
  SELECT fp FROM dfreq CROSS JOIN nd
  WHERE df <= greatest(2, CAST(floor(CAST(0.05 AS DOUBLE) * n) AS BIGINT))),
pr AS (SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 6
""", priority=PRI_TAIL)
def q94_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs from shared winnowing fingerprints
    (operators/text.winnow_neardup_pairs): documents sharing ≥6 RARE
    fingerprints (document frequency ≤ 5% of the corpus — MOSS ignores
    overly-common fingerprints, and without the cap the fp self-join
    costs Σ df² = 590M rows at sf0.1 on this fixture). The threshold 6
    sits above the measured 99.9th percentile of background sharing at
    sf0.01, so reported pairs are true shared-substring matches. Join
    stream is pruned BEFORE the self-join; fingerprints are 8-byte
    ints."""
    return tx.winnow_neardup_pairs(_t(spark, sf_dir, "documents"),
                                   min_shared=6)


@register("q95_streaming_sessionize", r"""
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts)
                   - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                   >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM d)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, sid
""", priority=PRI_TAIL)
def q95_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING sessionization over the events stream
    (streaming/pipeline.streaming_sessionize — q39's streaming twin,
    driver-recordable for the first time): ``F.session_window`` with a
    30-min gap, watermarked, availableNow trigger, memory sink. The
    oracle replays session_window's HALF-OPEN boundary exactly (a new
    session starts when the inter-arrival gap is ≥ the gap, vs the batch
    operator's strict >), as a lag + running-sum window in SQL — so this
    is a strict value compare, not a rows-only check. State is one open
    session per user, watermark-bounded — the streaming-scale shape.
    complete mode + memory sink is the verification harness (q45's
    NOTE); production writes append past the watermark."""
    return _run_stream_to_memory(spark, q95_stream_frame(spark, sf_dir),
                                 "q95", "complete",
                                 source_paths=(f"{sf_dir}/events.parquet",))


def q95_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT pre-sink streaming frame q95 executes (shared with
    tools/dump_plans — see q45_stream_frame)."""
    from powerdatapipeline_spark.streaming.pipeline import streaming_sessionize

    stream = events_stream_source(spark, sf_dir)
    return streaming_sessionize(stream, "ts", ["user_id"],
                                gap_seconds=1800, watermark="1 minute")


_SEASONAL_PROFILE_SQL = r"""
  SELECT event_type, CAST(hour(ts) AS INT) AS slot,
         CAST(count(value) AS BIGINT) AS n,
         sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,10))) AS sx,
         sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                  AS DECIMAL(38,10))) AS sxx
  FROM events GROUP BY 1, 2"""


@register("q96_seasonal_profile", f"""
WITH a AS ({_SEASONAL_PROFILE_SQL})
SELECT event_type, slot, n,
       round(CAST(sx AS DOUBLE) / n, 6) AS profile_mean,
       round(sqrt(greatest((n * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (n * n), 0.0)), 6) AS profile_std
FROM a
""", priority=PRI_TAIL)
def q96_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baseline per event type
    (operators/timeseries.seasonal_profile) — the load-profile primitive
    of grid analytics, the reference's own domain (its per-column
    normalization, reference datapipeline/tfdataset_utilities.py:81-105,
    is the season-blind special case). Exact decimal-folded moments,
    population std in the q66 closed form; one map-side-combined
    aggregate with at most |event_type|·24 groups."""
    return ts.seasonal_profile(_t(spark, sf_dir, "events"), "ts", "value",
                               ["event_type"], period="hour")


@register("q97_seasonal_anomalies", f"""
WITH a AS ({_SEASONAL_PROFILE_SQL}),
p AS (
  SELECT event_type, slot,
         round(CAST(sx AS DOUBLE) / n, 6) AS profile_mean,
         round(sqrt(greatest((n * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             / (n * n), 0.0)), 6) AS profile_std
  FROM a),
j AS (
  SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS INT) AS slot,
         e.value,
         CASE WHEN p.profile_std > 1e-9
              THEN round((e.value - p.profile_mean) / p.profile_std, 6)
              END AS z_score
  FROM events e JOIN p ON p.event_type = e.event_type
                       AND p.slot = CAST(hour(e.ts) AS INT))
SELECT event_id, event_type, slot, value, z_score
FROM j WHERE z_score IS NOT NULL
ORDER BY abs(z_score) DESC, event_id
LIMIT 20
""", priority=PRI_TAIL)
def q97_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 seasonal anomalies (operators/timeseries.
    deviation_from_profile): each event z-scored against its own
    (event_type, hour-of-day) baseline — "this feeder is 3σ above its
    usual 6 pm load", the grid-telemetry alarm shape. The tiny profile
    frame broadcasts back to the event scan (no corpus shuffle);
    constant-baseline slots yield NULL z (filtered) instead of ±inf;
    the cut is total-ordered (|z| desc, event_id)."""
    ev = _t(spark, sf_dir, "events")
    dev = ts.deviation_from_profile(ev, "ts", "value", ["event_type"],
                                    period="hour")
    return (dev.where(F.col("z_score").isNotNull())
            .select("event_id", "event_type", "slot", "value", "z_score")
            .orderBy(F.abs(F.col("z_score")).desc(), F.col("event_id"))
            .limit(20))


def _rp_matrix_sql(out_dim: int = 16, dim: int = 64, seed: int = 11) -> str:
    """The q98 projection matrix as a DuckDB nested-list literal — the
    SAME deterministic numpy draw similarity.random_projection embeds as
    a Spark literal (the q34 seeded-planes-in-SQL pattern). Every element
    is written in EXPONENT notation: DuckDB types a bare decimal literal
    as DECIMAL and unifies each list to ONE (precision, scale), silently
    truncating rows whose elements need different scales (~1e-12 per
    element — enough to shift a projection component; diagnosed at
    sf0.1). An exponent literal is typed DOUBLE, so the nested list is
    DOUBLE[][] with bit-exact elements."""
    import numpy as np

    rng = np.random.default_rng(seed)
    R = rng.standard_normal((out_dim, dim)) / np.sqrt(out_dim)

    def dlit(v: float) -> str:
        s = repr(float(v))
        return s if ("e" in s or "E" in s) else s + "e0"

    return ("[" + ", ".join(
        "[" + ", ".join(dlit(v) for v in row) + "]"
        for row in R) + "]")


@register("q98_random_projection", f"""
WITH r AS (SELECT {_rp_matrix_sql()} AS m),
d AS (SELECT vec_id, embedding, unnest(generate_series(0, 15)) AS dim
      FROM embeddings)
SELECT d.vec_id, CAST(d.dim AS INT) AS dim,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, 64),
               i -> CAST(d.embedding[i] AS DOUBLE) * r.m[d.dim + 1][i])),
           (acc, x) -> acc + x), 6) AS value
FROM d CROSS JOIN r
""", priority=PRI_TAIL)
def q98_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → 16 dims
    (operators/similarity.random_projection) — the standard cheap
    dimensionality-reduction pre-step before ANN/clustering. The
    Gaussian matrix is deterministic from the seed and embedded as ONE
    nested literal on BOTH engines; every component is a decimal-exact
    ddot, so the projected vectors are bit-reproducible. Output exploded
    to (vec_id, dim, value) scalars for the hash compare. Narrow map, no
    shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    proj = sim.random_projection(emb, out_dim=16)
    return (proj.select("vec_id", F.posexplode("proj")
                        .alias("dim", "value"))
            .withColumn("dim", F.col("dim").cast("int")))


@register("q99_weighted_sample", """
WITH s AS (
  SELECT doc_id, n_chars,
         pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) + 1) / 1152921504606846976.0,
             1.0 / n_chars) AS sample_score
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
SELECT doc_id, n_chars, round(sample_score, 6) AS sample_score
FROM s ORDER BY round(s.sample_score, 6) DESC, doc_id ASC LIMIT 25
""", priority=PRI_TAIL)
def q99_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/relational.weighted_hash_sample) — Efraimidis–Spirakis
    A-ES with a hash-derived uniform: sample 25 documents ∝ length
    weight, reproducibly (no RNG state; the q62 no-reassignment argument
    extended to weighted draws). Every sampled id and its score are
    hash-verified against the oracle replaying the identical
    ``u^(1/w)`` scoring. Narrow map + TakeOrdered top-k — per-partition
    heaps, never a global sort. BOTH engines rank by the 6-rounded score
    with a doc_id tie-break (ADVICE r7): pow() is only ~1-ulp accurate
    per libm, so a raw-score ordering could flip the k-boundary pair
    between engines; rounding makes the sampled set platform-stable."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    s = rel.weighted_hash_sample(d, "doc_id", "n_chars", 25)
    return s.select("doc_id", "n_chars",
                    F.round("sample_score", 6).alias("sample_score"))


@register("q100_robust_scale", """
WITH f AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
  FROM events GROUP BY 1)
SELECT e.event_id, e.event_type, e.value,
       round(CASE WHEN f.iqr <> 0 THEN (e.value - f.med) / f.iqr END, 6)
         AS robust_z
FROM events e JOIN f USING (event_type)
""", priority=PRI_TAIL)
def q100_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust scaling (operators/stats.robust_scale_fit/apply):
    median/IQR instead of mean/std (q22's fit), the outlier-resistant
    normalization for heavy-tailed telemetry. Exact interpolated
    percentiles (the q50-verified Spark≡DuckDB pair) make the fit frame
    engine-portable unrounded; the group-cardinality fit broadcasts back,
    so application is a narrow map over the event scan."""
    from powerdatapipeline_spark.operators import stats as st
    ev = _t(spark, sf_dir, "events")
    fit = st.robust_scale_fit(ev, "value", ["event_type"])
    return (st.robust_scale_apply(ev, fit, "value", ["event_type"])
            .select("event_id", "event_type", "value", "robust_z"))


@register("q101_mad_outliers", """
WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1),
d AS (SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN m USING (event_type)),
md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
       FROM d GROUP BY 1)
SELECT d.event_id, d.event_type, d.value,
       round(CASE WHEN md.mad <> 0
                  THEN 0.6745 * (d.value - d.med) / md.mad END, 6)
         AS modified_z,
       CASE WHEN md.mad <> 0
            THEN abs(0.6745 * (d.value - d.med) / md.mad) > 3.5 END
         AS is_outlier
FROM d JOIN md USING (event_type)
""", priority=PRI_TAIL)
def q101_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via the modified z-score
    (operators/stats.mad_outliers, Iglewicz–Hoaglin 0.6745·dev/MAD,
    |mz| > 3.5): the double-median flag that, unlike q97's mean/std
    z-score, is not itself dragged by the outliers it hunts. Two grouped
    exact-percentile passes whose group-cardinality outputs broadcast
    back; MAD = 0 slabs yield NULL flags, not ±inf. Every per-event flag
    and score is hash-verified."""
    from powerdatapipeline_spark.operators import stats as st
    ev = _t(spark, sf_dir, "events")
    return (st.mad_outliers(ev, "value", ["event_type"])
            .select("event_id", "event_type", "value", "modified_z",
                    "is_outlier"))


@register("q102_bloom_prune_join", """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
""", priority=PRI_TAIL)
def q102_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter-pruned selective join
    (operators/relational.bloom_prune_join) — the runtime-filter idiom
    as a first-class operator: the BUILDING-segment customer keys build
    a 1024-bit Bloom filter via a map-side-combined bit_or aggregate
    (collected as 16 longs, the fixed-size-summary pattern), which
    prunes never-matching orders BEFORE the join. False negatives are
    impossible, so the result is exactly the plain join the oracle
    runs — the filter only decides how much of the fact table reaches
    the shuffle, the 100 TB cost line. tests pin the prune selectivity
    and bloom ≡ plain equivalence."""
    o = _t(spark, sf_dir, "orders")
    dim = (_t(spark, sf_dir, "customer")
           .where(F.col("c_mktsegment") == "BUILDING")
           .select(F.col("c_custkey").alias("o_custkey"), "c_name"))
    return (rel.bloom_prune_join(o, dim, "o_custkey")
            .select("o_orderkey", "o_custkey", "o_totalprice", "c_name"))


@register("q103_filter_funnel", f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter({_SQL_TOKENS}, x -> x != '')) AS n_tok,
         length(text) AS n_chars,
         len(list_filter({_SQL_TOKENS}, x -> x IN {_SQL_STOP})) AS n_stop,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '')
           AS lines
  FROM documents),
b AS (
  SELECT
    COALESCE(n_tok >= 5, FALSE) AS b1,
    COALESCE(n_tok <= 100000, FALSE) AS b2,
    COALESCE(CASE WHEN n_tok > 0 THEN
        CAST(n_chars AS DOUBLE)/n_tok >= 2
        AND CAST(n_chars AS DOUBLE)/n_tok <= 12 END, FALSE) AS b3,
    COALESCE(CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE)/n_tok
                  ELSE 0.0 END >= 0.05, FALSE) AS b4,
    COALESCE(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars
                  ELSE 0.0 END <= 0.2, FALSE) AS b5,
    COALESCE(CASE WHEN len(lines) > 0 THEN
        1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)/len(lines)
        ELSE 0.0 END <= 0.3, FALSE) AS b6
  FROM t),
c AS (
  SELECT b1 AS c1, b1 AND b2 AS c2, b1 AND b2 AND b3 AS c3,
         b1 AND b2 AND b3 AND b4 AS c4,
         b1 AND b2 AND b3 AND b4 AND b5 AS c5,
         b1 AND b2 AND b3 AND b4 AND b5 AND b6 AS c6
  FROM b),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
         CAST(sum(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT) AS s5,
         CAST(sum(CASE WHEN c6 THEN 1 ELSE 0 END) AS BIGINT) AS s6
  FROM c)
SELECT CAST(1 AS INT) AS stage, 'min_tokens' AS rule,
       n0 AS n_in, s1 AS n_kept, n0 - s1 AS n_dropped FROM a
UNION ALL SELECT 2, 'max_tokens', s1, s2, s1 - s2 FROM a
UNION ALL SELECT 3, 'mean_word_len', s2, s3, s2 - s3 FROM a
UNION ALL SELECT 4, 'stopword_ratio', s3, s4, s3 - s4 FROM a
UNION ALL SELECT 5, 'punct_ratio', s4, s5, s4 - s5 FROM a
UNION ALL SELECT 6, 'dup_lines', s5, s6, s5 - s6 FROM a
""", priority=PRI_TAIL)
def q103_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter-funnel audit (operators/text.filter_funnel): the
    ordered C4/Gopher-style rule list with per-stage entered/dropped/
    survived counts — the observability table that makes a rule silently
    deleting half the corpus visible. All rules are codegen'd booleans
    over ONE document scan reduced in a single map-side-combined
    aggregate; the audit rows explode from that one row, so cost is one
    corpus pass regardless of rule count."""
    return tx.filter_funnel(_t(spark, sf_dir, "documents"))


@register("q104_token_quota", f"""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter({_SQL_TOKENS}, x -> x != '')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum - n_tokens < 5000
""", priority=PRI_TAIL)
def q104_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget enforcement
    (operators/text.enforce_token_quota): admit documents in
    deterministic id order until each source's 5 000-token budget is
    spent (greedy fill — the budget may overshoot by at most one
    document). Runs on the DISTRIBUTED prefix-sum
    (text.cumulative_sum_bucketed: range-bucket local cumsums + a tiny
    per-bucket offset frame broadcast back), so a skewed giant source
    does not serialize through one task the way the oracle's plain
    partition-window cumsum would; the two are value-identical, which is
    exactly what this parity check proves."""
    return tx.enforce_token_quota(_t(spark, sf_dir, "documents"), 5000)


@register("q105_char_entropy", """
WITH ch AS (
  SELECT doc_id, substr(text, i, 1) AS c
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text))) AS i
        FROM documents)),
cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
pl AS (SELECT doc_id, list(CAST(n AS BIGINT) ORDER BY c) AS lens,
              CAST(count(*) AS INT) AS k
       FROM cnt GROUP BY 1)
SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars,
       COALESCE(pl.k, 0) AS n_distinct_chars,
       CASE WHEN length(d.text) > 0 THEN
         round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(pl.lens,
                 c -> CAST(c AS DOUBLE) *
                      round(ln(CAST(c AS DOUBLE) / length(d.text)), 6))),
             (acc, x) -> acc + x) / length(d.text), 6)
       ELSE 0.0 END AS char_entropy
FROM documents d LEFT JOIN pl USING (doc_id)
""", priority=PRI_TAIL)
def q105_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon character entropy
    (operators/text.char_entropy) — the gibberish/mojibake/base64-blob
    detector. Spark computes it with ZERO shuffle: higher-order
    functions sort the char array, turn run boundaries into counts, and
    left-fold the 6-rounded ln terms in defined (sorted-char) order; the
    oracle replays the identical ordered fold from a grouped count, so
    the doubles agree bit-for-bit. The explode→groupBy(doc, char)
    formulation this avoids would shuffle every character of a 100 TB
    corpus."""
    return tx.char_entropy(_t(spark, sf_dir, "documents"))


@register("q106_pmi_bigrams", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
uc AS (SELECT w, count(*) AS c1
       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
n1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1 FROM uc),
bc AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
  GROUP BY 1, 2),
n2 AS (SELECT CAST(sum(c2) AS DOUBLE) AS n2 FROM bc),
s AS (
  SELECT bc.w1 || ' ' || bc.w2 AS ngram, bc.c2,
         round(round(ln(bc.c2 / n2.n2), 6)
               - round(ln(ua.c1 / n1.n1), 6)
               - round(ln(ub.c1 / n1.n1), 6), 6) AS pmi
  FROM bc JOIN uc ua ON bc.w1 = ua.w JOIN uc ub ON bc.w2 = ub.w
  CROSS JOIN n1 CROSS JOIN n2
  WHERE bc.c2 >= 5)
SELECT * FROM (
  SELECT ngram, CAST(c2 AS BIGINT) AS n_pair, pmi,
         CAST(row_number() OVER (ORDER BY pmi DESC, ngram ASC) AS INT)
           AS rank
  FROM s) WHERE rank <= 20
""", priority=PRI_TAIL)
def q106_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information
    (operators/text.pmi_bigrams): ``ln p(ab) − ln p(a) − ln p(b)`` over
    bigram/unigram MLE counts — the phrase-induction signal raw bigram
    counts (q90) miss. min_count prunes the bigram frame FIRST so only
    the tiny candidate set joins (broadcast) into the vocabulary scan;
    corpus totals ride as 1-row broadcasts; each ln rounds to 6 per the
    parity rules and the ranking is total-ordered."""
    return tx.pmi_bigrams(_t(spark, sf_dir, "documents"),
                          min_count=5, k=20)


def _ewma_oracle(alpha: float = 0.3, taps: int = 8) -> str:
    """The q107 FIR-EWMA as a DuckDB window expression — the SAME
    weight literals (exponent-typed, the q98 DECIMAL-literal lesson) and
    the SAME left-associated numerator/denominator term order as
    operators/timeseries.ewma_fir, so both engines evaluate one
    expression tree bit-for-bit."""
    def dlit(v: float) -> str:
        s = repr(float(v))
        return s if ("e" in s or "E" in s) else s + "e0"

    num, den = [], []
    for k in range(taps):
        w = dlit(alpha * (1.0 - alpha) ** k)
        x = "value" if k == 0 else f"lag(value, {k}) OVER w"
        num.append(f"CASE WHEN {x} IS NOT NULL THEN {w} * {x} "
                   f"ELSE 0e0 END")
        den.append(f"CASE WHEN {x} IS NOT NULL THEN {w} ELSE 0e0 END")
    return f"""
SELECT event_id, user_id, value,
       round(CASE WHEN {' + '.join(den)} > 0
                  THEN ({' + '.join(num)}) / ({' + '.join(den)}) END, 6)
         AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("q107_ewma", _ewma_oracle(), priority=PRI_TAIL)
def q107_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user series
    (operators/timeseries.ewma_fir) — telemetry smoothing in its
    scale-friendly FIR form: the serial IIR recursion truncated at 8
    taps (residual weight 0.7⁸ ≈ 5.7%, renormalized away) becomes a
    bounded window of lag() terms — one codegen'd per-series window
    pass, parallel over series, vs. an unparallelizable scan. Weights
    are embedded as identical exponent-typed literals on both engines
    and the sums are left-associated, so the smoothed values
    hash-match."""
    ev = _t(spark, sf_dir, "events")
    return (ts.ewma_fir(ev, ["ts", "event_id"], "value", ["user_id"])
            .select("event_id", "user_id", "value", "ewma"))


@register("q108_approx_percentile_contract", """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50_exact,
       TRUE AS within_contract
FROM events GROUP BY 1
""", priority=PRI_TAIL)
def q108_approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile with an explicit accuracy contract (the q48
    HLL pattern applied to quantile sketches): the scale path for
    percentiles at 100 TB is the mergeable KLL/GK sketch, not q50's
    exact per-group sort — but only with a verified error bound. Spark's
    ``percentile_approx(value, 0.5, 1000)`` guarantees rank error
    ≤ 1/1000; the query computes the approx value's TRUE rank interval
    (strict-below and at-or-below fractions against the raw scan) and
    asserts the 0.5 ± (ε + 1/n) containment per group — the 1/n term is
    the discreteness slack (achievable ranks are integer multiples of
    1/n, so the target fraction can sit up to one rank step outside any
    element's interval). The oracle pins
    ``within_contract = TRUE`` — a sketch violating its bound flips the
    Spark-side boolean and fails the hash compare — plus the exact
    median via the bit-identical percentile pair."""
    ev = _t(spark, sf_dir, "events")
    eps = 1.0 / 1000
    st = (ev.groupBy("event_type")
          .agg(F.percentile_approx("value", 0.5, 1000).alias("appx"),
               F.percentile("value", 0.5).alias("p50_exact"),
               F.count("*").alias("n")))
    j = ev.join(F.broadcast(st), "event_type")
    ranks = (j.groupBy("event_type")
             .agg(F.first("n").alias("n"),
                  F.first("p50_exact").alias("p50_exact"),
                  (F.sum((F.col("value") < F.col("appx")).cast("bigint"))
                   / F.first("n")).alias("frac_lo"),
                  (F.sum((F.col("value") <= F.col("appx")).cast("bigint"))
                   / F.first("n")).alias("frac_hi")))
    slack = F.lit(eps) + 1.0 / F.col("n")
    return ranks.select(
        "event_type", F.col("n").cast("bigint").alias("n"),
        F.round("p50_exact", 6).alias("p50_exact"),
        ((F.col("frac_lo") - 0.5 <= slack)
         & (0.5 - F.col("frac_hi") <= slack)).alias("within_contract"))


@register("q109_event_funnel", """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
c AS (
  SELECT 1 AS step, 'view' AS event_type,
         (SELECT count(*) FROM s1) AS n_users
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
SELECT CAST(step AS INT) AS step, event_type,
       CAST(n_users AS BIGINT) AS n_users,
       round(CASE WHEN lag(n_users) OVER (ORDER BY step) > 0
                  THEN CAST(n_users AS DOUBLE)
                       / lag(n_users) OVER (ORDER BY step) END, 6)
         AS conversion
FROM c
""", priority=PRI_TAIL)
def q109_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase
    (operators/timeseries.event_funnel): per step, the users who
    performed it STRICTLY AFTER their previous qualifying step
    (first-touch chain), with step-over-step conversion rates — the
    product-analytics staple, and the alarm-escalation shape on grid
    telemetry. Each stage is one keyed join of a type-filtered scan
    (filter pushed to parquet) against the shrinking survivor frame +
    a grouped min — no windows over raw events, no per-user sort."""
    ev = _t(spark, sf_dir, "events")
    return ts.event_funnel(ev, "ts", "user_id", "event_type",
                           ["view", "click", "purchase"])


@register("q110_retention_cohorts", """
WITH a AS (SELECT DISTINCT user_id,
                  CAST(floor(epoch(ts) / 604800.0) AS BIGINT) AS b
           FROM events),
f AS (SELECT user_id, min(b) AS cohort FROM a GROUP BY 1),
c AS (SELECT f.cohort, CAST(a.b - f.cohort AS INT) AS week_offset,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM a JOIN f USING (user_id) GROUP BY 1, 2),
b0 AS (SELECT cohort, n_active AS base FROM c WHERE week_offset = 0)
SELECT c.cohort, c.week_offset, c.n_active,
       round(CAST(c.n_active AS DOUBLE) / b0.base, 6) AS retention
FROM c JOIN b0 USING (cohort)
""", priority=PRI_TAIL)
def q110_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix
    (operators/timeseries.retention_cohorts): users cohorted by the
    fixed-width epoch bucket of first activity; each (cohort, offset)
    cell = cohort users active that many weeks later, divided by cohort
    size. Epoch arithmetic instead of calendar truncation keeps the
    bucketing engine-portable (no week-start/timezone convention); one
    distinct over (user, bucket) is the only corpus-sized shuffle, and
    the cohort-size divisor arrives via a broadcast join of the
    offset-0 slice, not a second scan."""
    ev = _t(spark, sf_dir, "events")
    return ts.retention_cohorts(ev, "ts", "user_id")


@register("q111_zipf_fit", r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
cnt AS (SELECT w AS term, count(*) AS c
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term ASC LIMIT 1000),
p AS (SELECT
        round(ln(CAST(row_number() OVER (ORDER BY c DESC, term ASC)
                      AS DOUBLE)), 6) AS x,
        round(ln(CAST(c AS DOUBLE)), 6) AS y
      FROM top),
m AS (SELECT COUNT(*) AS n,
        CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      FROM p)
SELECT n,
       round(CASE WHEN (n * sxx - sx * sx) <> 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
         AS slope,
       round(CASE WHEN (n * sxx - sx * sx) <> 0
                  THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                        * sx) / n END, 6) AS intercept,
       round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             END, 6) AS r
FROM m
""", priority=PRI_TAIL)
def q111_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum
    (operators/text.zipf_fit): OLS of ln(count) on ln(rank) over the
    top-1000 terms — slope ≈ −1 is the natural-language signature;
    template spam and synthetic text bend it. TakeOrdered truncates to
    the bounded top-k BEFORE the rank window (ranking the full
    vocabulary would serialize through one task at scale); the fit
    reuses the exact-decimal moment machinery (q68), so the
    coefficients hash-match the oracle's identical formula."""
    return tx.zipf_fit(_t(spark, sf_dir, "documents"))


@register("q112_interpolation_join", """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
bb AS (SELECT event_id, vb, tb FROM (
         SELECT l.event_id, r.value AS vb, r.ts AS tb,
                row_number() OVER (PARTITION BY l.event_id
                                   ORDER BY r.ts DESC, r.value DESC) AS rn
         FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts)
       WHERE rn = 1),
aa AS (SELECT event_id, va, ta FROM (
         SELECT l.event_id, r.value AS va, r.ts AS ta,
                row_number() OVER (PARTITION BY l.event_id
                                   ORDER BY r.ts ASC, r.value ASC) AS rn
         FROM l JOIN r ON l.user_id = r.user_id AND r.ts > l.ts)
       WHERE rn = 1)
SELECT l.event_id, l.user_id,
       round(CASE
         WHEN bb.event_id IS NULL AND aa.event_id IS NULL THEN NULL
         WHEN bb.event_id IS NULL THEN va
         WHEN aa.event_id IS NULL THEN vb
         WHEN epoch(ta) = epoch(tb) THEN vb
         ELSE vb + (va - vb) * (epoch(l.ts) - epoch(tb))
                   / (epoch(ta) - epoch(tb))
       END, 6) AS interp_value
FROM l LEFT JOIN bb USING (event_id) LEFT JOIN aa USING (event_id)
""", priority=PRI_TAIL)
def q112_interpolation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-at-event interpolation join
    (operators/timeseries.interpolation_join): each click event samples
    its user's 'view' value series LINEARLY INTERPOLATED at the click
    time — the continuous version of q37's step-wise as-of join, i.e.
    "what was the sensor reading when this event fired". Exact-ts right
    rows win outright; timestamps outside the right span clamp to the
    nearest endpoint; keyless rows yield NULL. One |L|+|R| union +
    window pass per key (NO inequality join — the oracle's correlated
    form is the |L|·|R| shape this operator exists to avoid)."""
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    views = (ev.where(F.col("event_type") == "view")
             .select("user_id", "ts", "value"))
    out = ts.interpolation_join(clicks, views, ["user_id"], "ts", "value")
    return out.select("event_id", "user_id", "interp_value")


@register("q113_cms_heavy_hitters", r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term ASC LIMIT 20),
js AS (SELECT unnest([0, 1, 2]) AS j),
cells AS (
  SELECT js.j,
         CAST(('0x' || substr(md5('cms' || js.j || ':' || toks.term), 1, 15))
              AS BIGINT) % 1024 AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM toks CROSS JOIN js GROUP BY 1, 2),
est AS (
  SELECT top.term, min(cells.n) AS est
  FROM top CROSS JOIN js
  JOIN cells ON cells.j = js.j
            AND cells.b = CAST(('0x' || substr(md5('cms' || js.j || ':'
                                  || top.term), 1, 15)) AS BIGINT) % 1024
  GROUP BY 1)
SELECT top.term, CAST(top.c AS BIGINT) AS exact_count,
       CAST(est.est AS BIGINT) AS cms_estimate,
       est.est >= top.c AS no_underestimate
FROM top JOIN est USING (term)
""", priority=PRI_TAIL)
def q113_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus' top-20 terms
    (operators/stats.cms_build/cms_estimate): the mergeable
    heavy-hitter sketch for 100 TB streams, where exact per-key counts
    are a vocabulary-sized shuffle but the sketch is a fixed 3×1024
    cell frame built in ONE map-side-combined pass. The md5-salted
    bucket hashes are the shared engine-portable primitive, so the
    oracle replays the ENTIRE sketch and the estimates hash-match —
    stronger than a contract boolean, though the CMS one-sided
    guarantee (never underestimates) is ALSO pinned as a column. The
    collision-mass upper bound is asserted in pytest."""
    from powerdatapipeline_spark.operators import stats as st
    # persisted: the tokenize+explode pipeline feeds BOTH the sketch
    # build and the exact counts — unpersisted, the most expensive part
    # of the query runs twice (the q29/q77 shared-intermediate pattern)
    toks = (tx._spread(_t(spark, sf_dir, "documents"))
            .select(F.explode(tx.tokens("text")).alias("term"))
            .persist())
    sketch = st.cms_build(toks, "term")
    exact = toks.groupBy("term").agg(F.count("*").alias("c"))
    top = exact.orderBy(F.desc("c"), F.asc("term")).limit(20)
    est = st.cms_estimate(sketch, top, "term")
    try:
        return (top.join(est, "term")
                .select("term",
                        F.col("c").cast("bigint").alias("exact_count"),
                        "cms_estimate",
                        (F.col("cms_estimate") >= F.col("c"))
                        .alias("no_underestimate"))
                .localCheckpoint(eager=True))
    finally:
        toks.unpersist()


@register("q114_int8_quantized_topk", """
WITH ds AS (SELECT unnest(generate_series(1, 64)) AS i),
mm AS (SELECT ds.i, min(CAST(embedding[ds.i] AS DOUBLE)) AS lo,
              max(CAST(embedding[ds.i] AS DOUBLE)) AS hi
       FROM embeddings CROSS JOIN ds GROUP BY 1),
cal AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
        FROM mm),
dq AS (
  SELECT e.vec_id,
         list_transform(generate_series(1, 64), i ->
           cal.lo[i] + (CASE WHEN cal.hi[i] > cal.lo[i]
             THEN least(greatest(floor(
               (CAST(e.embedding[i] AS DOUBLE) - cal.lo[i])
               / ((cal.hi[i] - cal.lo[i]) / 255.0) + 0.5), 0), 255)
             ELSE 0 END) * (cal.hi[i] - cal.lo[i]) / 255.0) AS v
  FROM embeddings e CROSS JOIN cal),
q AS (SELECT vec_id AS query_id, v AS qv FROM dq WHERE vec_id < 5),
s AS (
  SELECT q.query_id, dq.vec_id,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, 64),
                            i -> dq.v[i] * q.qv[i])),
             (acc, x) -> acc + x), 6) AS qscore
  FROM dq CROSS JOIN q)
SELECT * FROM (
  SELECT query_id, vec_id, qscore,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY qscore DESC, vec_id ASC) AS INT) AS rank
  FROM s) WHERE rank <= 10
""", priority=PRI_TAIL)
def q114_int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized similarity top-k
    (operators/similarity.int8_topk): the 4× embedding-compression path
    — per-dim min/max calibration (one posexplode pass, a dim-sized
    collect), explicit-floor quantization to 0..255 codes, dot product
    over the DEQUANTIZED vectors in a defined left fold. The oracle
    replays calibration, quantization, and scoring exactly, so every
    ranked score hash-matches; recall vs the exact brute force (q31) is
    pinned in pytest. Queries broadcast; the corpus never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.where(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    return sim.int8_topk(emb, qs, k=10)


@register("q115_hll_sketch_merge", """
SELECT CAST(count(DISTINCT CAST(floor(epoch(ts) / 86400.0) AS BIGINT))
            AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_contract
FROM events
""", priority=PRI_TAIL)
def q115_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch COLUMNS (Spark's Datasketches
    ``hll_sketch_agg`` / ``hll_union_agg``): distinct users per day as
    stored sketch blobs, union-merged into the all-time estimate — the
    incremental-distinct pattern at 100 TB (per-partition sketches
    persist as bytes; tomorrow's count is a union, not a rescan),
    vs q48's one-shot approx_count_distinct. Contract: the merged
    estimate within 3σ of exact (σ ≈ 1.04/√2¹² for the default
    lgConfigK=12); the oracle pins the exact count and the contract
    boolean — an estimator drifting out of bounds flips the Spark-side
    boolean and fails the hash compare."""
    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400.0).cast("bigint")
    daily = (ev.groupBy(day.alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sk")))
    merged = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    exact = ev.agg(F.countDistinct("user_id").cast("bigint")
                   .alias("exact_distinct"))
    # named rel_err, NOT rel: the bare name would shadow the module-level
    # `rel` alias for operators.relational (ADVICE r7)
    rel_err = 3 * 1.04 / (2 ** 12) ** 0.5
    return (merged.crossJoin(F.broadcast(exact))
            .select("n_days", "exact_distinct",
                    (F.abs(F.col("est") - F.col("exact_distinct"))
                     <= F.lit(rel_err) * F.col("exact_distinct"))
                    .alias("within_contract")))


@register("q116_energy_integral", """
WITH s AS (SELECT user_id, epoch(ts) AS t, value,
                  lead(epoch(ts)) OVER w AS t1, lead(value) OVER w AS v1
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)),
seg AS (SELECT user_id, t, value,
               round(CASE WHEN t1 IS NOT NULL
                          THEN (value + v1) / 2.0 * (t1 - t) END, 6) AS sg
        FROM s),
a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_readings,
             CAST(sum(CAST(sg AS DECIMAL(38,10))) AS DOUBLE) AS intg,
             max(t) - min(t) AS span
      FROM seg GROUP BY 1)
SELECT user_id, n_readings,
       round(COALESCE(intg, 0.0), 6) AS integral,
       round(span, 6) AS span_seconds,
       round(CASE WHEN span > 0 THEN COALESCE(intg, 0.0) / span END, 6)
         AS time_weighted_avg
FROM a
""", priority=PRI_TAIL)
def q116_energy_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time integral + time-weighted average per user series
    (operators/timeseries.energy_integral) — THE power-domain primitive:
    kW readings on an irregular cadence integrate to kWh, and
    settlement uses the TWAP (integral/span), not the row-weighted mean
    a plain AVG gives. One lead() window pass per series, exact-decimal
    segment sums (partition-order-free), single-reading series degrade
    to 0 integral / NULL average instead of dividing by zero."""
    ev = _t(spark, sf_dir, "events")
    return ts.energy_integral(ev, "ts", "value", ["user_id"])


@register("q117_peak_analysis", """
WITH b AS (SELECT event_type,
                  CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS bucket,
                  epoch(ts) AS t, value
           FROM events),
a AS (SELECT event_type, bucket,
             CAST(count(*) AS BIGINT) AS n_readings,
             max(value) AS pk,
             CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
               / count(*) AS mn
      FROM b GROUP BY 1, 2),
p AS (SELECT b.event_type, b.bucket, min(b.t) AS peak_ts
      FROM b JOIN a ON b.event_type = a.event_type
                   AND b.bucket = a.bucket AND b.value = a.pk
      GROUP BY 1, 2)
SELECT a.event_type, a.bucket, a.n_readings,
       round(a.pk, 6) AS peak,
       round(a.mn, 6) AS mean_load,
       round(CASE WHEN a.mn <> 0 THEN a.pk / a.mn END, 6) AS peak_to_avg,
       p.peak_ts AS peak_ts_seconds
FROM a JOIN p USING (event_type, bucket)
""", priority=PRI_TAIL)
def q117_peak_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak-demand statistics per series
    (operators/timeseries.peak_analysis): peak load, decimal-exact mean
    load, peak-to-average ratio (the demand-charge driver), and the
    timestamp AT the peak — picked inside the SAME aggregation via
    min-of-(−value, ts) struct (earliest on ties), where the oracle
    needs a max-join second pass. One map-side-combined aggregation
    keyed by (series, epoch day)."""
    ev = _t(spark, sf_dir, "events")
    return ts.peak_analysis(ev, "ts", "value", ["event_type"])


def _ldc_fracs(points: int = 10) -> list[float]:
    return [round(i / points, 6) for i in range(points + 1)]


@register("q118_load_duration_curve", f"""
WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_readings,
                  quantile_cont(value, [{', '.join(
                      repr(1.0 - d) + ('e0' if 'e' not in repr(1.0 - d)
                                       else '')
                      for d in _ldc_fracs())}]) AS qs
           FROM events GROUP BY 1),
f(i, d) AS (VALUES {', '.join(
    f"({i + 1}, {repr(d)}e0)" for i, d in enumerate(_ldc_fracs()))})
SELECT a.event_type, a.n_readings,
       f.d AS duration_frac, round(a.qs[f.i], 6) AS load
FROM a CROSS JOIN f
""", priority=PRI_TAIL)
def q118_load_duration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-duration curve per series
    (operators/timeseries.load_duration_curve) — the sorted-load-vs-time
    chart capacity factors are read from. Exceedance duality turns the
    whole curve into ONE exact-percentile aggregate (the value exceeded
    for duration fraction d is the (1−d) quantile; Spark ``percentile``
    ≡ DuckDB ``quantile_cont`` bit-identically) exploded to
    (duration_frac, load) points — never a global sort of the
    readings."""
    ev = _t(spark, sf_dir, "events")
    return ts.load_duration_curve(ev, "value", ["event_type"], points=10)


@register("q119_gap_report", """
WITH s AS (SELECT event_type, epoch(ts) AS t,
                  lead(epoch(ts)) OVER (PARTITION BY event_type
                                        ORDER BY ts) - epoch(ts) AS iv
           FROM events),
a AS (SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_readings,
             CAST(sum(CASE WHEN iv > 60.000001e0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_gaps,
             CAST(sum(CASE WHEN iv > 60.000001e0
                           THEN round(iv / 60.0e0, 0) - 1 ELSE 0 END)
                  AS BIGINT) AS missing_ticks,
             max(iv) AS maxiv, max(t) - min(t) AS span
      FROM s GROUP BY 1)
SELECT event_type, n_readings, n_gaps, missing_ticks,
       round(maxiv, 6) AS max_gap_seconds,
       round(CASE WHEN span > 0
                  THEN n_readings / (round(span / 60.0e0, 0) + 1)
                  ELSE 1.0 END, 6) AS completeness
FROM a
""", priority=PRI_TAIL)
def q119_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series cadence-gap report (operators/timeseries.gap_report) —
    the observability twin of q16's interval AUDIT (which asserts):
    gaps beyond the declared 60 s cadence, total missing ticks, worst
    gap, and the completeness ratio — the meter-health table read
    before trusting a feed. One lead() pass per series + a
    map-side-combined aggregate; every per-series statistic is
    hash-verified."""
    ev = _t(spark, sf_dir, "events")
    return ts.gap_report(ev, "ts", ["event_type"], expected_seconds=60)


@register("q120_cusum_changepoints", """
WITH st AS (SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                     / count(*) AS mu,
                   CAST(sum(CAST(value * value AS DECIMAL(38,10)))
                        AS DOUBLE) / count(*) AS ex2
            FROM events GROUP BY 1),
j AS (SELECT e.event_id, e.event_type, e.ts, e.value, st.mu,
             sqrt(greatest(st.ex2 - st.mu * st.mu, 0e0)) AS sigma
      FROM events e JOIN st USING (event_type)),
c AS (SELECT event_id, event_type,
             CAST(sum(CAST(round((value - mu) / sigma, 6)
                           AS DECIMAL(38,10))) OVER w AS DOUBLE) AS cs,
             row_number() OVER w2 AS i
      FROM j WHERE sigma > 0
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING),
             w2 AS (PARTITION BY event_type ORDER BY ts, event_id))
SELECT event_id, event_type, round(cs, 6) AS cusum,
       abs(round(cs, 6)) > 5.0e0 * sqrt(CAST(i AS DOUBLE)) AS is_shift
FROM c
""", priority=PRI_TAIL)
def q120_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per series
    (operators/timeseries.cusum_changepoints): the running sum of
    standardized deviations drifts from 0 when a series re-baselines —
    the telemetry changepoint flag, thresholded at 5σ on the
    random-walk envelope (|S_i| > 5·√i). Decimal-exact per-series
    moments broadcast back + ONE ordered window cumsum of 6-rounded
    terms; every per-event cusum value and flag is hash-verified (the
    synthetic fixture is stationary, so flags should be rare — the
    detector's false-positive behavior is itself pinned)."""
    ev = _t(spark, sf_dir, "events")
    out = ts.cusum_changepoints(ev, "ts", "value", ["event_type"],
                                threshold_sigmas=5.0,
                                order_cols=["event_id"])
    return out.select("event_id", "event_type", "cusum", "is_shift")


@register("q121_psi_drift", """
WITH med AS (SELECT quantile_cont(epoch(ts), 0.5) AS m FROM events),
r AS (SELECT event_type, value FROM events, med WHERE epoch(ts) <= med.m),
c AS (SELECT event_type, value FROM events, med WHERE epoch(ts) > med.m),
rb AS (SELECT event_type,
              least(floor((value - 0.0e0) / 20.0e0), 9) AS bin,
              count(*) AS cr
       FROM r WHERE value >= 0.0e0 AND value <= 200.0e0 GROUP BY 1, 2),
cb AS (SELECT event_type,
              least(floor((value - 0.0e0) / 20.0e0), 9) AS bin,
              count(*) AS cc
       FROM c WHERE value >= 0.0e0 AND value <= 200.0e0 GROUP BY 1, 2),
b AS (SELECT COALESCE(rb.event_type, cb.event_type) AS event_type,
             COALESCE(rb.bin, cb.bin) AS bin,
             COALESCE(cr, 0) AS cr, COALESCE(cc, 0) AS cc
      FROM rb FULL OUTER JOIN cb
        ON rb.event_type = cb.event_type AND rb.bin = cb.bin),
t AS (SELECT event_type, cr, cc,
             sum(cr) OVER (PARTITION BY event_type) AS nr,
             sum(cc) OVER (PARTITION BY event_type) AS nc
      FROM b),
terms AS (SELECT event_type, nr, nc,
                 CAST(round((greatest(CASE WHEN nc > 0
                                 THEN CAST(cc AS DOUBLE) / nc
                                 ELSE 0e0 END, 1e-06)
                             - greatest(CASE WHEN nr > 0
                                 THEN CAST(cr AS DOUBLE) / nr
                                 ELSE 0e0 END, 1e-06))
                     * (round(ln(greatest(CASE WHEN nc > 0
                                 THEN CAST(cc AS DOUBLE) / nc
                                 ELSE 0e0 END, 1e-06)), 6)
                        - round(ln(greatest(CASE WHEN nr > 0
                                 THEN CAST(cr AS DOUBLE) / nr
                                 ELSE 0e0 END, 1e-06)), 6)), 6)
                      AS DECIMAL(28,12)) AS term
          FROM t)
SELECT event_type, CAST(max(nr) AS BIGINT) AS n_ref,
       CAST(max(nc) AS BIGINT) AS n_cur,
       round(CAST(sum(term) AS DOUBLE), 6) AS psi
FROM terms GROUP BY 1
""", priority=PRI_TAIL)
def q121_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report
    (operators/stats.psi_drift): the standard training-data / feature
    drift monitor — PSI between the first and second time halves of
    each series' value distribution over shared fixed bins (< 0.1
    stable, > 0.25 shifted; the stationary fixture should sit near 0,
    which the hash compare pins exactly). Each side is one binned
    map-side-combined count; the two bins-per-key frames full-outer
    join at bins cardinality; 6-rounded ln terms fold in exact
    decimal."""
    from powerdatapipeline_spark.operators import stats as st
    ev = _t(spark, sf_dir, "events")
    med = ev.agg(F.percentile(F.col("ts").cast("double"), 0.5)
                 .alias("__m"))
    tagged = ev.crossJoin(F.broadcast(med))
    ref = tagged.where(F.col("ts").cast("double") <= F.col("__m"))
    cur = tagged.where(F.col("ts").cast("double") > F.col("__m"))
    return st.psi_drift(ref, cur, "value", ["event_type"],
                        lo=0.0, hi=200.0, nbins=10)


@register("q122_weighted_median", """
WITH d AS (SELECT event_type, value,
                  lead(epoch(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                  - epoch(ts) AS dt
           FROM events),
b AS (SELECT event_type, value, dt FROM d
      WHERE dt IS NOT NULL AND dt > 0),
s AS (SELECT event_type, value,
             CAST(sum(CAST(dt AS DECIMAL(38,10))) OVER
                  (PARTITION BY event_type ORDER BY value
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
             CAST(sum(CAST(dt AS DECIMAL(38,10))) OVER
                  (PARTITION BY event_type) AS DOUBLE) AS tot
      FROM b)
SELECT event_type, min(value) AS weighted_median
FROM s WHERE cum >= 0.5e0 * tot GROUP BY 1
""", priority=PRI_TAIL)
def q122_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted median load per series
    (operators/stats.weighted_percentile): each reading weighted by its
    time-in-force (the lead interval within its meter series) — the
    settlement median; a row-weighted median over-counts bursts of fast
    samples. Window cumsum of decimal-exact weights over the value
    order (prefix sums at value boundaries are tie-order-independent),
    crossing at half the total weight."""
    from powerdatapipeline_spark.operators import stats as st
    ev = _t(spark, sf_dir, "events")
    # event_id tie-break per the repo's cross-engine window rule: with
    # ts-only order, WHICH of two same-instant rows carries the
    # dt-to-next weight would be engine-dependent
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.col("ts").cast("double")
    dt = F.lead(t).over(w) - t
    base = (ev.withColumn("__dt", dt)
            .where(F.col("__dt").isNotNull() & (F.col("__dt") > 0)))
    return (st.weighted_percentile(base, "value", "__dt",
                                   ["event_type"], p=0.5)
            .select("event_type", F.col("wpct").alias("weighted_median")))


@register("q123_k_anonymity", """
WITH g AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unsafe_groups,
       CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(min(n) AS BIGINT) AS min_group_size,
       sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) = 0 AS k_anonymous
FROM g
""", priority=PRI_TAIL)
def q123_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit over the corpus quasi-identifiers
    (operators/stats.k_anonymity_audit, k=10 on (source, lang)): every
    document must share its quasi-identifier combination with ≥ 9
    others or it is re-identifiable by joining on those columns — the
    privacy QA gate next to q73's PII redaction. One map-side-combined
    group count reduced to a single audit row; the summary (not the
    row-level leak list, itself sensitive) is the release signal."""
    from powerdatapipeline_spark.operators import stats as st
    docs = _t(spark, sf_dir, "documents")
    return st.k_anonymity_audit(docs, ["source", "lang"], k=10)


@register("q126_exact_span_dedup", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
wfp AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(t) - 7, 0)),
           a -> {'a': a,
                 'fp': md5(array_to_string(list_slice(t, a, a + 7), ' '))}))
           AS w
  FROM toks),
flat AS (SELECT doc_id, w.a AS a, w.fp AS fp FROM wfp),
rep AS (
  SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM flat)
  GROUP BY fp HAVING count(*) >= 2),
flag AS (SELECT f.doc_id, f.a FROM flat f JOIN rep USING (fp)),
brks AS (
  SELECT doc_id, a,
         CASE WHEN a > coalesce(max(a + 7) OVER (
                PARTITION BY doc_id ORDER BY a
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              THEN 1 ELSE 0 END AS brk
  FROM flag),
isl AS (
  SELECT doc_id, a,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY a
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM brks),
ivs AS (
  SELECT doc_id, min(a) AS lo, max(a) + 7 AS hi
  FROM isl GROUP BY doc_id, g),
per_doc AS (
  SELECT doc_id, list({'lo': lo, 'hi': hi}) AS ivs,
         CAST(sum(hi - lo + 1) AS INT) AS n_removed
  FROM ivs GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS INT) AS n_tokens,
       coalesce(p.n_removed, 0) AS n_removed_tokens,
       coalesce(array_to_string(
         list_filter(
           list_transform(generate_series(1, len(t.t)),
             pos -> CASE WHEN len(list_filter(
                             coalesce(p.ivs,
                                      CAST([] AS STRUCT(lo BIGINT,
                                                        hi BIGINT)[])),
                             iv -> pos >= iv.lo AND pos <= iv.hi)) = 0
                         THEN t.t[pos] END),
           x -> x IS NOT NULL), ' '), '') AS clean_text
FROM toks t LEFT JOIN per_doc p USING (doc_id)
""", priority=PRI_TAIL)
def q126_exact_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring dedup at token granularity (operators/text.
    remove_repeated_substrings_exact) — the suffix-array-equivalent
    semantics of Lee et al. 2021 that q85 approximates with aligned
    windows (VERDICT r7 "What's missing" #2, now closed): stride-1
    8-token windows, cross-doc repeats at ANY offset flagged, covered
    intervals merged per doc (gaps-and-islands), clean text rebuilt
    from uncovered tokens. The oracle replays every stage — window
    hashing, distinct-doc frequency, interval merge, positional
    filter — so removal counts AND reconstructed text hash-verify.
    The stride-1 window stream costs 8× q85's shuffle rows; that
    premium buys zero alignment blind spot (the q85 miss class pinned
    by test_span_dedup_documented_miss_class)."""
    return tx.remove_repeated_substrings_exact(
        _t(spark, sf_dir, "documents"), min_tokens=8, min_docs=2)


@register("q127_semdedup", f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 16),
nrm AS (
  SELECT a.vec_id, {_SQL_NORM.format(t='a')} AS n FROM embeddings a),
scored AS (
  SELECT a.vec_id,
         b.centroid_id,
         round({_SQL_DOT} / (na.n * nc.n), 6) AS csim
  FROM embeddings a JOIN cents b ON TRUE
  JOIN nrm na ON na.vec_id = a.vec_id
  JOIN nrm nc ON nc.vec_id = b.centroid_id),
best AS (
  SELECT vec_id, centroid_id AS cell_id, csim AS cent_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, centroid_id) AS rn
  FROM scored),
b1 AS (SELECT vec_id, cell_id, cent_sim FROM best WHERE rn = 1),
dropped AS (
  SELECT DISTINCT x.vec_id
  FROM b1 x
  JOIN b1 y ON x.cell_id = y.cell_id AND x.vec_id <> y.vec_id
  JOIN embeddings a ON a.vec_id = x.vec_id
  JOIN embeddings b ON b.vec_id = y.vec_id
  JOIN nrm na ON na.vec_id = x.vec_id
  JOIN nrm nb ON nb.vec_id = y.vec_id
  WHERE round({_SQL_DOT} / (na.n * nb.n), 6) >= 0.3
    AND (y.cent_sim < x.cent_sim
         OR (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id)))
SELECT b1.vec_id, b1.cell_id, b1.cent_sim,
       d.vec_id IS NULL AS is_kept
FROM b1 LEFT JOIN dropped d ON d.vec_id = b1.vec_id
""", priority=PRI_TAIL)
def q127_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — SEMANTIC deduplication (operators/dedup.semdedup; Abbas
    et al. 2023): k-means-style cell assignment (deterministic seed
    centroids vec_id < 16, the q47 convention) prunes the pair space,
    within-cell cosine ≥ τ defines semantic duplicates, and each dup
    pair keeps its LEAST-prototypical member (lowest centroid
    similarity — the paper's keep-farthest rule), id tie-break. The
    oracle replays assignment, pair scoring, and the keep rule exactly
    (6-rounded cosines, decimal-exact dots, norms computed once per
    vector on both engines), so every keep/drop decision
    hash-verifies. τ = 0.3 is the FIXTURE's demo threshold (random
    embeddings, max pairwise cosine ≈ 0.5 — the q60 note); production
    embeddings use the paper's 0.9-class τ unchanged. Completes the
    dedup ladder: exact (q26) → surface near-dup (q29/q33/q60/q91) →
    substring (q85/q126) → SEMANTIC (this)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = (emb.where(F.col("vec_id") < 16)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("cvec")))
    return dd.semdedup(emb, cents, id_col="vec_id",
                       vec_col="embedding", tau=0.3)


@register("q124_stream_static_enrich", """
SELECT e.event_id, e.user_id, e.event_type,
       c.c_name AS customer_name,
       c.c_nationkey AS nationkey,
       c.c_name IS NOT NULL AS registered
FROM events e
LEFT JOIN (SELECT c_custkey, c_name, c_nationkey FROM customer
           WHERE c_acctbal >= 500.0) c
  ON c.c_custkey = e.user_id
""", priority=PRI_TAIL)
def q124_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING stream-static dimension enrichment
    (streaming/pipeline.stream_static_enrich — the round-7 operator that
    was pytest-only, now oracle-paired per VERDICT r7 #6): the live
    events stream LEFT-joins a static customer registry (only accounts
    with balance ≥ 500, so a real fraction of telemetry is UNREGISTERED
    and must be kept + flagged, not dropped). No watermark and no state
    store — each micro-batch broadcast-joins the dim directly, the
    third streaming join shape next to q45's windowed agg and q65's
    stream-stream range join. The oracle replays the identical batch
    LEFT join, so every enriched row (and every kept-unmatched row)
    hash-verifies. append mode: enrichment is stateless, rows emit as
    they arrive."""
    return _run_stream_to_memory(spark, q124_stream_frame(spark, sf_dir),
                                 "q124", "append",
                                 source_paths=(f"{sf_dir}/events.parquet",))


def q124_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT pre-sink streaming frame q124 executes (shared with
    tools/dump_plans — see q45_stream_frame)."""
    from powerdatapipeline_spark.streaming.pipeline import \
        stream_static_enrich

    stream = events_stream_source(spark, sf_dir).select(
        "event_id", "user_id", "event_type")
    dim = (_t(spark, sf_dir, "customer")
           .where(F.col("c_acctbal") >= 500.0)
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_name").alias("customer_name"),
                   F.col("c_nationkey").alias("nationkey")))
    enriched = stream_static_enrich(stream, dim, "user_id", how="left")
    return enriched.select(
        "event_id", "user_id", "event_type", "customer_name", "nationkey",
        F.col("customer_name").isNotNull().alias("registered"))


@register("q128_split_leakage", r"""
WITH sp AS (
  SELECT doc_id, text,
         CASE WHEN bk < 8000 THEN 'train'
              WHEN bk < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, text,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10000 AS bk
        FROM documents)),
toks AS (
  SELECT doc_id, split,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM sp),
sh AS (
  SELECT doc_id, split,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 7, 0)),
           i -> md5(array_to_string(list_slice(t, i, i + 7), ' '))))) AS gh
  FROM toks)
SELECT s.doc_id, count(DISTINCT s.gh) AS n_colliding_ngrams,
       count(DISTINCT b.doc_id) AS n_bench_docs
FROM sh s
JOIN (SELECT DISTINCT gh, doc_id FROM sh WHERE split = 'test') b
  ON s.gh = b.gh
WHERE s.split = 'train'
GROUP BY s.doc_id
""", priority=PRI_TAIL)
def q128_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test SPLIT-LEAKAGE audit — q75's decontamination rule turned
    on the pipeline's own split (operators/relational.hash_split +
    operators/text.contamination_report composed): after the
    deterministic md5 split (q62's exact rule), report every TRAIN
    document sharing a word 8-gram with the TEST split — near-dup
    clusters straddling a random split silently leak eval content into
    training, the classic self-inflicted contamination a dedup-then-
    split pipeline exists to prevent. The (smaller) test side broadcasts
    as the bench set, so the train side never shuffles — identical
    scale shape to q75. Both the split assignment and the n-gram
    pipeline replay exactly in the oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sp = rel.hash_split(docs, "doc_id")
    train = sp.where(F.col("split") == "train")
    test = sp.where(F.col("split") == "test")
    return tx.contamination_report(train, test, n=8)


@register("q129_scd2_merge", """
WITH cur AS (
  SELECT c_custkey AS user_id, CAST(c_acctbal AS DOUBLE) AS bal,
         0.0 AS valid_from, 0 AS src
  FROM customer),
ups AS (
  SELECT user_id, CAST(max(value) AS DOUBLE) AS bal,
         epoch(ts) AS valid_from, 1 AS src
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
allv AS (SELECT * FROM cur UNION ALL SELECT * FROM ups),
flagged AS (
  SELECT user_id, bal, valid_from, src,
         row_number() OVER w AS rn,
         lag(bal) OVER w AS prev_bal
  FROM allv
  WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, src)),
surviving AS (
  SELECT user_id, bal, valid_from, src
  FROM flagged
  WHERE rn = 1 OR bal IS DISTINCT FROM prev_bal),
rebuilt AS (
  SELECT user_id, bal, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, src) AS valid_to
  FROM surviving)
SELECT user_id, bal, valid_from, valid_to, valid_to IS NULL AS is_current
FROM rebuilt
""", priority=PRI_TAIL)
def q129_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 merge (operators/relational.
    scd2_merge — the dimension-MAINTENANCE half of the star-join story;
    the reference has no dimension concept): the customer registry is
    the open dimension (balance effective from epoch 0) and purchase
    events are effective-dated balance updates, pre-aggregated to one
    row per (user, ts) so version chains are deterministic. The merge
    run-length-compresses no-op updates, chains valid_from/valid_to per
    key (update at an identical timestamp supersedes via the source
    tie-break), and leaves exactly one open current version per key —
    every version row, boundary, and currency flag hash-verifies
    against the oracle replaying the same two windows. One shuffle on
    the key; at scale the CLOSED history (the data majority) bypasses
    the merge entirely via the early is_current split."""
    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_acctbal").cast("double").alias("bal"),
        F.lit(0.0).alias("valid_from"),
        F.lit(None).cast("double").alias("valid_to"),
        F.lit(True).alias("is_current"))
    ev = load_events(spark, sf_dir)
    ups = (ev.where(F.col("event_type") == "purchase")
           .groupBy("user_id", "ts")
           .agg(F.max("value").cast("double").alias("bal"))
           .select("user_id", "bal",
                   F.col("ts").cast("double").alias("eff")))
    return rel.scd2_merge(dim, ups, key="user_id", attrs=["bal"],
                          eff_col="eff")


@register("q130_gopher_quality", r"""
WITH b AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         round(CASE WHEN len(t) > 0 THEN
           CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
             / len(t) END, 6) AS mean_word_len,
         round(CASE WHEN len(t) > 0 THEN
           CAST(length(text) - length(replace(text, '#', ''))
                + length(text) - length(replace(text, '…', '')) AS DOUBLE)
             / len(t) END, 6) AS symbol_ratio,
         round(CASE WHEN len(t) > 0 THEN
           CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                AS DOUBLE) / len(t) END, 6) AS alpha_frac,
         CAST(len(list_filter(t, x -> list_contains(
           ['the','be','to','of','and','that','have','with'], x)))
           AS BIGINT) AS n_stopwords
  FROM b)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       n_stopwords,
       n_words BETWEEN 50 AND 100000 AS ok_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_len,
       symbol_ratio <= 0.1 AS ok_symbols,
       alpha_frac >= 0.8 AS ok_alpha,
       n_stopwords >= 2 AS ok_stopwords,
       (n_words BETWEEN 50 AND 100000)
         AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
         AND n_stopwords >= 2 AS passes
FROM m
""", priority=PRI_TAIL)
def q130_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (operators/text.gopher_quality_flags;
    Rae et al. 2021 App. A1.1) — the canonical hard-threshold doc filter
    beside the continuous score (q28) and CCNet buckets (q87): word
    count 50–100k, mean word length 3–10, #/… symbol ratio ≤ 0.1,
    alphabetic-word fraction ≥ 0.8, ≥ 2 stopwords. Every measurement,
    every per-rule boolean, and the conjunction hash-verify; single
    pass, zero shuffle, one materialized token array. On the synthetic
    fixture the symbol/alpha rules are vacuously green (no symbols,
    all-alpha vocab) — the word-count, mean-length, and stopword rules
    do the discriminating."""
    return tx.gopher_quality_flags(_t(spark, sf_dir, "documents"))


@register("q131_dsir_resample", r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
b AS (SELECT t.doc_id,
             CAST(('0x' || substr(md5('dsir' || t.term), 1, 8)) AS BIGINT)
               % 1024 AS bucket,
             t.tf, d.lang = 'en' AS is_t
      FROM tf t JOIN documents d USING (doc_id)),
cb AS (SELECT bucket,
              sum(CASE WHEN is_t THEN tf ELSE 0 END) AS ct_t,
              sum(tf) AS ct_r
       FROM b GROUP BY 1),
tot AS (SELECT sum(ct_t) AS tt, sum(ct_r) AS tr FROM cb),
lr AS (SELECT bucket,
              round(ln((CAST(ct_t AS DOUBLE) + CAST(0.5 AS DOUBLE))
                       / (tt + CAST(512 AS DOUBLE))), 6)
              - round(ln((CAST(ct_r AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (tr + CAST(512 AS DOUBLE))), 6) AS lr
       FROM cb CROSS JOIN tot),
doc AS (SELECT b.doc_id, CAST(sum(b.tf) AS BIGINT) AS n_tokens,
               round(CAST(sum(CAST(b.tf * lr.lr AS DECIMAL(28,12)))
                          AS DOUBLE), 6) AS log_importance
        FROM b JOIN lr USING (bucket) GROUP BY 1),
rk AS (SELECT doc_id,
              row_number() OVER (ORDER BY log_importance DESC, doc_id)
                AS rn
       FROM doc)
SELECT d.doc_id, coalesce(doc.n_tokens, 0) AS n_tokens,
       coalesce(doc.log_importance, CAST(0 AS DOUBLE)) AS log_importance,
       coalesce(rk.rn <= 100, FALSE) AS selected
FROM documents d
LEFT JOIN doc USING (doc_id) LEFT JOIN rk USING (doc_id)
""", priority=PRI_TAIL)
def q131_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/text.dsir_importance; Xie
    et al. 2023, arXiv:2302.03169) — score every document by the
    log-likelihood ratio of λ-smoothed hashed-unigram models fit on the
    target slice (``lang = 'en'``) vs the whole corpus, then keep the
    top-100. Both model fits reduce to a FIXED 1024-row bucket table
    (md5-prefix hashing, broadcast back); per-doc scoring is one
    hash-partitioned decimal-folded aggregate; selection is
    TakeOrderedAndProject with a doc_id tie-break — no global sort, no
    driver collect. The reference has no data-selection analog; this is
    the north-star curation family (same shelf as q86 mixture planning
    and q87 quality buckets)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.dsir_importance(docs, F.col("lang") == "en")


#: q132's routing table — literal integer weights over the fixture
#: vocabulary, shared verbatim by the Spark query and the DuckDB oracle
_Q132_TOPICS = {
    "scan_io": {"scan": 2, "table": 1, "column": 1, "row": 1},
    "join_shuffle": {"join": 2, "hash": 1, "merge": 1, "key": 1},
    "aggregation": {"agg": 2, "group": 2, "window": 1, "sort": 1},
    "streaming": {"stream": 2, "batch": 1, "line": 1},
}

_Q132_KW_VALUES = ", ".join(
    f"('{topic}', '{term}', {w})"
    for topic, tw in sorted(_Q132_TOPICS.items())
    for term, w in sorted(tw.items()))


@register("q132_keyword_route", f"""
WITH kw(topic, term, w) AS (VALUES {_Q132_KW_VALUES}),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
sc AS (SELECT tf.doc_id, kw.topic,
              CAST(sum(tf.tf * kw.w) AS BIGINT) AS score,
              CAST(count(DISTINCT tf.term) AS BIGINT) AS n_terms_hit
       FROM tf JOIN kw USING (term) GROUP BY 1, 2),
best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, topic) AS rn
         FROM sc)
SELECT d.doc_id, coalesce(b.topic, 'none') AS topic,
       coalesce(b.score, 0) AS score,
       coalesce(b.n_terms_hit, 0) AS n_terms_hit
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  USING (doc_id)
""", priority=PRI_TAIL)
def q132_keyword_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-keyword domain router (operators/text.keyword_route) —
    the auditable topic classifier that mixture plans (q86) and token
    quotas (q104) key on when no model-based domain label exists. The
    keyword table broadcasts; scoring is one hash-partitioned (doc,
    topic) aggregate over the shared term index; argmax is a per-doc
    window with a topic-name tie-break. Integer weights × integer tf
    keep every score exact — no rounding discipline needed."""
    return tx.keyword_route(_t(spark, sf_dir, "documents"), _Q132_TOPICS)


@register("q133_ngram_novelty", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
g AS (SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + 7), ' ') AS gram
      FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
      WHERE len(t) >= 8),
dfq AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
pd AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_novel
       FROM g JOIN dfq USING (gram) GROUP BY 1)
SELECT d.doc_id, coalesce(pd.n_grams, 0) AS n_grams,
       coalesce(pd.n_novel, 0) AS n_novel,
       CASE WHEN coalesce(pd.n_grams, 0) > 0
            THEN round(CAST(pd.n_novel AS DOUBLE) / pd.n_grams, 6)
       END AS novelty_frac
FROM documents d LEFT JOIN pd USING (doc_id)
""", priority=PRI_TAIL)
def q133_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty (operators/text.ngram_novelty) — the
    fraction of a document's distinct word 8-grams occurring in no other
    document; the inverse of the contamination signal at the same gram
    granularity (q75/q80), flagging template/boilerplate text span dedup
    should catch. Document frequency shuffles on md5 fingerprints (fixed
    width), the rollup joins back co-partitioned on the same key, and
    short docs (< 8 words) surface as 0 grams with a NULL fraction."""
    return tx.ngram_novelty(_t(spark, sf_dir, "documents"))


@register("q134_incremental_rollup", r"""
SELECT date_trunc('day', ts) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE), 6)
         AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events
GROUP BY 1, 2
""", priority=PRI_TAIL)
def q134_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/relational.
    partial_rollup + merge_rollups): the event stream is split into three
    ingest shards (event_id % 3 — standing in for daily delta loads),
    each shard reduces to a mergeable partial (count / exact decimal sum
    / min / max per day × event_type), and the shards fold back together.
    The oracle is the DIRECT full aggregation — passing proves
    merge-of-partials is bit-identical to recompute, the invariant that
    lets a 100 TB nightly rollup touch only the new delta (one row per
    shard × key moves in the merge shuffle, never raw history). Non-
    decomposable measures use the sketch twins instead (HLL q115,
    CMS q113)."""
    ev = load_events(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", "ts"))
    keys = ["day", "event_type"]
    shards = [rel.partial_rollup(ev.filter(F.col("event_id") % 3 == i),
                                 keys) for i in range(3)]
    merged = rel.merge_rollups(shards, keys)
    return merged.select(
        "day", "event_type", "n_rows",
        F.round(F.col("sum_dec").cast("double"), 6).alias("sum_value"),
        "min_value", "max_value")


@register("q135_pagerank", r"""
WITH raw AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS MATERIALIZED (SELECT src, dst FROM raw
      UNION ALL SELECT dst AS src, src AS dst FROM raw),
deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM e),
n AS MATERIALIZED (SELECT count(*) AS nn FROM nodes),
r0 AS MATERIALIZED (SELECT node, round(CAST(1 AS DOUBLE) / n.nn, 6) AS rank
       FROM nodes CROSS JOIN n),
r1 AS MATERIALIZED (SELECT e.dst AS node,
              round(round(CAST(0.15 AS DOUBLE) / n.nn, 12)
                    + CAST(0.85 AS DOUBLE)
                      * CAST(sum(CAST(r0.rank / deg.outdeg
                                      AS DECIMAL(28,12))) AS DOUBLE), 6)
                AS rank
       FROM e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
       CROSS JOIN n GROUP BY e.dst, n.nn),
r2 AS MATERIALIZED (SELECT e.dst AS node,
              round(round(CAST(0.15 AS DOUBLE) / n.nn, 12)
                    + CAST(0.85 AS DOUBLE)
                      * CAST(sum(CAST(r1.rank / deg.outdeg
                                      AS DECIMAL(28,12))) AS DOUBLE), 6)
                AS rank
       FROM e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
       CROSS JOIN n GROUP BY e.dst, n.nn),
r3 AS (SELECT e.dst AS node,
              round(round(CAST(0.15 AS DOUBLE) / n.nn, 12)
                    + CAST(0.85 AS DOUBLE)
                      * CAST(sum(CAST(r2.rank / deg.outdeg
                                      AS DECIMAL(28,12))) AS DOUBLE), 6)
                AS rank
       FROM e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
       CROSS JOIN n GROUP BY e.dst, n.nn)
SELECT node, rank FROM r3
""", priority=PRI_TAIL)
def q135_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 statically-unrolled iterations (operators/graph.
    pagerank) over the symmetrized customer↔supplier interaction graph
    (distinct o_custkey–l_suppkey pairs through orders⋈lineitem,
    BIGINT-encoded node ids) — the
    bounded-iteration distributed-algorithm shape: each round is one
    hash-partitioned join of the |V|-row rank vector with the edge list
    plus a groupBy on the destination, lineage cut per round by an eager
    localCheckpoint. Parity holds per ITERATION (6-rounded vectors,
    decimal-folded contributions), so the whole trajectory is
    bit-identical to the DuckDB unroll; the oracle replays the same
    three rounds as chained CTEs, each round MATERIALIZED — DuckDB
    inlines plain CTEs per reference, so the un-annotated unroll
    re-executed the lineitem⋈orders edge build once per downstream
    mention (sf0.1: 1517s → 35s for the parity pair; same trick the
    q205/q217 unrolls already used). The reference has no graph
    surface — this extends the dedup-cluster/graph family (q63)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # BIGINT node ids (even = customer, odd = supplier), not string
    # concat: integer shuffle keys halve the edge-build wall time at
    # sf0.1 (SCALE.md round-8c triage). The bipartite id spaces are
    # disjoint, so the reverse union needs NO second distinct —
    # symmetrize()'s generic dedup pass is provably redundant here.
    raw = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
           .select((F.col("o_custkey") * 2).alias("src"),
                   (F.col("l_suppkey") * 2 + 1).alias("dst"))
           .distinct()
           # persist across the union's two branches (round 16): a
           # self-union does NOT share its subtree — without the cache
           # the lineitem⋈orders join + distinct execute TWICE inside
           # pagerank's edge materialization (verified in the physical
           # plan: two BroadcastHashJoin subtrees under Union). Released
           # below once pagerank's eager edge checkpoint has run —
           # within-query, never crosses a bench rep.
           .persist())
    sym = raw.unionByName(raw.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
    out = gr.pagerank(sym, iterations=3, damping=0.85)
    raw.unpersist()
    return out


@register("q136_source_overlap", r"""
WITH vocab AS (
  SELECT DISTINCT source AS g,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY 1),
inter AS (SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT)
            AS n_common
          FROM vocab a JOIN vocab b ON a.term = b.term AND a.g < b.g
          GROUP BY 1, 2)
SELECT sa.g AS g_a, sb.g AS g_b, sa.n AS n_a, sb.n AS n_b,
       coalesce(i.n_common, 0) AS n_common,
       round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
             / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard
FROM sizes sa JOIN sizes sb ON sa.g < sb.g
LEFT JOIN inter i ON i.g_a = sa.g AND i.g_b = sb.g
""", priority=PRI_TAIL)
def q136_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard matrix (operators/text.
    source_vocab_overlap) — the corpus-overlap report curation teams
    read before mixing sources. The intersection is an inverted-index
    self-join keyed on the term (per-term cost bounded by #sources²,
    never corpus size); the pair universe is an equi-join of the
    #sources-row size table with itself on a constant key so zero-
    overlap pairs survive with jaccard 0 and the plan stays BNLJ-free."""
    return tx.source_vocab_overlap(_t(spark, sf_dir, "documents"))


@register("q137_centroid_cosine", r"""
WITH e AS (
  SELECT label AS g, u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
cent AS (SELECT g, dim,
                round(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*), 6) AS c
         FROM e GROUP BY 1, 2),
nrm AS (SELECT g, round(sqrt(CAST(sum(CAST(c * c AS DECIMAL(28,12)))
                                  AS DOUBLE)), 6) AS s
        FROM cent GROUP BY 1),
counts AS (SELECT label AS g, CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY 1),
dots AS (SELECT a.g AS g_a, b.g AS g_b,
                CAST(sum(CAST(a.c * b.c AS DECIMAL(28,12))) AS DOUBLE)
                  AS d
         FROM cent a JOIN cent b ON a.dim = b.dim AND a.g < b.g
         GROUP BY 1, 2)
SELECT dots.g_a, dots.g_b, ca.n AS n_a, cb.n AS n_b,
       CASE WHEN na.s > 0 AND nb.s > 0
            THEN round(dots.d / (na.s * nb.s), 6) END AS cosine
FROM dots JOIN nrm na ON na.g = dots.g_a JOIN nrm nb ON nb.g = dots.g_b
JOIN counts ca ON ca.g = dots.g_a JOIN counts cb ON cb.g = dots.g_b
""", priority=PRI_TAIL)
def q137_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids + pairwise centroid-cosine matrix
    (operators/similarity.centroid_cosine_matrix) — the embedding-space
    overlap report beside the vocabulary matrix (q136): near-collinear
    centroids flag semantically redundant corpus slices, the corpus-level
    cousin of SemDeDup (q127). Vectors posexplode to (label, dim) so the
    centroid reduce is map-side partial over #labels×64 keys; norms and
    the pair dot derive from the tiny centroid table (equi-join on dim);
    decimal folds + 6-rounding give bit parity."""
    return sim.centroid_cosine_matrix(_t(spark, sf_dir, "embeddings"))


@register("q138_shard_manifest", """
WITH a AS (
  SELECT doc_id, n_chars,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 32 AS INT) AS shard_id,
         CAST(CAST(('0x' || substr(md5('|order' || CAST(doc_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1 AS DOUBLE)
           / 1152921504606846976.0 AS u,
         CAST(('0x' || substr(md5('|ck' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000003 AS ck
  FROM documents),
p AS (SELECT shard_id, n_chars, ck,
             CAST(row_number() OVER (PARTITION BY shard_id
                                     ORDER BY u, doc_id) AS BIGINT) AS pos
      FROM a)
SELECT shard_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(pos * ck) % 9223372036854775808 AS BIGINT)
         AS order_checksum,
       CAST(sum(n_chars) AS BIGINT) AS total_size
FROM p GROUP BY shard_id
""", priority=PRI_TAIL)
def q138_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + manifest (operators/
    relational.shard_assign/shard_manifest) — the global-shuffle-and-
    shard step between curation and the training data loader (the
    reference hands TF one in-memory dataset, reference
    datapipeline/tfdataset.py:24; at 100 TB the shard layout IS the
    product). shard = md5-bucket(doc_id), intra-shard order = md5
    uniform — both pure key functions, so epoch order is reproducible
    across runs/engines/cluster sizes. The manifest's ORDER-SENSITIVE
    checksum (Σ pos·keyhash mod 2⁶³, decimal accumulator) makes the
    green hash prove
    sequence equality, not mere membership; one hash-partition shuffle,
    per-shard executor sorts, 32-row output."""
    return rel.shard_manifest(_t(spark, sf_dir, "documents"), "doc_id",
                              n_shards=32, size_col="n_chars")


#: Morton interleave of 20-bit x/y as portable SQL — the same 40 terms
#: zorder_code builds as column expressions, spelled with <<,>>,&,|
_Z_SQL = " | ".join(
    f"(((x >> {i}) & 1) << {2 * i}) | (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(20))


@register("q139_zorder_layout", f"""
WITH c AS (
  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(l_partkey AS BIGINT) AS y
  FROM lineitem),
z AS (SELECT x, y, {_Z_SQL} AS zc FROM c),
f AS (SELECT x, y, CAST(ntile(64) OVER (ORDER BY zc, x, y) AS INT)
             AS file_id FROM z)
SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM f GROUP BY file_id
""", priority=PRI_TAIL)
def q139_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout + data-skipping audit
    (operators/relational.zorder_code/zorder_layout_audit) — the
    Delta/Iceberg ``ZORDER BY`` primitive the engine's own sinks lack:
    interleave ship-day and partkey bits into one sort key, cut the
    sorted stream into 64 equal files, and report each file's min/max
    envelope on BOTH dimensions — exactly the footer statistics a scan
    consults to prune files for a predicate on either column. The
    interleave is 40 codegen'd shift/mask terms (no UDF) and spells
    identically in the oracle, so the entire layout is hash-verified.
    The audit's global ntile is the verification shape; production
    writes ``repartitionByRange(code)`` + sortWithinPartitions (range
    shuffle on sampled bounds, no global window) and gets the same
    envelopes from parquet footers free."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.datediff(F.col("l_shipdate").cast("date"),
                   F.to_date(F.lit("1970-01-01")))
    return rel.zorder_layout_audit(li, x, F.col("l_partkey"),
                                   n_files=64, bits=20)


@register("q140_batch_padding", f"""
WITH n AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '{tx.BPE_PIECE_RE}'))
              AS INT) AS n_pieces
  FROM documents),
b AS (
  SELECT doc_id, n_pieces,
         CASE WHEN n_pieces <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(1 AS BIGINT) << length(bin(n_pieces - 1))
         END AS length_bucket,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 AS u
  FROM n),
o AS (
  SELECT length_bucket, n_pieces,
         row_number() OVER (PARTITION BY length_bucket
                            ORDER BY u, doc_id) - 1 AS ord
  FROM b),
g AS (
  SELECT length_bucket,
         length_bucket * 1048576
           + CAST(floor(ord / 16.0) AS BIGINT) AS batch_id,
         n_pieces
  FROM o)
SELECT length_bucket, batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_pieces) AS BIGINT) AS max_pieces,
       CAST(sum(n_pieces) AS BIGINT) AS sum_pieces,
       CAST(count(*) * max(n_pieces) - sum(n_pieces) AS BIGINT)
         AS padding_waste,
       round(CAST(count(*) * max(n_pieces) - sum(n_pieces) AS DOUBLE)
             / (count(*) * max(n_pieces)), 6) AS pad_ratio
FROM g GROUP BY 1, 2
""", priority=PRI_TAIL)
def q140_batch_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly + padding-waste audit (operators/
    text.length_bucketed_batches/batch_padding_report) — the
    padding-efficiency step of sequence training (TF
    bucket_by_sequence_length / HF LengthGroupedSampler as a
    distributed operator; the reference's fixed window_size sidesteps
    it, reference datapipeline/tfdataset.py:61). Documents bucket by
    the pow-2 ceiling of BPE-piece count, order inside the bucket by
    key hash (reproducible batches, no RNG state), and cut into
    16-doc batches; the report prices each batch's pad-to-max waste.
    Narrow maps + ONE ~30-key hash shuffle; output is one row per
    batch."""
    return tx.batch_padding_report(_t(spark, sf_dir, "documents"),
                                   batch_size=16)


@register("q141_temperature_mixture", """
WITH s AS (SELECT source AS stratum, CAST(sum(n_chars) AS BIGINT) AS n_size
           FROM documents GROUP BY 1),
w AS (SELECT stratum, n_size,
             round(CAST(n_size AS DOUBLE)
                   / CAST(sum(n_size) OVER () AS DOUBLE), 6)
               AS natural_share,
             round(pow(CAST(n_size AS DOUBLE), 0.5)
                   / sum(pow(CAST(n_size AS DOUBLE), 0.5)) OVER (), 6)
               AS mixture_weight
      FROM s)
SELECT stratum, n_size, natural_share, mixture_weight,
       CAST(floor(1000000.0 * mixture_weight) AS BIGINT) AS expected_size,
       round(1000000.0 * mixture_weight / n_size, 6) AS oversample_factor
FROM w
""", priority=PRI_TAIL)
def q141_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (operators/relational.
    temperature_mixture) — the mT5/XLM-R ``p_s ∝ n_s^α`` sampling rule
    beside the explicit-weight plan (q86) and DSIR (q131): α=0.5 on
    per-source character mass, with the 1M-token expected draw and the
    oversample factor per source. Downstream numbers derive from the
    6-ROUNDED weight so the floor() at the integer boundary cannot
    flip on a 1-ulp pow divergence (the parity rule's corollary). One
    map-side-combined groupBy; everything else lives on the 20-row
    strata frame."""
    return rel.temperature_mixture(_t(spark, sf_dir, "documents"),
                                   strata_col="source",
                                   size_col="n_chars", alpha=0.5,
                                   token_budget=1_000_000)


#: the q98-style engine-portable fold: rounded plain-double squared-L2
#: between two 8-dim slice lists (identical left fold both engines)
_PQ_SUBL2 = ("round(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
             "list_transform(generate_series(1, 8), "
             "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
             "(acc, x) -> acc + x), 6)")


@register("q142_pq_adc_topk", f"""
WITH sub AS (
  SELECT vec_id, j,
         list_transform(generate_series(1, 8),
                        i -> CAST(embedding[j * 8 + i] AS DOUBLE)) AS svec
  FROM embeddings, unnest(generate_series(0, 7)) AS t(j)),
cb AS (
  SELECT CAST(vec_id AS INT) AS code, j, svec AS cvec
  FROM sub WHERE vec_id < 16),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, cb.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY {_PQ_SUBL2.format(a='s.svec', b='cb.cvec')},
                        cb.code) AS rn
    FROM sub s JOIN cb ON cb.j = s.j) WHERE rn = 1),
dtab AS (
  SELECT q.vec_id AS query_id, cb.j, cb.code,
         {_PQ_SUBL2.format(a='q.svec', b='cb.cvec')} AS qdist
  FROM sub q JOIN cb ON cb.j = q.j WHERE q.vec_id < 4),
adc AS (
  SELECT d.query_id, e.vec_id,
         CAST(sum(CAST(d.qdist AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
  FROM enc e JOIN dtab d ON d.j = e.j AND d.code = e.code
  GROUP BY 1, 2)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
FROM (SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rank
      FROM adc)
WHERE rank <= 10
""", priority=PRI_TAIL)
def q142_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (operators/
    similarity.pq_seed_codebook/pq_encode/pq_adc_topk; Jégou et al.
    2011) — the MEMORY-bound ANN scale path beside the LSH (q34) and
    IVF (q35) compute paths: the corpus compresses 32× to 8 one-byte
    codes per vector, queries precompute an 8×16 subspace-distance
    table, and the scan is code lookups + an exact decimal sum of
    6-rounded plain-double folds — every stage replayed bit-identically
    by the oracle, including the argmin encoding itself. Codebook =
    deterministic seed vectors (the q47 discipline; production swaps in
    sampled per-subspace k-means without changing the contract)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    return sim.pq_adc_topk(emb, queries, k_top=10)


@register("q143_snapshot_diff", """
WITH newv AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 0 THEN text || '!' ELSE text END AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 10000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 89 = 0),
d AS (
  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN (o.text IS NOT DISTINCT FROM n.text)
                   AND (o.lang IS NOT DISTINCT FROM n.lang)
                   AND (o.source IS NOT DISTINCT FROM n.source)
                   AND (o.n_chars IS NOT DISTINCT FROM n.n_chars)
                THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM documents o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
FROM d GROUP BY status
""", priority=PRI_TAIL)
def q143_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus-build runs (operators/
    relational.snapshot_diff_summary) — the run-over-run regression
    gate (and change-data-feed) a 100 TB pipeline promotes builds
    with: full-outer join on the key, null-safe column compare,
    added/removed/changed/unchanged rollup. The 'new' version is a
    deterministic mutation of the fixture (drop doc_id%97, edit text
    of doc_id%101, append doc_id%89 re-keyed) so every status class is
    exercised and both engines construct it identically."""
    docs = _t(spark, sf_dir, "documents")
    kept = (docs.where(F.col("doc_id") % 97 != 0)
            .withColumn("text",
                        F.when(F.col("doc_id") % 101 == 0,
                               F.concat(F.col("text"), F.lit("!")))
                        .otherwise(F.col("text"))))
    added = (docs.where(F.col("doc_id") % 89 == 0)
             .withColumn("doc_id", F.col("doc_id") + 10_000_000))
    return rel.snapshot_diff_summary(docs, kept.unionByName(added),
                                     "doc_id")


@register("q144_fk_audit", """
SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS relation,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_keys,
       CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       round(CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
                           AND o.o_orderkey IS NULL
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS orphan_rate
FROM lineitem l
LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders.o_custkey->customer.c_custkey',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN r.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN r.o_custkey IS NOT NULL AND c.c_custkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT),
       round(CAST(sum(CASE WHEN r.o_custkey IS NOT NULL
                           AND c.c_custkey IS NULL
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
FROM orders r
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON r.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.l_partkey->part.p_partkey',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT),
       round(CAST(sum(CASE WHEN l.l_partkey IS NOT NULL
                           AND p.p_partkey IS NULL
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
FROM lineitem l
LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
  ON l.l_partkey = p.p_partkey
""", priority=PRI_TAIL)
def q144_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema (operators/
    relational.fk_audit) — the ingest-time FK health report
    (orphans / NULL keys / orphan rate per edge) that belongs beside
    the null/NaN audit (q44) in any warehouse intake: three edges,
    each a LEFT ANTI probe + count reduce, three summary rows out.
    Green-zero orphans on the fixtures is the assertion — the operator
    is the detection machinery, exercised by pytest with planted
    orphans."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    return (rel.fk_audit(li, od, "l_orderkey", "o_orderkey",
                         "lineitem.l_orderkey->orders.o_orderkey")
            .unionByName(rel.fk_audit(
                od, _t(spark, sf_dir, "customer"), "o_custkey",
                "c_custkey", "orders.o_custkey->customer.c_custkey"))
            .unionByName(rel.fk_audit(
                li, _t(spark, sf_dir, "part"), "l_partkey", "p_partkey",
                "lineitem.l_partkey->part.p_partkey")))


def _knn_classify_oracle(n_planes: int = 8, dim: int = 64,
                         seed: int = 42, n_probe: int = 4,
                         k: int = 5, n_queries: int = 40) -> str:
    """DuckDB twin of similarity.knn_classify over the even/odd split:
    the _lsh_topk_oracle template (same seeded hyperplane literals, same
    multi-probe bit flips, same decimal-exact cosine kernel) with the
    corpus restricted to EVEN vec_ids (the labeled seed set), queries =
    odd vec_ids < n_queries, and the ranked neighbors folded into a
    deterministic (votes desc, label asc) majority vote with a
    decimal-exact sum-cosine confidence."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))

    def margin(i: int) -> str:
        plist = "[" + ",".join(repr(float(x)) for x in planes[i]) + "]"
        return (f"list_sum(list_transform(generate_series(1,{dim}), "
                f"j -> CAST(embedding[j] AS DOUBLE) * ({plist})[j]))")

    margins = "\nUNION ALL\n".join(
        f"SELECT vec_id, {i} AS bit, ({margin(i)}) AS m FROM embeddings"
        for i in range(n_planes))
    is_query = f"vec_id % 2 = 1 AND vec_id < {n_queries}"
    return f"""
WITH h AS ({margins}),
bk AS (
  SELECT vec_id,
         SUM(CASE WHEN m >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS bucket
  FROM h GROUP BY vec_id),
flips AS (
  SELECT vec_id AS query_id, bit,
         row_number() OVER (PARTITION BY vec_id ORDER BY abs(m), bit) AS rn
  FROM h WHERE {is_query}),
probes AS (
  SELECT vec_id AS query_id, bucket FROM bk WHERE {is_query}
  UNION ALL
  SELECT f.query_id, xor(q.bucket, CAST(1 AS BIGINT) << f.bit)
  FROM flips f JOIN bk q ON q.vec_id = f.query_id
  WHERE f.rn <= {n_probe - 1}),
cand AS (
  SELECT p.query_id, c.vec_id
  FROM probes p JOIN bk c ON c.bucket = p.bucket
  WHERE c.vec_id % 2 = 0),
scored AS (
  SELECT cand.query_id, a.vec_id,
         round({_SQL_DOT} / ({_SQL_NORM.format(t='a')} * {_SQL_NORM.format(t='b')}), 6) AS cosine
  FROM cand JOIN embeddings a ON a.vec_id = cand.vec_id
            JOIN embeddings b ON b.vec_id = cand.query_id),
topk AS (
  SELECT query_id, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id) AS rank
    FROM scored) WHERE rank <= {k}),
votes AS (
  SELECT t.query_id, e.label,
         CAST(count(*) AS BIGINT) AS n_votes,
         CAST(sum(CAST(t.cosine AS DECIMAL(18,6))) AS DOUBLE)
           AS sum_cosine
  FROM topk t JOIN embeddings e ON e.vec_id = t.vec_id
  GROUP BY 1, 2)
SELECT query_id, label AS pred_label, n_votes, sum_cosine FROM (
  SELECT query_id, label, n_votes, sum_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, label ASC) AS rn
  FROM votes) WHERE rn = 1
"""


@register("q145_knn_classify", _knn_classify_oracle(), priority=PRI_TAIL)
def q145_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label transfer (operators/similarity.knn_classify) — the
    weak-labeling step of corpus curation: the even-id half of the
    embeddings table acts as the human-labeled seed set, odd ids < 40
    are classified by the deterministic majority label of their 5
    nearest labeled neighbors via the SAME multi-probe hyperplane-LSH
    candidate path as q34 (no all-pairs shape at any scale; the seed
    set broadcasts, the unlabeled corpus streams map-side). The entire
    pipeline — buckets, probes, cosines, vote, confidence — replays in
    the oracle, so the approximate classifier is still hash-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    labeled = emb.where(F.col("vec_id") % 2 == 0)
    queries = (emb.where((F.col("vec_id") % 2 == 1)
                         & (F.col("vec_id") < 40))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return sim.knn_classify(labeled, queries, k=5, n_probe=4)


@register("q146_concurrent_sessions", """
WITH seq AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id < 8
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM seq),
iv AS (SELECT user_id, session_id, min(epoch(ts)) AS s,
              max(epoch(ts)) + 1800.0 AS e
       FROM sess GROUP BY 1, 2),
p AS (SELECT a.user_id AS user_id_a, b.user_id AS user_id_b,
             least(a.e, b.e) - greatest(a.s, b.s) AS ov
      FROM iv a JOIN iv b
        ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e)
SELECT user_id_a, user_id_b, CAST(count(*) AS BIGINT) AS n_overlaps,
       round(CAST(sum(CAST(ov AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS total_overlap_s
FROM p GROUP BY 1, 2
""", priority=PRI_TAIL)
def q146_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/timeseries.
    interval_overlap_join) — the segment-alignment primitive the
    point-in-range join (q38) can't express: 30-min-gap sessions
    (padded by the session timeout, i.e. [first_event, last_event+gap])
    for users < 8, self-joined on OVERLAP to a per-user-pair
    concurrency report. The Spark side is the bucketed equi-join
    rewrite with the first-shared-bucket emit-once guard — no BNLJ
    shape at any scale; the oracle states the same semantics as the
    naive inequality join, so a green hash proves the bucketing is an
    implementation detail, not a semantic change."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 8)
    sess = ts.sessionize(ev, "ts", ["user_id"], gap_seconds=1800)
    es = F.col("ts").cast("double")
    iv = (sess.groupBy("user_id", "session_id")
          .agg(F.min(es).alias("start"),
               (F.max(es) + F.lit(1800.0)).alias("end")))
    pairs = ts.interval_overlap_join(
        iv, iv, "start", "end", bucket_seconds=3600.0,
        extra_cond=F.col("user_id_a") < F.col("user_id_b"))
    return (pairs.groupBy("user_id_a", "user_id_b")
            .agg(F.count("*").cast("bigint").alias("n_overlaps"),
                 F.round(F.sum(F.col("overlap_seconds")
                               .cast("decimal(18,6)")).cast("double"), 6)
                 .alias("total_overlap_s")))


@register("q147_markov_transitions", """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
c AS (SELECT prev AS from_state, event_type AS to_state,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
SELECT from_state, to_state, n_transitions,
       round(CAST(n_transitions AS DOUBLE)
             / CAST(sum(n_transitions) OVER (PARTITION BY from_state)
                    AS DOUBLE), 6) AS prob
FROM c
""", priority=PRI_TAIL)
def q147_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream
    (operators/timeseries.transition_matrix) — the navigation-flow
    summary beside the funnel (q109) and retention (q110): per-user
    lag pairs (total-ordered by ts + event_id) reduced to the
    state×state count matrix with per-row-normalized probabilities.
    One key shuffle + a tiny-keyspace map-side reduce."""
    return ts.transition_matrix(_t(spark, sf_dir, "events"), "ts",
                                "event_type", ["user_id"],
                                tiebreak="event_id")


@register("q148_trimmed_mean", """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice,
                      l_orderkey * 10 + l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
kept AS (
  SELECT l_returnflag, l_extendedprice
  FROM ranked
  WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
    AND rn <= n - CAST(floor(n * 0.1) AS BIGINT))
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             / count(*), 6) AS trimmed_mean
FROM kept GROUP BY l_returnflag
""", priority=PRI_TAIL)
def q148_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric 10% trimmed mean per return flag (operators/stats.
    trimmed_mean) — the robust location estimate between the exact
    median (q100) and the plain mean, with the trimmed SET (not just
    its size) total-ordered by (value, primary key) so both engines
    drop identical rows. One rank-window shuffle + decimal-exact
    reduce; one row per group."""
    from powerdatapipeline_spark.operators import stats as st

    li = (_t(spark, sf_dir, "lineitem")
          .withColumn("__tb", F.col("l_orderkey") * 10
                      + F.col("l_linenumber")))
    return st.trimmed_mean(li, "l_extendedprice",
                                  ["l_returnflag"], trim_frac=0.1,
                                  tiebreak="__tb")


@register("q149_vocab_oov", """
WITH toks AS (
  SELECT source, t.term
  FROM documents,
       unnest(list_filter(string_split_regex(lower(text),
              '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) AS t(term)),
vocab AS (
  SELECT term FROM (
    SELECT term,
           row_number() OVER (ORDER BY count(*) DESC, term ASC) AS r
    FROM toks GROUP BY term) WHERE r <= 500)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS oov_rate
FROM toks LEFT JOIN vocab v USING (term)
GROUP BY source
""", priority=PRI_TAIL)
def q149_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV audit (operators/text.vocab_top_k +
    oov_report) — the tokenizer-fit health metric: build the top-500
    corpus vocabulary (freq desc, term asc — a deterministic cut),
    broadcast it, and report per-source token counts and OOV rate. A
    rising OOV rate on incoming data is the signal the tokenizer no
    longer covers the corpus. Token rows never shuffle — only the
    per-source partials do."""
    docs = _t(spark, sf_dir, "documents")
    vocab = tx.vocab_top_k(docs, vocab_size=500)
    return tx.oov_report(docs, vocab, "source")


@register("q150_bpe_merge_candidates", f"""
WITH p AS (
  SELECT regexp_extract_all(lower(text), '{tx.BPE_PIECE_RE}') AS ps
  FROM documents),
pairs AS (
  SELECT u.pr[1] AS left_piece, u.pr[2] AS right_piece
  FROM p, unnest(list_transform(generate_series(1, len(ps) - 1),
                 i -> [ps[i], ps[i + 1]])) AS u(pr)),
c AS (SELECT left_piece, right_piece,
             CAST(count(*) AS BIGINT) AS pair_count
      FROM pairs GROUP BY 1, 2)
SELECT * FROM (
  SELECT left_piece, right_piece, pair_count,
         CAST(row_number() OVER (ORDER BY pair_count DESC, left_piece,
                                 right_piece) AS BIGINT) AS merge_rank
  FROM c) WHERE merge_rank <= 20
""", priority=PRI_TAIL)
def q150_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics (operators/text.
    bpe_merge_candidates; Sennrich et al. 2016) — the distributed half
    of tokenizer TRAINING, beside the token-count consumers (q61,
    q140): adjacent piece-pair frequencies over the pre-tokenized
    stream, top-20 merge candidates with a deterministic (count desc,
    pair asc) tie-break. Pairs come from zipping each piece array with
    its own tail — a narrow map; only map-side-combined pair partials
    shuffle. The trainer's outer loop is the q47 driver-iteration
    pattern: apply the winning merge, re-run, corpus never moves."""
    return tx.bpe_merge_candidates(_t(spark, sf_dir, "documents"),
                                   top_n=20)


@register("q151_boilerplate_removal", """
WITH base AS (
  SELECT doc_id, source,
         'NAV ' || source || chr(10) || text || chr(10)
           || 'FOOTER ' || source AS t
  FROM documents),
parts AS (SELECT source, doc_id, string_split(t, chr(10)) AS ps
          FROM base),
lines AS (
  SELECT source, doc_id, u.i AS line_idx, trim(ps[u.i]) AS line
  FROM parts, unnest(generate_series(1, len(ps))) AS u(i)),
nz AS (SELECT * FROM lines WHERE line <> ''),
df AS (SELECT source, md5(line) AS line_key,
              CAST(count(DISTINCT doc_id) AS BIGINT) AS line_df
       FROM nz GROUP BY 1, 2),
nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY 1),
bp AS (SELECT df.source, line_key
       FROM df JOIN nd USING (source)
       WHERE line_df >= 2
         AND round(CAST(line_df AS DOUBLE) / n_docs, 6) >= 0.5),
kept AS (SELECT nz.source, nz.doc_id, nz.line_idx, nz.line
         FROM nz LEFT JOIN bp
           ON bp.source = nz.source AND bp.line_key = md5(nz.line)
         WHERE bp.line_key IS NULL),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        FROM nz GROUP BY 1),
agg AS (SELECT doc_id,
               string_agg(line, chr(10) ORDER BY line_idx) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY 1)
SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       coalesce(agg.n_kept, 0) AS n_lines_kept,
       t.n_lines - coalesce(agg.n_kept, 0) AS n_lines_removed
FROM tot t LEFT JOIN agg USING (doc_id)
""", priority=PRI_TAIL)
def q151_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (operators/text.
    remove_boilerplate_lines; the CCNet/jusText template-chrome rule) —
    the curation step between URL filtering (q92) and span dedup
    (q85/q126): a line repeating across ≥ half a source's documents
    (and ≥ 2 docs) is template, not content. The fixture has no nav
    chrome, so the query INJECTS a deterministic per-source header and
    footer — both engines build the same corpus, the operator must
    strip exactly those lines and reassemble every document in
    original order (hash-verified clean_text). Boilerplate sets are
    tiny → broadcast anti-join; reassembly is per-doc array_sort, no
    global sort."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.withColumn(
        "t", F.concat(F.lit("NAV "), F.col("source"), F.lit("\n"),
                      F.col("text"), F.lit("\n"),
                      F.lit("FOOTER "), F.col("source")))
    return tx.remove_boilerplate_lines(base, "source", "doc_id", "t",
                                       max_df_frac=0.5, min_df=2)


@register("q152_correlation_matrix", """WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(28,12))) AS s0,
         sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) AS DECIMAL(28,12))) AS p00,
         sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(28,12))) AS p01,
         sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(28,12))) AS p02,
         sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(28,12))) AS p03,
         sum(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(28,12))) AS s1,
         sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(28,12))) AS p11,
         sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(28,12))) AS p12,
         sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(28,12))) AS p13,
         sum(CAST(CAST(l_discount AS DOUBLE) AS DECIMAL(28,12))) AS s2,
         sum(CAST(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(28,12))) AS p22,
         sum(CAST(CAST(l_discount AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(28,12))) AS p23,
         sum(CAST(CAST(l_tax AS DOUBLE) AS DECIMAL(28,12))) AS s3,
         sum(CAST(CAST(l_tax AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(28,12))) AS p33
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL AND l_tax IS NOT NULL)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
  CASE WHEN CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
  THEN round((CAST(n AS DOUBLE) * CAST(p01 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s1 AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))), 6)
  END AS corr, n AS n_rows FROM m
UNION ALL
SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
  CASE WHEN CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) > 0
  THEN round((CAST(n AS DOUBLE) * CAST(p02 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))), 6)
  END AS corr, n AS n_rows FROM m
UNION ALL
SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b,
  CASE WHEN CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(p33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) > 0
  THEN round((CAST(n AS DOUBLE) * CAST(p03 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s3 AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(p00 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(p33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))), 6)
  END AS corr, n AS n_rows FROM m
UNION ALL
SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b,
  CASE WHEN CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) > 0
  THEN round((CAST(n AS DOUBLE) * CAST(p12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))), 6)
  END AS corr, n AS n_rows FROM m
UNION ALL
SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b,
  CASE WHEN CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(p33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) > 0
  THEN round((CAST(n AS DOUBLE) * CAST(p13 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(p11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(p33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))), 6)
  END AS corr, n AS n_rows FROM m
UNION ALL
SELECT 'l_discount' AS col_a, 'l_tax' AS col_b,
  CASE WHEN CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(p33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) > 0
  THEN round((CAST(n AS DOUBLE) * CAST(p23 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(p22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(p33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))), 6)
  END AS corr, n AS n_rows FROM m
""", priority=PRI_TAIL)
def q152_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem numerics
    (operators/stats.correlation_matrix) — the feature-redundancy
    screen run before model fitting, beside the per-column profile
    (q66) and grouped OLS (q68): every moment the k x k matrix needs
    reduces in ONE map-side-combined pass to a single row (the naive
    per-pair corr() loop scans the table O(k^2) times), then a narrow
    6-row explode. Complete-case up front so every coefficient sees
    the same population; decimal-exact moments, 6-rounded sqrt per the
    parity rules."""
    from powerdatapipeline_spark.operators import stats as st

    return st.correlation_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


@register("q153_bootstrap_ci", """
WITH rows_b AS (
  SELECT event_id AS k, CAST(value AS DOUBLE) AS v, bb.b AS b
  FROM events, unnest(generate_series(0, 39)) AS bb(b)
  WHERE value IS NOT NULL),
u AS (SELECT k, v, b,
        CAST(CAST(('0x' || substr(md5('|boot' || CAST(k AS VARCHAR)
             || '|' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) + 1
             AS DOUBLE) / 1152921504606846976.0 AS uu
      FROM rows_b),
wtd AS (SELECT b, v,
          CASE WHEN uu <= 0.367879441171 THEN 0
               WHEN uu <= 0.735758882343 THEN 1
               WHEN uu <= 0.919698602929 THEN 2
               WHEN uu <= 0.981011843123 THEN 3
               WHEN uu <= 0.996340153172 THEN 4
               WHEN uu <= 0.999405815182 THEN 5
               ELSE 6 END AS w
        FROM u),
reps AS (SELECT b,
           CAST(sum(CAST(w * v AS DECIMAL(28,6))) AS DOUBLE)
             / NULLIF(sum(w), 0) AS m
         FROM wtd GROUP BY b),
nn AS (SELECT * FROM reps WHERE m IS NOT NULL),
ranked AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM nn),
summary AS (
  SELECT round(min(CASE WHEN rn = 1 THEN m END), 6) AS boot_lo,
         round(min(CASE WHEN rn = 39 THEN m END), 6) AS boot_hi,
         round(stddev_pop(m), 6) AS boot_se,
         CAST(count(*) AS BIGINT) AS n_replicas
  FROM ranked),
pt AS (SELECT round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                    / count(*), 6) AS point_mean,
              CAST(count(*) AS BIGINT) AS n_rows
       FROM events WHERE value IS NOT NULL)
SELECT point_mean, n_rows, boot_lo, boot_hi, boot_se, n_replicas
FROM pt CROSS JOIN summary
""", priority=PRI_TAIL)
def q153_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean in ONE pass
    (operators/stats.poisson_bootstrap_ci; Chamandy et al. 2012) —
    error bars at 100 TB without resampling: every row joins each of
    40 replicas with a DETERMINISTIC md5-derived Poisson(1) weight, so
    the whole CI is one scan with explode factor B, a B-row shuffle,
    and zero RNG state — the draw, the replica means, the order
    statistics, and the SE all replay bit-stably in the oracle. The
    statistical sibling of the approx-contract queries (q48/q108/q115):
    uncertainty quantification as a first-class distributed op."""
    from powerdatapipeline_spark.operators import stats as st

    return st.poisson_bootstrap_ci(_t(spark, sf_dir, "events"),
                                   "value", "event_id", n_replicas=40)


@register("q154_skew_report", """
WITH counts AS (
  SELECT o_custkey AS key_value, CAST(count(*) AS BIGINT) AS n_rows_key
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
r1 AS (SELECT key_value, n_rows_key,
         CAST(row_number() OVER (ORDER BY n_rows_key ASC, key_value ASC)
              AS BIGINT) AS i
       FROM counts),
r2 AS (SELECT key_value, n_rows_key, i,
         CAST(count(*) OVER () AS BIGINT) AS k_keys,
         CAST(sum(n_rows_key) OVER () AS BIGINT) AS tot,
         CAST(sum(i * n_rows_key) OVER () AS BIGINT) AS s_ic
       FROM r1)
SELECT * FROM (
  SELECT CAST(row_number() OVER (ORDER BY n_rows_key DESC, key_value ASC)
              AS BIGINT) AS skew_rank,
         key_value, n_rows_key,
         round(CAST(n_rows_key AS DOUBLE) / tot, 6) AS share,
         k_keys AS n_keys,
         round((2.0 * s_ic) / (k_keys * tot)
               - CAST(k_keys + 1 AS DOUBLE) / k_keys, 6) AS gini
  FROM r2) WHERE skew_rank <= 10
""", priority=PRI_TAIL)
def q154_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report (operators/relational.skew_report) — the
    planning tool behind the salted-join decision (q82) and AQE's skew
    thresholds: top-10 heaviest o_custkey values with row shares, the
    key-space size, and the Gini coefficient of the key-frequency
    distribution. The corpus reduces map-side to the |keys|-row count
    frame; Gini ranks THAT frame, never the data."""
    return rel.skew_report(_t(spark, sf_dir, "orders"), "o_custkey",
                           top_n=10)


@register("q155_image_ahash_neardup", """
WITH pxl AS (
  SELECT doc_id,
         list_transform(generate_series(0, 63), i ->
           CAST(('0x' || substr(md5(text || chr(0) || chr(0) || chr(0)
                || chr(CAST(i // 16 AS INT))), 2 * (i % 16) + 1, 2))
                AS INT)) AS px
  FROM documents),
m AS (SELECT doc_id, px, list_sum(px) / 64.0 AS mean FROM pxl),
bits AS (SELECT doc_id,
                list_transform(generate_series(1, 64), i ->
                  CASE WHEN px[i] >= mean THEN 1 ELSE 0 END) AS b
         FROM m),
hh AS (SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 32),
             i -> CAST(b[i] AS BIGINT) << (32 - i))),
           (acc, x) -> acc | x) AS hi,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(33, 64),
             i -> CAST(b[i] AS BIGINT) << (64 - i))),
           (acc, x) -> acc | x) AS lo
       FROM bits),
bands AS (
  SELECT doc_id, hi, lo, u.band
  FROM hh, unnest([0 * 65536 + (hi >> 16), 1 * 65536 + (hi & 65535),
                   2 * 65536 + (lo >> 16), 3 * 65536 + (lo & 65535)])
       AS u(band)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
            AS INT) AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 8
""", priority=PRI_TAIL)
def q155_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (operators/multimodal.image_ahash
    + ahash_neardup_pairs) — the IMAGE-side member of the near-dup
    family (MinHash q29 / SimHash q33 / embedding q60 / SemDeDup q127):
    aHash fingerprints from the Arrow mapInPandas decoder (the
    deterministic fake decoder the oracle replays byte-exactly — the
    q36 contract), four 16-bit bands generate candidates via equi-join
    (never all-pairs), bit_count verifies hamming ≤ 8. The oracle
    re-derives every pixel, bit, band, candidate, and distance in SQL,
    so even the Python-side decode+pack is hash-verified end to end."""
    from powerdatapipeline_spark.operators import multimodal as mm

    docs = (_t(spark, sf_dir, "documents")
            .selectExpr("doc_id", "CAST(text AS BINARY) AS blob"))
    hashes = mm.image_ahash(docs, fake=True)
    return mm.ahash_neardup_pairs(hashes, max_hamming=8)


_CDC_FOOTER = " @@SHARED LICENSE FOOTER: this block repeats verbatim on every page of the corpus; content-defined boundaries inside it realign across documents regardless of the preceding text length, which is exactly what fixed-width chunking cannot do.@@"


@register("q156_cdc_chunk_dedup", """
WITH base AS (
  SELECT doc_id, text || ' @@SHARED LICENSE FOOTER: this block repeats verbatim on every page of the corpus; content-defined boundaries inside it realign across documents regardless of the preceding text length, which is exactly what fixed-width chunking cannot do.@@' AS t FROM documents),
ch AS (SELECT doc_id, t,
  list_filter(generate_series(8, length(t)), i ->
    CAST(('0x' || substr(md5(substr(t, i - 7, 8)), 1, 8)) AS BIGINT)
      % 64 = 0) AS bnds
  FROM base),
raw AS (
  SELECT doc_id, u.k AS kk,
         CASE WHEN u.k = 1 THEN 1 ELSE bnds[u.k - 1] + 1 END AS s,
         CASE WHEN u.k <= len(bnds) THEN bnds[u.k]
              ELSE length(t) END AS e,
         t
  FROM ch, unnest(generate_series(1, len(bnds) + 1)) AS u(k)),
valid AS (SELECT doc_id, md5(substr(t, s, e - s + 1)) AS chunk_md5,
                 CAST(e - s + 1 AS BIGINT) AS chunk_len
          FROM raw WHERE e >= s),
counts AS (SELECT chunk_md5,
                  CAST(count(*) AS BIGINT) AS n_occurrences,
                  CAST(min(chunk_len) AS BIGINT) AS chunk_len
           FROM valid GROUP BY 1),
tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS n_chunks_total,
               CAST(count(*) AS BIGINT) AS n_distinct_chunks
        FROM counts)
SELECT * FROM (
  SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC,
                                 chunk_md5 ASC) AS BIGINT) AS dup_rank,
         chunk_md5, n_occurrences, chunk_len,
         n_chunks_total, n_distinct_chunks,
         round(1.0 - CAST(n_distinct_chunks AS DOUBLE) / n_chunks_total,
               6) AS dup_share
  FROM counts CROSS JOIN tot) WHERE dup_rank <= 10
""", priority=PRI_TAIL)
def q156_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + corpus chunk-dedup report (operators/
    text.cdc_chunk_rows/cdc_dedup_report; the Rabin/LBFS rule) — the
    SHIFT-ROBUST member of the dedup family: q126 removes exact
    repeats, q85 approximates with fixed-width windows, CDC cuts where
    the CONTENT says so, so a one-byte prefix edit realigns every later
    chunk. The query appends a deterministic shared license footer to
    every document (both engines build the same corpus): its interior
    boundaries fall at the same content positions in every doc despite
    different preceding lengths, so the footer's chunks repeat
    corpus-wide — the top of the dup ranking proves realignment, and
    the dedupable share prices a chunk-level dedup pass. Pure per-doc
    HOFs; only fingerprint partials shuffle."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id",
                       F.concat(F.col("text"), F.lit(_CDC_FOOTER))
                       .alias("t"))
    return tx.cdc_dedup_report(base, "doc_id", "t")


_BINFIX_N = 200


def materialize_binary_fixture(spark: SparkSession, sf_dir: str,
                               n: int = _BINFIX_N) -> str:
    """Deterministic corpus-of-files fixture for the ``binaryFile``
    ingestion path (q125): the first ``n`` non-null documents by doc_id
    written as individual UTF-8 ``doc_<id>.txt`` files under a
    CONTENT-ADDRESSED /tmp directory.

    This is fixture SCAFFOLDING, not the operator — the operator under
    test is the distributed ``read_binary_files`` scan; a real corpus
    already exists as files. The driver-side write is bounded at ``n``
    collected rows (the fixed-size-collect discipline), and the
    directory name embeds a fingerprint of (path, n, per-doc md5) so
    repeat calls — bench runs the query many times — reuse the
    completed fixture (``_SUCCESS`` marker) instead of rewriting it,
    and any change to the underlying table re-materializes under a new
    name. Writes go to a scratch dir then an atomic rename, so a
    concurrent or killed run can never expose a half-written fixture.
    """
    import hashlib
    import os
    import shutil
    import tempfile

    rows = (_t(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull())
            .select("doc_id", "text").orderBy("doc_id").limit(n).collect())
    fp = hashlib.md5(
        ("\n".join(f"{r['doc_id']}:"
                   f"{hashlib.md5(r['text'].encode('utf-8')).hexdigest()}"
                   for r in rows)
         + f"|{os.path.abspath(sf_dir)}|{n}").encode()).hexdigest()
    dest = os.path.join(tempfile.gettempdir(), f"pdp_binfix_{fp[:12]}")
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return dest
    scratch = tempfile.mkdtemp(prefix="pdp_binfix_build_")
    for r in rows:
        with open(os.path.join(scratch, f"doc_{r['doc_id']}.txt"),
                  "wb") as f:
            f.write(r["text"].encode("utf-8"))
    with open(os.path.join(scratch, "_SUCCESS"), "w"):
        pass
    try:
        os.rename(scratch, dest)
    except OSError:
        # another run completed the same content-addressed fixture first
        shutil.rmtree(scratch, ignore_errors=True)
    return dest


@register("q125_binary_ingest",
          f"""WITH sel AS (SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL ORDER BY doc_id LIMIT {_BINFIX_N})
""" + _multimodal_oracle("sel"), priority=PRI_TAIL)
def q125_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-FILE multimodal ingestion end to end (VERDICT r7 missing
    #1): a directory of real on-disk payload files is scanned with the
    native ``binaryFile`` source (sources/readers.read_binary_files —
    listing-time glob, pushdown-able length), doc ids parsed from file
    paths, typed media metadata attached from the RAW BYTES READ OFF
    DISK, and the q36 Arrow feature extraction run over the payload
    column. The oracle recomputes byte length / md5 / fake-decoder
    pixels from the source table, so a green hash proves the
    write→list→read→decode roundtrip is byte-exact — the n_bytes column
    comes from the file system's ``length``, the checksum from the
    file's ``content``, and both must equal the oracle's
    ``encode(text)`` derivations. The reference has no file-corpus
    analog (CSV-only, SURVEY §2.1); this is the missing source for the
    multimodal north star."""
    from powerdatapipeline_spark.operators import multimodal as mm
    from powerdatapipeline_spark.sources import readers as rd

    fix_dir = materialize_binary_fixture(spark, sf_dir)
    # coalesce(1): the fixture is BOUNDED at _BINFIX_N tiny files (a
    # roundtrip-exactness check, not a throughput path), yet the scan's
    # openCostInBytes accounting split 200 files across
    # defaultParallelism tasks — 29 single-worker Python tasks for
    # ~100 KB of payload, each paying task + Arrow + (cold) worker
    # setup (measured 13-31 s when the worker pool was cold under full
    # session load, guide §6 small-files). One task fits the data by
    # orders of magnitude; real unbounded binaryFile corpora use
    # read_binary_files directly and keep their wide scans.
    bf = rd.read_binary_files(spark, fix_dir, glob="*.txt").coalesce(1)
    docs = bf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long").alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.col("content").alias("blob"))
    docs = mm.with_media_metadata(docs, media_type="text", fmt="utf-8")
    feats = mm.extract_image_features(docs, fake=True)
    return (docs.select("doc_id", "n_bytes",
                        F.col("meta.checksum").alias("checksum"))
            .join(feats, "doc_id")
            .select("doc_id", "n_bytes", "checksum", "mean_pixel"))


# ===========================================================================
# Registry ordering — the driver's correctness snapshot records at most 50
# entries (CORRECTNESS_r{3,4}.json both hold exactly the first 50), so the
# dict order IS the verification budget. It is derived, not hand-listed
# (VERDICT r6 #8): entries sort by (priority desc, registration order) and
# the first 50 form the recorded head. Rotation = editing one query's
# ``priority=`` argument.
#
# Invariant since round 10: EVERY registry query has at least one green
# driver record (rotations r7/r8/r9/r10 walked the whole registry through
# the 50-entry window — ledger in COVERAGE.md). Rotation is now needed
# only for NEW entries: register them at default PRI_HEAD and demote an
# equal number of freshly-recorded heads to PRI_TAIL. Demoted entries
# keep their oracles and still run in tools/check_parity.py, the
# tail-parity pytest (sf0.001+sf0.01 strict compare) and the sf0.1 sweep.
#
# --- round-8d additions ---------------------------------------------------

_BIGRAM_LAM = 0.8


@register("q157_bigram_lm", rf"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t FROM documents),
pos AS (SELECT doc_id, t, unnest(generate_series(2, len(t))) AS i
        FROM toks WHERE len(t) >= 2),
docbg AS (SELECT doc_id, t[i-1] AS w1, t[i] AS w2 FROM pos),
dtf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM docbg GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM dtf GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
uni AS (SELECT unnest(t) AS w FROM toks),
c2 AS (SELECT w AS w2, CAST(count(*) AS BIGINT) AS c2 FROM uni GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM uni),
lp AS (SELECT d.doc_id, d.tf,
         round(ln({_BIGRAM_LAM!r} * (CAST(c12.c12 AS DOUBLE)
                                     / CAST(c1.c1 AS DOUBLE))
               + {1.0 - _BIGRAM_LAM!r} * (CAST(c2.c2 AS DOUBLE)
                                          / tot.total)), 6) AS lnp
       FROM dtf d JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
            JOIN c2 ON c2.w2 = d.w2 CROSS JOIN tot)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       round(CAST(-sum(CAST(tf * lnp AS DECIMAL(28,12))) AS DOUBLE)
             / sum(tf), 6) AS avg_neg_logprob
FROM lp GROUP BY doc_id
""", priority=PRI_TAIL)
def q157_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM cross-entropy per document
    (operators/text.bigram_logprob) — the next rung of the CCNet-style
    perplexity filter above the unigram model (q81): ``p(w2|w1) =
    λ·c(w1,w2)/c(w1,·) + (1−λ)·c(w2)/T`` fit on the corpus itself, so
    every document bigram is observed and smoothing edge cases vanish.
    Bigrams come from a NARROW per-doc tail-zip (the q150 BPE shape, no
    positional self-join); corpus bigram tables join back on their own
    grouping keys (NOT force-broadcast — a 100 TB bigram vocabulary
    doesn't fit an executor; AQE may still pick broadcast when it fits)
    and only the scalar token total broadcasts. The λ-interpolation
    constants are repr()'d into the oracle so both engines evaluate the
    bit-identical IEEE expression; ln rounded to 6, decimal fold."""
    return tx.bigram_logprob(_t(spark, sf_dir, "documents"),
                             lam=_BIGRAM_LAM)


@register("q158_rolling_distinct", """
WITH du AS (SELECT DISTINCT CAST(floor(epoch(ts)/86400.0) AS BIGINT) AS day,
                   user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
ex AS (SELECT du.day + g.o AS wday, du.user_id
       FROM du, generate_series(0, 6) AS g(o)),
win AS (SELECT ex.wday, ex.user_id FROM ex JOIN days ON days.day = ex.wday)
SELECT wday AS window_end_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
       CAST(count(*) AS BIGINT) AS n_id_buckets
FROM win GROUP BY 1
""", priority=PRI_TAIL)
def q158_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day
    (operators/timeseries.rolling_distinct) — the "7-day active users"
    OLAP staple that COUNT(DISTINCT) OVER RANGE cannot express in
    either engine: one distinct (day,user) pass over raw events, a
    narrow ≤7× replicate to each window end (the range_join_bucketed
    trick applied to a rolling frame), a broadcast semi-join against
    the tiny observed-day set, one final countDistinct. The 100 TB
    production path is the HLL twin (rolling_distinct_sketch —
    replicates fixed-size per-day SKETCHES instead of id pairs, fan-out
    independent of cardinality; pytest pins it within the 3σ accuracy
    contract of this exact, oracle-verified variant)."""
    return ts.rolling_distinct(_t(spark, sf_dir, "events"))


@register("q159_asof_nearest", """
WITH l AS (SELECT event_id, user_id, epoch(ts) AS ets FROM events
           WHERE event_type = 'purchase'),
r AS (SELECT user_id, epoch(ts) AS rts, CAST(count(*) AS BIGINT) AS n_clicks,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
cand AS (SELECT l.event_id, r.rts, r.n_clicks, r.click_value,
                abs(l.ets - r.rts) AS gap,
                CASE WHEN r.rts <= l.ets THEN 0 ELSE 1 END AS fwd
         FROM l JOIN r ON r.user_id = l.user_id
                      AND abs(l.ets - r.rts) <= 1800),
pick AS (SELECT *, row_number() OVER (PARTITION BY event_id
                  ORDER BY gap, fwd) AS rn FROM cand)
SELECT l.event_id, l.user_id, l.ets,
       p.rts AS near_ts, p.n_clicks AS near_n_clicks,
       p.click_value AS near_click_value,
       CASE WHEN p.fwd = 0 THEN 'backward'
            WHEN p.fwd = 1 THEN 'forward' END AS near_direction,
       p.gap AS near_gap_s
FROM l LEFT JOIN pick p ON p.event_id = l.event_id AND p.rn = 1
""", priority=PRI_TAIL)
def q159_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join with tolerance
    (operators/timeseries.asof_join_nearest — pandas
    ``merge_asof(direction='nearest')``): every purchase matches its
    closest same-user click within 30 min, before OR after, ties
    preferring the earlier side; unmatched purchases survive with
    NULLs. The Spark side is the q37 tag-union single-shuffle shape
    with BOTH a backward ``last(ignorenulls)`` and a forward
    ``first(ignorenulls)`` over one window ordering — never an
    inequality join; the oracle deliberately states the naive
    |L|×|R| candidate join + rank, so the green hash proves the
    window rewrite is an implementation detail. Clicks pre-aggregate
    per (user, ts) to satisfy the operator's determinism contract."""
    ev = _t(spark, sf_dir, "events")
    left = (ev.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id",
                    F.col("ts").cast("double").alias("ets")))
    right = (ev.where(F.col("event_type") == "click")
             .groupBy("user_id", F.col("ts").cast("double").alias("ets"))
             .agg(F.count("*").cast("bigint").alias("n_clicks"),
                  F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                          .cast("double"), 6).alias("click_value")))
    return ts.asof_join_nearest(left, right, ["user_id"], "ets",
                                ["n_clicks", "click_value"], 1800.0)


@register("q160_scan_stats", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       min(event_id) AS min_event_id, max(event_id) AS max_event_id,
       min(user_id) AS min_user_id, max(user_id) AS max_user_id,
       min(value) + 0.0 AS min_value, max(value) + 0.0 AS max_value
FROM events
""", priority=PRI_TAIL)
def q160_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only dataset profile (sources/readers.scan_stats):
    COUNT(*) + id/value MIN/MAX answered from parquet FOOTER statistics
    via DSv2 aggregate pushdown — the plan's scan carries
    ``PushedAggregation: [COUNT(*), MIN(event_id), ...]`` and reads
    O(#files) footer bytes instead of O(rows) data pages, which is the
    difference between a catalog lookup and a cluster job at 100 TB.
    A pytest pins the PushedAggregation plan shape (the conf key is
    easy to misspell — CamelCase silently no-ops) and the helper
    refuses string/timestamp min-max upfront because their footer stats
    are truncated/rebased and would silently fall back to a full scan.
    The oracle computes the same profile the honest way, so the hash
    also proves footer stats agree with the data."""
    from powerdatapipeline_spark.sources import readers as rd
    return rd.scan_stats(spark, f"{sf_dir}/events.parquet",
                         min_max_cols=["event_id", "user_id", "value"])


@register("q161_frame_sample", """
WITH n AS (SELECT doc_id, text AS t,
       least(CAST(ceil(length(text) / 64.0) AS BIGINT), 6) AS nf
       FROM documents),
idx AS (SELECT doc_id, t,
        unnest(generate_series(0, greatest(nf - 1, 0))) AS frame_idx FROM n)
SELECT doc_id, frame_idx,
       CAST(length(substr(t, CAST(frame_idx * 64 + 1 AS BIGINT), 64))
            AS BIGINT) AS frame_len,
       md5(substr(t, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5
FROM idx
""", priority=PRI_TAIL)
def q161_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing, oracle-paired
    (operators/multimodal.frame_sample — the north star names
    frame-sample explicitly; previously pytest-only): each payload
    splits into ≤6 byte-range "frames" of 64 bytes via a NARROW
    1→N explode (no shuffle — the partition-preserving expansion a
    real ffmpeg sampler would ride), then per-frame length + md5
    fingerprints. Payloads are the documents' bytes (the q155 fixture
    convention); the oracle re-derives every frame boundary, length,
    and digest from VARCHAR substr — byte-exact because the corpus is
    ASCII (asserted by the fixture contract) — so the binary
    slicing path is hash-verified end to end. Real codec decode
    stays behind the q36 env-gate; the byte plumbing here is what a
    100 TB video corpus actually exercises."""
    from powerdatapipeline_spark.operators import multimodal as mm
    blobs = (_t(spark, sf_dir, "documents")
             .select("doc_id", F.col("text").cast("binary").alias("blob")))
    return (mm.frame_sample(blobs, every_n_bytes=64, max_frames=6)
            .select("doc_id",
                    F.col("frame_idx").cast("bigint").alias("frame_idx"),
                    F.length("frame").cast("bigint").alias("frame_len"),
                    F.md5("frame").alias("frame_md5")))


@register("q162_group_reservoir", """
WITH s AS (SELECT source, doc_id, n_chars,
    row_number() OVER (PARTITION BY source ORDER BY
      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT) + 1) / 1152921504606846976.0 ASC, doc_id ASC) AS rn
  FROM documents)
SELECT source, doc_id, n_chars FROM s WHERE rn <= 5
""", priority=PRI_TAIL)
def q162_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-per-group sample
    (operators/relational.group_reservoir_sample) — "5 eval examples
    per source", the exact-count per-stratum member of the sampling
    family (global weighted draw q99, fraction-based stratified q69):
    rows rank inside each group by the md5-derived uniform (the same
    engine-portable primitive as hash_split), keep the 5 smallest.
    Reservoir semantics (every k-subset equally likely) without RNG
    state — rerun-, partitioning-, and engine-stable, which is why the
    oracle reproduces the identical rows. One shuffle on the group key
    into a rank window Spark rewrites to WindowGroupLimit (per-task
    top-k heaps — a skewed group never materializes)."""
    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return rel.group_reservoir_sample(d, ["source"], "doc_id", 5)


@register("q163_prefix_filter_jaccard", r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> array_to_string(t[i:i+2], ' '))) AS g FROM toks),
ex0 AS (SELECT doc_id, len(g) AS sh_n, unnest(g) AS s0 FROM sh),
ex AS (SELECT doc_id, sh_n, md5(s0) AS s FROM ex0),
dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY 1),
ranked AS (SELECT e.doc_id, e.sh_n, e.s,
             row_number() OVER (PARTITION BY e.doc_id
                 ORDER BY d.df ASC, e.s ASC) AS r
           FROM ex e JOIN dfreq d USING (s)),
prefix AS (SELECT * FROM ranked
           WHERE r <= sh_n - CAST(ceil(0.5 * sh_n) AS BIGINT) + 1),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
              AND b.sh_n >= CAST(ceil(0.5 * a.sh_n) AS BIGINT)
              AND b.sh_n * 0.5 <= a.sh_n),
inter AS (SELECT c.id_a, c.id_b, ea.sh_n AS n_a, eb.sh_n AS n_b,
                 count(*) AS n_inter
          FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
               JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
          GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, round(CAST(n_inter AS DOUBLE)
                         / (n_a + n_b - n_inter), 6) AS jaccard
FROM inter
WHERE round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) >= 0.5
""", priority=PRI_TAIL)
def q163_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filter similarity join (operators/dedup.
    prefix_filter_jaccard_pairs — AllPairs/PPJoin, Bayardo et al.
    2007): the EXACT sub-quadratic upgrade of the full inverted-index
    Jaccard baseline (q91): under a global rarest-first shingle order,
    any pair with J ≥ τ must collide inside its |S|−⌈τ|S|⌉+1 rarest
    shingles, so the index join shrinks from Σ df(g)² over ALL
    shingles to prefix postings only — built from exactly the grams
    where df² is smallest — plus a τ·|A| ≤ |B| ≤ |A|/τ length prune.
    Output is PROVABLY identical to q91 at the same τ (pytest pins
    prefix ≡ baseline); the oracle replays df ranks, prefixes,
    candidates, and verification."""
    return dd.prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5, unit="word")


_KMV_K = 64


@register("q164_kmv_overlap", f"""
WITH du AS (SELECT DISTINCT event_type AS g, user_id FROM events),
hv0 AS (SELECT DISTINCT g,
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv FROM du),
sk AS (SELECT * FROM (SELECT g, hv, row_number() OVER (
           PARTITION BY g ORDER BY hv ASC) AS rank FROM hv0)
       WHERE rank <= {_KMV_K}),
grps AS (SELECT DISTINCT g FROM sk),
pairs AS (SELECT x.g AS ga, y.g AS gb FROM grps x JOIN grps y ON x.g < y.g),
la AS (SELECT p.ga, p.gb, e.hv, 1 AS in_a, 0 AS in_b
       FROM pairs p JOIN sk e ON e.g = p.ga),
lb AS (SELECT p.ga, p.gb, e.hv, 0 AS in_a, 1 AS in_b
       FROM pairs p JOIN sk e ON e.g = p.gb),
merged AS (SELECT ga, gb, hv, max(in_a) AS in_a, max(in_b) AS in_b
           FROM (SELECT * FROM la UNION ALL SELECT * FROM lb)
           GROUP BY 1, 2, 3),
kept AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY ga, gb ORDER BY hv ASC) AS r FROM merged)
         WHERE r <= {_KMV_K}),
agg AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_merged,
               max(hv) AS vk,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both
        FROM kept GROUP BY 1, 2),
raw AS (SELECT ga, gb, n_merged,
          CASE WHEN n_merged < {_KMV_K} THEN CAST(n_merged AS DOUBLE)
               ELSE {float(_KMV_K - 1)!r} * 1152921504606846976.0
                    / CAST(vk AS DOUBLE)
          END AS eu,
          CAST(n_both AS DOUBLE) / n_merged AS jac
        FROM agg)
SELECT ga AS set_a, gb AS set_b, n_merged,
       round(eu, 6) AS est_union, round(jac, 6) AS jaccard_est,
       round(jac * eu, 6) AS est_intersection
FROM raw
""", priority=PRI_TAIL)
def q164_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k set-overlap estimates between per-event-type user
    sets (operators/stats.kmv_sketch + kmv_set_compare — Bar-Yossef et
    al. 2002, the theta-sketch family's deterministic core): the
    distinct-INTERSECTION estimator HLL cannot provide. Sketches are
    plain ≤k-row BIGINT frames — mergeable by union+re-rank,
    persistable as parquet — and because the hash is the repo's
    engine-portable md5 primitive (no RNG state) every ESTIMATE is
    exactly hash-verified by the oracle, not just accuracy-contracted.
    After the one sketch pass, comparing any number of set pairs costs
    O(pairs·k), independent of raw cardinality."""
    from powerdatapipeline_spark.operators import stats as st

    sk = st.kmv_sketch(_t(spark, sf_dir, "events"), "event_type",
                       "user_id", k=_KMV_K)
    return st.kmv_set_compare(sk, _KMV_K)


@register("q165_heaps_law", r"""
WITH base AS (
  SELECT doc_id AS d, list_filter(regexp_split_to_array(lower(text),
         '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t FROM documents),
ntok AS (SELECT d, len(t) AS nt FROM base),
terms AS (SELECT d, unnest(t) AS w FROM base),
fo AS (SELECT w, min(d) AS fd FROM terms GROUP BY 1),
newv AS (SELECT fd, count(*) AS nv FROM fo GROUP BY 1),
spine AS (SELECT n.d, n.nt, coalesce(v.nv, 0) AS nv
          FROM ntok n LEFT JOIN newv v ON v.fd = n.d),
pts0 AS (SELECT d,
           CAST(sum(nt) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS ct,
           CAST(sum(nv) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS cv
         FROM spine),
pts AS (SELECT round(ln(CAST(ct AS DOUBLE)), 6) AS x,
               round(ln(CAST(cv AS DOUBLE)), 6) AS y, ct, cv
        FROM pts0 WHERE ct > 0 AND cv > 0),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
          max(ct) AS total_tokens, max(cv) AS total_vocab,
          CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
          CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
          CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
          CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        FROM pts)
SELECT n AS n_points, total_tokens, total_vocab,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS beta,
       round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE), 6) AS log_k
FROM agg
""", priority=PRI_TAIL)
def q165_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (operators/text.heaps_law_fit)
    — V(N) ≈ k·N^β beside the Zipf rank-frequency fit (q111): β far
    from the ~0.4-0.6 natural-text band flags templated corpora (β→0)
    or id-soup (β→1). The cumulative-distinct curve costs ONE corpus
    pass via the first-occurrence trick (V_d = running sum of terms
    first seen at each doc — no per-prefix distinct scans); OLS in
    closed form over decimal-folded sums."""
    return tx.heaps_law_fit(_t(spark, sf_dir, "documents"))


@register("q166_sorted_neighborhood", """
WITH r AS (SELECT p_partkey AS k, p_name AS s,
             row_number() OVER (ORDER BY p_name ASC, p_partkey ASC) AS rn
           FROM part),
cand AS (SELECT a.k AS key_a, b.k AS key_b, a.s AS sort_a, b.s AS sort_b,
                CAST(b.rn - a.rn AS BIGINT) AS rank_gap
         FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4)
SELECT key_a, key_b, sort_a, sort_b, rank_gap,
       CAST(levenshtein(sort_a, sort_b) AS BIGINT) AS lev
FROM cand WHERE levenshtein(sort_a, sort_b) <= 4
""", priority=PRI_TAIL)
def q166_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking
    (operators/dedup.sorted_neighborhood_pairs — Hernández & Stolfo
    1995): the third candidate-generation strategy beside hash
    blocking and LSH banding — sort parts on the fuzzy name key,
    compare each record to its 4 successors only (O(n·w) candidates),
    verify with Levenshtein ≤ 4. The Spark side replicates each rank
    to its trailing window and EQUI-joins on rank (never an inequality
    join — the oracle deliberately states the naive rank-range join);
    at 100 TB the global rank becomes repartitionByRange +
    per-partition ranks with a w-row boundary overlap (the q104
    pattern), same output."""
    sn = dd.sorted_neighborhood_pairs(_t(spark, sf_dir, "part"),
                                      "p_partkey", "p_name", window=5)
    # banded 3-arg levenshtein: lev >= 0 ≡ levenshtein <= 4, exact
    # distances on kept rows (dedup.fuzzy_blocked_match's round-16 note)
    return (sn.withColumn("lev",
                          F.levenshtein("sort_a", "sort_b", 4)
                          .cast("bigint"))
            .where(F.col("lev") >= 0))



@register("q167_triangle_count", """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % 7 = 0),
e AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
             greatest(a.l_partkey, b.l_partkey) AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey <> b.l_partkey),
deg AS (SELECT n, count(*) AS deg FROM (
          SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
keyed AS (SELECT n, CAST(deg AS BIGINT) * 1000000000 + n AS ok FROM deg),
o AS (SELECT CASE WHEN ku.ok < kv.ok THEN e.u ELSE e.v END AS a,
             CASE WHEN ku.ok < kv.ok THEN e.v ELSE e.u END AS b,
             CASE WHEN ku.ok < kv.ok THEN kv.ok ELSE ku.ok END AS ok_b
      FROM e JOIN keyed ku ON ku.n = e.u JOIN keyed kv ON kv.n = e.v),
wed AS (SELECT w1.b AS wa, w2.b AS wb
        FROM o w1 JOIN o w2 ON w1.a = w2.a AND w1.ok_b < w2.ok_b),
tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM wed JOIN o ON o.a = wed.wa AND o.b = wed.wb),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(CAST(deg * (deg - 1) / 2 AS BIGINT)) AS BIGINT)
                AS n_wedges FROM deg),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 6)
         AS global_clustering
FROM tri, st, ne
""", priority=PRI_TAIL)
def q167_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient over the
    part co-purchase graph (operators/graph.triangle_count — the
    second classic graph workload beside PageRank q135): parts sharing
    an order (1-in-7 order sample keeps edge density honest) form
    undirected edges; each edge is ORIENTED from its (degree,id)-
    smaller endpoint (Suri & Vassilvitskii's node-iterator++), capping
    every out-degree at O(√|E|) so the wedge self-join is |E|^1.5-
    bounded REGARDLESS of hub skew — the algorithmic rewrite no
    optimizer finds. All equi-joins; the oracle replays orientation,
    wedges, and closures, so the count is hash-verified."""
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_orderkey") % 7 == 0)
          .select("l_orderkey", "l_partkey").distinct())
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return gr.triangle_count(edges)


@register("q168_acf", """
WITH s AS (SELECT CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS b,
                  CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
                    / count(*) AS x
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
           GROUP BY 1),
g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM s),
p AS (SELECT gs.o AS lag, a.x AS x0, k.x AS xk
      FROM s a CROSS JOIN generate_series(1, 12) AS gs(o)
      JOIN s k ON k.b = a.b + gs.o),
pl AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(sum(CAST(x0 AS DECIMAL(28,12))) AS DOUBLE) AS s0,
              CAST(sum(CAST(xk AS DECIMAL(28,12))) AS DOUBLE) AS sk,
              CAST(sum(CAST(x0*xk AS DECIMAL(28,12))) AS DOUBLE) AS s0k
       FROM p GROUP BY 1)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       CASE WHEN sxx - CAST(n AS DOUBLE)*(sx/CAST(n AS DOUBLE))
                         *(sx/CAST(n AS DOUBLE)) > 0 THEN
         round((s0k - (sx/CAST(n AS DOUBLE))*s0 - (sx/CAST(n AS DOUBLE))*sk
                + CAST(n_pairs AS DOUBLE)*(sx/CAST(n AS DOUBLE))
                  *(sx/CAST(n AS DOUBLE)))
               / (sxx - CAST(n AS DOUBLE)*(sx/CAST(n AS DOUBLE))
                          *(sx/CAST(n AS DOUBLE))), 6) END AS acf
FROM pl CROSS JOIN g
ORDER BY lag
""", priority=PRI_TAIL)
def q168_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1-12h over the hourly-bucketed
    event-value series (operators/timeseries.acf) — the seasonality/
    persistence diagnostic that DISCOVERS a period in the signal,
    where the seasonal profile (q96) assumes one. Each bucket row is
    replicated once per lag and EQUI-joined back on bucket+k (one join
    for all 12 lags, no global-order window — the aggregated series
    stays hash-partitioned by bucket, a narrow 12x fan-out at any
    scale); pairwise-available semantics over grid gaps with the
    full-series variance as normalizer; decimal-exact raw moments so
    the oracle reproduces every double bit-for-bit."""
    return ts.acf(_t(spark, sf_dir, "events"), max_lag=12,
                  bucket_seconds=3600)


@register("q169_fs_linkage", """
WITH d AS (SELECT c_custkey AS id,
             CAST(floor(c_acctbal/1000) AS BIGINT) AS v_bal,
             CAST(floor(c_custkey/100) AS BIGINT) AS v_cohort,
             right(c_name, 1) AS v_digit,
             concat_ws('|', c_nationkey, c_mktsegment) AS bk
           FROM customer),
u_bal AS (SELECT CAST(sum(c*(c-1)) AS DOUBLE)
            / (CAST(sum(c) AS DOUBLE) * CAST(sum(c)-1 AS DOUBLE)) AS u
          FROM (SELECT count(*) AS c FROM d WHERE v_bal IS NOT NULL
                GROUP BY v_bal)),
u_coh AS (SELECT CAST(sum(c*(c-1)) AS DOUBLE)
            / (CAST(sum(c) AS DOUBLE) * CAST(sum(c)-1 AS DOUBLE)) AS u
          FROM (SELECT count(*) AS c FROM d WHERE v_cohort IS NOT NULL
                GROUP BY v_cohort)),
u_dig AS (SELECT CAST(sum(c*(c-1)) AS DOUBLE)
            / (CAST(sum(c) AS DOUBLE) * CAST(sum(c)-1 AS DOUBLE)) AS u
          FROM (SELECT count(*) AS c FROM d WHERE v_digit IS NOT NULL
                GROUP BY v_digit)),
w AS (SELECT round(log2(0.95 / u_bal.u), 6) AS wa_bal,
             round(log2(0.050000000000000044 / (1.0 - u_bal.u)), 6) AS wd_bal,
             round(log2(0.85 / u_coh.u), 6) AS wa_cohort,
             round(log2(0.15000000000000002 / (1.0 - u_coh.u)), 6)
               AS wd_cohort,
             round(log2(0.9 / u_dig.u), 6) AS wa_digit,
             round(log2(0.09999999999999998 / (1.0 - u_dig.u)), 6) AS wd_digit
      FROM u_bal, u_coh, u_dig),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM d a JOIN d b ON a.bk = b.bk AND a.id < b.id),
sc AS (SELECT (a.v_bal = b.v_bal) IS TRUE AS agree_bal,
              (a.v_cohort = b.v_cohort) IS TRUE AS agree_cohort,
              (a.v_digit = b.v_digit) IS TRUE AS agree_digit,
              round((CASE WHEN (a.v_bal = b.v_bal) IS TRUE
                          THEN wa_bal ELSE wd_bal END)
                    + (CASE WHEN (a.v_cohort = b.v_cohort) IS TRUE
                            THEN wa_cohort ELSE wd_cohort END)
                    + (CASE WHEN (a.v_digit = b.v_digit) IS TRUE
                            THEN wa_digit ELSE wd_digit END), 6) AS score
       FROM cand p JOIN d a ON a.id = p.id_a JOIN d b ON b.id = p.id_b
       CROSS JOIN w)
SELECT CASE WHEN score >= 2.0 THEN 'match'
            WHEN score >= -2.0 THEN 'possible'
            ELSE 'non_match' END AS link_class,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_score,
       CAST(sum(CASE WHEN agree_bal THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree_bal,
       CAST(sum(CASE WHEN agree_cohort THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree_cohort,
       CAST(sum(CASE WHEN agree_digit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree_digit
FROM sc GROUP BY 1
""", priority=PRI_TAIL)
def q169_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over (nation,
    segment)-blocked customer pairs (operators/dedup.fs_linkage) — the
    decision-theoretic scoring layer above the repo's candidate
    generators (hash blocking q64, sorted neighborhood q166, LSH
    banding q29): log2(m/u) evidence weights where the u-probabilities
    are ESTIMATED from the value-frequency distribution (agreement on
    a rare acctbal bucket outweighs agreement on a common name digit),
    m declared per field. No EM iteration, so every weight
    and every pair score is replayed exactly by the oracle; the
    summary classifies pairs at the +/-2.0 log-odds thresholds."""
    cust = _t(spark, sf_dir, "customer")
    comparisons = {
        "bal": F.floor(F.col("c_acctbal") / 1000).cast("bigint"),
        "cohort": F.floor(F.col("c_custkey") / 100).cast("bigint"),
        "digit": F.substring("c_name", -1, 1),
    }
    m_probs = {"bal": 0.95, "cohort": 0.85, "digit": 0.9}
    blocks = [F.concat_ws("|", F.col("c_nationkey"),
                          F.col("c_mktsegment"))]
    pairs = dd.fs_linkage(cust, "c_custkey", blocks, comparisons, m_probs)
    cls = (F.when(F.col("score") >= 2.0, "match")
           .when(F.col("score") >= -2.0, "possible")
           .otherwise("non_match"))
    return (pairs.groupBy(cls.alias("link_class")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.sum(F.col("score").cast("decimal(18,6)"))
                .cast("double"), 6).alias("sum_score"),
        F.sum(F.when(F.col("agree_bal"), 1).otherwise(0)).cast("bigint")
        .alias("n_agree_bal"),
        F.sum(F.when(F.col("agree_cohort"), 1).otherwise(0)).cast("bigint")
        .alias("n_agree_cohort"),
        F.sum(F.when(F.col("agree_digit"), 1).otherwise(0)).cast("bigint")
        .alias("n_agree_digit")))


@register("q170_containment", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks),
ex AS (SELECT doc_id, len(g) AS sh_n, unnest(g) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sh_n AS n_a, b.sh_n AS n_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
both_dirs AS (
  SELECT id_a AS src, id_b AS dst, CAST(n_a AS BIGINT) AS n_src, n_inter
  FROM inter
  UNION ALL
  SELECT id_b AS src, id_a AS dst, CAST(n_b AS BIGINT) AS n_src, n_inter
  FROM inter)
SELECT src, dst, n_src, n_inter,
       round(CAST(n_inter AS DOUBLE) / n_src, 6) AS containment
FROM both_dirs
WHERE round(CAST(n_inter AS DOUBLE) / n_src, 6) >= 0.7
""", priority=PRI_TAIL)
def q170_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional word-3-gram containment pairs C(A->B) = |A inter B|
    / |A| (operators/dedup.containment_pairs — Broder 1997's asymmetric
    companion to the q91 Jaccard baseline): a short doc quoted inside a
    much longer one scores ~1 in the short->long direction while its
    Jaccard drowns in the big union — the right primitive for excerpt/
    subset-duplication detection. Same md5-shingle inverted-index
    candidate join and Sum(df^2) cost model as q91; each undirected
    candidate emits both directions normalized by its own source
    size."""
    return dd.containment_pairs(_t(spark, sf_dir, "documents"), n=3,
                                threshold=0.7, unit="word")


def _trunc_recall_oracle(dims=(8, 16, 32), full=64, k=10, nq=5) -> str:
    """DuckDB twin of similarity.truncation_recall: per-dim brute-force
    top-k with the PLAIN-DOUBLE left fold (list_reduce ≡ Spark
    aggregate term-for-term, the q98 construction) so every truncated
    cosine is bit-identical, then hit counts against the full-dim
    ranking."""
    def fold(t1: str, t2: str, d: int) -> str:
        return ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                f"list_transform(generate_series(1, {d}), "
                f"i -> CAST({t1}.embedding[i] AS DOUBLE) * "
                f"CAST({t2}.embedding[i] AS DOUBLE))), "
                "(acc, x) -> acc + x)")

    def ranked(d: int) -> str:
        cos = (f"CASE WHEN sqrt({fold('a', 'a', d)}) > 0 AND "
               f"sqrt({fold('b', 'b', d)}) > 0 THEN "
               f"round({fold('a', 'b', d)} / (sqrt({fold('a', 'a', d)}) "
               f"* sqrt({fold('b', 'b', d)})), 6) END")
        return (f"SELECT query_id, vec_id FROM ("
                f"SELECT b.vec_id AS query_id, a.vec_id, "
                f"row_number() OVER (PARTITION BY b.vec_id "
                f"ORDER BY {cos} DESC, a.vec_id) AS rank "
                f"FROM embeddings a CROSS JOIN embeddings b "
                f"WHERE b.vec_id < {nq}) WHERE rank <= {k}")

    parts = [f"full_k AS ({ranked(full)})",
             "nf AS (SELECT CAST(count(*) AS BIGINT) AS n_full FROM full_k)"]
    unions = []
    for d in dims:
        parts.append(f"t{d} AS ({ranked(d)})")
        unions.append(
            f"SELECT CAST({d} AS BIGINT) AS dim, "
            f"CAST(count(*) AS BIGINT) AS n_hits "
            f"FROM t{d} h JOIN full_k f ON f.query_id = h.query_id "
            f"AND f.vec_id = h.vec_id")
    u = " UNION ALL ".join(unions)
    return ("WITH " + ",\n".join(parts) + f",\nhits AS ({u})\n"
            "SELECT dim, n_hits, n_full, "
            "round(CAST(n_hits AS DOUBLE) / n_full, 6) AS recall "
            "FROM hits CROSS JOIN nf")


@register("q171_truncation_recall", _trunc_recall_oracle(),
          priority=PRI_TAIL)
def q171_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation recall curve
    (operators/similarity.truncation_recall): search with only the
    first 8/16/32 of 64 embedding components and measure recall@10
    against full-dimension ground truth — the eval that picks the
    cheapest dimension clearing a recall bar BEFORE a 100 TB corpus
    commits to a truncated index. Both sides of every comparison use
    the exact brute-force scorer over the bounded 5-query probe set
    (intentional brute-force EVAL baseline, like q31 — production
    search stays LSH/IVF); every truncated cosine replays bit-exact in
    the oracle via the plain-double left fold."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return sim.truncation_recall(emb, qs, dims=[8, 16, 32], k=10)


#: shared centroid-classifier prediction CTEs (DuckDB twin of
#: similarity.centroid_predict) — prefix of the q172 calibration and
#: q176 classification-report oracles so the classifier replay has
#: exactly one SQL definition
_CENTROID_PRED_CTES = """
e AS (SELECT vec_id, label, i - 1 AS dim,
                  round(CAST(embedding[i] AS DOUBLE), 6) AS v
           FROM embeddings CROSS JOIN generate_series(1, 64) AS gs(i)),
cent AS (SELECT label AS g, dim,
                floor(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS c
         FROM e GROUP BY 1, 2),
cn AS (SELECT g, round(sqrt(CAST(sum(CAST(c*c AS DECIMAL(28,12)))
                                 AS DOUBLE)), 6) AS cn
       FROM cent GROUP BY 1),
vn AS (SELECT vec_id, round(sqrt(CAST(sum(CAST(v*v AS DECIMAL(28,12)))
                                      AS DOUBLE)), 6) AS vn
       FROM e GROUP BY 1),
d AS (SELECT e.vec_id, e.label, cent.g,
             CAST(sum(CAST(e.v * cent.c AS DECIMAL(28,12))) AS DOUBLE) AS d
      FROM e JOIN cent ON cent.dim = e.dim GROUP BY 1, 2, 3),
sc AS (SELECT d.vec_id, d.label, d.g,
              CASE WHEN vn.vn > 0 AND cn.cn > 0
                   THEN floor(d.d / (vn.vn * cn.cn) * 1000000.0 + 0.5)
                        / 1000000.0
                   ELSE -1.0 END AS cos
       FROM d JOIN cn ON cn.g = d.g JOIN vn ON vn.vec_id = d.vec_id),
pred AS (SELECT vec_id, label, g, cos FROM (
           SELECT vec_id, label, g, cos,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, g ASC) AS rn
           FROM sc) WHERE rn = 1)"""


@register("q172_calibration", f"""
WITH {_CENTROID_PRED_CTES},
b AS (SELECT least(CAST(floor(((1.0 + cos) / 2) * 10) AS BIGINT),
                   9) AS bin,
             cos,
             (g = label) AS ok
      FROM pred)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS accuracy,
       CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) AS sum_cos
FROM b GROUP BY 1
""", priority=PRI_TAIL)
def q172_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the nearest-centroid embedding
    classifier (operators/similarity.centroid_calibration, Guo et al.
    2017 ECE binning): a quality/domain classifier whose stated 0.9
    confidence is right 70% of the time silently skews every
    confidence-thresholded curation gate, so the per-bin
    confidence-vs-accuracy gap is audited BEFORE the classifier gates
    a corpus. Centroid fit + scoring run in long form on (label, dim)
    keys — map-side reduce to #labels x dim rows, tiny centroid table
    broadcast back, no per-pair UDF — and every cosine and bin edge
    replays exactly in the oracle (the bin mean-confidence is
    published as exact components (n + sum_cos)/2n, never a
    pre-divided rounded mean — the tie-prone class)."""
    return sim.centroid_calibration(_t(spark, sf_dir, "embeddings"),
                                    n_bins=10)


@register("q173_cohen_kappa", r"""
WITH r AS (
  SELECT coalesce((length(text) >= 200
                   AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                            AS DOUBLE) / length(text) >= 0.55), FALSE) AS a,
         coalesce((len(list_filter(
                      regexp_split_to_array(lower(text),
                                            '[ \t\n\r\f\x0B]+'),
                      x -> x <> '')) >= 40
                   AND contains(lower(text), ' the ')), FALSE) AS b
  FROM documents),
c AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00,
             CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11
      FROM r)
SELECT n, n00, n01, n10, n11,
       round(CAST(n00 + n11 AS DOUBLE) / n, 6) AS po,
       round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
              + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
       CASE WHEN 1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                        + CAST(n00 + n01 AS DOUBLE)
                          * CAST(n00 + n10 AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) > 0
            THEN round((CAST(n00 + n11 AS DOUBLE) / n
                        - (CAST(n11 + n10 AS DOUBLE)
                           * CAST(n11 + n01 AS DOUBLE)
                           + CAST(n00 + n01 AS DOUBLE)
                             * CAST(n00 + n10 AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                       / (1.0 - (CAST(n11 + n10 AS DOUBLE)
                                 * CAST(n11 + n01 AS DOUBLE)
                                 + CAST(n00 + n01 AS DOUBLE)
                                   * CAST(n00 + n10 AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
                       6) END AS kappa
FROM c
""", priority=PRI_TAIL)
def q173_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two heuristic keep/drop labelers on the
    document corpus (operators/stats.cohen_kappa): labeler A = length
    >= 200 chars AND alpha ratio >= 0.55, labeler B = >= 40 tokens AND
    contains ' the ' — two plausible quality gates whose RAW agreement
    is inflated by both keeping most of the corpus; kappa reports the
    agreement in excess of chance, the number that actually justifies
    swapping one labeler for the other (or trusting a distilled
    classifier against its teacher). One map-side-combined reduce to a
    single confusion row at any corpus size."""
    from powerdatapipeline_spark.operators import stats as st
    docs = _t(spark, sf_dir, "documents")
    alpha = (F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
             .cast("double") / F.length("text"))
    a = (F.length("text") >= 200) & (alpha >= 0.55)
    b = ((F.size(tx.tokens("text")) >= 40)
         & F.lower(F.col("text")).contains(" the "))
    return st.cohen_kappa(docs, a, b)


@register("q174_seasonal_decompose", """
WITH s AS (SELECT CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS b,
                  round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
                        / count(*), 6) AS x
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
           GROUP BY 1),
contrib AS (SELECT s.b - gs.o AS t,
                   CASE WHEN abs(gs.o) = 12 THEN x / 2 ELSE x END AS term
            FROM s CROSS JOIN generate_series(-12, 12) AS gs(o)),
tr AS (SELECT t, count(*) AS m,
              CAST(sum(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS sv
       FROM contrib GROUP BY 1),
det AS (SELECT s.b, s.x, round(s.x - tr.sv / 24, 6) AS det
        FROM s JOIN tr ON tr.t = s.b WHERE tr.m = 25)
SELECT CAST(b % 24 AS BIGINT) AS phase, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(det AS DECIMAL(18,6))) AS DOUBLE) AS sum_detrended
FROM det GROUP BY 1
""", priority=PRI_TAIL)
def q174_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series (operators/timeseries.seasonal_decompose_profile) — the
    trend/seasonal split q96 skips: q96 profiles RAW values by
    hour-of-day, so any multi-day trend leaks into the "seasonal"
    shape; here a centered 2x24 moving-average trend is removed first
    (the STL precursor) and only the detrended remainder is profiled.
    The CMA is built with the q168 lag-join shape (literal-offset
    explode + equi-join, never a ROWS window over a global order);
    half-weight edge terms are EXACT power-of-two halvings of
    6-rounded values, keeping every decimal-cast term on the
    parity-safe scale-7 grid."""
    return ts.seasonal_decompose_profile(_t(spark, sf_dir, "events"),
                                         period=24, bucket_seconds=3600)


def _jsd_oracle() -> str:
    """DuckDB twin of the q175 Jensen-Shannon divergence: every
    per-word entropy term is 6-rounded then decimal-summed, and the
    pair JSD combines five such exact sums — a value that is an exact
    multiple of 1e-6 in the reals (never a .5 round-6 midpoint), so
    the final round(...,6) is tie-safe by construction."""
    h = "(-({z} * log2({z})))"
    solo = (f"round({h.format(z='(p / 2)')} - {h.format(z='p')} / 2, 6)")
    return f"""
WITH tok AS (SELECT source AS s,
                    unnest(list_filter(regexp_split_to_array(lower(text),
                        '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) AS w
             FROM documents),
cnt AS (SELECT s, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
pw AS (SELECT cnt.s, cnt.w, CAST(cnt.c AS DOUBLE) / tot.n AS p
       FROM cnt JOIN tot ON tot.s = cnt.s),
solo AS (SELECT s, w, p, {solo} AS solo6 FROM pw),
ssum AS (SELECT s, CAST(sum(CAST(solo6 AS DECIMAL(18,6))) AS DOUBLE) AS sv
         FROM solo GROUP BY 1),
inter AS (SELECT a.s AS sa, b.s AS sb, CAST(count(*) AS BIGINT) AS n_common,
                 CAST(sum(CAST(round(
                     {h.format(z='((a.p + b.p) / 2)')}
                     - ({h.format(z='a.p')} + {h.format(z='b.p')}) / 2, 6)
                   AS DECIMAL(18,6))) AS DOUBLE) AS ci,
                 CAST(sum(CAST(a.solo6 AS DECIMAL(18,6))) AS DOUBLE) AS sai,
                 CAST(sum(CAST(b.solo6 AS DECIMAL(18,6))) AS DOUBLE) AS sbi
          FROM solo a JOIN solo b ON a.w = b.w AND a.s < b.s
          GROUP BY 1, 2),
pairs AS (SELECT a.s AS sa, b.s AS sb FROM tot a JOIN tot b ON a.s < b.s)
SELECT p.sa AS src_a, p.sb AS src_b,
       CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
       round(((((sa.sv + sb.sv) + coalesce(i.ci, 0.0))
               - coalesce(i.sai, 0.0)) - coalesce(i.sbi, 0.0)), 6)
         AS jsd_bits
FROM pairs p
JOIN ssum sa ON sa.s = p.sa
JOIN ssum sb ON sb.s = p.sb
LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
"""


@register("q175_js_divergence", _jsd_oracle(), priority=PRI_TAIL)
def q175_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between per-source
    unigram distributions (operators/text.js_divergence_matrix) — the
    distribution-level drift measure beside the set-level vocabulary
    Jaccard (q136) and the binned PSI (q121): symmetric, bounded
    [0,1], and sensitive to FREQUENCY shifts Jaccard cannot see (two
    sources sharing every word but at different rates). Decomposed so
    no full-outer union-vocabulary join exists: per-source one-sided
    entropy sums + an intersection equi-join correction, every term
    6-rounded then decimal-summed, so the published JSD is an exact
    multiple of 1e-6 — tie-safe by construction. The #sources²-row
    pair universe comes from the tiny per-source totals frame (the
    q136 shape), never from corpus-sized data."""
    return tx.js_divergence_matrix(_t(spark, sf_dir, "documents"))


@register("q176_classification_report", f"""
WITH {_CENTROID_PRED_CTES},
conf AS (SELECT label AS t, g AS p, CAST(count(*) AS BIGINT) AS c
         FROM pred GROUP BY 1, 2),
tc AS (SELECT t AS cls, CAST(sum(c) AS BIGINT) AS n_true
       FROM conf GROUP BY 1),
pc AS (SELECT p AS cls, CAST(sum(c) AS BIGINT) AS n_pred
       FROM conf GROUP BY 1),
tpc AS (SELECT t AS cls, c AS tp FROM conf WHERE t = p),
base AS (SELECT coalesce(tc.cls, pc.cls) AS cls,
                CAST(coalesce(tc.n_true, 0) AS BIGINT) AS n_true,
                CAST(coalesce(pc.n_pred, 0) AS BIGINT) AS n_pred
         FROM tc FULL OUTER JOIN pc ON pc.cls = tc.cls),
m AS (SELECT b.cls, b.n_true, b.n_pred,
             CAST(coalesce(tpc.tp, 0) AS BIGINT) AS tp,
             CASE WHEN b.n_pred > 0
                  THEN CAST(coalesce(tpc.tp, 0) AS DOUBLE) / b.n_pred
             END AS pr,
             CASE WHEN b.n_true > 0
                  THEN CAST(coalesce(tpc.tp, 0) AS DOUBLE) / b.n_true
             END AS rc
      FROM base b LEFT JOIN tpc ON tpc.cls = b.cls)
SELECT cls, n_true, n_pred, tp,
       round(pr, 6) AS precision,
       round(rc, 6) AS recall,
       CASE WHEN pr + rc > 0
            THEN round(2 * pr * rc / (pr + rc), 6) END AS f1
FROM m
""", priority=PRI_TAIL)
def q176_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 for the nearest-centroid
    embedding classifier (operators/stats.classification_report over
    similarity.centroid_predict — the same classifier q172 calibrates,
    replayed from ONE shared SQL definition): the eval harness any
    corpus-gating labeler needs, published per class because a
    0.9-accuracy classifier that never predicts one class hides that
    class inside every scalar metric. One groupBy(true, pred) count
    scans the corpus once; marginals and ratios reduce the tiny
    #classes²-row confusion frame."""
    from powerdatapipeline_spark.operators import stats as st
    pred = sim.centroid_predict(_t(spark, sf_dir, "embeddings"))
    return st.classification_report(pred, "label", "g")


@register("q177_benford_audit", """
WITH c AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
                                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
                    AS digit
           FROM lineitem WHERE l_extendedprice > 0
             AND floor(l_extendedprice * 100 + 0.5) >= 1),
counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
SELECT digit, n, total,
       round(CAST(n AS DOUBLE) / total, 6) AS share,
       round(log10(1.0 + 1.0 / digit), 6) AS expected_p,
       round((n - total * round(log10(1.0 + 1.0 / digit), 6))
             * (n - total * round(log10(1.0 + 1.0 / digit), 6))
             / (total * round(log10(1.0 + 1.0 / digit), 6)), 6)
         AS chi2_term
FROM counts CROSS JOIN tot ORDER BY digit
""", priority=PRI_TAIL)
def q177_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of lineitem prices
    (operators/stats.benford_audit) — the data-forensics screen for
    fabricated or re-synthesized numeric columns, run before an
    amount column trains anything. Digit extraction avoids
    floor(log10(x)) entirely (the classic 1-ulp landmine at exact
    powers of ten): explicit floor to integer cents, then the leading
    character of the BIGINT's decimal string — engine-identical by
    construction. Expected shares 6-round the transcendental log10;
    chi-square terms combine deterministic doubles only."""
    from powerdatapipeline_spark.operators import stats as st
    return st.benford_audit(_t(spark, sf_dir, "lineitem"),
                            "l_extendedprice")


@register("q178_l_diversity", """
WITH s AS (SELECT source, lang, CAST(floor(n_chars/200) AS BIGINT) AS sb
           FROM documents),
sizes AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
          FROM s GROUP BY 1, 2),
div AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT DISTINCT source, lang, sb FROM s) GROUP BY 1, 2),
g AS (SELECT sizes.n, div.d
      FROM sizes JOIN div ON div.source = sizes.source
           AND div.lang = sizes.lang)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_diversity_groups,
       CAST(sum(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(min(d) AS BIGINT) AS min_distinct_sensitive,
       sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) = 0 AS l_diverse
FROM g
""", priority=PRI_TAIL)
def q178_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (operators/stats.l_diversity_audit,
    l=3 on quasi-identifiers (source, lang) with the document-length
    bucket as the sensitive attribute) — the privacy gate q123's
    k-anonymity misses: a 50-row quasi-identifier group is safely
    k-anonymous yet still discloses the attribute if all 50 rows
    share one sensitive value (Machanavajjhala et al. 2007). Two
    map-side-combined aggregations reduced to a single
    release/no-release row; the row-level leak list is deliberately
    not returned."""
    from powerdatapipeline_spark.operators import stats as st
    docs = (_t(spark, sf_dir, "documents")
            .withColumn("sens_bucket",
                        F.floor(F.col("n_chars") / 200).cast("bigint")))
    return st.l_diversity_audit(docs, ["source", "lang"], "sens_bucket",
                                l=3)



@register("q179_roc_auc", """
WITH s AS (SELECT vec_id, (label >= 5) AS y,
                  CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                                AS DECIMAL(28,12))) AS DOUBLE) / 64 AS score
           FROM embeddings CROSS JOIN generate_series(1, 64) AS gs(i)
           GROUP BY vec_id, label),
per AS (SELECT score,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        FROM s GROUP BY 1),
cum AS (SELECT np, nn,
               coalesce(sum(nn) OVER (ORDER BY score
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cnb
        FROM per),
agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               CAST(count(*) AS BIGINT) AS n_scores,
               CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS num
        FROM cum)
SELECT n_pos, n_neg, n_scores,
       floor(CAST(num AS DOUBLE) / (2.0 * n_pos * n_neg)
             * 1000000.0 + 0.5) / 1000000.0 AS auc,
       2.0 * (floor(CAST(num AS DOUBLE) / (2.0 * n_pos * n_neg)
                    * 1000000.0 + 0.5) / 1000000.0) - 1.0 AS gini
FROM agg WHERE n_pos > 0 AND n_neg > 0
""", priority=PRI_TAIL)
def q179_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a scalar embedding score against a binary label
    (operators/stats.binary_auc — exact Mann-Whitney U in BIGINT over
    the per-distinct-score frame): the threshold-free ranking-quality
    companion to calibration (q172) and the confusion report (q176).
    Score = mean embedding component (decimal-exact sum, power-of-two
    divide — bit-identical across engines); label = upper half of the
    class ids. Ties get the conventional half credit without per-row
    ranks: the only ordered pass runs on |distinct scores| rows, never
    the corpus."""
    from powerdatapipeline_spark.operators import stats as st
    emb = _t(spark, sf_dir, "embeddings")
    scored = (emb.select("vec_id", "label",
                         F.posexplode("embedding").alias("dim", "v"))
              .groupBy("vec_id", "label")
              .agg((F.sum(F.round(F.col("v").cast("double"), 6)
                          .cast("decimal(28,12)")).cast("double")
                    / F.lit(64)).alias("score")))
    return st.binary_auc(scored, "score", F.col("label") >= 5)


@register("q180_mutual_information", """
WITH ct AS (SELECT lang AS x, source AS y,
                   CAST(count(*) AS BIGINT) AS nxy
            FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
            GROUP BY 1, 2),
tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM ct),
mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM ct GROUP BY 1),
my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM ct GROUP BY 1),
mi AS (SELECT CAST(sum(CAST(round(
                (CAST(nxy AS DOUBLE) / n)
                * round(ln(CAST(nxy AS DOUBLE) * n
                           / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 6),
                6) AS DECIMAL(28,12))) AS DOUBLE) AS mi
       FROM ct JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
hx AS (SELECT CAST(sum(CAST(round(
                (CAST(nx AS DOUBLE) / n)
                * -round(ln(CAST(nx AS DOUBLE) / n), 6), 6)
              AS DECIMAL(28,12))) AS DOUBLE) AS h_x
       FROM mx CROSS JOIN tot),
hy AS (SELECT CAST(sum(CAST(round(
                (CAST(ny AS DOUBLE) / n)
                * -round(ln(CAST(ny AS DOUBLE) / n), 6), 6)
              AS DECIMAL(28,12))) AS DOUBLE) AS h_y
       FROM my CROSS JOIN tot)
SELECT n, (SELECT CAST(count(*) AS BIGINT) FROM mx) AS x_levels,
       (SELECT CAST(count(*) AS BIGINT) FROM my) AS y_levels,
       round(h_x, 6) AS h_x, round(h_y, 6) AS h_y,
       round(mi, 6) AS mi,
       CASE WHEN least(round(h_x, 6), round(h_y, 6)) > 0
            THEN floor(round(mi, 6)
                       / least(round(h_x, 6), round(h_y, 6))
                       * 1000000.0 + 0.5) / 1000000.0
            END AS nmi
FROM tot CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
""", priority=PRI_TAIL)
def q180_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document language and source
    (operators/stats.mutual_information) — the metadata-redundancy
    screen behind stratified sampling plans: is ``source`` just
    ``lang`` in disguise? One groupBy collapses the corpus to the
    contingency table; marginals, entropies, MI, and normalized MI all
    derive from that frame with 6-rounded ln terms folded in exact
    decimal (the PSI/JS discipline) — the oracle recomputes every term
    from the same BIGINT counts."""
    from powerdatapipeline_spark.operators import stats as st
    return st.mutual_information(_t(spark, sf_dir, "documents"),
                                 "lang", "source")


@register("q181_km_survival", """
WITH span AS (SELECT max(ts) AS tmax FROM events),
life AS (SELECT user_id,
                floor((epoch_us(max(ts)) - epoch_us(min(ts)))
                      / 1000000.0) AS t,
                (max(ts) < (SELECT tmax FROM span) - INTERVAL 1 DAY)
                  AS churned
         FROM events GROUP BY user_id),
per AS (SELECT CAST(t AS BIGINT) AS t,
               CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events,
               CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_censored
        FROM life GROUP BY 1),
risk AS (SELECT *, sum(n_events + n_censored)
                     OVER (ORDER BY t DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS n_risk
         FROM per),
lnf AS (SELECT *, CAST(CASE WHEN n_events > 0 AND n_events < n_risk
                            THEN round(ln(1.0 - CAST(n_events AS DOUBLE)
                                          / n_risk), 6)
                            ELSE 0.0 END AS DECIMAL(28,12)) AS lf
        FROM risk),
cum AS (SELECT *,
               CAST(sum(lf) OVER (ORDER BY t
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS DOUBLE) AS ls,
               max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS dead
        FROM lnf)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
       CASE WHEN dead = 0 THEN round(ls, 6) END AS log_survival,
       CASE WHEN dead = 1 THEN 0.0
            ELSE floor(exp(ls) * 1000000.0 + 0.5) / 1000000.0
            END AS survival
FROM cum WHERE n_events > 0 ORDER BY t
""", priority=PRI_TAIL)
def q181_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention curve over event-stream lifetimes
    (operators/stats.km_survival): lifetime = last minus first event
    in whole seconds (explicit floor on the microsecond delta — the
    engine-portable integer rule); a user still active within one day
    of the stream's end is CENSORED, leaving the risk set without
    counting as churn — the error the fixed-bucket retention grid
    (q110) cannot express. Survival accumulates in log space (6-rounded
    ln factors, decimal-exact cumsum); a terminal all-events time
    publishes survival exactly 0 with NULL log."""
    from powerdatapipeline_spark.operators import stats as st
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(F.max("ts").alias("tmax"))
    life = (ev.crossJoin(F.broadcast(span))
            .groupBy("user_id")
            .agg(F.floor((F.unix_micros(F.max("ts"))
                          - F.unix_micros(F.min("ts")))
                         / F.lit(1_000_000.0)).cast("bigint").alias("t"),
                 (F.max("ts") < F.first("tmax")
                  - F.expr("INTERVAL 1 DAY")).alias("churned")))
    return st.km_survival(life, "t", "churned")


@register("q182_welch_ttest", """
WITH base AS (SELECT CASE WHEN l_returnflag = 'A' THEN 'a'
                          WHEN l_returnflag = 'R' THEN 'b' END AS g,
                     CAST(floor(round(CAST(l_extendedprice AS DOUBLE), 6)
                                * 1000000.0 + 0.5) AS DECIMAL(19,0)) AS mu
              FROM lineitem
              WHERE l_returnflag IN ('A', 'R')
                AND l_extendedprice IS NOT NULL),
m AS (SELECT CAST(sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(CAST(sum(CASE WHEN g = 'a' THEN mu
                           ELSE CAST(0 AS DECIMAL(19,0)) END)
                       AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0 AS sa,
             CAST(CAST(sum(CASE WHEN g = 'b' THEN mu
                           ELSE CAST(0 AS DECIMAL(19,0)) END)
                       AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0 AS sb,
             CAST(CAST(sum(CASE WHEN g = 'a' THEN mu * mu
                           ELSE CAST(0 AS DECIMAL(38,0)) END)
                       AS DECIMAL(38,0)) AS DOUBLE) / 1000000000000.0
               AS ssa,
             CAST(CAST(sum(CASE WHEN g = 'b' THEN mu * mu
                           ELSE CAST(0 AS DECIMAL(38,0)) END)
                       AS DECIMAL(38,0)) AS DOUBLE) / 1000000000000.0
               AS ssb
      FROM base),
x AS (SELECT n_a, n_b, sa, sb,
             (ssa - sa * sa / n_a) / (n_a - 1) AS va,
             (ssb - sb * sb / n_b) / (n_b - 1) AS vb
      FROM m),
y AS (SELECT *, va / n_a + vb / n_b AS se2 FROM x)
SELECT n_a, n_b,
       floor(sa / n_a * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
       floor(sb / n_b * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
       floor(va * 1000000.0 + 0.5) / 1000000.0 AS var_a,
       floor(vb * 1000000.0 + 0.5) / 1000000.0 AS var_b,
       floor((sa / n_a - sb / n_b) / sqrt(se2)
             * 1000000.0 + 0.5) / 1000000.0 AS t,
       floor((se2 * se2) / ((va / n_a) * (va / n_a) / (n_a - 1)
                            + (vb / n_b) * (vb / n_b) / (n_b - 1))
             * 1000000.0 + 0.5) / 1000000.0 AS df
FROM y
""", priority=PRI_TAIL)
def q182_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between returned ('A') and
    refused ('R') lineitem prices (operators/stats.welch_ttest) — the
    A/B mean comparison beside the Poisson-bootstrap CI (q153). All
    six moments accumulate in ONE map-side-combined conditional
    aggregation in exact decimal; t and the Welch-Satterthwaite df
    combine those sums in a fixed double expression the oracle
    replays term-for-term, floor-rounded at the end."""
    from powerdatapipeline_spark.operators import stats as st
    return st.welch_ttest(_t(spark, sf_dir, "lineitem"),
                          "l_extendedprice", "l_returnflag", "A", "R")


@register("q183_ks_test", """
WITH base AS (SELECT CASE WHEN l_returnflag = 'A' THEN 'a'
                          WHEN l_returnflag = 'R' THEN 'b' END AS g,
                     round(CAST(l_extendedprice AS DOUBLE), 6) AS v
              FROM lineitem
              WHERE l_returnflag IN ('A', 'R')
                AND l_extendedprice IS NOT NULL),
per AS (SELECT v,
               CAST(sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                 AS ca,
               CAST(sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                 AS cb
        FROM base GROUP BY 1),
cum AS (SELECT v,
               sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cuma,
               sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumb,
               sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        FROM per),
d AS (SELECT v, abs(cuma * nb - cumb * na) AS dnum, na, nb FROM cum),
mx AS (SELECT max(dnum) AS dmax FROM d),
hit AS (SELECT CAST(min(na) AS BIGINT) AS n_a,
               CAST(min(nb) AS BIGINT) AS n_b,
               min(v) AS d_at,
               CAST(min(dnum) AS BIGINT) AS dn
        FROM d JOIN mx ON d.dnum = mx.dmax),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n_values FROM d)
SELECT n_a, n_b, n_values,
       floor(CAST(dn AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
             * 1000000.0 + 0.5) / 1000000.0 AS d,
       d_at
FROM hit CROSS JOIN nv WHERE n_a > 0 AND n_b > 0
""", priority=PRI_TAIL)
def q183_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between returned and refused
    lineitem price distributions (operators/stats.ks_test) — the
    distribution-SHAPE drift companion to Welch's t (q182, mean only)
    and PSI (q121, fixed bins): D = max |F_a - F_b| over the pooled
    sample, exact in BIGINT cross-products until the single final
    ratio. The ordered pass runs on the per-distinct-value frame; the
    argmax value publishes with a smallest-value tie-break."""
    from powerdatapipeline_spark.operators import stats as st
    return st.ks_test(_t(spark, sf_dir, "lineitem"),
                      "l_extendedprice", "l_returnflag", "A", "R")


@register("q184_connected_components", """
WITH multi AS (SELECT o_custkey FROM orders GROUP BY 1
               HAVING count(*) >= 2),
nodes AS (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_custkey IN (SELECT o_custkey FROM multi))
SELECT n.o_orderkey AS node,
       m.lbl AS label
FROM nodes n JOIN (SELECT o_custkey, min(o_orderkey) AS lbl
                   FROM nodes GROUP BY 1) m
     ON m.o_custkey = n.o_custkey
""", priority=PRI_TAIL)
def q184_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over per-customer order chains
    (operators/graph.connected_components — alternating
    large-star/small-star, Kiveris et al. SoCC'14): consecutive orders
    of one customer (by date, then key) form path edges, so components
    are exactly one customer's order set and the ground truth is
    independently derivable — the oracle computes min(orderkey) per
    multi-order customer with NO graph traversal at all, making this a
    true black-box check of the O(log n) star contraction (path graphs
    are the min-label flood's worst case: diameter rounds vs ~5 here).
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    chains = (o.select("o_custkey", "o_orderkey",
                       F.lag("o_orderkey").over(w).alias("prev"))
              .where(F.col("prev").isNotNull()))
    edges = chains.select(F.col("prev").alias("src"),
                          F.col("o_orderkey").alias("dst"))
    return gr.connected_components(edges)


def _bpe_train_oracle(n_merges: int, emit: str = "merges") -> str:
    """Static DuckDB replay of bpe_train's k-round outer loop: the
    data-dependent iteration unrolls into k mechanical CTE blocks —
    each round counts adjacent pairs over the previous round's piece
    arrays, picks the (count desc, left, right) winner, and re-applies
    it greedily (non-overlapping left-to-right: within each maximal
    run of consecutive match positions, every ODD offset merges — the
    run-parity formulation of the fold in operators/text.
    _bpe_apply_merge, equivalent because matches can only be adjacent
    when left == right). ``emit='merges'`` outputs the k-row learned
    merge table (q185); ``emit='corpus'`` pushes the k-th apply through
    as well and outputs per-document encode stats (q186)."""
    blocks = ["""p0 AS MATERIALIZED (
  SELECT doc_id AS doc, regexp_extract_all(lower(text),
         '{re}') AS ps
  FROM documents)""".format(re=tx.BPE_PIECE_RE)]
    for k in range(1, n_merges + 1):
        blocks.append(f"""c{k} AS MATERIALIZED (
  SELECT ps[u.i] AS l, ps[u.i + 1] AS r2, CAST(count(*) AS BIGINT) AS c
  FROM p{k - 1}, unnest(generate_series(1, len(ps) - 1)) AS u(i)
  GROUP BY 1, 2),
w{k} AS MATERIALIZED (SELECT l, r2, c FROM c{k} ORDER BY c DESC, l, r2 LIMIT 1)""")
        if k < n_merges or emit == "corpus":
            blocks.append(f"""pos{k} AS MATERIALIZED (
  SELECT doc, u.i AS i, ps[u.i] AS tok, ps[u.i + 1] AS nxt
  FROM p{k - 1}, unnest(generate_series(1, len(ps))) AS u(i)),
m{k} AS MATERIALIZED (
  SELECT p.doc, p.i,
         row_number() OVER (PARTITION BY p.doc ORDER BY p.i) AS rn
  FROM pos{k} p, w{k} w WHERE p.tok = w.l AND p.nxt = w.r2),
sel{k} AS MATERIALIZED (
  SELECT doc, i FROM (
    SELECT doc, i,
           row_number() OVER (PARTITION BY doc, i - rn ORDER BY i) AS o
    FROM m{k}) WHERE o % 2 = 1),
p{k} AS MATERIALIZED (
  SELECT p.doc,
         list(CASE WHEN s.i IS NOT NULL THEN w.l || ' ' || w.r2
              ELSE p.tok END ORDER BY p.i) AS ps
  FROM pos{k} p CROSS JOIN w{k} w
  LEFT JOIN sel{k} s ON s.doc = p.doc AND s.i = p.i
  LEFT JOIN sel{k} s2 ON s2.doc = p.doc AND s2.i = p.i - 1
  WHERE s2.i IS NULL
  GROUP BY p.doc)""")
    if emit == "corpus":
        final = f"""SELECT p0.doc AS doc_id,
       CAST(len(p0.ps) AS BIGINT) AS n_pieces,
       CAST(coalesce(len(p{n_merges}.ps), 0) AS BIGINT) AS n_tokens,
       CASE WHEN len(p0.ps) > 0 THEN
         round(CAST(coalesce(len(p{n_merges}.ps), 0) AS DOUBLE)
               / len(p0.ps), 6) END AS compression
FROM p0 LEFT JOIN p{n_merges} ON p{n_merges}.doc = p0.doc"""
    else:
        final = "\nUNION ALL ".join(
            f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_piece, "
            f"r2 AS right_piece, c AS pair_count, l || ' ' || r2 AS merged "
            f"FROM w{k}"
            for k in range(1, n_merges + 1))
    return "WITH " + ",\n".join(blocks) + "\n" + final


@register("q185_bpe_train", _bpe_train_oracle(3), priority=PRI_TAIL)
def q185_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, outer loop included (operators/text.
    bpe_train; Sennrich et al. 2016) — q150's merge-candidate
    statistic iterated to an actual learned merge table: three rounds
    of count → deterministic winner → greedy non-overlapping re-merge
    over the corpus piece stream. The q47 Lloyd discipline: per round
    the corpus re-shuffles only map-side-combined pair partials, the
    driver collects exactly ONE winner row, and the merge re-applies
    as a narrow per-document fold over checkpointed piece arrays. The
    oracle unrolls the same three data-dependent rounds as static CTE
    blocks (run-parity greedy, provably equivalent to the fold)."""
    return tx.bpe_train(_t(spark, sf_dir, "documents"), n_merges=3)


@register("q186_bpe_encode", _bpe_train_oracle(3, emit="corpus"),
          priority=PRI_TAIL)
def q186_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train-then-ENCODE round trip (operators/text.
    bpe_encode) — the inference half q185's trainer feeds: the learned
    3-merge table (k tiny collected rows, the fixed-size hand-off
    class) re-applies to the corpus as k chained greedy folds in ONE
    narrow zero-shuffle pass, and the per-document piece→token
    compression is the statistic every downstream token-count consumer
    (quota q104, packing q140) actually budgets with. The oracle
    extends q185's unrolled CTE replay by one more apply block and
    diffs p0 (raw pieces) against p3 (encoded) per document."""
    docs = _t(spark, sf_dir, "documents")
    merges = [(r["left_piece"], r["right_piece"])
              for r in tx.bpe_train(docs, n_merges=3)
              .orderBy("merge_rank").collect()]
    enc = tx.bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.size("pieces").cast("bigint").alias("n_pieces"),
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.when(F.size("pieces") > 0,
               F.round(F.size("tokens").cast("double")
                       / F.size("pieces"), 6)).alias("compression"))


@register("q187_chisq_independence", """
WITH ct AS (SELECT lang AS x, source AS y, CAST(count(*) AS BIGINT) AS nxy
            FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
            GROUP BY 1, 2),
tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM ct),
mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM ct GROUP BY 1),
my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM ct GROUP BY 1),
dd AS (SELECT nxy, nx, ny, n,
              CAST(CAST(nxy AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                   - CAST(nx AS DECIMAL(19,0)) * CAST(ny AS DECIMAL(19,0))
                   AS DECIMAL(38,0)) AS d
       FROM ct JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
agg AS (SELECT
  CAST(sum(CAST(round((CAST(d AS DOUBLE) / n)
                      * (CAST(d AS DOUBLE)
                         / (CAST(nx AS DOUBLE) * ny)), 6)
           AS DECIMAL(28,12))) AS DOUBLE) AS tsum,
  CAST(sum(CAST(CAST(nx AS DECIMAL(19,0)) * CAST(ny AS DECIMAL(19,0))
                AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS esum
  FROM dd),
fin AS (SELECT n,
  (SELECT CAST(count(*) AS BIGINT) FROM mx) AS x_levels,
  (SELECT CAST(count(*) AS BIGINT) FROM my) AS y_levels,
  round(tsum + round(CAST(CAST(n AS DECIMAL(19,0))
                          * CAST(n AS DECIMAL(19,0))
                          - esum AS DOUBLE) / n, 6), 6) AS chi2
  FROM tot CROSS JOIN agg)
SELECT n, x_levels, y_levels,
       CAST((x_levels - 1) * (y_levels - 1) AS BIGINT) AS dof,
       chi2,
       CASE WHEN least(x_levels, y_levels) - 1 > 0 THEN
         floor(sqrt(chi2 / (CAST(n AS DOUBLE)
                            * (least(x_levels, y_levels) - 1)))
               * 1000000.0 + 0.5) / 1000000.0 END AS cramers_v
FROM fin
""", priority=PRI_TAIL)
def q187_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of document language vs
    source (operators/stats.chisq_independence) — the significance
    companion to q180's mutual information on the SAME contingency
    table: MI says how dependent, chi-square + Cramér's V say whether
    the dependence exceeds sampling noise and how large the effect
    is. Empty cells fold in analytically ((N² − Σ nx·ny)/N) so no
    level cross-join reaches the plan; every deviation accumulates
    exact in decimal with the fixed double term shape the oracle
    replays verbatim."""
    from powerdatapipeline_spark.operators import stats as st
    return st.chisq_independence(_t(spark, sf_dir, "documents"),
                                 "lang", "source")


@register("q188_spearman_trend", """
WITH base AS (
  SELECT epoch(ts) AS x, round(CAST(value AS DOUBLE), 6) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
dx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
rx AS (SELECT x, CAST(2 * coalesce(sum(c) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + c + 1 AS BIGINT) AS r2x FROM dx),
dy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
ry AS (SELECT y, CAST(2 * coalesce(sum(c) OVER (ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + c + 1 AS BIGINT) AS r2y FROM dy),
j AS (SELECT r2x, r2y FROM base JOIN rx USING (x) JOIN ry USING (y)),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(r2x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
  CAST(sum(CAST(r2y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
  CAST(sum(CAST(CAST(r2x AS DECIMAL(19,0)) * CAST(r2y AS DECIMAL(19,0))
           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
  CAST(sum(CAST(CAST(r2x AS DECIMAL(19,0)) * CAST(r2x AS DECIMAL(19,0))
           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
  CAST(sum(CAST(CAST(r2y AS DECIMAL(19,0)) * CAST(r2y AS DECIMAL(19,0))
           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
  (SELECT CAST(count(*) AS BIGINT) FROM dx) AS x_distinct,
  (SELECT CAST(count(*) AS BIGINT) FROM dy) AS y_distinct
  FROM j)
SELECT n, x_distinct, y_distinct,
  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
    floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          * 1000000.0 + 0.5) / 1000000.0 END AS rho
FROM agg
""", priority=PRI_TAIL)
def q188_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of event value vs event time
    (operators/stats.spearman_corr) — the monotone drift/trend screen
    q152's linear Pearson matrix misses (a Mann–Kendall-style question
    answered with exact distributed rank arithmetic): are event
    magnitudes creeping up over the observation window? Ranks are
    tie-averaged, DOUBLED to exact BIGINT, derived from per-distinct-
    value cumulative counts (never a corpus-wide sort) and equi-joined
    back; the oracle replays the identical integer rank construction
    and fixed double Pearson shape."""
    from powerdatapipeline_spark.operators import stats as st
    ev = (_t(spark, sf_dir, "events")
          .select(F.col("ts").cast("double").alias("x"),
                  F.round(F.col("value").cast("double"), 6).alias("y")))
    return st.spearman_corr(ev, "x", "y")


@register("q189_gini_concentration", """
WITH per AS (
  SELECT source, CAST(n_chars AS DECIMAL(19,0)) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars >= 0
  GROUP BY 1, 2),
cum AS (
  SELECT source, v, c,
         CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS p
  FROM per),
agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(v * CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS total,
         CAST(sum(CAST(v * (CAST(c AS DECIMAL(19,0)) * p
                            + (CAST(c AS DECIMAL(19,0)) * (c + 1)) / 2)
                  AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ix
  FROM cum GROUP BY 1)
SELECT source, n, CAST(total AS BIGINT) AS total,
       CASE WHEN total > 0 THEN
         floor((2.0 * CAST(ix AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 END AS gini
FROM agg
""", priority=PRI_TAIL)
def q189_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document character mass
    (operators/stats.gini_concentration) — the corpus-concentration
    audit mixture design (q141) and token quotas (q104) budget
    against: a source whose mass sits in a few giant documents behaves
    very differently under per-document sampling than its row count
    suggests. Exact tie-run arithmetic on the per-distinct-size frame
    (never a per-row sort); the key-frequency skew_report Gini (q154)
    is the join-planning sibling."""
    from powerdatapipeline_spark.operators import stats as st
    return st.gini_concentration(_t(spark, sf_dir, "documents"),
                                 "n_chars", keys=("source",))


@register("q190_streaming_auc", """
WITH s AS (SELECT round(CAST(value AS DOUBLE), 6) AS score,
                  (user_id % 2 = 0) AS y
           FROM events
           WHERE value IS NOT NULL AND user_id IS NOT NULL),
per AS (SELECT score,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
               CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        FROM s GROUP BY 1),
cum AS (SELECT np, nn,
               coalesce(sum(nn) OVER (ORDER BY score
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cnb
        FROM per),
agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               CAST(count(*) AS BIGINT) AS n_scores,
               CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS num
        FROM cum)
SELECT n_pos, n_neg, n_scores,
       floor(CAST(num AS DOUBLE) / (2.0 * n_pos * n_neg)
             * 1000000.0 + 0.5) / 1000000.0 AS auc,
       2.0 * (floor(CAST(num AS DOUBLE) / (2.0 * n_pos * n_neg)
                    * 1000000.0 + 0.5) / 1000000.0) - 1.0 AS gini
FROM agg WHERE n_pos > 0 AND n_neg > 0
""", priority=PRI_TAIL)
def q190_streaming_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ROC AUC under driver verification (streaming/stateful.
    streaming_binary_auc + finalize_binary_auc) — q179's exact
    Mann-Whitney machinery fed incrementally, the q45/q95 discipline
    for the stats family: the events file stream reduces per
    micro-batch to mergeable per-distinct-score (np, nn) partials
    (foreachBatch parquet appends — nothing corpus-sized in executor
    state), and the finalizer re-reduces them through the SAME
    ``auc_from_score_counts`` the batch operator uses, so stream ≡
    batch bit-identically and the batch DuckDB oracle verifies the
    streaming run. Score = event value; label = even-user cohort (the
    A/B ranking-separation audit)."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_binary_auc, streaming_binary_auc)

    stream = events_stream_source(spark, sf_dir)
    scored = stream.select(
        F.round(F.col("value").cast("double"), 6).alias("score"),
        (F.col("user_id") % 2 == 0).alias("label"))
    tmp = _stream_scratch("q190_streaming_auc_")
    q = streaming_binary_auc(scored, "score", "label",
                             f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q190 streaming job did not finish within 300 s")
    return finalize_binary_auc(spark, f"{tmp}/partials")


def q190_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-micro-batch partials frame q190's foreachBatch appends —
    shared with tools/dump_plans so the plan audit inspects the DAG
    each trigger actually runs (batch frame stand-in for the stream:
    foreachBatch receives a plain DataFrame)."""
    from powerdatapipeline_spark.operators.stats import \
        auc_per_score_counts

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        F.round(F.col("value").cast("double"), 6).alias("score"),
        (F.col("user_id") % 2 == 0).alias("label"))
    return auc_per_score_counts(scored, "score", "label")


@register("q191_anova_f", """
WITH base AS (
  SELECT source AS g,
         CAST(floor(round(CAST(n_chars AS DOUBLE), 6) * 1000000.0 + 0.5)
              AS BIGINT) AS m
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(m AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0))
                  AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
  FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(s) AS DECIMAL(38,0)) AS tsum FROM per),
terms AS (
  SELECT n, tn,
    CAST(floor((CAST(ss AS DOUBLE) / 1e12
          - (CAST(s AS DOUBLE) / 1e6) * (CAST(s AS DOUBLE) / 1e6)
            / CAST(n AS DOUBLE))
         * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6)) AS ssw_t,
    CAST(floor((CAST(n AS DOUBLE)
          * (CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
             - CAST(tsum AS DOUBLE) / 1e6 / CAST(tn AS DOUBLE))
          * (CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
             - CAST(tsum AS DOUBLE) / 1e6 / CAST(tn AS DOUBLE)))
         * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6)) AS ssb_t
  FROM per CROSS JOIN tot),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(tn) AS BIGINT) AS n,
         CAST(sum(ssb_t) AS DOUBLE) AS ssb,
         CAST(sum(ssw_t) AS DOUBLE) AS ssw
  FROM terms)
SELECT k, n, ssb, ssw,
  CAST(k - 1 AS BIGINT) AS df_between,
  CAST(n - k AS BIGINT) AS df_within,
  CASE WHEN ssw > 0 THEN
    floor((ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))
          * 1000000.0 + 0.5) / 1000000.0 END AS f_stat,
  CASE WHEN ssb + ssw > 0 THEN
    floor(ssb / (ssb + ssw) * 1000000.0 + 0.5) / 1000000.0 END AS eta_sq
FROM agg
""", priority=PRI_TAIL)
def q191_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the 20 document sources
    (operators/stats.anova_f) — the k-sample omnibus mean screen the
    pairwise Welch t (q182) needs k(k-1)/2 runs to cover: do sources
    differ in document size AT ALL, before any drill-down? One
    map-side-combined groupBy accumulates exact integer-micro moments
    per source; the 20-row group frame folds the between/within
    sum-of-squares as floor6-rounded decimals (partition-order-free)
    and the F ratio is a fixed double expression the oracle replays.
    Round-10b born: PRI_TAIL until the round-11 rotation."""
    from powerdatapipeline_spark.operators import stats as st
    return st.anova_f(_t(spark, sf_dir, "documents"), "n_chars", "source")


@register("q192_kruskal_wallis", """
WITH base AS (
  SELECT event_type AS g, round(CAST(value AS DOUBLE), 6) AS v
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
dv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM gv GROUP BY 1),
rk AS (SELECT v, CAST(2 * coalesce(sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + t + 1 AS BIGINT) AS r2 FROM dv),
per AS (
  SELECT g, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(c AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0))
                  AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS r2sum
  FROM gv JOIN rk USING (v) GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM per),
terms AS (
  SELECT n, tn,
    CAST(floor(12.0 * (CAST(r2sum AS DOUBLE) / 2.0)
               * (CAST(r2sum AS DOUBLE) / 2.0)
               / (CAST(tn AS DOUBLE) * (CAST(tn AS DOUBLE) + 1)
                  * CAST(n AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6)) AS h_t
  FROM per CROSS JOIN tot),
agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(tn) AS BIGINT) AS n,
               CAST(sum(h_t) AS DOUBLE) AS hsum FROM terms),
ties AS (SELECT CAST(count(*) AS BIGINT) AS n_values,
                CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))
                         * CAST(t AS DECIMAL(19,0))
                         - CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS tt
         FROM dv)
SELECT k, n, n_values,
  floor((hsum - 3.0 * (CAST(n AS DOUBLE) + 1)) * 1000000.0 + 0.5)
    / 1000000.0 AS h,
  CASE WHEN n > 1 THEN
    floor((1.0 - CAST(tt AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
  END AS tie_correction,
  CASE WHEN n > 1 AND n_values > 1 THEN
    floor(((hsum - 3.0 * (CAST(n AS DOUBLE) + 1))
           / (1.0 - CAST(tt AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 - CAST(n AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0
  END AS h_adj
FROM agg CROSS JOIN ties
""", priority=PRI_TAIL)
def q192_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the 5 event types
    (operators/stats.kruskal_wallis) — the rank-based omnibus location
    test beside q191's ANOVA (Spearman-vs-Pearson, lifted to k
    samples): robust to the heavy-tailed event values a mean test
    over-weights. Exact BIGINT tie-averaged doubled ranks from the
    per-distinct-value frame (the q188 machinery), per-group rank
    sums in exact decimal, tie correction from the same tiny frame;
    the oracle replays the identical integer construction.
    Round-10b born: PRI_TAIL until the round-11 rotation."""
    from powerdatapipeline_spark.operators import stats as st
    ev = _t(spark, sf_dir, "events")
    return st.kruskal_wallis(ev, "value", "event_type")


@register("q193_cross_correlation", """
WITH ca AS (
  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS xa
  FROM events WHERE ts IS NOT NULL AND event_type = 'click' GROUP BY 1),
cb AS (
  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS xb
  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase' GROUP BY 1),
lags AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS lag),
probes AS (
  SELECT lags.lag, ca.xa, cb.xb
  FROM ca CROSS JOIN lags JOIN cb ON cb.b = ca.b + lags.lag),
per AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS m,
    CAST(sum(CAST(xa AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
    CAST(sum(CAST(xb AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
    CAST(sum(CAST(CAST(xa AS DECIMAL(19,0)) * CAST(xb AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
    CAST(sum(CAST(CAST(xa AS DECIMAL(19,0)) * CAST(xa AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
    CAST(sum(CAST(CAST(xb AS DECIMAL(19,0)) * CAST(xb AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
  FROM probes GROUP BY 1)
SELECT CAST(lag AS BIGINT) AS lag, m AS n_pairs,
  CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        AND CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
    floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          * 1000000.0 + 0.5) / 1000000.0 END AS r
FROM per ORDER BY lag
""", priority=PRI_TAIL)
def q193_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly click->purchase cross-correlation at lags 0..6
    (operators/timeseries.cross_correlation) — the lead/lag companion
    to q168's ACF: does purchase volume track click volume k hours
    later? Both streams pre-reduce to per-hour BIGINT count frames
    (the corpus never joins itself); one explode+equi-join covers all
    lags; every moment sum is exact integer arithmetic and only the
    final per-lag Pearson ratio is double (floor6, oracle-replayed).
    Round-10b born: PRI_TAIL until the round-11 rotation."""
    return ts.cross_correlation(_t(spark, sf_dir, "events"), "ts",
                                "event_type", "click", "purchase",
                                max_lag=6)


@register("q194_mann_kendall", """
WITH days AS (
  SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS d,
         floor(CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(28,12)))
                    AS DOUBLE) / count(*) * 1000000.0 + 0.5)
           / 1000000.0 AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1),
pairs AS (
  SELECT a.d AS di, b.d AS dj,
         (b.v - a.v) / CAST(b.d - a.d AS DOUBLE) AS slope,
         CAST(sign(b.v - a.v) AS BIGINT) AS sgn
  FROM days a JOIN days b ON b.d > a.d),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(sgn) AS BIGINT) AS s FROM pairs),
med AS (
  SELECT slope AS sen_raw FROM (
    SELECT slope, row_number() OVER (ORDER BY slope, di, dj) AS rn,
           count(*) OVER () AS cnt FROM pairs) q
  WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)),
ties AS (
  SELECT CAST(sum(t) AS BIGINT) AS n_buckets,
         CAST(sum(CAST(t AS DECIMAL(19,0)) * (CAST(t AS DECIMAL(19,0)) - 1)
                  * (2 * CAST(t AS DECIMAL(19,0)) + 5))
              AS DECIMAL(38,0)) AS tt
  FROM (SELECT v, CAST(count(*) AS BIGINT) AS t FROM days GROUP BY 1)),
vr AS (
  SELECT n_buckets, tt,
         (CAST(n_buckets AS DOUBLE) * (CAST(n_buckets AS DOUBLE) - 1)
          * (2 * CAST(n_buckets AS DOUBLE) + 5) - CAST(tt AS DOUBLE))
         / 18.0 AS var_raw
  FROM ties)
SELECT n_buckets, n_pairs, s,
  floor(var_raw * 1000000.0 + 0.5) / 1000000.0 AS var_s,
  CASE WHEN var_raw > 0 THEN
    floor((CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(var_raw)
                WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(var_raw)
                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 END AS z,
  floor(sen_raw * 1000000.0 + 0.5) / 1000000.0 AS sen_slope
FROM agg CROSS JOIN med CROSS JOIN vr
""", priority=PRI_TAIL)
def q194_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test with Sen's slope on the daily-mean event
    value series (operators/timeseries.mann_kendall) — the
    nonparametric drift verdict + effect size beside q188's
    Spearman-vs-time: S from exact BIGINT pair signs, tie-corrected
    variance from exact integer arithmetic, Sen's slope as the
    deterministic lower-median pairwise slope. The O(days^2/2) pair
    frame is calendar-bounded (30 days = 435 pairs at ANY corpus
    scale; the corpus itself reduces to daily means in one map-side
    combined pass). Round-10b born: PRI_TAIL until the round-11
    rotation."""
    return ts.mann_kendall(_t(spark, sf_dir, "events"), "ts", "value")


@register("q195_ndcg", r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN ('spark', 'window', 'join') GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         round(round(ln(1.0 + (stats.n - dfreq.df + 0.5)
                              / (dfreq.df + 0.5)), 6)
               * (tf.tf * 2.2
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
               6) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
top AS (
  SELECT doc_id, CAST(count(*) AS INT) AS rel,
         round(CAST(sum(CAST(s AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
  FROM s GROUP BY doc_id
  ORDER BY score DESC, doc_id
  LIMIT 10),
ranked AS (
  SELECT rel,
         row_number() OVER (ORDER BY score DESC, doc_id) AS pos,
         row_number() OVER (ORDER BY rel DESC, score DESC, doc_id) AS ipos
  FROM top),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ranked,
    CAST(sum(CAST(round((power(2.0, rel) - 1.0)
                        / log2(CAST(pos AS DOUBLE) + 1), 6)
             AS DECIMAL(18,6))) AS DOUBLE) AS dcg,
    CAST(sum(CAST(round((power(2.0, rel) - 1.0)
                        / log2(CAST(ipos AS DOUBLE) + 1), 6)
             AS DECIMAL(18,6))) AS DOUBLE) AS idcg,
    CAST(min(CASE WHEN rel >= 2 THEN pos END) AS BIGINT) AS first_hit,
    CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM ranked)
SELECT CAST(10 AS BIGINT) AS k, n_ranked, dcg, idcg,
  CASE WHEN idcg > 0 THEN
    floor(dcg / idcg * 1000000.0 + 0.5) / 1000000.0 END AS ndcg,
  CASE WHEN first_hit IS NOT NULL THEN
    floor(1.0 / CAST(first_hit AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
  ELSE 0.0 END AS mrr,
  floor(CAST(hits AS DOUBLE) / 10.0 * 1000000.0 + 0.5) / 1000000.0
    AS precision_at_k
FROM agg
""", priority=PRI_TAIL)
def q195_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR / precision@10 for the q83 BM25 ranking
    (operators/similarity.ranking_metrics) — the retrieval-EVAL half
    the search family was missing: relevance grade = number of query
    terms hit (1..3, threshold 2 for MRR/precision), gain 2^rel − 1,
    log2 discount, deterministic actual/ideal orders. The metric runs
    on the top-10 frame only (bounded by k, never corpus-sized); the
    oracle replays BM25 end-to-end then the identical metric
    arithmetic. Round-10b born: PRI_TAIL until the round-11
    rotation."""
    from powerdatapipeline_spark.operators import similarity as sim
    ranked = tx.bm25_topk(_t(spark, sf_dir, "documents"),
                          ["spark", "window", "join"], k=10)
    return sim.ranking_metrics(ranked, rel_col="n_query_terms_hit",
                               k=10, rel_threshold=2)


@register("q196_streaming_heavy_hitters", r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term ASC LIMIT 20),
js AS (SELECT unnest([0, 1, 2]) AS j),
cells AS (
  SELECT js.j,
         CAST(('0x' || substr(md5('cms' || js.j || ':' || toks.term), 1, 15))
              AS BIGINT) % 1024 AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM toks CROSS JOIN js GROUP BY 1, 2),
est AS (
  SELECT top.term, min(cells.n) AS est
  FROM top CROSS JOIN js
  JOIN cells ON cells.j = js.j
            AND cells.b = CAST(('0x' || substr(md5('cms' || js.j || ':'
                                  || top.term), 1, 15)) AS BIGINT) % 1024
  GROUP BY 1)
SELECT top.term, CAST(top.c AS BIGINT) AS exact_count,
       CAST(est.est AS BIGINT) AS cms_estimate,
       est.est >= top.c AS no_underestimate
FROM top JOIN est USING (term)
""", priority=PRI_TAIL)
def q196_streaming_heavy_hitters(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """STREAMING heavy hitters under driver verification
    (streaming/stateful.streaming_heavy_hitters +
    finalize_heavy_hitters) — q113's exact top-20 + CMS estimates fed
    incrementally, the q190 mergeable-sufficient-statistic discipline
    for the sketch family: each micro-batch appends its per-term count
    partial (vocabulary-per-batch rows, never the token stream); the
    finalizer re-reduces and rebuilds the EXACT batch sketch via
    cms_build's count_col contract (cell counts merge by addition), so
    stream ≡ batch bit-identically and q113's batch DuckDB oracle
    verifies the streaming run. Round-10b born: PRI_TAIL until the
    round-11 rotation."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_heavy_hitters, streaming_heavy_hitters)

    stream = docs_stream_source(spark, sf_dir)
    terms = stream.select(F.explode(tx.tokens("text")).alias("term"))
    tmp = _stream_scratch("q196_streaming_hh_")
    q = streaming_heavy_hitters(terms, "term",
                                f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q196 streaming job did not finish within 300 s")
    return finalize_heavy_hitters(spark, f"{tmp}/partials")


def q196_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-micro-batch partials frame q196's foreachBatch appends —
    the q190_stream_frame convention for the plan audit (batch frame
    stand-in: foreachBatch receives a plain DataFrame)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.explode(tx.tokens("text")).alias("term"))
            .groupBy("term").agg(F.count("*").cast("bigint").alias("c")))


def _hellinger_oracle() -> str:
    """DuckDB twin of q197: per-word |p-q| / sqrt(pq) / mass terms
    6-rounded then decimal-summed (the _jsd_oracle discipline), final
    combos as the identical fixed double expressions, floor6."""
    return r"""
WITH tok AS (SELECT source AS s,
                    unnest(list_filter(regexp_split_to_array(lower(text),
                        '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS w
             FROM documents),
cnt AS (SELECT s, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
pw AS (SELECT cnt.s, cnt.w, CAST(cnt.c AS DOUBLE) / tot.n AS p
       FROM cnt JOIN tot ON tot.s = cnt.s),
inter AS (SELECT a.s AS sa, b.s AS sb, CAST(count(*) AS BIGINT) AS n_common,
                 CAST(sum(CAST(round(abs(a.p - b.p), 6)
                          AS DECIMAL(18,6))) AS DOUBLE) AS ti,
                 CAST(sum(CAST(round(sqrt(a.p * b.p), 6)
                          AS DECIMAL(18,6))) AS DOUBLE) AS bci,
                 CAST(sum(CAST(round(a.p, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) AS ma,
                 CAST(sum(CAST(round(b.p, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) AS mb
          FROM pw a JOIN pw b ON a.w = b.w AND a.s < b.s
          GROUP BY 1, 2),
pairs AS (SELECT a.s AS sa, b.s AS sb FROM tot a JOIN tot b ON a.s < b.s)
SELECT p.sa AS src_a, p.sb AS src_b,
  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
  floor((coalesce(i.ti, 0.0) + (1.0 - coalesce(i.ma, 0.0))
         + (1.0 - coalesce(i.mb, 0.0))) / 2.0 * 1000000.0 + 0.5)
    / 1000000.0 AS tv,
  floor(coalesce(i.bci, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS bc,
  floor(sqrt(1.0 - least(coalesce(i.bci, 0.0), 1.0))
        * 1000000.0 + 0.5) / 1000000.0 AS hellinger
FROM pairs p
LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
"""


@register("q197_hellinger_tv", _hellinger_oracle(), priority=PRI_TAIL)
def q197_hellinger_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Hellinger + total-variation distance between per-source
    unigram distributions (operators/text.hellinger_tv_matrix) — the
    remaining two classical f-divergence geometries beside q175's JSD:
    TV is the worst-case probability gap, Hellinger tensorizes. Same
    no-outer-join decomposition (off-intersection mass folds from
    per-pair intersection sums; #sources²-row pair universe from the
    tiny totals frame). Round-10b born: PRI_TAIL until the round-11
    rotation."""
    return tx.hellinger_tv_matrix(_t(spark, sf_dir, "documents"))


@register("q198_tokenizer_fertility", f"""
SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len(list_filter(regexp_split_to_array(lower(text),
           '[ \t\n\r\f\x0B]+'), x -> x <> ''))) AS BIGINT) AS n_words,
  CAST(sum(len(regexp_extract_all(lower(text), '{tx.BPE_PIECE_RE}')))
       AS BIGINT) AS n_pieces,
  CASE WHEN sum(len(list_filter(regexp_split_to_array(lower(text),
           '[ \t\n\r\f\x0B]+'), x -> x <> ''))) > 0 THEN
    floor(CAST(sum(len(regexp_extract_all(lower(text),
               '{tx.BPE_PIECE_RE}'))) AS DOUBLE)
          / CAST(sum(len(list_filter(regexp_split_to_array(lower(text),
                   '[ \t\n\r\f\x0B]+'), x -> x <> ''))) AS DOUBLE)
          * 1000000.0 + 0.5) / 1000000.0 END AS fertility,
  CASE WHEN count(*) > 0 THEN
    floor(CAST(sum(len(regexp_extract_all(lower(text),
               '{tx.BPE_PIECE_RE}'))) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
  END AS pieces_per_doc
FROM documents
WHERE text IS NOT NULL AND source IS NOT NULL
GROUP BY 1
""", priority=PRI_TAIL)
def q198_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility: BPE-ish pieces per whitespace
    word (operators/text.tokenizer_fertility) — the token-budget cost
    model for quota (q104) / packing (q88) / batching (q140): a
    punctuation-heavy source at fertility 2.1 consumes twice the LLM
    tokens its word count suggests. Zero-shuffle per-document size
    expressions + one keyed agg; exact BIGINT sums, floor6 ratios.
    Round-10b born: PRI_TAIL until the round-11 rotation."""
    return tx.tokenizer_fertility(_t(spark, sf_dir, "documents"))


@register("q199_streaming_ks_drift", """
WITH base AS (SELECT CASE WHEN event_type = 'view' THEN 'a'
                          WHEN event_type = 'click' THEN 'b' END AS g,
                     round(CAST(value AS DOUBLE), 6) AS v
              FROM events
              WHERE event_type IN ('view', 'click')
                AND value IS NOT NULL),
per AS (SELECT v,
               CAST(sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                 AS ca,
               CAST(sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                 AS cb
        FROM base GROUP BY 1),
cum AS (SELECT v,
               sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cuma,
               sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumb,
               sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        FROM per),
d AS (SELECT v, abs(cuma * nb - cumb * na) AS dnum, na, nb FROM cum),
mx AS (SELECT max(dnum) AS dmax FROM d),
hit AS (SELECT CAST(min(na) AS BIGINT) AS n_a,
               CAST(min(nb) AS BIGINT) AS n_b,
               min(v) AS d_at,
               CAST(min(dnum) AS BIGINT) AS dn
        FROM d JOIN mx ON d.dnum = mx.dmax),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n_values FROM d)
SELECT n_a, n_b, n_values,
       floor(CAST(dn AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
             * 1000000.0 + 0.5) / 1000000.0 AS d,
       d_at
FROM hit CROSS JOIN nv WHERE n_a > 0 AND n_b > 0
""", priority=PRI_TAIL)
def q199_streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KS drift monitor under driver verification
    (streaming/stateful.streaming_ks_drift + finalize_ks_drift) — the
    distribution-shape watchdog: the CLICK value stream reduces per
    micro-batch to per-distinct-value count partials (appended blind,
    mergeable by addition — the q190/q196 discipline) and finalizes
    against the static VIEW reference through the SAME
    ks_from_value_counts as batch q183, so stream ≡ batch
    bit-identically and the batch DuckDB oracle verifies the streaming
    run. Round-10b born: PRI_TAIL until the round-11 rotation."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_ks_drift, streaming_ks_drift)

    stream = (events_stream_source(spark, sf_dir)
              .where(F.col("event_type") == "click"))
    tmp = _stream_scratch("q199_streaming_ks_")
    q = streaming_ks_drift(stream, "value",
                           f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q199 streaming job did not finish within 300 s")
    reference = load_events(spark, sf_dir).where(
        (F.col("event_type") == "view") & F.col("value").isNotNull())
    return finalize_ks_drift(spark, reference, "value", f"{tmp}/partials")


def q199_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-micro-batch partials frame q199's foreachBatch appends —
    the q190_stream_frame convention for the plan audit."""
    ev = load_events(spark, sf_dir).where(F.col("event_type") == "click")
    v = F.round(F.col("value").cast("double"), 6)
    return (ev.select(v.alias("__v")).where(F.col("__v").isNotNull())
            .groupBy("__v").agg(F.count("*").cast("bigint").alias("cb")))


@register("q200_levene_bf", """
WITH base AS (
  SELECT event_type AS g, round(CAST(value AS DOUBLE), 6) AS v
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
per AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
cum AS (SELECT g, v,
               sum(c) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY g) AS n_g
        FROM per),
med AS (SELECT g, min(v) AS med FROM cum
        WHERE cum >= floor((n_g + 1) / 2) GROUP BY 1),
centered AS (
  SELECT base.g,
         CAST(floor(round(abs(base.v - med.med), 6) * 1000000.0 + 0.5)
              AS BIGINT) AS m
  FROM base JOIN med ON med.g = base.g),
pg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(m AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0))
                  AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
  FROM centered GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(s) AS DECIMAL(38,0)) AS tsum FROM pg),
terms AS (
  SELECT n, tn,
    CAST(floor((CAST(ss AS DOUBLE) / 1e12
          - (CAST(s AS DOUBLE) / 1e6) * (CAST(s AS DOUBLE) / 1e6)
            / CAST(n AS DOUBLE))
         * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6)) AS ssw_t,
    CAST(floor((CAST(n AS DOUBLE)
          * (CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
             - CAST(tsum AS DOUBLE) / 1e6 / CAST(tn AS DOUBLE))
          * (CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
             - CAST(tsum AS DOUBLE) / 1e6 / CAST(tn AS DOUBLE)))
         * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6)) AS ssb_t
  FROM pg CROSS JOIN tot),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(tn) AS BIGINT) AS n,
         CAST(sum(ssb_t) AS DOUBLE) AS ssb,
         CAST(sum(ssw_t) AS DOUBLE) AS ssw
  FROM terms)
SELECT k, n, ssb, ssw,
  CAST(k - 1 AS BIGINT) AS df_between,
  CAST(n - k AS BIGINT) AS df_within,
  CASE WHEN ssw > 0 THEN
    floor((ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))
          * 1000000.0 + 0.5) / 1000000.0 END AS f_stat,
  CASE WHEN ssb + ssw > 0 THEN
    floor(ssb / (ssb + ssw) * 1000000.0 + 0.5) / 1000000.0 END AS eta_sq
FROM agg
""", priority=PRI_TAIL)
def q200_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe spread-homogeneity test across the 5 event types
    (operators/stats.levene_bf) — do event VALUES differ in dispersion,
    the assumption q191's ANOVA quietly makes and q183's KS can only
    flag without localizing? Exact lower medians from per-group
    distinct-value cumsums, |v − median| deviations through the
    UNCHANGED anova_f (one operator, one oracle seam). Round-10b born:
    PRI_TAIL until the round-11 rotation."""
    from powerdatapipeline_spark.operators import stats as st
    return st.levene_bf(_t(spark, sf_dir, "events"), "value", "event_type")


@register("q201_quantile_normalize", """
WITH base AS (
  SELECT doc_id AS id, source AS grp, CAST(n_chars AS BIGINT) AS value
  FROM documents
  WHERE doc_id IS NOT NULL AND source IS NOT NULL
    AND n_chars IS NOT NULL),
gv AS (SELECT grp, value, CAST(count(*) AS BIGINT) AS c
       FROM base GROUP BY 1, 2),
ranks AS (
  SELECT grp, value,
         CAST(coalesce(sum(c) OVER (PARTITION BY grp ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + 1 AS BIGINT) AS r,
         sum(c) OVER (PARTITION BY grp) AS n_g
  FROM gv),
wq AS (
  SELECT base.id, base.grp, base.value,
         CASE WHEN ranks.n_g > 1 THEN
           CAST(ranks.r - 1 AS DOUBLE) / CAST(ranks.n_g - 1 AS DOUBLE)
         ELSE 0.5 END AS q
  FROM base JOIN ranks ON ranks.grp = base.grp
                      AND ranks.value = base.value),
dv AS (SELECT value, CAST(sum(c) AS BIGINT) AS t FROM gv GROUP BY 1),
cumd AS (
  SELECT value,
         CAST(coalesce(sum(t) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_below, t
  FROM dv),
dict AS (
  SELECT unnest(generate_series(cum_below + 1, cum_below + t)) AS pos,
         value AS norm_value
  FROM cumd),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
tgt AS (
  SELECT wq.id, wq.grp, wq.value, wq.q,
         CAST(floor(wq.q * CAST(tot.n - 1 AS DOUBLE) + 0.5) + 1
              AS BIGINT) AS pos
  FROM wq CROSS JOIN tot)
SELECT tgt.id, tgt.grp, tgt.value,
       floor(tgt.q * 1000000.0 + 0.5) / 1000000.0 AS quantile,
       dict.norm_value
FROM tgt JOIN dict USING (pos)
""", priority=PRI_TAIL)
def q201_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize document sizes across the 20 sources
    (operators/stats.quantile_normalize) — the batch-effect remover
    that gives every source the same marginal size distribution before
    mixture planning (q141) / quality bucketing (q87). Exact BIGINT
    rank arithmetic from per-distinct-value count frames, global
    inverse CDF as an exploded (position → value) dictionary equi-join
    — no per-row global sort anywhere. Round-10b born: PRI_TAIL until
    the round-11 rotation."""
    from powerdatapipeline_spark.operators import stats as st
    return st.quantile_normalize(_t(spark, sf_dir, "documents"),
                                 "n_chars", "source", "doc_id")


@register("q202_sequence_trigrams", """
WITH seq AS (
  SELECT event_type AS s1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS s2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS s3
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
    AND user_id IS NOT NULL)
SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n_occurrences
FROM seq WHERE s3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_occurrences DESC, s1, s2, s3
LIMIT 25
""", priority=PRI_TAIL)
def q202_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 per-user event-type TRIGRAMS
    (operators/timeseries.sequence_ngrams) — higher-order sequential
    pattern mining over q147's 1-step Markov matrix: the dominant
    3-step paths that drive funnel instrumentation and session
    features. One user-keyed lead window (deterministic (ts, event_id)
    order), no collect_list, map-side-combined counts, exact integers.
    Round-10b born: PRI_TAIL until the round-11 rotation."""
    return ts.sequence_ngrams(load_events(spark, sf_dir), "ts",
                              "user_id", "event_type", n=3, top_k=25,
                              tiebreak_col="event_id")


@register("q203_association_rules", """
WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
n_orders AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS N FROM li),
item_n AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM li GROUP BY 1),
pairs AS (
  SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS n_pairs
  FROM li a JOIN li c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT ia AS item_a, ib AS item_b, n_pairs,
       na.n_i AS n_a, nb.n_i AS n_b,
  floor(CAST(n_pairs AS DOUBLE) / CAST(N AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS support,
  floor(CAST(n_pairs AS DOUBLE) / CAST(na.n_i AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS conf_a_to_b,
  floor(CAST(n_pairs AS DOUBLE) / CAST(nb.n_i AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS conf_b_to_a,
  floor(CAST(N AS DOUBLE) * CAST(n_pairs AS DOUBLE)
        / (CAST(na.n_i AS DOUBLE) * CAST(nb.n_i AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM pairs
JOIN item_n na ON na.i = pairs.ia
JOIN item_n nb ON nb.i = pairs.ib
CROSS JOIN n_orders
ORDER BY lift DESC, item_a, item_b
LIMIT 25
""", priority=PRI_TAIL)
def q203_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 part-pair association rules by lift over order baskets
    (operators/relational.association_rules) — the market-basket
    co-occurrence miner: support/confidence/lift for pairs that
    co-occur in >= 2 orders. A-priori shape: distinct (order, part)
    first, basket-keyed pair self-equi-join bounded by Σ C(k_b, 2)
    (TPC-H baskets <= 7 items; max_basket_size raises loudly on a
    degenerate hot basket at scale), min-support prune BEFORE the
    marginal joins. Exact BIGINT counts, floor6 ratios, total-order
    top-k. Round-10b born: PRI_TAIL until the round-11 rotation."""
    return rel.association_rules(_t(spark, sf_dir, "lineitem"),
                                 "l_orderkey", "l_partkey",
                                 min_pair_count=2, top_k=25)


@register("q204_seasonal_quantile_bands", """
WITH base AS (
  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) % 24 AS slot,
         round(CAST(value AS DOUBLE), 6) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
per AS (SELECT slot, v, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2),
staged AS (
  SELECT slot, v,
         sum(c) OVER (PARTITION BY slot ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY slot) AS n
  FROM per)
SELECT slot, CAST(max(n) AS BIGINT) AS n,
  min(CASE WHEN cum >= floor(0.1 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_10,
  min(CASE WHEN cum >= floor(0.5 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_50,
  min(CASE WHEN cum >= floor(0.9 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_90
FROM staged GROUP BY 1 ORDER BY 1
""", priority=PRI_TAIL)
def q204_seasonal_quantile_bands(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Hour-of-day p10/p50/p90 bands of event value
    (operators/timeseries.seasonal_quantile_bands) — the
    distributional seasonal profile beside q96's mean profile: exact
    per-slot quantiles from distinct-value count-frame cumsums (no
    per-row windows), deterministic nearest-rank positions. Round-10b
    born: PRI_TAIL until the round-11 rotation."""
    return ts.seasonal_quantile_bands(load_events(spark, sf_dir))


def _kcore_oracle(k: int = 2, rounds: int = 12) -> str:
    """DuckDB twin of q205: the peel loop unrolled to the SAME fixed
    round budget the Spark operator enforces (graph.k_core raises past
    max_rounds, and converged rounds are no-ops, so a 12-round unroll
    is exact whenever the query returns at all — the q185 unrolled-
    oracle discipline)."""
    ctes = ["li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS b, l_partkey AS i\n"
            "  FROM lineitem\n"
            "  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)",
            "e0 AS MATERIALIZED (SELECT a.i AS u, c.i AS v FROM li a\n"
            "  JOIN li c ON a.b = c.b AND a.i < c.i\n"
            "  GROUP BY 1, 2 HAVING count(*) >= 2)"]
    for i in range(rounds):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg\n"
            f"  FROM (SELECT u AS node FROM e{i}\n"
            f"        UNION ALL SELECT v FROM e{i}) GROUP BY 1)")
        ctes.append(f"k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k})")
        ctes.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e{i}.u, e{i}.v FROM e{i}\n"
            f"  JOIN k{i} ku ON ku.node = e{i}.u\n"
            f"  JOIN k{i} kv ON kv.node = e{i}.v)")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT node, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
GROUP BY 1 HAVING count(*) >= {k}""")


@register("q205_k_core", _kcore_oracle(), priority=PRI_TAIL)
def q205_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the part co-occurrence graph (operators/graph.k_core)
    — density-based cohesion completing the graph family (pagerank
    q135 = importance, components q184 = reachability, triangles q167
    = local clustering): iterative peeling of nodes with degree < 2
    over the q203 co-purchase edges (pairs in >= 2 orders). Each round
    is two node-keyed shuffles (degree count + double semi-join),
    lineage cut per round, exact edge-count fixpoint, loud raise past
    the round budget the oracle unrolls. Round-10b born: PRI_TAIL
    until the round-11 rotation."""
    li = (_t(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("b"),
                  F.col("l_partkey").alias("i"))
          .where(F.col("b").isNotNull() & F.col("i").isNotNull())
          .distinct())
    a = li.select("b", F.col("i").alias("u"))
    c = li.select(F.col("b").alias("b2"), F.col("i").alias("v"))
    edges = (a.join(c, (F.col("b") == F.col("b2"))
                    & (F.col("u") < F.col("v")))
             .groupBy("u", "v")
             .agg(F.count("*").alias("n"))
             .where(F.col("n") >= 2)
             .select("u", "v"))
    return gr.k_core(edges, k=2, src="u", dst="v")


@register("q206_fuzzy_dict_match", """
WITH d AS (SELECT p_name AS v, CAST(count(*) AS BIGINT) AS n
           FROM part WHERE p_name IS NOT NULL GROUP BY 1),
s AS (SELECT v, n, length(v) AS len, string_split(v, ' ')[-1] AS blk FROM d),
p AS (SELECT a.v AS value_a, b.v AS value_b,
             CAST(levenshtein(a.v, b.v) AS INTEGER) AS dist,
             a.n AS n_a, b.n AS n_b
      FROM s a JOIN s b
        ON a.blk = b.blk AND a.v < b.v AND abs(a.len - b.len) <= 5)
SELECT value_a, value_b, dist, n_a, n_b
FROM p WHERE dist <= 5
ORDER BY dist, value_a, value_b
LIMIT 50
""", priority=PRI_TAIL)
def q206_fuzzy_dict_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy label reconciliation over the part-name dictionary
    (operators/dedup.fuzzy_dict_pairs) — blocked Levenshtein entity
    resolution on DISTINCT values: "cold anvil" vs "old anvil" style
    typo/variant pairs with their row support. The quadratic stage
    sees only the |V|-row dictionary (corpus reduced by one
    map-side-combined groupBy first), blocked by head-noun + length
    band, with a loud max_dict_size refusal — never all-pairs, never
    the corpus. Exact integer edit distance, JVM codegen, no UDF.
    Round-10c born: PRI_TAIL until the round-11 rotation."""
    from powerdatapipeline_spark.operators import dedup as dd
    return dd.fuzzy_dict_pairs(_t(spark, sf_dir, "part"), "p_name",
                               max_dist=5, top_k=50)


@register("q207_grid_nearest_join", """
WITH cust AS (SELECT c_custkey,
        (c_custkey * 7907) % 12000 / 100.0 - 60.0 AS lat,
        (c_custkey * 104717) % 36000 / 100.0 - 180.0 AS lon
      FROM customer),
supp AS (SELECT s_suppkey,
        (s_suppkey * 7919) % 12000 / 100.0 - 60.0 AS lat,
        (s_suppkey * 104729) % 36000 / 100.0 - 180.0 AS lon
      FROM supplier),
p AS (SELECT c_custkey, lat AS plat, lon AS plon,
             CAST(floor(lon / 10.0) AS BIGINT) AS cx,
             CAST(floor(lat / 10.0) AS BIGINT) AS cy FROM cust),
s9 AS (SELECT s_suppkey, lat AS slat, lon AS slon,
              ((CAST(floor(lon / 10.0) AS BIGINT) + dx.d + 54) % 36) - 18
                AS cx,
              CAST(floor(lat / 10.0) AS BIGINT) + dy.d AS cy
       FROM supp,
            (SELECT unnest([-1, 0, 1]) AS d) dx,
            (SELECT unnest([-1, 0, 1]) AS d) dy),
cand AS (SELECT c_custkey, s_suppkey,
       floor(2 * 6371.0 * asin(least(1.0, sqrt(
         sin(radians(slat - plat) / 2) * sin(radians(slat - plat) / 2)
         + cos(radians(plat)) * cos(radians(slat))
           * sin(radians(slon - plon) / 2)
           * sin(radians(slon - plon) / 2))))
         * 1000000.0 + 0.5) / 1000000.0 AS dist_km
     FROM p JOIN s9 USING (cx, cy)),
r AS (SELECT c_custkey, s_suppkey, dist_km,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY dist_km, s_suppkey) AS rn
      FROM cand)
SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rn = 1
""", priority=PRI_TAIL)
def q207_grid_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-supplier assignment per customer on a 10-degree lon/lat
    grid (operators/relational.grid_nearest_join) — the radius-bounded
    spatial join a meter→substation mapping needs. Coordinates are a
    deterministic hash-free derivation from the keys (both engines run
    the identical modular arithmetic), sites replicate into their 3x3
    cell ring (9x fan-out of the SMALL side, date-line wrap included),
    then one cell equi-join + haversine + per-point window argmin with
    a total-order tiebreak. Never point x site all-pairs. Round-10c
    born: PRI_TAIL until the round-11 rotation."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7907) % 12000 / 100.0 - 60.0).alias("lat"),
        ((F.col("c_custkey") * 104717) % 36000 / 100.0 - 180.0)
        .alias("lon"))
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919) % 12000 / 100.0 - 60.0).alias("lat"),
        ((F.col("s_suppkey") * 104729) % 36000 / 100.0 - 180.0)
        .alias("lon"))
    return rel.grid_nearest_join(cust, supp, "c_custkey", "s_suppkey",
                                 cell_deg=10.0)


@register("q208_load_coincidence", """
WITH hourly AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b,
         SUM(CAST(value AS DECIMAL(38,10))) AS ld
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
per AS (SELECT g, CAST(count(*) AS BIGINT) AS n_buckets,
               max(ld) AS peak, sum(ld) AS tot
        FROM hourly GROUP BY 1),
pkb AS (SELECT h.g, min(b) AS peak_bucket
        FROM hourly h JOIN per USING (g)
        WHERE h.ld = per.peak GROUP BY 1),
sysh AS (SELECT b, sum(ld) AS sload FROM hourly GROUP BY 1),
sysr AS (SELECT (SELECT max(sload) FROM sysh) AS sys_peak,
                (SELECT sum(peak) FROM per) AS sum_peaks),
sysb AS (SELECT min(b) AS sys_peak_bucket FROM sysh, sysr
         WHERE sload = sys_peak),
at_sys AS (SELECT g, ld AS at_peak FROM hourly, sysb
           WHERE b = sys_peak_bucket)
SELECT per.g AS event_type, n_buckets,
       CAST(peak AS DOUBLE) AS peak_load, peak_bucket,
       floor(CAST(tot AS DOUBLE) / CAST(n_buckets AS DOUBLE)
             / CAST(peak AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS load_factor,
       coalesce(CAST(at_peak AS DOUBLE), 0.0) AS load_at_system_peak,
       floor(CAST(sys_peak AS DOUBLE) / CAST(sum_peaks AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS coincidence_factor
FROM per JOIN pkb USING (g) LEFT JOIN at_sys USING (g), sysr
ORDER BY event_type
""", priority=PRI_TAIL)
def q208_load_coincidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type load factor + system coincidence factor over hourly
    event load (operators/timeseries.load_coincidence) — the demand
    aggregation the reference's power-grid domain plans capacity with
    (per-feeder peak vs system peak). Interval loads are exact
    decimal(38,10) sums, so peak picks and the exact-tie argmin bucket
    are deterministic across engines; ratios are double + floor6 at
    the very end. Two keyed shuffles, 1-row broadcast system frame.
    Round-10c born: PRI_TAIL until the round-11 rotation."""
    return ts.load_coincidence(load_events(spark, sf_dir))


@register("q209_changepoint", """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS b,
         SUM(CAST(value AS DECIMAL(38,10))) AS ld
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1),
tot AS (SELECT sum(ld) AS s, CAST(count(*) AS BIGINT) AS n FROM daily),
staged AS (
  SELECT b,
         sum(ld) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS sl,
         CAST(row_number() OVER (ORDER BY b) AS BIGINT) AS k
  FROM daily),
scored AS (
  SELECT b, n,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(k AS DOUBLE)
         + CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE)
           / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           AS g,
         floor(CAST(sl AS DOUBLE) / CAST(k AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS mean_left,
         floor(CAST(s - sl AS DOUBLE)
               / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS mean_right
  FROM staged, tot WHERE k < n)
SELECT b AS split_bucket, n AS n_buckets,
       floor(g * 1000000.0 + 0.5) / 1000000.0 AS gain,
       mean_left, mean_right
FROM scored ORDER BY g DESC, b LIMIT 1
""", priority=PRI_TAIL)
def q209_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline change-point detection on the daily load series
    (operators/timeseries.changepoint_binary_seg) — the two-segment
    least-squares split maximizing between-segment SSE reduction, the
    batch companion to q97's streaming CUSUM. Corpus collapses to the
    |days| frame first (exact decimal sums); prefix sums are decimal
    window cumsums, so gains are bit-identical doubles in both engines
    and the argmax needs no epsilon. Round-10c born: PRI_TAIL until
    the round-11 rotation."""
    return ts.changepoint_binary_seg(load_events(spark, sf_dir))


#: q210 column spec — shared by the Spark builder and the generated oracle
_DQ_SPEC = {"o_orderkey": "numeric", "o_custkey": "numeric",
            "o_totalprice": "numeric", "o_orderstatus": "string",
            "o_orderpriority": "string", "o_orderdate": "timestamp"}


def _dq_oracle(table: str, spec: dict) -> str:
    """DuckDB twin of stats.dq_expectations, generated from the SAME
    spec the Spark builder uses (the q185/q205 generated-oracle
    discipline: one source of truth for the metric list)."""
    fl6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"
    aggs, sels = ["CAST(count(*) AS BIGINT) AS n"], []
    for c, kind in spec.items():
        aggs.append(f"CAST(count({c}) AS BIGINT) AS nn_{c}")
        aggs.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}")
        if kind == "numeric":
            aggs += [f"min(CAST({c} AS DOUBLE)) AS min_{c}",
                     f"max(CAST({c} AS DOUBLE)) AS max_{c}",
                     f"SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(38,10)))"
                     f" AS sum_{c}"]
        elif kind == "string":
            aggs += [f"min(CAST(length({c}) AS DOUBLE)) AS min_{c}",
                     f"max(CAST(length({c}) AS DOUBLE)) AS max_{c}",
                     f"CAST(SUM(CAST(length({c}) AS BIGINT)) AS BIGINT)"
                     f" AS sum_{c}"]
        else:
            aggs += [f"min(epoch({c})) AS min_{c}",
                     f"max(epoch({c})) AS max_{c}"]
        rows = [("completeness",
                 fl6(f"CAST(nn_{c} AS DOUBLE) / CAST(n AS DOUBLE)")),
                ("n_distinct", f"CAST(nd_{c} AS DOUBLE)")]
        if kind == "numeric":
            rows += [("min", f"min_{c}"), ("max", f"max_{c}"),
                     ("mean", fl6(f"CAST(sum_{c} AS DOUBLE) "
                                  f"/ CAST(nn_{c} AS DOUBLE)"))]
        elif kind == "string":
            rows += [("min_len", f"min_{c}"), ("max_len", f"max_{c}"),
                     ("avg_len", fl6(f"CAST(sum_{c} AS DOUBLE) "
                                     f"/ CAST(nn_{c} AS DOUBLE)"))]
        else:
            rows += [("min_epoch", f"min_{c}"), ("max_epoch", f"max_{c}")]
        sels += [f"SELECT '{c}' AS col_name, '{m}' AS metric, "
                 f"CAST({e} AS DOUBLE) AS value FROM a" for m, e in rows]
    return ("WITH a AS (SELECT " + ", ".join(aggs) + f" FROM {table})\n"
            + "\nUNION ALL ".join(sels) + "\nORDER BY col_name, metric")


@register("q210_dq_expectations", _dq_oracle("orders", _DQ_SPEC), priority=PRI_TAIL)
def q210_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality expectation suite over orders
    (operators/stats.dq_expectations) — the measured ingest gate the
    reference's check_csv_file implies (reference
    datapipeline/datapipeline_utilities.py:47-75 validates presence;
    this measures completeness/distinctness/ranges per column, one
    (col_name, metric, value) row each). ONE corpus pass — every
    metric is an aggregate in a single agg(); the unpivot runs on the
    1-row result. Exact distincts here for oracle exactness;
    approx_count_distinct is the documented 100 TB swap-in. Round-10c
    born: PRI_TAIL until the round-11 rotation."""
    from powerdatapipeline_spark.operators import stats as st
    return st.dq_expectations(_t(spark, sf_dir, "orders"), _DQ_SPEC)


@register("q211_exceedance_report", """
WITH per AS (
  SELECT event_type AS g, round(CAST(value AS DOUBLE), 6) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2),
staged AS (
  SELECT g, v, c,
         sum(c) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM per),
thr AS (
  SELECT g, min(v) AS thr, CAST(max(n) AS BIGINT) AS n
  FROM staged
  WHERE cum >= floor(0.99 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
  GROUP BY 1),
exceed AS (
  SELECT per.g, CAST(sum(c) AS BIGINT) AS n_exceed,
         sum(CAST((v - thr) * CAST(c AS DOUBLE) AS DECIMAL(38,10)))
           AS sum_excess
  FROM per JOIN thr USING (g) WHERE v > thr GROUP BY 1),
mx AS (SELECT g, max(v) AS max_value FROM per GROUP BY 1)
SELECT thr.g AS event_type, n, thr AS threshold,
       coalesce(n_exceed, 0) AS n_exceed,
       CASE WHEN n_exceed > 0 THEN
         floor(CAST(sum_excess AS DOUBLE) / CAST(n_exceed AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 END AS mean_excess,
       max_value
FROM thr LEFT JOIN exceed USING (g) JOIN mx USING (g)
ORDER BY event_type
""", priority=PRI_TAIL)
def q211_exceedance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail report per event type
    (operators/stats.exceedance_report) — exact per-group p99
    threshold (nearest-rank on the distinct-value count frame, the
    q204 discipline), exceedance count, mean excess (the EVT
    mean-residual-life statistic) and max. All sums over the
    |distinct| frame weighted by exact BIGINT counts; the excess sum
    is decimal-cast. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    from powerdatapipeline_spark.operators import stats as st
    return st.exceedance_report(load_events(spark, sf_dir),
                                "value", "event_type", q=0.99)


@register("q212_ols_trend", """
WITH daily AS (
  SELECT o_orderpriority AS g,
         CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS rev
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL
  GROUP BY 1, 2),
mins AS (SELECT g, min(d) AS d0 FROM daily GROUP BY 1),
f AS (SELECT g, CAST(d - d0 AS DOUBLE) AS x, CAST(rev AS DOUBLE) AS y
      FROM daily JOIN mins USING (g)),
m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        CAST(sum(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        CAST(sum(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        CAST(sum(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      FROM f GROUP BY 1)
SELECT g AS o_orderpriority, n,
  CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * sxx - sx * sx <> 0 THEN
    floor((CAST(n AS DOUBLE) * sxy - sx * sy)
          / (CAST(n AS DOUBLE) * sxx - sx * sx)
          * 1000000.0 + 0.5) / 1000000.0 END AS slope,
  CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * sxx - sx * sx <> 0 THEN
    floor((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
          / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    END AS intercept,
  CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * sxx - sx * sx <> 0
            AND CAST(n AS DOUBLE) * syy - sy * sy <> 0 THEN
    floor((CAST(n AS DOUBLE) * sxy - sx * sy)
          * (CAST(n AS DOUBLE) * sxy - sx * sy)
          / ((CAST(n AS DOUBLE) * sxx - sx * sx)
             * (CAST(n AS DOUBLE) * syy - sy * sy))
          * 1000000.0 + 0.5) / 1000000.0 END AS r2
FROM m ORDER BY o_orderpriority
""", priority=PRI_TAIL)
def q212_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of daily order revenue
    (operators/stats.ols_trend) — slope/intercept/R² from one grouped
    five-moment pass (each term double, decimal-cast before SUM for
    partition-order freedom — the correlation-matrix discipline), the
    parametric companion to q194's Mann-Kendall. Daily revenue is an
    exact decimal sum first; x is the day offset from each group's
    first day. Round-10c born: PRI_TAIL until the round-11 rotation."""
    from powerdatapipeline_spark.operators import stats as st
    o = _t(spark, sf_dir, "orders")
    daily = (o.where(F.col("o_orderpriority").isNotNull()
                     & F.col("o_orderdate").isNotNull()
                     & F.col("o_totalprice").isNotNull())
             .select(F.col("o_orderpriority").alias("g"),
                     F.floor(F.col("o_orderdate").cast("timestamp")
                             .cast("double") / F.lit(86400.0))
                     .cast("bigint").alias("d"),
                     F.col("o_totalprice"))
             .groupBy("g", "d")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
                  .alias("rev")))
    mins = daily.groupBy("g").agg(F.min("d").alias("d0"))
    frame = (daily.join(mins, "g")
             .select(F.col("g").alias("o_orderpriority"),
                     (F.col("d") - F.col("d0")).cast("double").alias("x"),
                     F.col("rev").cast("double").alias("y")))
    return st.ols_trend(frame, "x", "y", "o_orderpriority")


@register("q213_streaming_quantile", """
WITH base AS (SELECT round(CAST(value AS DOUBLE), 6) AS v FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL),
per AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
cum AS (SELECT v,
               sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(c) OVER () AS n
        FROM per)
SELECT CAST(max(n) AS BIGINT) AS n,
  min(CASE WHEN cum >= floor(0.5 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_50,
  min(CASE WHEN cum >= floor(0.9 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_90,
  min(CASE WHEN cum >= floor(0.99 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_99
FROM cum
""", priority=PRI_TAIL)
def q213_streaming_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact-quantile monitor under driver verification
    (streaming/stateful.streaming_quantile_monitor +
    finalize via stats.quantiles_from_value_counts) — p50/p90/p99 of
    the purchase-value stream from mergeable per-distinct-value count
    partials (the q190/q196/q199 sufficient-statistic discipline: each
    micro-batch appends its |batch-distinct|-row partial blind;
    quantiles of everything-seen merge by addition, exact at any
    checkpoint, state bounded by |distinct values| not rows). The
    batch DuckDB oracle verifies the streaming run bit-for-bit.
    Round-10c born: PRI_TAIL until the round-11 rotation."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_quantile_monitor, streaming_quantile_monitor)

    stream = (events_stream_source(spark, sf_dir)
              .where(F.col("event_type") == "purchase"))
    tmp = _stream_scratch("q213_streaming_quantile_")
    q = streaming_quantile_monitor(stream, "value",
                                   f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q213 streaming job did not finish within 300 s")
    return finalize_quantile_monitor(spark, f"{tmp}/partials")


def q213_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-micro-batch partials frame q213's foreachBatch appends —
    the q190_stream_frame convention for the plan audit."""
    ev = load_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    v = F.round(F.col("value").cast("double"), 6)
    return (ev.select(v.alias("__v")).where(F.col("__v").isNotNull())
            .groupBy("__v").agg(F.count("*").cast("bigint").alias("c")))


@register("q214_ngram_cosine_pairs", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(len(t) - 2, 0)),
    i -> md5(array_to_string(list_slice(t, i, i + 2), ' ')))) AS gh
  FROM toks),
ti AS (SELECT doc_id, gh, CAST(count(*) AS BIGINT) AS tf
       FROM grams GROUP BY 1, 2),
dfq AS (SELECT gh, CAST(count(*) AS BIGINT) AS df FROM ti GROUP BY 1),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS N FROM documents),
w AS (SELECT doc_id, ti.gh,
             round(CAST(tf AS DOUBLE)
                   * round(ln(CAST(N AS DOUBLE) / CAST(df AS DOUBLE)), 6),
                   6) AS w
      FROM ti JOIN dfq USING (gh) CROSS JOIN nd),
norms AS (SELECT doc_id,
                 sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,10))) AS DOUBLE))
                   AS nrm
          FROM w GROUP BY 1),
dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                sum(CAST(a.w * b.w AS DECIMAL(38,10))) AS dot
         FROM w a JOIN w b ON a.gh = b.gh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
SELECT id_a, id_b,
       floor(CAST(dot AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS dot,
       floor(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm)
             * 1000000.0 + 0.5) / 1000000.0 AS cosine
FROM dots JOIN norms na ON na.doc_id = id_a
          JOIN norms nb ON nb.doc_id = id_b
WHERE na.nrm > 0 AND nb.nrm > 0
ORDER BY cosine DESC, id_a, id_b LIMIT 25
""", priority=PRI_TAIL)
def q214_ngram_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 document pairs by exact TF-IDF cosine over word TRIGRAM
    vectors (operators/text.ngram_cosine_pairs) — the count-weighted
    exact companion to Jaccard (q91) and MinHash (q29): inverted-index
    postings join on md5(gram) bounds candidates by Σ df², which the
    trigram dictionary keeps small where the 31-word unigram vocab
    would degenerate (measured Σdf²: 2.8M trigram vs 448M unigram at
    sf0.1). q77's idf recipe, decimal dot/norm sums, IEEE-exact sqrt,
    floor6 cosine, total-order top-k. Round-10c born: PRI_TAIL until
    the round-11 rotation."""
    return tx.ngram_cosine_pairs(_t(spark, sf_dir, "documents"),
                                 n=3, top_k=25)


def _rfm_oracle() -> str:
    """DuckDB twin of q215 (relational.rfm_scores), the generated-
    oracle discipline: the three quintile-threshold CTEs share one
    template so the nearest-rank arithmetic cannot drift between
    dimensions."""
    def cuts(name: str, expr: str, p: str) -> str:
        sels = ", ".join(
            f"min(CASE WHEN cum >= floor(0.{q} * CAST(n - 1 AS DOUBLE)"
            f" + 0.5) + 1 THEN v END) AS {p}{q}0" for q in (2, 4, 6, 8))
        return (f"{name} AS (SELECT {sels} FROM ("
                f"SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN "
                f"UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
                f"sum(c) OVER () AS n FROM (SELECT {expr} AS v, "
                f"CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1)))")

    def score(v: str, p: str, op: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN {v} {op} {p}{q}0 THEN 1 ELSE 0 END)"
            for q in (2, 4, 6, 8))
        return f"CAST(1 + {terms} AS INT)"

    return f"""
WITH ref AS (SELECT max(epoch(o_orderdate)) AS t_ref FROM orders),
base AS (
  SELECT o_custkey,
         CAST(floor((t_ref - max(epoch(o_orderdate))) / 86400.0)
              AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                    AS DOUBLE), 6) AS monetary
  FROM orders, ref
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL
  GROUP BY o_custkey, t_ref),
{cuts('rq', 'CAST(recency_days AS DOUBLE)', 'r')},
{cuts('fq', 'CAST(frequency AS DOUBLE)', 'f')},
{cuts('mq', 'monetary', 'm')},
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         {score('CAST(recency_days AS DOUBLE)', 'r', '<')} AS r_score,
         {score('CAST(frequency AS DOUBLE)', 'f', '>')} AS f_score,
         {score('monetary', 'm', '>')} AS m_score
  FROM base, rq, fq, mq)
SELECT *, CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_cell
FROM scored ORDER BY o_custkey
"""


@register("q215_rfm_scores", _rfm_oracle(), priority=PRI_TAIL)
def q215_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders
    (operators/relational.rfm_scores) — recency/frequency/monetary per
    customer, each scored 1-5 against population quintiles. No global
    sort and no per-row ntile: the corpus reduces to one row per
    customer (exact decimal spend), quintile cut points come from
    per-distinct-value count frames (the q204/q211 nearest-rank
    discipline), and scoring is four broadcast comparisons per
    dimension. Round-10c born: PRI_TAIL until the round-11 rotation."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp"))
    return rel.rfm_scores(o, "o_custkey", "o_orderdate", "o_totalprice")


@register("q216_class_balance", """
WITH counts AS (SELECT label, CAST(count(*) AS BIGINT) AS c
                FROM embeddings
                WHERE label IS NOT NULL AND vec_id IS NOT NULL
                GROUP BY 1),
m AS (SELECT min(c) AS m FROM counts),
ranked AS (
  SELECT vec_id, label,
         CAST(row_number() OVER (
           PARTITION BY label
           ORDER BY md5('balance' || CAST(vec_id AS VARCHAR)), vec_id)
           AS BIGINT) AS draw_rank
  FROM embeddings
  WHERE label IS NOT NULL AND vec_id IS NOT NULL)
SELECT vec_id, label, draw_rank
FROM ranked, m WHERE draw_rank <= m
ORDER BY label, vec_id
""", priority=PRI_TAIL)  # driver-green r11 + r12 → demoted for the r13
#                          head so q266 gets its first driver record
def q216_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample of the embedding set
    (operators/relational.class_balance) — every label equalized to
    the minority class size by deterministic salted-md5 draw (the
    q62/q162 reproducible-sampling discipline; no RNG state, identical
    picks in both engines). One |labels|-row count agg + 1-row
    broadcast minimum + WindowGroupLimit-prunable per-label rank — no
    label partition fully sorts. Round-10c born: PRI_TAIL until the
    round-11 rotation."""
    return rel.class_balance(_t(spark, sf_dir, "embeddings"),
                             "label", "vec_id")


def _canon_oracle(max_dist: int = 2, rounds: int = 16) -> str:
    """DuckDB twin of q217: min-label flood over the fuzzy-match
    dictionary graph, unrolled to a fixed round budget (the
    q185/q205 unrolled-oracle discipline). The flood converges in
    diameter(G) rounds and extra rounds are no-ops, so a 16-round
    unroll is exact for any dictionary whose fuzzy clusters have
    diameter <= 16 — far beyond the fixture's (tail-parity pytest
    guards drift); the Spark side (star contraction) is
    diameter-independent."""
    ctes = [
        "d AS MATERIALIZED (SELECT p_name AS v, CAST(count(*) AS BIGINT)"
        " AS n FROM part WHERE p_name IS NOT NULL GROUP BY 1)",
        "s AS (SELECT v, n, length(v) AS len, string_split(v, ' ')[-1]"
        " AS blk FROM d)",
        f"e AS MATERIALIZED (SELECT a.v AS u, b.v AS w FROM s a JOIN s b"
        f" ON a.blk = b.blk AND a.v < b.v"
        f" AND abs(a.len - b.len) <= {max_dist}"
        f" WHERE levenshtein(a.v, b.v) <= {max_dist})",
        "sym AS MATERIALIZED (SELECT u, w FROM e"
        " UNION ALL SELECT w, u FROM e)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)"]
    for i in range(rounds):
        ctes.append(
            f"l{i + 1} AS MATERIALIZED (SELECT l.node,"
            f" least(l.label, min(ln.label)) AS label"
            f" FROM l{i} l JOIN sym ON sym.u = l.node"
            f" JOIN l{i} ln ON ln.node = sym.w"
            f" GROUP BY l.node, l.label)")
    ctes.append(
        f"member AS (SELECT node, label, n FROM l{rounds}"
        f" JOIN d ON d.v = node)")
    ctes.append(
        "canon AS (SELECT label, node AS canonical FROM ("
        "SELECT label, node, row_number() OVER (PARTITION BY label"
        " ORDER BY n DESC, node) AS rn FROM member) WHERE rn = 1)")
    ctes.append(
        "sz AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size"
        " FROM member GROUP BY 1)")
    return ("WITH " + ",\n".join(ctes) + """
SELECT node AS value, n, canonical, cluster_size
FROM member JOIN canon USING (label) JOIN sz USING (label)
ORDER BY canonical, value""")


@register("q217_canonicalize_labels", _canon_oracle())
def q217_canonicalize_labels(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """End-to-end label canonicalization over part names
    (operators/dedup.canonicalize_labels) — q206's fuzzy candidate
    pairs (typo-level max_dist=2) clustered by the O(log n) star
    contraction (graph.connected_components), each cluster mapped to
    its dominant spelling (max support, lexicographic tiebreak). The
    quadratic + iterative stages run on the |V| dictionary only;
    applying the fix to a 100 TB corpus is one broadcast map join.
    Round-10c born: PRI_TAIL until the round-11 rotation."""
    return dd.canonicalize_labels(_t(spark, sf_dir, "part"), "p_name",
                                  max_dist=2)


@register("q218_forecast_backtest", """
WITH hourly AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b,
         SUM(CAST(value AS DECIMAL(38,10))) AS ld
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
scored AS (
  SELECT a.g, CAST(a.ld AS DOUBLE) - CAST(l.ld AS DOUBLE) AS e,
         CAST(a.ld AS DOUBLE) AS y
  FROM hourly a JOIN hourly l ON a.g = l.g AND a.b = l.b + 168),
agg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_scored,
         sum(CAST(abs(e) AS DECIMAL(38,10))) AS sae,
         sum(CAST(e * e AS DECIMAL(38,10))) AS sse,
         sum(CAST(e AS DECIMAL(38,10))) AS se,
         CAST(sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nz,
         sum(CASE WHEN y <> 0
                  THEN CAST(abs(e / y) AS DECIMAL(38,10)) END) AS sape
  FROM scored GROUP BY 1)
SELECT g AS event_type, n_scored,
  floor(CAST(sae AS DOUBLE) / CAST(n_scored AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS mae,
  floor(sqrt(CAST(sse AS DOUBLE) / CAST(n_scored AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS rmse,
  floor(CAST(se AS DOUBLE) / CAST(n_scored AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS bias,
  CASE WHEN n_nz > 0 THEN
    floor(CAST(sape AS DOUBLE) / CAST(n_nz AS DOUBLE)
          * 1000000.0 + 0.5) / 1000000.0 END AS mape
FROM agg ORDER BY event_type
""", priority=PRI_TAIL)  # driver-green r11 + r12 → demoted for the r13
#                          head so q267 gets its first driver record
def q218_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal-naive forecast backtest per event type
    (operators/timeseries.forecast_backtest_naive) — MAE/RMSE/bias/
    MAPE of the ŷ(t)=y(t−168 h) persistence baseline every grid load
    forecaster must beat. Exact decimal interval loads, keyed
    (group, bucket−168) self equi-join (no window, no sort), decimal
    error sums, IEEE-exact sqrt, floor6 metrics. Round-10c born:
    PRI_TAIL until the round-11 rotation."""
    return ts.forecast_backtest_naive(load_events(spark, sf_dir))


@register("q219_state_durations", """
WITH base AS (
  SELECT event_type AS state, epoch(ts) AS t,
         lead(epoch(ts)) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS t_next
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL),
durs AS (SELECT state, round(t_next - t, 6) AS dur FROM base
         WHERE t_next IS NOT NULL),
agg AS (SELECT state, CAST(count(*) AS BIGINT) AS n_intervals,
               sum(CAST(dur AS DECIMAL(38,10))) AS tot,
               max(dur) AS max_seconds
        FROM durs GROUP BY 1)
SELECT state, n_intervals, CAST(tot AS DOUBLE) AS total_seconds,
       floor(CAST(tot AS DOUBLE) / CAST(n_intervals AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS mean_seconds,
       max_seconds
FROM agg ORDER BY state
""")
def q219_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state dwell report per event type
    (operators/timeseries.state_durations) — the duration-weighted
    complement to q147's Markov transition counts: exact epoch
    interval lengths from one user-keyed lead window (deterministic
    (ts, event_id) order), right-censored last events dropped, decimal
    total sums. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    return ts.state_durations(load_events(spark, sf_dir))


@register("q220_lorenz_deciles", """
WITH pe AS (
  SELECT o_custkey,
         round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                    AS DOUBLE), 6) AS v
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1),
pv AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
              sum(CAST(v AS DECIMAL(38,6))) AS s
       FROM pe GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, sum(s) AS tot FROM pv),
staged AS (
  SELECT v,
         sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cumc,
         sum(s) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cums
  FROM pv),
dd AS (SELECT unnest(generate_series(1, 10)) AS d)
SELECT CAST(d AS INT) AS decile,
       CAST(min(cumc) AS BIGINT) AS cum_entities,
       floor(CAST(min(cums) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS cum_share
FROM staged, tot, dd
WHERE cumc >= floor(CAST(d * n + 9 AS DOUBLE) / 10.0)
GROUP BY d ORDER BY decile
""")
def q220_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend concentration
    (operators/stats.lorenz_deciles) — the ten cumulative-share points
    behind q189's Gini scalar: bottom d×10 % of customers hold what
    share of revenue? Exact decimal per-customer totals (6-rounded),
    cumulative windows on the |distinct values| frame only, decile
    rows as pure monotone aggregates — no join-back, no global
    per-entity sort. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    from powerdatapipeline_spark.operators import stats as st
    return st.lorenz_deciles(_t(spark, sf_dir, "orders"),
                             "o_custkey", "o_totalprice")


@register("q221_kfold_report", """
SELECT CAST(CAST(('0x' || substr(md5('kfold' || CAST(vec_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % 5 AS INT) AS fold,
       label, CAST(count(*) AS BIGINT) AS n
FROM embeddings
WHERE vec_id IS NOT NULL AND label IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
""")
def q221_kfold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment + class-balance report over the
    embedding set (operators/relational.kfold_report) — reproducible
    cross-validation folds from the md5-prefix hash primitive (q62's
    hash_bucket discipline; no RNG, no sort), counts per (fold, label)
    so imbalance is auditable before training. Pure narrow map + one
    map-side-combined count shuffle. Round-10c born: PRI_TAIL until
    the round-11 rotation."""
    return rel.kfold_report(_t(spark, sf_dir, "embeddings"),
                            "vec_id", "label", k=5)


@register("q222_last_touch_attribution", """
WITH base AS (
  SELECT user_id AS k, epoch(ts) AS t,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
         CASE WHEN event_type <> 'purchase' THEN event_type END
           AS touch_type,
         CASE WHEN event_type = 'purchase'
              THEN coalesce(CAST(value AS DOUBLE), 0.0) END AS v,
         event_id AS tb
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IN ('view', 'click', 'purchase')),
carried AS (
  SELECT *,
    last_value(touch_type IGNORE NULLS) OVER
      (PARTITION BY k ORDER BY t, kind, tb
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_touch,
    last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER
      (PARTITION BY k ORDER BY t, kind, tb
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_touch_t
  FROM base),
conv AS (
  SELECT CASE WHEN last_touch IS NOT NULL AND t - last_touch_t <= 7200
              THEN last_touch ELSE '(none)' END AS channel, v
  FROM carried WHERE kind = 1)
SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
       round(CAST(sum(CAST(round(v, 6) AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value
FROM conv GROUP BY 1 ORDER BY 1
""")
def q222_last_touch_attribution(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Last-touch conversion attribution over the event stream
    (operators/timeseries.last_touch_attribution) — every purchase
    credits the user's most recent view/click within 2 h, out-of-
    window conversions land in '(none)'. The q37 as-of discipline
    (union-tag + one user-keyed carried window, touches ordered
    before same-instant conversions) — never a per-conversion range
    join. Exact decimal value sums. Round-10c born: PRI_TAIL until
    the round-11 rotation."""
    return ts.last_touch_attribution(load_events(spark, sf_dir))


@register("q223_reconciliation_audit", """
WITH rc AS (
  SELECT l_orderkey,
         sum(CAST(round(CAST(l_extendedprice AS DOUBLE)
                        * (1.0 - CAST(l_discount AS DOUBLE))
                        * (1.0 + CAST(l_tax AS DOUBLE)), 6)
                  AS DECIMAL(38,10))) AS rcv
  FROM lineitem GROUP BY 1),
joined AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS declared,
         coalesce(CAST(rcv AS DOUBLE), 0.0) AS recomputed
  FROM orders LEFT JOIN rc ON rc.l_orderkey = orders.o_orderkey)
SELECT o_orderkey,
       floor(declared * 1000000.0 + 0.5) / 1000000.0 AS declared,
       floor(recomputed * 1000000.0 + 0.5) / 1000000.0 AS recomputed,
       floor((declared - recomputed) * 1000000.0 + 0.5) / 1000000.0
         AS diff
FROM joined
ORDER BY abs(declared - recomputed) DESC, o_orderkey LIMIT 25
""")
def q223_reconciliation_audit(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Order-vs-lineitem financial reconciliation
    (operators/relational.reconciliation_audit) — the arithmetic
    consistency audit beside q144's FK existence audit: recompute
    each order's total as Σ extendedprice·(1−discount)·(1+tax) over
    its lines (per-line double, 6-rounded, decimal-summed — one keyed
    fact shuffle) and rank the 25 worst |declared − recomputed|
    divergences. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    li = (_t(spark, sf_dir, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"))
    amount = (F.col("l_extendedprice").cast("double")
              * (F.lit(1.0) - F.col("l_discount").cast("double"))
              * (F.lit(1.0) + F.col("l_tax").cast("double")))
    return rel.reconciliation_audit(
        _t(spark, sf_dir, "orders"), li, "o_orderkey",
        "o_totalprice", amount)


@register("q224_time_to_convert", """
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch(ts) END) AS t0
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IN ('view', 'purchase')
  GROUP BY 1),
fp AS (SELECT user_id, epoch(ts) AS tc FROM events
       WHERE ts IS NOT NULL AND user_id IS NOT NULL
         AND event_type = 'purchase'),
durs AS (
  SELECT pu.user_id, round(min(tc) - max(t0), 6) AS dur
  FROM pu JOIN fp USING (user_id)
  WHERE t0 IS NOT NULL AND tc >= t0
  GROUP BY 1),
per AS (SELECT dur AS v, CAST(count(*) AS BIGINT) AS c
        FROM durs GROUP BY 1),
cum AS (SELECT v,
               sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(c) OVER () AS n
        FROM per),
qq AS (SELECT CAST(max(n) AS BIGINT) AS n_converted,
  min(CASE WHEN cum >= floor(0.5 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_50,
  min(CASE WHEN cum >= floor(0.9 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
           THEN v END) AS q_90
  FROM cum),
m AS (SELECT floor(CAST(sum(CAST(dur AS DECIMAL(38,10))) AS DOUBLE)
                   / count(*) * 1000000.0 + 0.5) / 1000000.0
        AS mean_seconds
      FROM durs)
SELECT n_converted, q_50, q_90, mean_seconds FROM qq, m
""")
def q224_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert latency distribution
    (operators/timeseries.time_to_convert) — seconds from each user's
    first view to their first purchase at-or-after it: converter
    count, exact p50/p90 (shared count-frame quantile finalizer,
    stats.quantiles_from_value_counts) and decimal-exact mean. The
    latency companion to q109's funnel counts; durations 6-rounded
    before the decimal cast (the q219 recipe). Round-10c born:
    PRI_TAIL until the round-11 rotation."""
    return ts.time_to_convert(load_events(spark, sf_dir))


@register("q225_cohort_ltv", """
WITH t0 AS (
  SELECT user_id,
         CAST(floor(min(epoch(ts)) / 604800.0) AS BIGINT) AS cohort_week
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1),
buys AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800.0) AS BIGINT) AS w,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type = 'purchase' AND value IS NOT NULL)
SELECT cohort_week, w - cohort_week AS age_weeks,
       CAST(count(DISTINCT buys.user_id) AS BIGINT) AS n_buyers,
       round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS revenue
FROM buys JOIN t0 USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""")
def q225_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort LTV triangle (operators/timeseries.cohort_ltv) —
    purchase revenue by (first-seen cohort week × age in weeks), the
    revenue companion to q110's retention counts: one per-user
    min-aggregate for cohort assignment, one keyed join of the
    purchase stream, exact decimal revenue and BIGINT buyer
    distincts. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    return ts.cohort_ltv(load_events(spark, sf_dir))


@register("q226_duplicate_transactions", """
WITH p AS (
  SELECT user_id AS k, round(CAST(value AS DOUBLE), 0) AS v,
         epoch(ts) AS t
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
lg AS (SELECT k, v, t,
              lag(t) OVER (PARTITION BY k, v ORDER BY t) AS tp
       FROM p)
SELECT k AS user_id, v AS amount, tp AS t_first, t AS t_second,
       round(t - tp, 6) AS gap_seconds
FROM lg WHERE tp IS NOT NULL AND t - tp <= 3600
ORDER BY gap_seconds, user_id, t_first, amount LIMIT 25
""")
def q226_duplicate_transactions(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Duplicate-transaction screen over the event stream
    (operators/relational.duplicate_transactions) — same user, same
    unit-rounded amount, under an hour apart: the double-charge /
    meter-re-send audit. Not a self range-join: one lag window inside
    uniform (user, amount) hash groups finds adjacent pairs — no pair
    explosion, no time-bucket replication. Round-10c born: PRI_TAIL
    until the round-11 rotation."""
    return rel.duplicate_transactions(load_events(spark, sf_dir),
                                      "user_id", "ts", "value",
                                      max_gap_seconds=3600.0,
                                      amount_decimals=0)


@register("q227_abc_classification", """
WITH pk AS (
  SELECT l_partkey AS k,
         floor(CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE)
                                   * (1.0 - CAST(l_discount AS DOUBLE)),
                             6) AS DECIMAL(38,10))) AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS v
  FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL
  GROUP BY 1),
pv AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
              sum(CAST(v AS DECIMAL(38,6))) AS s
       FROM pk GROUP BY 1),
tot AS (SELECT sum(s) AS tot FROM pv),
staged AS (
  SELECT v, c, s,
         sum(s) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cums
  FROM pv),
cls AS (
  SELECT CASE WHEN CAST(cums AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8
                THEN 'A'
              WHEN CAST(cums AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95
                THEN 'B' ELSE 'C' END AS abc_class,
         c, s, tot
  FROM staged, tot)
SELECT abc_class, CAST(sum(c) AS BIGINT) AS n_entities,
       floor(CAST(sum(s) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS revenue,
       floor(CAST(sum(s) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS revenue_share
FROM cls GROUP BY 1 ORDER BY 1
""")
def q227_abc_classification(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """ABC (Pareto 80/15/5) part classification by discounted revenue
    (operators/relational.abc_classification) — the inventory-
    analytics split beside q220's Lorenz curve: A = the head parts
    holding 80 % of revenue, B to 95 %, C the tail. Per-line amounts
    6-rounded before the decimal cast (the q219 recipe), descending
    cumulative window on the |distinct revenue| frame only — parts
    never globally sort. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    li = _t(spark, sf_dir, "lineitem")
    amount = F.round(F.col("l_extendedprice").cast("double")
                     * (F.lit(1.0) - F.col("l_discount").cast("double")),
                     6)
    frame = (li.where(F.col("l_partkey").isNotNull()
                      & F.col("l_extendedprice").isNotNull()
                      & F.col("l_discount").isNotNull())
             .select(F.col("l_partkey"), amount.alias("amount")))
    return rel.abc_classification(frame, "l_partkey", "amount")


@register("q228_fanout_audit", """
WITH cc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS fan
            FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
pp AS (SELECT coalesce(fan, 0) AS fan
       FROM orders LEFT JOIN cc ON cc.k = orders.o_orderkey
       WHERE o_orderkey IS NOT NULL),
per AS (SELECT CAST(fan AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS c
        FROM pp GROUP BY 1),
cum AS (SELECT v,
               sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(c) OVER () AS n
        FROM per),
qq AS (SELECT
  CAST(min(CASE WHEN cum >= floor(0.5 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
                THEN v END) AS BIGINT) AS p50_fanout,
  CAST(min(CASE WHEN cum >= floor(0.95 * CAST(n - 1 AS DOUBLE) + 0.5) + 1
                THEN v END) AS BIGINT) AS p95_fanout
  FROM cum),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_parents,
             CAST(sum(fan) AS BIGINT) AS n_children,
             CAST(sum(CASE WHEN fan = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS parents_no_children,
             CAST(min(fan) AS BIGINT) AS min_fanout,
             CAST(max(fan) AS BIGINT) AS max_fanout,
             floor(CAST(sum(fan) AS DOUBLE) / count(*)
                   * 1000000.0 + 0.5) / 1000000.0 AS mean_fanout
      FROM pp)
SELECT n_parents, n_children, parents_no_children, min_fanout,
       p50_fanout, p95_fanout, max_fanout, mean_fanout
FROM s, qq
""")
def q228_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→lineitem fan-out audit (operators/relational.fanout_audit)
    — the join-shape companion to q144's orphan audit and q154's skew
    report: fan-out distribution (zero-line orders included) predicts
    join amplification before the join runs at 100 TB. One FK-keyed
    child count, a left join onto parent keys, exact nearest-rank
    p50/p95 from the |distinct fanout| count frame. Round-10c born:
    PRI_TAIL until the round-11 rotation."""
    return rel.fanout_audit(_t(spark, sf_dir, "orders"),
                            _t(spark, sf_dir, "lineitem"),
                            "o_orderkey", "l_orderkey")


@register("q229_token_coverage", r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM counts),
staged AS (
  SELECT term, c,
         row_number() OVER (ORDER BY c DESC, term) AS rk,
         sum(c) OVER (ORDER BY c DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM counts),
ks AS (SELECT unnest([1, 2, 5, 10, 20]) AS k)
SELECT k, CAST(max(rk) AS BIGINT) AS n_terms,
       CAST(max(cum) AS BIGINT) AS covered_tokens,
       floor(CAST(max(cum) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS coverage
FROM staged, tot, ks WHERE rk <= k
GROUP BY k ORDER BY k
""")
def q229_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-mass coverage curve at k = 1/2/5/10/20
    (operators/text.token_coverage_curve) — the vocab-sizing
    companion to Zipf (q111) and Heaps (q165): one map-side unigram
    count, a total-order rank window over the |vocab| frame only,
    monotone aggregates per k. Round-10c born: PRI_TAIL until the
    round-11 rotation."""
    return tx.token_coverage_curve(_t(spark, sf_dir, "documents"))


@register("q230_centroid_shift", """
WITH ex AS (
  SELECT label AS lbl, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
  WHERE label IS NOT NULL AND embedding IS NOT NULL),
per AS (SELECT lbl, dim, sum(CAST(x AS DECIMAL(38,10))) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2),
lm AS (SELECT lbl, dim, n,
              CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m
       FROM per),
gm AS (SELECT dim,
              CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS g
       FROM per GROUP BY 1)
SELECT lbl AS label, CAST(max(n) AS BIGINT) AS n_vectors,
       floor(sqrt(CAST(sum(CAST((m - g) * (m - g) AS DECIMAL(38,10)))
                       AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
         AS l2_shift
FROM lm JOIN gm USING (dim)
GROUP BY lbl ORDER BY label
""")
def q230_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid shift vs the corpus centroid
    (operators/similarity.centroid_shift_report) — the embedding-space
    drift/imbalance screen: one narrow posexplode to a k×dim
    aggregate (never pairwise), exact decimal per-dim means, decimal
    squared-diff sums over the |dims| frame, IEEE-exact sqrt.
    Round-10c born: PRI_TAIL until the round-11 rotation."""
    return sim.centroid_shift_report(_t(spark, sf_dir, "embeddings"))


@register("q231_streaming_psi", """
WITH rb AS (SELECT least(floor((value - 0.0e0) / 20.0e0), 9) AS bin,
                   count(*) AS cr
            FROM events
            WHERE event_type = 'view'
              AND value >= 0.0e0 AND value <= 200.0e0
            GROUP BY 1),
cb AS (SELECT least(floor((value - 0.0e0) / 20.0e0), 9) AS bin,
              count(*) AS cc
       FROM events
       WHERE event_type = 'click'
         AND value >= 0.0e0 AND value <= 200.0e0
       GROUP BY 1),
b AS (SELECT COALESCE(rb.bin, cb.bin) AS bin,
             COALESCE(cr, 0) AS cr, COALESCE(cc, 0) AS cc
      FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin),
t AS (SELECT cr, cc, sum(cr) OVER () AS nr, sum(cc) OVER () AS nc
      FROM b),
terms AS (SELECT nr, nc,
                 CAST(round((greatest(CASE WHEN nc > 0
                                 THEN CAST(cc AS DOUBLE) / nc
                                 ELSE 0e0 END, 1e-06)
                             - greatest(CASE WHEN nr > 0
                                 THEN CAST(cr AS DOUBLE) / nr
                                 ELSE 0e0 END, 1e-06))
                     * (round(ln(greatest(CASE WHEN nc > 0
                                 THEN CAST(cc AS DOUBLE) / nc
                                 ELSE 0e0 END, 1e-06)), 6)
                        - round(ln(greatest(CASE WHEN nr > 0
                                 THEN CAST(cr AS DOUBLE) / nr
                                 ELSE 0e0 END, 1e-06)), 6)), 6)
                      AS DECIMAL(28,12)) AS term
          FROM t)
SELECT CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur,
       round(CAST(sum(term) AS DOUBLE), 6) AS psi
FROM terms
""")
def q231_streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PSI drift monitor under driver verification
    (streaming/stateful.streaming_psi_drift + finalize_psi_drift) —
    the binned companion to q199's exact-shape KS twin: the CLICK
    value stream reduces per micro-batch to ≤ nbins per-bin count
    partials (mergeable by addition, exact at any checkpoint) and
    finalizes against the static VIEW reference through the SAME
    stats.psi_from_bin_counts scorer as batch q121, so the batch
    DuckDB oracle verifies the streaming run bit-for-bit. Round-10c
    born: PRI_TAIL until the round-11 rotation."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_psi_drift, streaming_psi_drift)

    stream = (events_stream_source(spark, sf_dir)
              .where(F.col("event_type") == "click"))
    tmp = _stream_scratch("q231_streaming_psi_")
    q = streaming_psi_drift(stream, "value",
                            f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q231 streaming job did not finish within 300 s")
    reference = load_events(spark, sf_dir).where(
        F.col("event_type") == "view")
    return finalize_psi_drift(spark, reference, "value",
                              f"{tmp}/partials")


def q231_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-micro-batch partials frame q231's foreachBatch appends —
    the q190_stream_frame convention for the plan audit."""
    from powerdatapipeline_spark.operators.stats import histogram
    ev = load_events(spark, sf_dir).where(F.col("event_type") == "click")
    return (histogram(ev, "value", 0.0, 200.0, 10)
            .select("bin", F.col("n").cast("bigint").alias("n")))


@register("q232_periodogram", """
WITH base AS (SELECT epoch(ts) AS t, CAST(value AS DOUBLE) AS v
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL),
m AS (SELECT floor(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE)
                   / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean
      FROM base),
staged AS (
  SELECT t, v, mean, CAST(pt.p AS DOUBLE) AS prd,
         (t - floor(t / CAST(pt.p AS DOUBLE)) * CAST(pt.p AS DOUBLE))
           / CAST(pt.p AS DOUBLE) AS ph,
         v - mean AS vd
  FROM base, m,
       (SELECT unnest([21600, 43200, 86400, 604800]) AS p) pt),
agg AS (
  SELECT CAST(prd AS BIGINT) AS period_seconds,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(vd * round(cos(2 * pi() * ph), 6)
                  AS DECIMAL(38,10))) AS a,
         sum(CAST(vd * round(sin(2 * pi() * ph), 6)
                  AS DECIMAL(38,10))) AS b
  FROM staged GROUP BY 1)
SELECT period_seconds, n,
       floor(2.0 * sqrt(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
                        + CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
             / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS amplitude
FROM agg ORDER BY period_seconds
""")
def q232_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-period Fourier power scan over event load
    (operators/timeseries.periodogram) — which cycle (6 h / 12 h /
    24 h / weekly) dominates? Phase reduced exactly BEFORE the
    transcendental (t mod T in integer-double arithmetic), cos/sin
    6-rounded per the parity rules, demeaning constant floor6 of the
    exact decimal mean, one corpus scan for all periods. Round-10c
    born: PRI_TAIL until the round-11 rotation."""
    return ts.periodogram(load_events(spark, sf_dir))


@register("q233_session_entry_exit", """
WITH e AS (SELECT user_id AS k, epoch(ts) AS t, event_id AS tb,
                  event_type AS et
           FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL
             AND event_type IS NOT NULL),
lg AS (SELECT *, CASE WHEN lag(t) OVER (PARTITION BY k ORDER BY t, tb)
                           IS NULL
                        OR t - lag(t) OVER (PARTITION BY k
                                            ORDER BY t, tb) > 1800
                      THEN 1 ELSE 0 END AS is_new
       FROM e),
s AS (SELECT *, sum(is_new) OVER (PARTITION BY k ORDER BY t, tb
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid,
             coalesce(lead(is_new) OVER (PARTITION BY k ORDER BY t, tb),
                      1) AS next_new
      FROM lg),
per AS (
  SELECT k, sid,
         max(CASE WHEN is_new = 1 THEN et END) AS entry_et,
         max(CASE WHEN next_new = 1 THEN et END) AS exit_et,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY 1, 2)
SELECT entry_et AS entry_type, exit_et AS exit_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       floor(CAST(sum(n_events) AS DOUBLE) / count(*)
             * 1000000.0 + 0.5) / 1000000.0 AS avg_events
FROM per GROUP BY 1, 2 ORDER BY 1, 2
""")
def q233_session_entry_exit(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Session entry/exit/bounce report
    (operators/timeseries.session_entry_exit) — the landing-page
    layer on q39's sessionizer: per (entry, exit) event-type pair,
    session count, bounce count (single-event sessions) and mean
    session length. Entry/exit from ONE per-session min/max struct
    aggregate — no second window, no join-back. The ORACLE instead
    marks entry (is_new = 1) and exit (lead(is_new) is 1-or-absent)
    rows inside the session window it already sorts: DuckDB 1.0's
    min/max over STRUCT is pathologically slow (measured 200s for
    10k rows / 9.5k groups vs 0.1s for the mark-based twin; sf0.1
    parity pair 275s → 30s). Equivalent because (t, tiebreak) is
    unique inside a partition, so first/last row ≡ struct min/max.
    Round-10c born: PRI_TAIL until the round-11 rotation."""
    return ts.session_entry_exit(load_events(spark, sf_dir))


_LOADCORR_TYPES = ["click", "error", "purchase", "signup", "view"]


def _loadcorr_oracle(types=None) -> str:
    """DuckDB twin of q234: hourly load pivot + the q152 one-pass
    moment template, generated from the SAME type list the Spark
    builder uses (generated-oracle discipline)."""
    ts_ = types or _LOADCORR_TYPES
    piv_cols = ",\n    ".join(
        f"coalesce(floor(CAST(max(CASE WHEN g = '{t}' THEN ld END)"
        f" AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0, 0.0) AS {t}"
        for t in ts_)
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for i, ti in enumerate(ts_):
        aggs.append(f"sum(CAST({ti} AS DECIMAL(28,12))) AS s{i}")
        for j in range(i, len(ts_)):
            aggs.append(f"sum(CAST({ti} * {ts_[j]} AS DECIMAL(28,12)))"
                        f" AS p{i}_{j}")
    sels = []
    for i, ti in enumerate(ts_):
        for j in range(i + 1, len(ts_)):
            di = (f"CAST(n AS DOUBLE) * CAST(p{i}_{i} AS DOUBLE)"
                  f" - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)")
            dj = (f"CAST(n AS DOUBLE) * CAST(p{j}_{j} AS DOUBLE)"
                  f" - CAST(s{j} AS DOUBLE) * CAST(s{j} AS DOUBLE)")
            num = (f"CAST(n AS DOUBLE) * CAST(p{i}_{j} AS DOUBLE)"
                   f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE)")
            sels.append(
                f"SELECT '{ti}' AS col_a, '{ts_[j]}' AS col_b,\n"
                f"  CASE WHEN {di} > 0 AND {dj} > 0 THEN\n"
                f"    round(({num}) / (sqrt({di}) * sqrt({dj})), 6)\n"
                f"  END AS corr, n AS n_rows FROM m")
    return f"""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b, event_type AS g,
         SUM(CAST(value AS DECIMAL(38,10))) AS ld
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
piv AS (
  SELECT b,
    {piv_cols}
  FROM hourly GROUP BY 1),
m AS (SELECT {", ".join(aggs)} FROM piv)
{chr(10).join(s + (chr(10) + "UNION ALL" if k < len(sels) - 1 else "")
              for k, s in enumerate(sels))}
ORDER BY col_a, col_b"""


@register("q234_load_correlation", _loadcorr_oracle())
def q234_load_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type hourly load correlation matrix
    (operators/stats.correlation_matrix over the pivoted hourly-load
    frame) — do click and purchase load rise together, is error load
    countercyclical? The power-domain coincidence question q208
    answers at THE peak, answered across the whole distribution: one
    (type, hour) decimal-load aggregate, a conditional-aggregation
    pivot (absent hours = 0 load), then q152's one-pass moment
    template on the |hours|-row frame. Round-10c born: PRI_TAIL until
    the round-11 rotation."""
    from powerdatapipeline_spark.operators import stats as st
    ev = load_events(spark, sf_dir)
    hourly = (ev.where(F.col("ts").isNotNull()
                       & F.col("value").isNotNull()
                       & F.col("event_type").isNotNull())
              .groupBy(F.floor(F.col("ts").cast("double") / F.lit(3600.0))
                       .cast("bigint").alias("b"),
                       F.col("event_type").alias("g"))
              .agg(F.sum(F.col("value").cast("decimal(38,10)"))
                   .alias("ld")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    piv = hourly.groupBy("b").agg(*[
        F.coalesce(fl6(F.max(F.when(F.col("g") == t, F.col("ld")))
                       .cast("double")), F.lit(0.0)).alias(t)
        for t in _LOADCORR_TYPES])
    out = st.correlation_matrix(piv, _LOADCORR_TYPES)
    return out.orderBy("col_a", "col_b")


@register("q235_hits_authorities", """
WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS v
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
a1 AS (SELECT v, CAST(count(*) AS BIGINT) AS a FROM e GROUP BY 1),
h1 AS (SELECT u, CAST(sum(a) AS BIGINT) AS h
       FROM e JOIN a1 USING (v) GROUP BY 1),
a2 AS (SELECT v, CAST(sum(h) AS BIGINT) AS a
       FROM e JOIN h1 USING (u) GROUP BY 1),
mx AS (SELECT max(a) AS mx FROM a2)
SELECT v AS node, a AS authority_int,
       floor(CAST(a AS DOUBLE) / CAST(mx AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS authority
FROM a2, mx ORDER BY authority_int DESC, node LIMIT 20
""")
def q235_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities over the customer→part order graph
    (operators/graph.hits_scores) — Kleinberg's mutual-reinforcement
    ranking beside PageRank (q135): two EXACT-INTEGER alternations
    (h₀=1 makes every intermediate a BIGINT edge sum, so the oracle
    unrolls as plain SQL joins), max-normalization ONCE at the end —
    per-round float normalization is where HITS loses cross-engine
    reproducibility. Two keyed shuffles per alternation. Round-10c
    born: PRI_TAIL until the round-11 rotation."""
    e = (_t(spark, sf_dir, "orders")
         .join(_t(spark, sf_dir, "lineitem"),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .select(F.col("o_custkey").alias("src"),
                 F.col("l_partkey").alias("dst")))
    return gr.hits_scores(e, rounds=2, top_k=20)


@register("q236_vocab_richness", r"""
WITH toks AS (
  SELECT source AS g,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS term
  FROM documents WHERE source IS NOT NULL),
per AS (SELECT g, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2)
SELECT g AS source, CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       floor(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS ttr,
       floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS hapax_share
FROM per GROUP BY 1 ORDER BY source
""")
def q236_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax share per document source
    (operators/text.vocab_richness) — the lexical-diversity screen
    beside Heaps (q165) and fertility (q198): one (source, term)
    count aggregate, one |vocab|-row reduction, exact BIGINT counts.
    Round-10c born: PRI_TAIL until the round-11 rotation."""
    return tx.vocab_richness(_t(spark, sf_dir, "documents"))


@register("q237_burstiness", """
WITH base AS (
  SELECT event_type AS g,
         CAST(floor(round(lead(epoch(ts)) OVER
                (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) - epoch(ts), 6)
                * 1000000.0 + 0.5) AS BIGINT) AS m
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL),
agg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(CAST(m AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(CAST(m AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0))
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
  FROM base WHERE m IS NOT NULL GROUP BY 1),
d AS (
  SELECT g, n_gaps,
         CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1e6 AS mu,
         sqrt(greatest(
           (CAST(ss AS DOUBLE) / CAST(n_gaps AS DOUBLE)
            - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))) / 1e12,
           0.0)) AS sd
  FROM agg)
SELECT g AS event_type, n_gaps,
       floor(mu * 1000000.0 + 0.5) / 1000000.0 AS mean_gap_s,
       CASE WHEN mu > 0 THEN
         floor(sd / mu * 1000000.0 + 0.5) / 1000000.0 END AS cv,
       CASE WHEN sd + mu > 0 THEN
         floor((sd - mu) / (sd + mu) * 1000000.0 + 0.5) / 1000000.0
       END AS burstiness
FROM d ORDER BY event_type
""")
def q237_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness of per-user inter-arrival gaps per
    event type (operators/timeseries.burstiness_report) — B =
    (σ−μ)/(σ+μ): periodic → −1, Poisson → 0, bursty → +1; the
    arrival-process characterization behind q120's gap report. Gaps
    lift to exact integer microseconds; Σm and Σm² fold as
    DECIMAL(38,0) (the levene/anova exact-integer recipe); one
    (user, type)-keyed lead window. Round-10c born: PRI_TAIL until
    the round-11 rotation."""
    return ts.burstiness_report(load_events(spark, sf_dir))


#: q239's time-travel point: 2024-01-15T00:00:00Z, the fixture window's
#: midpoint (events span 2024-01-01 .. 2024-01-30)
_ASOF_T = 1705276800.0


@register("q238_incremental_agg", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total,
       floor(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean
FROM events
WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
GROUP BY 1 ORDER BY 1
""")
def q238_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance made explicit — the batch
    "late partition arrives" story: the BASE window (ts < the fixture
    midpoint) folds to per-type partials (decimal sum + count), the
    DELTA window folds separately, and the published aggregate is the
    MERGE of the two partial frames — never a recompute over base ∪
    delta. The oracle computes the full aggregate directly, so a hash
    match PROVES merge ≡ recompute (the mergeable-sufficient-statistic
    discipline the streaming twins q190/q199/q213/q231 rely on,
    demonstrated for batch delta loads). At 100 TB the base partials
    are a tiny materialized frame and only the delta scans."""
    ev = (load_events(spark, sf_dir)
          .where(F.col("event_type").isNotNull()
                 & F.col("value").isNotNull() & F.col("ts").isNotNull()))
    e = F.col("ts").cast("double")

    def partial(side):
        return (side.groupBy("event_type")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.sum(F.col("value").cast("decimal(38,10)"))
                     .alias("s")))

    base = partial(ev.where(e < F.lit(_ASOF_T)))
    delta = partial(ev.where(e >= F.lit(_ASOF_T)))
    merged = (base.unionByName(delta)
              .groupBy("event_type")
              .agg(F.sum("n").cast("bigint").alias("n"),
                   F.sum("s").alias("s")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (merged.select("event_type", "n",
                          F.col("s").cast("double").alias("total"),
                          fl6(F.col("s").cast("double")
                              / F.col("n").cast("double")).alias("mean"))
            .orderBy("event_type"))


@register("q240_pareto_frontier", """
WITH d AS (SELECT CAST(p_retailprice AS DOUBLE) AS price,
                  CAST(p_size AS BIGINT) AS sz,
                  CAST(count(*) AS BIGINT) AS n_parts
           FROM part
           WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
           GROUP BY 1, 2),
w AS (SELECT price, sz, n_parts,
             min(sz) OVER (ORDER BY price, sz
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_min
      FROM d)
SELECT price, sz AS p_size, n_parts
FROM w WHERE prev_min IS NULL OR prev_min > sz
ORDER BY price, p_size
""")
def q240_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (2-D skyline) of parts minimizing (price, size)
    — the non-dominated set (no other part is at-most-equal on BOTH
    dims and strictly better on one), the multi-objective shortlist
    primitive. The scan reduces to the DISTINCT (price, size)
    dictionary first (exact duplicates never dominate each other, so
    the frontier is decided on points, with part counts carried), then
    ONE running-min window over that bounded frame — the classic
    sort-scan skyline, never pairwise domination joins. Round-10c
    born: PRI_TAIL until the round-11 rotation."""
    prepared = (_t(spark, sf_dir, "part")
                .select(F.col("p_retailprice").cast("double")
                        .alias("price"),
                        F.col("p_size").cast("bigint").alias("p_size")))
    return (rel.pareto_frontier_2d(prepared, "price", "p_size")
            .withColumnRenamed("n_rows", "n_parts"))


def _q239_oracle() -> str:
    """DuckDB twin of q239: q129's SCD2 oracle wrapped in the as-of
    filter — one source of truth for the version-history SQL."""
    return (f"SELECT user_id, bal, valid_from FROM ({REGISTRY['q129_scd2_merge'][1]}) scd "
            f"WHERE valid_from <= {_ASOF_T} "
            f"AND (valid_to IS NULL OR valid_to > {_ASOF_T}) "
            f"ORDER BY user_id")


@register("q239_scd2_asof_read", _q239_oracle())
def q239_scd2_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read of the SCD2 dimension
    (q129's scd2_merge output filtered to the version valid AT
    2024-01-15T00:00Z) — the query side of the dimension story: pick
    each key's single version with ``valid_from <= T < valid_to``
    (open rows count). A partition-pruned range predicate at scale
    (valid_from/valid_to are the natural sort keys of a versioned
    dimension); exactly one row per key by the SCD2 invariant q129
    hash-verifies. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    dim = q129_scd2_merge(spark, sf_dir)
    return (dim.where((F.col("valid_from") <= F.lit(_ASOF_T))
                      & (F.col("valid_to").isNull()
                         | (F.col("valid_to") > F.lit(_ASOF_T))))
            .select("user_id", "bal", "valid_from")
            .orderBy("user_id"))


@register("q241_changepoint_two_level", """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS b,
         SUM(CAST(value AS DECIMAL(38,10))) AS ld
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1),
tot AS (SELECT sum(ld) AS s, CAST(count(*) AS BIGINT) AS n FROM daily),
staged AS (
  SELECT b,
         sum(ld) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum,
         CAST(row_number() OVER (ORDER BY b) AS BIGINT) AS k
  FROM daily),
s1 AS (
  SELECT b AS b1, k AS k1, cum AS cum1,
         CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE) / CAST(k AS DOUBLE)
         + CAST(s - cum AS DOUBLE) * CAST(s - cum AS DOUBLE)
           / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
           AS g1
  FROM staged, tot WHERE k < n AND n >= 3
  ORDER BY g1 DESC, b LIMIT 1),
s2 AS (
  SELECT b1, k1, cum1, g1, b AS b2, k AS k2, cum AS cum2,
         CASE WHEN k < k1 THEN
           CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE) / CAST(k AS DOUBLE)
           + CAST(cum1 - cum AS DOUBLE) * CAST(cum1 - cum AS DOUBLE)
             / (CAST(k1 AS DOUBLE) - CAST(k AS DOUBLE))
           - CAST(cum1 AS DOUBLE) * CAST(cum1 AS DOUBLE)
             / CAST(k1 AS DOUBLE)
         ELSE
           CAST(cum - cum1 AS DOUBLE) * CAST(cum - cum1 AS DOUBLE)
             / (CAST(k AS DOUBLE) - CAST(k1 AS DOUBLE))
           + CAST(s - cum AS DOUBLE) * CAST(s - cum AS DOUBLE)
             / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
           - CAST(s - cum1 AS DOUBLE) * CAST(s - cum1 AS DOUBLE)
             / (CAST(n AS DOUBLE) - CAST(k1 AS DOUBLE))
         END AS g2
  FROM staged, s1, tot WHERE k <> k1 AND k < n
  ORDER BY g2 DESC, b LIMIT 1)
SELECT n AS n_buckets, b1 AS split1_bucket, b2 AS split2_bucket,
  floor(g1 * 1000000.0 + 0.5) / 1000000.0 AS gain1,
  floor(g2 * 1000000.0 + 0.5) / 1000000.0 AS gain2,
  floor(CAST(CASE WHEN k1 < k2 THEN cum1 ELSE cum2 END AS DOUBLE)
        / CAST(least(k1, k2) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    AS mean_seg1,
  floor(CAST((CASE WHEN k1 < k2 THEN cum2 ELSE cum1 END)
             - (CASE WHEN k1 < k2 THEN cum1 ELSE cum2 END) AS DOUBLE)
        / CAST(greatest(k1, k2) - least(k1, k2) AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS mean_seg2,
  floor(CAST(s - (CASE WHEN k1 < k2 THEN cum2 ELSE cum1 END) AS DOUBLE)
        / CAST(n - greatest(k1, k2) AS DOUBLE) * 1000000.0 + 0.5)
        / 1000000.0 AS mean_seg3
FROM s2, tot
""")
def q241_changepoint_two_level(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Two-level (three-segment) binary segmentation of the daily load
    series (operators/timeseries.changepoint_two_level) — the greedy
    multi-change-point recursion unrolled into one declarative plan:
    global best split, then the best within-segment split on either
    side. Exact decimal cumsums make both argmaxes bit-identical
    across engines. Round-10c born: PRI_TAIL until the round-11
    rotation."""
    return ts.changepoint_two_level(load_events(spark, sf_dir))


@register("q242_copurchase_hitrate", """
WITH base AS (
  SELECT o_orderkey AS b, l_partkey AS i, epoch(o_orderdate) AS t
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE o_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    AND o_orderdate IS NOT NULL),
train AS (SELECT DISTINCT b, i FROM base WHERE t < 915148800.0),
test AS (SELECT DISTINCT b, i FROM base WHERE t >= 915148800.0),
pairs AS (
  SELECT a.i AS x, c.i AS y, CAST(count(*) AS BIGINT) AS cnt
  FROM train a JOIN train c ON a.b = c.b AND a.i <> c.i
  GROUP BY 1, 2),
rec AS (
  SELECT x AS i, y AS rec FROM (
    SELECT x, y, row_number() OVER (PARTITION BY x
                                    ORDER BY cnt DESC, y) AS rn
    FROM pairs) WHERE rn = 1),
scored AS (
  SELECT test.b, test.i, rec.rec,
         CASE WHEN h.rec2 IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM test LEFT JOIN rec USING (i)
  LEFT JOIN (SELECT b AS b3, i AS rec2 FROM test) h
    ON h.b3 = test.b AND h.rec2 = rec.rec),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test_items,
         CAST(sum(CASE WHEN rec IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_scored,
         CAST(sum(hit) AS BIGINT) AS n_hits
  FROM scored),
ntr AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_train_baskets
        FROM train)
SELECT n_train_baskets, n_test_items, n_scored, n_hits,
       CASE WHEN n_scored > 0 THEN
         floor(CAST(n_hits AS DOUBLE) / CAST(n_scored AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 END AS hit_rate
FROM agg, ntr
""")
def q242_copurchase_hitrate(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Co-purchase recommender with held-out hit-rate
    (operators/relational.copurchase_hitrate) — q203's association
    machinery closed into an eval loop: top-1 "bought together"
    partners trained on pre-1999 orders, scored on post-1999 baskets
    (temporal split — random splits leak co-purchases). Basket-bounded
    pair join, WindowGroupLimit top-1, two hash joins to score.
    Round-10c born: PRI_TAIL until the round-11 rotation."""
    base = (_t(spark, sf_dir, "orders")
            .join(_t(spark, sf_dir, "lineitem"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .select(F.col("o_orderkey").alias("basket"),
                    F.col("l_partkey").alias("item"),
                    F.col("o_orderdate").cast("timestamp").alias("ts")))
    return rel.copurchase_hitrate(base, "basket", "item", "ts",
                                  split_epoch=915148800.0)


@register("q243_weekly_profile", """
WITH base AS (
  SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) % 7 AS dow,
         CAST(floor(epoch(ts) / 3600.0) AS BIGINT) % 24 AS hod,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
SELECT dow, hod, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) AS total,
       floor(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(*)
             * 1000000.0 + 0.5) / 1000000.0 AS mean_value
FROM base GROUP BY 1, 2 ORDER BY 1, 2
""")
def q243_weekly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """168-slot weekly load-profile heatmap (day-of-epoch-week ×
    hour-of-day mean/total event value) — the weekly seasonal surface
    between q96's daily mean profile and q204's hour-of-day quantile
    bands: the standard load-shape input for weekly-cycle forecasting
    (q218's lag choice) and anomaly baselines. One map-side-combined
    aggregate to a fixed 168-row frame; exact decimal sums, floor6
    mean. Round-10c born: PRI_TAIL until the round-11 rotation."""
    ev = load_events(spark, sf_dir)
    e = F.col("ts").cast("double")
    base = (ev.where(F.col("ts").isNotNull() & F.col("value").isNotNull())
            .select((F.floor(e / F.lit(86400.0)).cast("bigint") % 7)
                    .alias("dow"),
                    (F.floor(e / F.lit(3600.0)).cast("bigint") % 24)
                    .alias("hod"),
                    F.col("value").cast("double").alias("v")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (base.groupBy("dow", "hod")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.col("v").cast("decimal(38,10)")).alias("__s"))
            .select("dow", "hod", "n",
                    F.col("__s").cast("double").alias("total"),
                    fl6(F.col("__s").cast("double")
                        / F.col("n").cast("double")).alias("mean_value"))
            .orderBy("dow", "hod"))


@register("q244_session_associations", """
WITH e AS (SELECT user_id AS k, epoch(ts) AS t, event_id AS tb,
                  event_type AS et
           FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL
             AND event_type IS NOT NULL),
lg AS (SELECT *, CASE WHEN lag(t) OVER (PARTITION BY k ORDER BY t, tb)
                           IS NULL
                        OR t - lag(t) OVER (PARTITION BY k
                                            ORDER BY t, tb) > 1800
                      THEN 1 ELSE 0 END AS is_new
       FROM e),
s AS (SELECT *, sum(is_new) OVER (PARTITION BY k ORDER BY t, tb
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid
      FROM lg),
li AS (SELECT DISTINCT k * 100000 + sid AS b, et AS i FROM s),
n_orders AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS N FROM li),
item_n AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM li GROUP BY 1),
pairs AS (
  SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS n_pairs
  FROM li a JOIN li c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT ia AS item_a, ib AS item_b, n_pairs,
       na.n_i AS n_a, nb.n_i AS n_b,
  floor(CAST(n_pairs AS DOUBLE) / CAST(N AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS support,
  floor(CAST(n_pairs AS DOUBLE) / CAST(na.n_i AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS conf_a_to_b,
  floor(CAST(n_pairs AS DOUBLE) / CAST(nb.n_i AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS conf_b_to_a,
  floor(CAST(N AS DOUBLE) * CAST(n_pairs AS DOUBLE)
        / (CAST(na.n_i AS DOUBLE) * CAST(nb.n_i AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM pairs
JOIN item_n na ON na.i = pairs.ia
JOIN item_n nb ON nb.i = pairs.ib
CROSS JOIN n_orders
ORDER BY lift DESC, item_a, item_b
LIMIT 25
""")
def q244_session_associations(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Event-type association rules within SESSIONS
    (operators/relational.association_rules over q39-style session
    baskets) — the market-basket miner q203 runs on orders, re-aimed
    at behavior: which event types co-occur in the same 30-minute
    session beyond what their marginals predict? Session ids from one
    user-keyed window (deterministic (ts, event_id) order), basket
    key = user·10⁵ + session (collision-free: sessions per user ≪
    10⁵, guarded upstream by the corpus span), then the identical
    a-priori pair pipeline. Round-10c born: PRI_TAIL until the
    round-11 rotation."""
    e = F.col("ts").cast("double")
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("event_id").asc()))
    prev = F.lag(e).over(w)
    is_new = (prev.isNull() | ((e - prev) > 1800.0)).cast("bigint")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    labeled = (load_events(spark, sf_dir)
               .where(F.col("ts").isNotNull()
                      & F.col("user_id").isNotNull()
                      & F.col("event_type").isNotNull())
               .withColumn("__sid", F.sum(is_new).over(wsum))
               .select((F.col("user_id") * 100000 + F.col("__sid"))
                       .alias("basket"),
                       F.col("event_type").alias("item")))
    return rel.association_rules(labeled, "basket", "item",
                                 min_pair_count=2, top_k=25)


@register("q245_neyman_allocation", """
WITH m AS (
  SELECT event_type AS stratum,
         CAST(floor(round(CAST(value AS DOUBLE), 6) * 1000000.0 + 0.5)
              AS BIGINT) AS mu
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL),
p AS (
  SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
         sum(CAST(mu AS DECIMAL(38,0))) AS s,
         sum(CAST(mu AS DECIMAL(38,0)) * CAST(mu AS DECIMAL(38,0))) AS ss
  FROM m GROUP BY 1),
d AS (
  SELECT stratum, n_rows,
         sqrt(greatest((CAST(ss AS DOUBLE) / n_rows
                        - (CAST(s AS DOUBLE) / n_rows)
                          * (CAST(s AS DOUBLE) / n_rows)) / 1e12,
                       0.0)) AS sd
  FROM p),
w AS (
  SELECT *, CAST(floor(n_rows * sd * 1000000.0 + 0.5) / 1000000.0
                 AS DECIMAL(38,6)) AS wgt
  FROM d),
t AS (SELECT *, sum(wgt) OVER () AS tot FROM w),
q AS (
  SELECT *, CASE WHEN tot > 0
                 THEN 1000.0 * CAST(wgt AS DOUBLE) / CAST(tot AS DOUBLE)
                 ELSE 0.0 END AS quota
  FROM t),
b AS (
  SELECT *, CAST(floor(quota) AS BIGINT) AS base,
         quota - floor(quota) AS frac
  FROM q),
r AS (
  SELECT *, CASE WHEN tot > 0 THEN 1000 - sum(base) OVER ()
                 ELSE 0 END AS leftover,
         row_number() OVER (ORDER BY frac DESC, stratum ASC) AS rk
  FROM b)
SELECT stratum, n_rows,
       floor(sd * 1000000.0 + 0.5) / 1000000.0 AS stddev,
       CAST(wgt AS DOUBLE) AS weight,
       floor(quota * 1000000.0 + 0.5) / 1000000.0 AS quota,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS n_alloc
FROM r ORDER BY stratum
""")
def q245_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample allocation
    (operators/stats.neyman_allocation) — split a 1000-row audit budget
    across event types proportional to N_h·σ_h with largest-remainder
    rounding, so allocations are integers summing to EXACTLY the budget
    in any engine. The variance-minimizing eval-sample designer beside
    the token-mixture plan (q86) and per-group reservoir (q162); exact
    integer-micro moments (welch contract), decimal weight fold,
    windows only over the k-strata frame."""
    from powerdatapipeline_spark.operators import stats as st
    return st.neyman_allocation(load_events(spark, sf_dir), "value",
                                "event_type", n_total=1000)


@register("q246_mutual_knn", f"""
WITH sample AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND vec_id % 4 = 0
    AND {_SQL_NORM.format(t='embeddings')} > 0),
scored AS (
  SELECT b.vec_id AS qid, a.vec_id AS nid,
         round({_SQL_DOT} / ({_SQL_NORM.format(t='a')}
                             * {_SQL_NORM.format(t='b')}), 6) AS c
  FROM sample a, sample b
  WHERE a.vec_id <> b.vec_id),
e AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC)
             AS r
    FROM scored) WHERE r <= 5),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_mutual
  FROM e e1 JOIN e e2 ON e1.qid = e2.nid AND e1.nid = e2.qid),
c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM sample),
c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT CAST(5 AS INT) AS k, n_vectors, n_edges, n_mutual,
       CASE WHEN n_edges > 0
            THEN floor(CAST(n_mutual AS DOUBLE) / n_edges
                       * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS mutual_rate
FROM c1, c2, m
""")
def q246_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN reciprocity of the embedding set
    (operators/similarity.mutual_knn_rate) — the hubness/degradation
    diagnostic for the ANN ladder (q31/q34/q35): fraction of directed
    cosine top-5 edges that are reciprocated. Exact all-pairs within a
    broadcastable set (at 100 TB: per IVF cell or hash-sample — the
    verify-within-bucket contract — here the deterministic hash-sample
    ``vec_id % 4 = 0``, which keeps the all-pairs pass O((n/4)²) at any
    sf); ranking on the 6-rounded cosine with id tiebreak, the q31
    construction."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 4 == 0)
    return sim.mutual_knn_rate(emb, k=5)


@register("q247_canonical_selection", f"""{_DEDUP_CLUSTER_CTES},
qual AS (
  SELECT doc_id,
         round(CASE WHEN len(list_filter({_SQL_TOKENS}, x -> x <> ''))
                         BETWEEN 5 AND 100000
                    THEN 0.4 ELSE 0.0 END
             + CASE WHEN len(list_filter({_SQL_TOKENS}, x -> x <> '')) > 0
                     AND CAST(length(text) AS DOUBLE)
                         / len(list_filter({_SQL_TOKENS}, x -> x <> ''))
                         >= 2
                     AND CAST(length(text) AS DOUBLE)
                         / len(list_filter({_SQL_TOKENS}, x -> x <> ''))
                         <= 12
                    THEN 0.3 ELSE 0.0 END
             + CASE WHEN len(list_filter({_SQL_TOKENS}, x -> x <> '')) > 0
                     AND CAST(len(list_filter({_SQL_TOKENS},
                                  x -> x IN {_SQL_STOP})) AS DOUBLE)
                         / len(list_filter({_SQL_TOKENS}, x -> x <> ''))
                         >= 0.05
                    THEN 0.2 ELSE 0.0 END
             + CASE WHEN (CASE WHEN length(text) > 0
                               THEN CAST(length(regexp_replace(text,
                                         '[^.,;:!?]', '', 'g')) AS DOUBLE)
                                    / length(text)
                               ELSE 0.0 END) <= 0.2
                    THEN 0.1 ELSE 0.0 END, 6) AS qscore
  FROM documents),
j AS (
  SELECT lab.label AS cluster_id, lab.node AS doc_id, qual.qscore
  FROM lab LEFT JOIN qual ON qual.doc_id = lab.node),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY qscore DESC NULLS LAST,
                                        doc_id ASC) AS r,
         count(*) OVER (PARTITION BY cluster_id) AS n_docs
  FROM j)
SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
       doc_id AS rep_id, round(qscore, 6) AS rep_score
FROM rk WHERE r = 1
""")
def q247_canonical_selection(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Quality-aware canonical pick per duplicate cluster
    (operators/dedup.canonical_representatives over blocked_pairs +
    dedup_clusters + text.quality_score) — the keep-WHICH-copy sequel
    to q63's min-id rule: each blocking-key cluster keeps its highest
    C4/Gopher-composite document (score desc, id asc — a total order,
    so two runs keep the SAME copy). The oracle replays the component
    labels via the shared recursive-reachability CTE and the composite
    score in closed-form SQL."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")),
                                   tx.WS_CLASS + "+", " "))
    k1 = F.md5(F.substring(norm, 1, 40))
    k2 = F.md5(F.substring(F.reverse(norm), 1, 40))
    pairs = dd.blocked_pairs(docs, [k1, k2], id_col="doc_id")
    labels = dd.dedup_clusters(pairs)
    scored = tx.quality_score(docs).select("doc_id", "quality_score")
    return dd.canonical_representatives(labels, scored, "doc_id",
                                        "quality_score")


@register("q248_markov_entropy", """
WITH p AS (
  SELECT event_type AS s,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    AND ts IS NOT NULL),
c AS (
  SELECT prev AS f, s AS t, CAST(count(*) AS BIGINT) AS n
  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
c2 AS (
  SELECT *, sum(n) OVER (PARTITION BY f) AS ni FROM c),
terms AS (
  SELECT f, CAST(CAST(n AS DOUBLE)
                 * round(ln(CAST(n AS DOUBLE) / ni), 6)
                 AS DECIMAL(28,12)) AS term, n
  FROM c2),
agg AS (
  SELECT CAST(count(DISTINCT f) AS BIGINT) AS n_states,
         CAST(sum(n) AS BIGINT) AS n_transitions,
         sum(term) AS tsum
  FROM terms)
SELECT n_states, n_transitions,
       floor(-CAST(tsum AS DOUBLE) / n_transitions * 1000000.0 + 0.5)
         / 1000000.0 AS entropy_rate,
       CASE WHEN n_states > 1
            THEN floor(-CAST(tsum AS DOUBLE) / n_transitions
                       / ln(CAST(n_states AS DOUBLE))
                       * 1000000.0 + 0.5) / 1000000.0
            END AS normalized_entropy
FROM agg
""")
def q248_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain
    (operators/timeseries.markov_entropy_rate) — the one-number
    predictability sequel to the transition matrix: H = −Σ (n_ij/N)
    ln(n_ij/n_i) nats/step, 0 = deterministic flows, ln(k) = uniform.
    Exact transition counts, q87's integer-times-rounded-log decimal
    fold, one lag window keyed by user + one groupBy on the tiny
    state×state space."""
    ev = load_events(spark, sf_dir)
    return ts.markov_entropy_rate(ev, "ts", "event_type", ["user_id"],
                                  tiebreak="event_id")


@register("q249_krippendorff_alpha", f"""
WITH t AS (
  SELECT doc_id, lower(text) AS lt,
         CAST(length(text) AS BIGINT) AS n_chars,
         len(list_filter({_SQL_TOKENS}, x -> x <> '')) AS n_tok,
         len(list_filter({_SQL_TOKENS}, x -> x IN {_SQL_STOP})) AS n_stop,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS DOUBLE) AS n_alpha
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
r AS (
  SELECT doc_id AS u,
         CASE WHEN n_chars >= 200 AND n_alpha / n_chars >= 0.55
              THEN 'keep' ELSE 'drop' END AS c
  FROM t
  UNION ALL
  SELECT doc_id,
         CASE WHEN n_tok >= 40 AND lt LIKE '% the %'
              THEN 'keep' ELSE 'drop' END
  FROM t
  UNION ALL
  SELECT doc_id,
         CASE WHEN n_tok > 0
               AND CAST(n_stop AS DOUBLE) / n_tok >= 0.08
              THEN 'keep' ELSE 'drop' END
  FROM t),
uc AS (SELECT u, c, CAST(count(*) AS BIGINT) AS nuc FROM r GROUP BY 1, 2),
uc2 AS (SELECT *, sum(nuc) OVER (PARTITION BY u) AS mu FROM uc),
p AS (SELECT * FROM uc2 WHERE mu >= 2),
obs AS (
  SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_units,
         COALESCE(CAST(sum(nuc) AS BIGINT), 0) AS n_ratings,
         sum(CAST(round(CAST(nuc * (mu - nuc) AS DOUBLE) / (mu - 1), 6)
                  AS DECIMAL(18,6))) AS dsum
  FROM p),
nc AS (SELECT c, CAST(sum(nuc) AS BIGINT) AS nc FROM p GROUP BY 1),
nc2 AS (SELECT *, sum(nc) OVER () AS n FROM nc),
exp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_labels,
         sum(CAST(nc AS DECIMAL(19,0)) * CAST(n - nc AS DECIMAL(19,0)))
           AS esum
  FROM nc2)
SELECT n_units, n_ratings, n_labels,
       floor(CAST(dsum AS DOUBLE) / n_ratings * 1000000.0 + 0.5)
         / 1000000.0 AS d_o,
       floor(CAST(esum AS DOUBLE) / (CAST(n_ratings AS DOUBLE)
                                     * (n_ratings - 1))
             * 1000000.0 + 0.5) / 1000000.0 AS d_e,
       CASE WHEN esum > 0 THEN
         floor((1.0 - (CAST(dsum AS DOUBLE) / n_ratings)
                      / (CAST(esum AS DOUBLE)
                         / (CAST(n_ratings AS DOUBLE) * (n_ratings - 1))))
               * 1000000.0 + 0.5) / 1000000.0 END AS alpha
FROM obs, exp
""")
def q249_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha across THREE heuristic keep/drop labelers
    (operators/stats.krippendorff_alpha) — the multi-rater sequel to
    q173's two-rater Cohen kappa, over the same labeler family: A =
    length+alpha-ratio gate, B = token-count+' the ' gate, C = the
    langid stopword gate. Long-format (unit, label) ratings, exact
    BIGINT coincidence counts, one rounded rational per (unit, label)
    folded as DECIMAL(18,6)."""
    from powerdatapipeline_spark.operators import stats as st
    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull()))
    return st.krippendorff_alpha(_q249_ratings(docs), "u", "c")


def _q249_ratings(docs: DataFrame) -> DataFrame:
    """The three heuristic keep/drop labelers as a long-format
    ``(u, c)`` ratings frame — ONE definition shared by batch q249 and
    streaming q266 (the twins reuse the same DuckDB oracle verbatim, so
    a copy-pasted labeler that drifted would be a guaranteed parity
    failure; round-12 self-review). Works on batch and streaming
    DataFrames alike (pure column expressions).

    One corpus scan, not three: the union form re-tokenizes the text
    per labeler; packing the three verdicts into an array and exploding
    keeps a single pass (tokens() evaluated once per doc)."""
    alpha = (F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
             .cast("double") / F.length("text"))
    lab = lambda cond: F.when(cond, F.lit("keep")).otherwise(F.lit("drop"))
    a = (F.length("text") >= 200) & (alpha >= 0.55)
    b = ((F.size(tx.tokens("text")) >= 40)
         & F.lower(F.col("text")).contains(" the "))
    c = tx.stopword_ratio("text") >= 0.08
    return docs.select(F.col("doc_id").alias("u"),
                       F.explode(F.array(lab(a), lab(b), lab(c)))
                       .alias("c"))


@register("q250_woe_iv", """
WITH b AS (
  SELECT least(CAST(floor(CAST(value AS DOUBLE) / 50.0) AS BIGINT), 9)
           AS bucket,
         event_type = 'purchase' AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
per AS (
  SELECT bucket,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM b GROUP BY 1),
t AS (SELECT *, sum(n_pos) OVER () AS g, sum(n_neg) OVER () AS bb
      FROM per),
w AS (
  SELECT *,
         n_pos > 0 AND n_neg > 0 AND g > 0 AND bb > 0 AS ok,
         CAST(n_pos AS DOUBLE) / g AS gr,
         CAST(n_neg AS DOUBLE) / bb AS br
  FROM t),
w2 AS (
  SELECT *, CASE WHEN ok THEN round(ln(gr / br), 6) END AS woe,
         CASE WHEN ok THEN CAST((gr - br) * round(ln(gr / br), 6)
                                AS DECIMAL(28,12)) END AS ivt
  FROM w)
SELECT bucket, n_pos, n_neg, woe,
       CASE WHEN ok THEN floor(CAST(ivt AS DOUBLE) * 1000000.0 + 0.5)
                         / 1000000.0 END AS iv,
       floor(CAST(sum(ivt) OVER () AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS iv_total
FROM w2 ORDER BY bucket
""")
def q250_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information value of the fixed-width value
    bucket against the purchase outcome (operators/stats.woe_iv) — the
    interpretable feature-vs-binary-outcome screen beside mutual
    information (q180): per-bucket WOE sign shows direction, IV total
    ranks the feature. Fixed-width floor buckets (never a global
    ntile), exact counts, q87's rounded-log decimal fold."""
    from powerdatapipeline_spark.operators import stats as st
    ev = load_events(spark, sf_dir)
    bucket = F.least(F.floor(F.col("value").cast("double") / 50.0)
                     .cast("bigint"), F.lit(9).cast("bigint"))
    return st.woe_iv(ev, bucket, F.col("event_type") == "purchase")


@register("q251_script_mix", """
SELECT source AS "group", CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       floor(CAST(sum(length(text)
                      - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                  AS DOUBLE) / sum(length(text)) * 1000000.0 + 0.5)
         / 1000000.0 AS letter_ratio,
       floor(CAST(sum(length(text)
                      - length(regexp_replace(text, '[0-9]', '', 'g')))
                  AS DOUBLE) / sum(length(text)) * 1000000.0 + 0.5)
         / 1000000.0 AS digit_ratio,
       floor(CAST(sum(length(text)
                      - length(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]',
                                              '', 'g')))
                  AS DOUBLE) / sum(length(text)) * 1000000.0 + 0.5)
         / 1000000.0 AS space_ratio,
       floor(CAST(sum(length(regexp_replace(regexp_replace(
                        regexp_replace(text, '[A-Za-z]', '', 'g'),
                        '[0-9]', '', 'g'), '[ \\t\\n\\r\\f\\x0B]', '', 'g')))
                  AS DOUBLE) / sum(length(text)) * 1000000.0 + 0.5)
         / 1000000.0 AS other_ratio
FROM documents
WHERE source IS NOT NULL AND text IS NOT NULL
GROUP BY source ORDER BY source
""")
def q251_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class composition (operators/text.
    script_audit) — the cheap multilingual/encoding-drift screen:
    ASCII-letter / digit / whitespace / other mass per source from
    exact length-difference counts; a jump in ``other_ratio`` catches
    encoding breaks and markup floods the token-level rules miss."""
    return tx.script_audit(_t(spark, sf_dir, "documents"))


@register("q252_lsh_calibration", f"""
WITH mh AS ({_SQL_MINHASH}),
banded AS ({_SQL_BANDED}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
p AS (
  SELECT round(CAST(len(list_filter(list_zip(ma.sig, mb.sig),
                                    z -> z[1] = z[2])) AS DOUBLE) / 16, 6)
           AS est,
         round(CAST(len(list_intersect(ma.g, mb.g)) AS DOUBLE)
               / (len(ma.g) + len(mb.g) - len(list_intersect(ma.g, mb.g))),
               6) AS x
  FROM cand JOIN mh ma ON ma.doc_id = id_a
            JOIN mh mb ON mb.doc_id = id_b)
SELECT est, CAST(count(*) AS BIGINT) AS n_pairs,
       floor(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             * 1000000.0 + 0.5) / 1000000.0 AS mean_exact,
       floor(CAST(sum(CAST(abs(x - est) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_abs_err,
       floor(CAST(sum(CAST(x - est AS DECIMAL(18,6))) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS bias
FROM p GROUP BY est ORDER BY est
""")
def q252_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch calibration (operators/dedup.sketch_calibration
    over minhash_lsh_pairs at threshold 0): per estimate level — the
    16-perm signature admits only 17 — the exact-Jaccard mean, MAE and
    bias of every LSH candidate pair. The sketch-quality audit for the
    near-dup family (q29): drift here costs recall at the 0.5 gate
    before anything downstream notices."""
    pairs = dd.neardup_report(_t(spark, sf_dir, "documents"),
                              num_perm=16, bands=4, est_threshold=0.0,
                              shingle_unit="word")
    return dd.sketch_calibration(pairs)


@register("q253_label_propagation", """
WITH raw AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
sym AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
n1 AS (SELECT s.a AS node, l0.label, count(*) AS c
       FROM sym s JOIN l0 ON l0.node = s.b GROUP BY 1, 2),
l1 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY c DESC, label ASC) AS r
         FROM n1) WHERE r = 1),
n2 AS (SELECT s.a AS node, l1.label, count(*) AS c
       FROM sym s JOIN l1 ON l1.node = s.b GROUP BY 1, 2),
l2 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY c DESC, label ASC) AS r
         FROM n2) WHERE r = 1)
SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
FROM l2 GROUP BY label
ORDER BY n_nodes DESC, label ASC LIMIT 25
""")
def q253_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation, 2 rounds
    (operators/graph.label_propagation) over the customer↔supplier
    interaction graph (q135's bipartite BIGINT encoding) — community
    detection beside reachability (q184) and density (q205): most
    frequent neighbor label, smallest-label tiebreak, so the classic
    LPA becomes engine-reproducible and the oracle unrolls the same
    two rounds as SQL joins. Top-25 communities by size."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    raw = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
           .select((F.col("o_custkey") * 2).alias("src"),
                   (F.col("l_suppkey") * 2 + 1).alias("dst"))
           .distinct())
    return gr.label_propagation(raw, rounds=2)


@register("q254_anisotropy", """
WITH b AS (
  SELECT embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64),
ex AS (
  SELECT i.i AS d, CAST(embedding[i.i] AS DOUBLE) AS x
  FROM b, generate_series(1, 64) AS i(i)),
pd AS (
  SELECT d, sum(CAST(x AS DECIMAL(38,10))) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM ex GROUP BY d),
m2 AS (
  SELECT sum(CAST((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                  AS DECIMAL(28,12))) AS mu2,
         CAST(max(n) AS BIGINT) AS n_vectors
  FROM pd),
n2 AS (
  SELECT floor(CAST(list_sum(list_transform(embedding,
                 v -> CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                           AS DECIMAL(28,12)))) AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS nn
  FROM b),
mn AS (
  SELECT CAST(sum(CAST(nn AS DECIMAL(28,6))) AS DOUBLE) / count(*)
           AS mean_norm_sq
  FROM n2)
SELECT n_vectors, CAST(64 AS INT) AS dim,
       floor(CAST(mu2 AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS mu_norm_sq,
       floor(mean_norm_sq * 1000000.0 + 0.5) / 1000000.0 AS mean_norm_sq,
       CASE WHEN mean_norm_sq > 0
            THEN floor(CAST(mu2 AS DOUBLE) / mean_norm_sq
                       * 1000000.0 + 0.5) / 1000000.0 END AS anisotropy
FROM m2, mn
""")
def q254_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy ‖μ‖²/E‖x‖² (operators/similarity.
    embedding_anisotropy) — the expected random-pair cosine: near 0 =
    isotropic retrieval-friendly space, near 1 = a dominant mean
    direction is inflating every cosine (recenter before the ANN
    ladder). One scan: per-dim decimal sums + 6-rounded per-row
    norm-squares, nothing corpus-wide sorts."""
    return sim.embedding_anisotropy(_t(spark, sf_dir, "embeddings"))


@register("q255_shuffle_runs", """
WITH a AS (
  SELECT doc_id, source,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 16 AS INT) AS shard_id,
         CAST(CAST(('0x' || substr(md5('|order' || CAST(doc_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1 AS DOUBLE)
           / 1152921504606846976.0 AS u
  FROM documents),
p AS (SELECT shard_id, source,
             row_number() OVER (PARTITION BY shard_id
                                ORDER BY u, doc_id) AS pos
      FROM a),
r AS (SELECT shard_id, source,
             lag(source) OVER (PARTITION BY shard_id ORDER BY pos) AS prev
      FROM p),
rs AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN prev IS NULL OR prev <> source
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
       FROM r GROUP BY 1),
pc AS (SELECT shard_id, source, CAST(count(*) AS BIGINT) AS nc
       FROM a GROUP BY 1, 2),
ee AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS n_classes,
              sum(CAST(nc AS DECIMAL(19,0))
                  * CAST(nc - 1 AS DECIMAL(19,0))) AS e
       FROM pc GROUP BY 1)
SELECT rs.shard_id, n_rows, n_classes, n_runs,
       floor((n_rows - CAST(e AS DOUBLE) / n_rows) * 1000000.0 + 0.5)
         / 1000000.0 AS expected_runs,
       CASE WHEN n_rows - CAST(e AS DOUBLE) / n_rows > 0
            THEN floor(n_runs / (n_rows - CAST(e AS DOUBLE) / n_rows)
                       * 1000000.0 + 0.5) / 1000000.0 END AS runs_ratio
FROM rs JOIN ee USING (shard_id) ORDER BY shard_id
""")
def q255_shuffle_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-quality runs test per training shard
    (operators/relational.shuffle_runs_audit over shard_assign): within
    each shard's deterministic epoch order, observed same-SOURCE runs vs
    the expected count under a random arrangement — the "is the data
    loader actually shuffled" audit that catches key functions
    correlated with the class. runs_ratio ≈ 1 = healthy; << 1 =
    clumped same-domain batches. Exact run counts, decimal Σn_c(n_c−1)
    fold, one window on the existing shard partitioning."""
    return rel.shuffle_runs_audit(_t(spark, sf_dir, "documents"),
                                  "doc_id", "source", n_shards=16)


@register("q256_sax_words", """
WITH cnt AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
st AS (SELECT g, count(*) AS m,
              sum(CAST(c AS DECIMAL(38,0))) AS s,
              sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                AS ss
       FROM cnt GROUP BY 1),
mz AS (SELECT g, CAST(s AS DOUBLE) / m AS mu,
              sqrt(greatest(CAST(ss AS DOUBLE) / m
                            - (CAST(s AS DOUBLE) / m)
                              * (CAST(s AS DOUBLE) / m), 0.0)) AS sd
       FROM st),
sy AS (SELECT cnt.g, b,
              CASE WHEN sd > 0 THEN (CAST(c AS DOUBLE) - mu) / sd
                   ELSE 0.0 END AS z
       FROM cnt JOIN mz USING (g)),
sym AS (SELECT g, b,
               CASE WHEN z < -0.6745 THEN 'a'
                    WHEN z < 0.0 THEN 'b'
                    WHEN z < 0.6745 THEN 'c'
                    ELSE 'd' END AS s1
        FROM sy),
lag3 AS (SELECT g, b, s1,
                lead(s1, 1) OVER w AS s2, lead(b, 1) OVER w AS b2,
                lead(s1, 2) OVER w AS s3, lead(b, 2) OVER w AS b3
         FROM sym WINDOW w AS (PARTITION BY g ORDER BY b)),
wd AS (SELECT g, s1 || s2 || s3 AS word
       FROM lag3 WHERE b2 = b + 1 AND b3 = b + 2)
SELECT word, CAST(count(DISTINCT g) AS BIGINT) AS n_series,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM wd GROUP BY word
ORDER BY n_occurrences DESC, word LIMIT 20
""")
def q256_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic motifs over per-type hourly count series
    (operators/timeseries.sax_words): z-normalize each series against
    its own exact moments, quantize to 4 Gaussian-quartile symbols,
    count 3-symbol words over CONSECUTIVE buckets (calendar gaps break
    words, never silently zero-filled). The symbolic shape-mining
    complement to acf (q168) / periodogram (q232) / changepoints
    (q241); top-20 recurring local shapes."""
    ev = load_events(spark, sf_dir)
    return ts.sax_words(ev, "ts", "event_type", bucket_seconds=3600.0,
                        word_len=3, top_k=20)


@register("q257_diff_in_diff", """
WITH b AS (
  SELECT CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 'tp'
              WHEN event_type = 'purchase' THEN 'tr'
              WHEN event_type = 'view' AND ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 'cp'
              WHEN event_type = 'view' THEN 'cr' END AS cell,
         CAST(floor(round(CAST(value AS DOUBLE), 6) * 1000000.0 + 0.5)
              AS BIGINT) AS mu
  FROM events
  WHERE event_type IN ('purchase', 'view')
    AND ts IS NOT NULL AND value IS NOT NULL),
a AS (
  SELECT
    CAST(sum(CASE WHEN cell='tp' THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
    sum(CASE WHEN cell='tp' THEN CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS s_tp,
    sum(CASE WHEN cell='tp' THEN CAST(mu AS DECIMAL(38,0))*CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS ss_tp,
    CAST(sum(CASE WHEN cell='tr' THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
    sum(CASE WHEN cell='tr' THEN CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS s_tr,
    sum(CASE WHEN cell='tr' THEN CAST(mu AS DECIMAL(38,0))*CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS ss_tr,
    CAST(sum(CASE WHEN cell='cp' THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
    sum(CASE WHEN cell='cp' THEN CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS s_cp,
    sum(CASE WHEN cell='cp' THEN CAST(mu AS DECIMAL(38,0))*CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS ss_cp,
    CAST(sum(CASE WHEN cell='cr' THEN 1 ELSE 0 END) AS BIGINT) AS n_cr,
    sum(CASE WHEN cell='cr' THEN CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS s_cr,
    sum(CASE WHEN cell='cr' THEN CAST(mu AS DECIMAL(38,0))*CAST(mu AS DECIMAL(38,0)) ELSE 0 END) AS ss_cr
  FROM b),
m AS (
  SELECT *,
    CAST(s_tp AS DOUBLE)/n_tp/1e6 AS m_tp, CAST(s_tr AS DOUBLE)/n_tr/1e6 AS m_tr,
    CAST(s_cp AS DOUBLE)/n_cp/1e6 AS m_cp, CAST(s_cr AS DOUBLE)/n_cr/1e6 AS m_cr,
    (CAST(ss_tp AS DOUBLE) - CAST(s_tp AS DOUBLE)*CAST(s_tp AS DOUBLE)/n_tp)/(n_tp-1)/1e12 AS v_tp,
    (CAST(ss_tr AS DOUBLE) - CAST(s_tr AS DOUBLE)*CAST(s_tr AS DOUBLE)/n_tr)/(n_tr-1)/1e12 AS v_tr,
    (CAST(ss_cp AS DOUBLE) - CAST(s_cp AS DOUBLE)*CAST(s_cp AS DOUBLE)/n_cp)/(n_cp-1)/1e12 AS v_cp,
    (CAST(ss_cr AS DOUBLE) - CAST(s_cr AS DOUBLE)*CAST(s_cr AS DOUBLE)/n_cr)/(n_cr-1)/1e12 AS v_cr
  FROM a),
f AS (
  SELECT *, (m_tp - m_tr) - (m_cp - m_cr) AS did,
         sqrt(v_tp/n_tp + v_tr/n_tr + v_cp/n_cp + v_cr/n_cr) AS se
  FROM m)
SELECT n_tp, n_tr, n_cp, n_cr,
       floor(m_tp*1000000.0+0.5)/1000000.0 AS mean_treat_post,
       floor(m_tr*1000000.0+0.5)/1000000.0 AS mean_treat_pre,
       floor(m_cp*1000000.0+0.5)/1000000.0 AS mean_ctrl_post,
       floor(m_cr*1000000.0+0.5)/1000000.0 AS mean_ctrl_pre,
       floor(did*1000000.0+0.5)/1000000.0 AS did,
       floor(se*1000000.0+0.5)/1000000.0 AS se,
       CASE WHEN se > 0 THEN floor(did/se*1000000.0+0.5)/1000000.0 END AS z
FROM f
""")
def q257_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 difference-in-differences (operators/stats.diff_in_diff):
    purchase (treated) vs view (control) mean value, pre vs post the
    Jan-16 cutover — the observational effect estimator beside the
    designed-experiment tests (q182/q191), with a Welch-style pooled
    SE from the four cells' exact integer-micro moments in ONE
    conditional aggregation pass."""
    from powerdatapipeline_spark.operators import stats as st
    ev, group, post = _q257_design(load_events(spark, sf_dir))
    return st.diff_in_diff(ev, "value", group, post)


def _q257_design(ev: DataFrame):
    """The 2×2 DiD design — filter + (group, post) expressions — ONE
    definition shared by batch q257 and streaming q267 (the twins reuse
    the same DuckDB oracle verbatim, so a copy-pasted cutover literal
    that drifted would be a guaranteed parity failure; round-12
    self-review). Works on batch and streaming frames alike."""
    filtered = ev.where(
        F.col("event_type").isin("purchase", "view")
        & F.col("ts").isNotNull() & F.col("value").isNotNull())
    group = F.col("event_type") == "purchase"
    post = F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")
    return filtered, group, post


@register("q258_streaming_woe", """
WITH b AS (
  SELECT least(CAST(floor(CAST(value AS DOUBLE) / 50.0) AS BIGINT), 9)
           AS bucket,
         event_type = 'purchase' AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
per AS (
  SELECT bucket,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM b GROUP BY 1),
t AS (SELECT *, sum(n_pos) OVER () AS g, sum(n_neg) OVER () AS bb
      FROM per),
w AS (
  SELECT *,
         n_pos > 0 AND n_neg > 0 AND g > 0 AND bb > 0 AS ok,
         CAST(n_pos AS DOUBLE) / g AS gr,
         CAST(n_neg AS DOUBLE) / bb AS br
  FROM t),
w2 AS (
  SELECT *, CASE WHEN ok THEN round(ln(gr / br), 6) END AS woe,
         CASE WHEN ok THEN CAST((gr - br) * round(ln(gr / br), 6)
                                AS DECIMAL(28,12)) END AS ivt
  FROM w)
SELECT bucket, n_pos, n_neg, woe,
       CASE WHEN ok THEN floor(CAST(ivt AS DOUBLE) * 1000000.0 + 0.5)
                         / 1000000.0 END AS iv,
       floor(CAST(sum(ivt) OVER () AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS iv_total
FROM w2 ORDER BY bucket
""")
def q258_streaming_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WOE/IV monitor under driver verification
    (streaming/stateful.streaming_woe_monitor + finalize_woe_monitor)
    — q250's scorecard machinery fed incrementally: each micro-batch
    appends per-bucket (n_pos, n_neg) count partials (k rows, never
    the stream), the finalizer merges by addition through the SAME
    woe_from_bucket_counts the batch operator uses, so stream ≡ batch
    bit-identically and q250's DuckDB oracle verifies the streaming
    run."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_woe_monitor, streaming_woe_monitor)

    stream = events_stream_source(spark, sf_dir)
    bucket = F.least(F.floor(F.col("value").cast("double") / 50.0)
                     .cast("bigint"), F.lit(9).cast("bigint"))
    tmp = _stream_scratch("q258_streaming_woe_")
    q = streaming_woe_monitor(stream, bucket,
                              F.col("event_type") == "purchase",
                              f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q258 streaming job did not finish within 300 s")
    return finalize_woe_monitor(spark, f"{tmp}/partials")


@register("q259_join_size_estimate", """
WITH lc AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_left
            FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
rc AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_right
       FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
j AS (SELECT key, n_left, n_right,
             CAST(n_left AS DECIMAL(19,0)) * CAST(n_right AS DECIMAL(19,0))
               AS c
      FROM lc JOIN rc USING (key)),
t AS (SELECT *, sum(c) OVER () AS tot FROM j)
SELECT key, n_left, n_right, CAST(c AS DOUBLE) AS contrib,
       floor(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS share,
       CAST(tot AS DOUBLE) AS est_total_rows
FROM t ORDER BY contrib DESC, key ASC LIMIT 10
""")
def q259_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join output-size pre-flight (operators/relational.
    join_size_estimate): exact Σ|L_k|·|R_k| for the lineitem×lineitem
    self-join on l_partkey — the candidate-pair-explosion cost model
    the near-dup blockers document, promoted to a first-class audit.
    Two per-key count frames, one count-frame join, decimal products
    (per-key contributions pass 1e18 exactly where this check
    matters), EMITTED as double so an estimate past int64 reports
    instead of raising (ADVICE r11 #2); top-10 skew contributors +
    the total."""
    li = _t(spark, sf_dir, "lineitem")
    return rel.join_size_estimate(li, li, "l_partkey", "l_partkey")


@register("q260_ramp_rates", """
WITH s AS (
  SELECT event_type AS g, user_id,
         epoch(ts) AS t, CAST(value AS DOUBLE) AS v,
         lag(epoch(ts)) OVER w AS tp,
         lag(CAST(value AS DOUBLE)) OVER w AS vp
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts), event_id)),
r AS (SELECT g, round(abs(v - vp) / ((t - tp) / 3600.0), 6) AS rr
      FROM s WHERE tp IS NOT NULL AND t > tp),
per AS (SELECT g, rr, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
st AS (SELECT *, sum(c) OVER (PARTITION BY g) AS n,
              sum(c) OVER (PARTITION BY g ORDER BY rr
                           ROWS UNBOUNDED PRECEDING) AS cum
       FROM per),
q AS (SELECT *,
             min(CASE WHEN cum >= CAST(floor(0.5 * (n - 1) + 0.5)
                                       AS BIGINT) + 1
                      THEN rr END) OVER (PARTITION BY g) AS p50,
             min(CASE WHEN cum >= CAST(floor(0.9 * (n - 1) + 0.5)
                                       AS BIGINT) + 1
                      THEN rr END) OVER (PARTITION BY g) AS p90
      FROM st)
SELECT g AS type, CAST(max(n) AS BIGINT) AS n_ramps,
       floor(CAST(sum(CAST(rr AS DECIMAL(18,6)) * CAST(c AS DECIMAL(19,0)))
                  AS DOUBLE) / max(n) * 1000000.0 + 0.5) / 1000000.0
         AS mean_ramp,
       max(p50) AS p50_ramp, max(p90) AS p90_ramp, max(rr) AS max_ramp
FROM q GROUP BY g ORDER BY g
""")
def q260_ramp_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ramp-rate report per event type (operators/timeseries.
    ramp_rates) — the power-domain volatility tail beside the
    trapezoidal integral (q116) and daily peaks (q117): |Δv|/Δt per
    hour between consecutive readings of each user series, summarized
    as count/mean/exact p50/p90/max per type. Quantiles come from the
    per-distinct-ramp count frame (nearest-rank, the
    quantiles_from_value_counts convention), never a corpus sort."""
    ev = load_events(spark, sf_dir)
    return ts.ramp_rates(ev, "ts", "value", "event_type", ["user_id"],
                         tiebreak="event_id")


@register("q261_negative_sampling", """
WITH pos AS (
  SELECT DISTINCT l_orderkey AS "user", l_partkey AS pos_item
  FROM lineitem
  WHERE l_orderkey % 50 = 0
    AND l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
cand AS (
  SELECT "user", pos_item, CAST(j.j AS INT) AS slot,
         1 + CAST(CAST(('0x' || substr(md5('|neg' || CAST("user" AS VARCHAR)
                                       || '|' || CAST(pos_item AS VARCHAR)
                                       || '|' || CAST(j.j AS VARCHAR)),
                        1, 15)) AS BIGINT) % 9999 AS BIGINT) AS d
  FROM pos, generate_series(0, 1) AS j(j))
SELECT "user", pos_item,
       CASE WHEN d >= pos_item THEN d + 1 ELSE d END AS neg_item,
       slot
FROM cand
""")
def q261_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based negative sampling
    (operators/relational.negative_sampling): k=2 reproducible negative
    items per (order, part) positive over a hash-sample of lineitem —
    the contrastive/recommender training-pair generator where
    RNG-based sampling can't be oracle-verified or resumed.
    Own-positive collisions are excluded by construction (draw from
    n_items−1, shift past the positive) so every pair gets exactly k
    negatives; one narrow explode, zero shuffles."""
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_orderkey") % 50 == 0))
    return rel.negative_sampling(li, "l_orderkey", "l_partkey",
                                 n_items=10_000, k=2)


@register("q262_policy_replay", """
WITH b AS (
  SELECT event_type AS a,
         round(CASE WHEN CAST(value AS DOUBLE) >= 50.0
                    THEN 1.0 ELSE 0.0 END, 6) AS r,
         CASE CAST(CAST(('0x' || substr(md5('|arm'
                        || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 5 AS INT)
           WHEN 0 THEN 'click' WHEN 1 THEN 'error'
           WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
           ELSE 'view' END AS t
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
    AND user_id IS NOT NULL),
per AS (
  SELECT a AS arm, CAST(count(*) AS BIGINT) AS n_logged,
         CAST(sum(CASE WHEN a = t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         sum(CASE WHEN a = t THEN CAST(r AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS rm
  FROM b GROUP BY 1),
allrows AS (
  SELECT arm, n_logged, n_matched, rm FROM per
  UNION ALL
  SELECT NULL, CAST(sum(n_logged) AS BIGINT),
         CAST(sum(n_matched) AS BIGINT), sum(rm)
  FROM per)
SELECT arm, n_logged, n_matched,
       CASE WHEN n_matched > 0
            THEN floor(CAST(rm AS DOUBLE) / n_matched * 1000000.0 + 0.5)
                 / 1000000.0 END AS reward_rate,
       CASE WHEN n_logged > 0
            THEN floor(CAST(n_matched AS DOUBLE) / n_logged
                       * 1000000.0 + 0.5) / 1000000.0 END AS match_rate
FROM allrows ORDER BY arm NULLS LAST
""")
def q262_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy REPLAY evaluation (operators/stats.policy_replay_eval
    — Li et al. 2011): what would the deterministic hash-of-user target
    policy earn, estimated from logged rounds where it agrees with the
    logged arm? The decision-policy evaluator beside the prediction
    evaluators (AUC q179, calibration q172, NDCG q195); reward =
    value ≥ 50, arms = the five event types, target = md5(user) mod 5.
    One conditional aggregation pass; per-arm rows + the overall
    estimate (arm NULL), match_rate ≈ 1/5 confirming the uniform-logger
    assumption."""
    from powerdatapipeline_spark.operators import stats as st
    from powerdatapipeline_spark.operators.relational import \
        _md5_prefix_bigint
    ev = load_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    arms = ["click", "error", "purchase", "signup", "view"]
    h = F.pmod(_md5_prefix_bigint(F.col("user_id"), "|arm", 8),
               F.lit(5).cast("bigint")).cast("int")
    target = F.element_at(F.array(*[F.lit(a) for a in arms]), h + 1)
    reward = F.when(F.col("value").cast("double") >= 50.0,
                    F.lit(1.0)).otherwise(F.lit(0.0))
    return st.policy_replay_eval(ev, "event_type", reward, target)


@register("q263_schema_contract", """
WITH actual AS (
  SELECT column_name AS "column",
         CASE column_type WHEN 'BIGINT' THEN 'bigint'
                          WHEN 'VARCHAR' THEN 'string'
                          WHEN 'INTEGER' THEN 'int'
                          WHEN 'DOUBLE' THEN 'double'
                          WHEN 'FLOAT[]' THEN 'array<float>'
                          ELSE lower(column_type) END AS actual_type
  FROM (DESCRIBE documents)),
expected AS (
  SELECT * FROM (VALUES ('doc_id', 'bigint'), ('text', 'string'),
                        ('lang', 'string'), ('n_chars', 'int'),
                        ('license', 'string'))
    AS t("column", expected_type))
SELECT COALESCE(e."column", a."column") AS "column",
       e.expected_type, a.actual_type,
       CASE WHEN e.expected_type IS NULL THEN 'unexpected'
            WHEN a.actual_type IS NULL THEN 'missing'
            WHEN e.expected_type = a.actual_type THEN 'ok'
            ELSE 'type_mismatch' END AS status
FROM expected e FULL OUTER JOIN actual a USING ("column")
ORDER BY "column"
""")
def q263_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed schema-contract check (sources/readers.schema_contract) —
    the ingest gate extending check_columns (presence, the reference's
    check_csv_file twin) to TYPES, against a deliberately-drifted
    contract so every status fires: n_chars expected int (actual
    bigint → type_mismatch), license expected but absent (missing),
    source present but uncontracted (unexpected), the rest ok. Pure
    parquet-footer metadata — zero data pages read."""
    from powerdatapipeline_spark.sources import readers as rd
    docs = _t(spark, sf_dir, "documents")
    return rd.schema_contract(docs, {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "n_chars": "int", "license": "string"})


@register("q264_stratified_split", """
WITH a AS (
  SELECT source AS stratum, doc_id,
         CAST(CAST(('0x' || substr(md5('|split' || CAST(doc_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1 AS DOUBLE)
           / 1152921504606846976.0 AS u,
         CAST(('0x' || substr(md5('|ck' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS ck
  FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL),
r AS (
  SELECT stratum, ck,
         CAST(row_number() OVER (PARTITION BY stratum
                                 ORDER BY u, doc_id) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY stratum) AS BIGINT) AS n
  FROM a),
s AS (
  SELECT stratum, ck,
         CASE WHEN rk <= CAST(floor(0.8 * n) AS BIGINT) THEN 'train'
              WHEN rk <= CAST(floor(0.9 * n) AS BIGINT) THEN 'val'
              ELSE 'test' END AS split
  FROM r)
SELECT stratum, split, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(ck AS DECIMAL(38,0))) % 9223372036854775808
            AS BIGINT) AS key_checksum
FROM s GROUP BY 1, 2 ORDER BY stratum, split
""")
def q264_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-proportion stratified train/val/test split
    (operators/relational.stratified_exact_split): within each source,
    rows rank by a pure md5-uniform of doc_id and the 80/10/10
    boundaries fall at floor(cum·n) — exact proportions per stratum
    (±1 row), where the Bernoulli hash sample (q69) is binomial. The
    per-(stratum, split) key checksum (decimal fold, mod 2⁶³) proves
    two engines assigned the SAME documents, not just equal counts."""
    return rel.stratified_exact_split(_t(spark, sf_dir, "documents"),
                                      "doc_id", "source")


@register("q265_cosine_thresholds", f"""
WITH sample AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND vec_id % 4 = 0),
scored AS (
  SELECT round({_SQL_DOT} / ({_SQL_NORM.format(t='a')}
                             * {_SQL_NORM.format(t='b')}), 6) AS c
  FROM sample a, sample b WHERE a.vec_id < b.vec_id),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs_total,
         CAST(sum(CASE WHEN c >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS g0,
         CAST(sum(CASE WHEN c >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS g1,
         CAST(sum(CASE WHEN c >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
         CAST(sum(CASE WHEN c >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS g3,
         CAST(sum(CASE WHEN c >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS g4
  FROM scored),
t AS (SELECT * FROM (VALUES (0.5, 0), (0.7, 1), (0.8, 2), (0.9, 3),
                            (0.95, 4)) v(threshold, i))
SELECT threshold,
       CASE i WHEN 0 THEN g0 WHEN 1 THEN g1 WHEN 2 THEN g2
              WHEN 3 THEN g3 ELSE g4 END AS n_pairs_ge,
       n_pairs_total,
       CASE WHEN n_pairs_total > 0
            THEN floor(CAST(CASE i WHEN 0 THEN g0 WHEN 1 THEN g1
                                   WHEN 2 THEN g2 WHEN 3 THEN g3
                                   ELSE g4 END AS DOUBLE)
                       / n_pairs_total * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS share
FROM t, agg ORDER BY threshold
""")
def q265_cosine_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dup threshold calibration curve
    (operators/similarity.cosine_threshold_curve): share of sampled
    embedding pairs at or above each candidate cosine threshold — the
    tuning input for SemDeDup (q127) and embedding near-dup banding
    (q60): a threshold capturing a large share of RANDOM pairs deletes
    topics, not duplicates. Exact all-pairs over the q246 hash-sample
    (``vec_id % 4``), unordered pairs scored once."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 4 == 0)
    return sim.cosine_threshold_curve(emb)


@register("q266_streaming_krippendorff",
          # promoted into the r13 head (VERDICT r12 #1): born after the
          # r12 snapshot froze, needs its first driver record
          REGISTRY["q249_krippendorff_alpha"][1])
def q266_streaming_krippendorff(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """STREAMING Krippendorff alpha under driver verification
    (streaming/stateful.streaming_krippendorff_monitor +
    finalize_krippendorff_monitor) — q249's three-labeler agreement
    gauge fed incrementally (VERDICT r11 #8): each micro-batch appends
    its (unit, label) count partial — the statistic's exact mergeable
    sufficient statistic — and the finalizer merges by addition
    through the SAME krippendorff_from_unit_label_counts the batch
    operator uses, so stream ≡ batch bit-identically and q249's
    DuckDB oracle (reused verbatim above) verifies the streaming
    run."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_krippendorff_monitor, streaming_krippendorff_monitor)

    docs = (docs_stream_source(spark, sf_dir)
            .where(F.col("doc_id").isNotNull()
                   & F.col("text").isNotNull()))
    ratings = _q249_ratings(docs)
    tmp = _stream_scratch("q266_streaming_krippendorff_")
    q = streaming_krippendorff_monitor(ratings, F.col("u"), F.col("c"),
                                       f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q266 streaming job did not finish within 300 s")
    return finalize_krippendorff_monitor(spark, f"{tmp}/partials")


@register("q267_streaming_did",
          # promoted into the r13 head (VERDICT r12 #1): born after the
          # r12 snapshot froze, needs its first driver record
          REGISTRY["q257_diff_in_diff"][1])
def q267_streaming_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING 2×2 difference-in-differences under driver
    verification (streaming/stateful.streaming_did_monitor +
    finalize_did_monitor) — q257's cutover effect estimator fed
    incrementally (VERDICT r11 #8), the live DiD/SE/z readout while
    the post-period stream is still arriving: each micro-batch appends
    its ≤ 4-row per-cell exact integer-micro moment partial
    (stats.did_cell_moments); moments merge by addition through the
    SAME did_from_cell_moments the batch operator uses, so stream ≡
    batch bit-identically and q257's DuckDB oracle (reused verbatim
    above) verifies the streaming run."""

    from powerdatapipeline_spark.streaming.stateful import (
        finalize_did_monitor, streaming_did_monitor)

    ev, group, post = _q257_design(events_stream_source(spark, sf_dir))
    tmp = _stream_scratch("q267_streaming_did_")
    q = streaming_did_monitor(ev, "value", group, post,
                              f"{tmp}/partials", f"{tmp}/ckpt")
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("q267 streaming job did not finish within 300 s")
    return finalize_did_monitor(spark, f"{tmp}/partials")


# Round-10 rotation (EXECUTED): CORRECTNESS_r09 recorded the q99-q149
# head green (50/50), so the last never-driver-recorded pool — q125,
# q150-q184 (36 queries) plus the round-10-born q185-q190 — was
# promoted to PRI_HEAD together with 8 retained freshly-recorded
# entries (q105-q112); q99-q104, q113-q124 and q126-q149 were demoted
# to PRI_TAIL. With CORRECTNESS_r10 green, every registry query has
# >=1 driver record (full ledger: COVERAGE.md); rotation is thereafter
# needed only for NEW entries.
#
# ROUND-11 ROTATION (EXECUTED this round — COVERAGE.md ledger,
# pytest-pinned by test_round11_rotation_head_is_q191_to_q240): the
# round-10-born q191-q240 hold the 50-entry head so CORRECTNESS_r11
# gives them driver records; the freshly-recorded r10 head demoted to
# PRI_TAIL (q184's overflow fixed first — graph.py checksum — so its
# re-record lands green).
#
# ROUND-12 ROTATION (EXECUTED this round — COVERAGE.md ledger,
# pytest-pinned by test_round12_rotation_head_is_q216_to_q265):
# with CORRECTNESS_r11 green (50/50), promote q241-q244 (two-level
# changepoint, co-purchase hit-rate, weekly profile, session
# associations) plus the round-11-born cohort q245-q265 (Neyman
# allocation, mutual-kNN reciprocity, canonical cluster selection,
# Markov entropy rate, Krippendorff alpha, WOE/IV, script mix, LSH
# sketch calibration, label propagation, embedding anisotropy,
# shuffle-runs audit, SAX words, diff-in-diff, streaming WOE, join-size
# pre-flight, ramp rates, negative sampling, policy replay, schema
# contract, exact stratified split, cosine threshold curve) — 25
# queries — into the head, demoting the 25 oldest r11-head entries
# (q191 onward). All are
# oracle-paired from birth, strict-compared at sf0.001+sf0.01 by
# tests/test_tail_query_parity.py, hash-exact at sf0.1 AND ANSI-on at
# sf0.001 in the committed PARITY sweeps — the driver record is the
# only missing evidence tier.
#
# ROUND-13 ROTATION PLAN: the round-12-born streaming twins q266
# (Krippendorff) and q267 (diff-in-diff) are PRI_TAIL, oracle-paired
# from birth (they REUSE q249's/q257's oracles verbatim — stream ≡
# batch through shared finalizers); promote them into the head next
# round, demoting the 2 oldest r12-head entries (q216, q217).
# ===========================================================================

#: driver correctness-snapshot size (CORRECTNESS_r{3..6}.json: exactly 50)
SNAPSHOT_CAP = 50


def _reorder_registry() -> None:
    # qNN stems must be unique: bench.py's compact stdout map and the
    # regression guard's name normalization key on them — a duplicate
    # stem would silently merge two queries' timings
    stems: dict[str, str] = {}
    for n in REGISTRY:
        stem = n.split("_")[0]
        if stem in stems:
            raise RuntimeError(
                f"duplicate query number {stem}: {stems[stem]} vs {n}")
        stems[stem] = n
    seq = {n: i for i, n in enumerate(REGISTRY)}
    order = sorted(REGISTRY, key=lambda n: (-PRIORITY[n], seq[n]))
    if len(order) > SNAPSHOT_CAP:
        # membership in the recorded window must be intentional: a tie
        # straddling the cap would let registration order silently decide
        # which query gets a driver record
        lo, hi = order[SNAPSHOT_CAP - 1], order[SNAPSHOT_CAP]
        if PRIORITY[lo] == PRIORITY[hi]:
            raise RuntimeError(
                f"priority tie across the {SNAPSHOT_CAP}-entry snapshot "
                f"boundary ({lo} vs {hi}, both {PRIORITY[lo]}); set "
                "explicit priorities so head membership is deliberate")
    reordered = {n: REGISTRY[n] for n in order}
    REGISTRY.clear()
    REGISTRY.update(reordered)


_reorder_registry()

#: names past the driver's recorded window, in registry order — each must
#: be covered by the tail-parity pytest (tests/test_tail_query_parity.py)
TAIL_NAMES = list(REGISTRY)[SNAPSHOT_CAP:]
#: backwards-compatible alias (pre-r7 hand-maintained list, now derived)
_TAIL = TAIL_NAMES
