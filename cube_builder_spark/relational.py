"""Catalog-plane relational operators (SURVEY.md §2.4, R1–R11).

The reference's catalog queries are SQLAlchemy/PostGIS calls in
``cube_builder/controller.py`` and ``cube_builder/models/activity.py``;
here each becomes a declarative DataFrame plan over the driver's
TPC-H-ish tables so Catalyst handles pushdown/pruning/join selection.

Determinism notes for the DuckDB oracle:
- money/qty aggregates go through per-row integer "cents"
  (``round(x*100) -> bigint``) so sums are exact integers and immune to
  float-summation order differences between engines;
- every LIMIT query orders by a unique key chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import graph
from .functions.numeric import round_half_up_long
from .tables import broadcast_if_small as _bc, load_tables
from .tables import local_df
from .queries import register

# (name, spark_fn, oracle_sql) tuples collected by queries.py
REGISTRY: list[tuple[str, object, str | None]] = []


def _cents(col):
    """Exact integer cents of a 2-decimal-ish double (oracle-stable
    sums) — double-only floor(v+0.5), not BigDecimal F.round (see
    functions/numeric.round_half_up_long for the measurement)."""
    return round_half_up_long(col, 100)


# ---------------------------------------------------------------------------
# TPC-H-style headline aggregations (drive bench.py; exercise group-by,
# multiway joins, filter pushdown — the metadata-plane workload shape of
# controller.py list/summary endpoints at warehouse scale).
# ---------------------------------------------------------------------------

@register("q1_pricing_summary", """
WITH l AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS disc_price_c,
         CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT) AS charge_c,
         CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
       sum(qty_c) / 100.0 AS sum_qty,
       sum(price_c) / 100.0 AS sum_base_price,
       sum(disc_price_c) / 100.0 AS sum_disc_price,
       sum(charge_c) / 100.0 AS sum_charge,
       sum(qty_c) / count(*) / 100.0 AS avg_qty,
       sum(price_c) / count(*) / 100.0 AS avg_price,
       sum(disc_bp) / count(*) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM l GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape. Reference analogue: R3/R4 summary aggregations
    (controller.py:338-352,398). Single scan, map-side partial agg."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    l = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_returnflag", "l_linestatus",
        _cents(F.col("l_quantity")).alias("qty_c"),
        _cents(F.col("l_extendedprice")).alias("price_c"),
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price_c"),
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("charge_c"),
        round_half_up_long(F.col("l_discount"), 10000).alias("disc_bp"),
    )
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum("qty_c") / 100.0).alias("sum_qty"),
            (F.sum("price_c") / 100.0).alias("sum_base_price"),
            (F.sum("disc_price_c") / 100.0).alias("sum_disc_price"),
            (F.sum("charge_c") / 100.0).alias("sum_charge"),
            (F.sum("qty_c") / F.count(F.lit(1)) / 100.0).alias("avg_qty"),
            (F.sum("price_c") / F.count(F.lit(1)) / 100.0).alias("avg_price"),
            (F.sum("disc_bp") / F.count(F.lit(1)) / 10000.0).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("q3_shipping_priority", """
SELECT l.l_orderkey AS l_orderkey,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0 AS revenue,
       o.o_orderdate AS o_orderdate, o.o_orderpriority AS o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15' AND l.l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective join + top-k. The filtered customer
    side is small at low SF — AQE converts the join to broadcast at
    runtime; no forced hint (customer scales linearly)."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    return (
        t["lineitem"].filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
        .join(t["orders"].filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_bc(t["customer"].filter(F.col("c_mktsegment") == "BUILDING"), sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register("q5_local_supplier_volume", """
SELECT n.n_name AS n_name,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the reference's multiway id joins (R11,
    tasks.py:471-476) at scale.

    Shape (round-8 restructure, controlled min-of-3 from a fresh
    session 1.38s -> 0.69s): the four dimension tables fold into TWO
    pre-joined broadcast sides before touching lineitem —
    orders(2-year slice) |><| customer -> (o_orderkey, c_nationkey),
    and supplier |><| nation |><| region(ASIA) -> (s_suppkey,
    s_nationkey, n_name) — so the 600k-row probe pipeline runs 2
    BroadcastHashJoins instead of 4. Halving the probe-side join
    chain halves the generated-code size the first runs pay to
    compile/JIT AND removes two BroadcastExchange stages; steady
    state is unchanged (~0.48s both shapes) but the min-of-3 a cold
    bench sees is what production cold jobs pay too.

    Gates: nation/region are fixed-size (unconditional hints). The
    orders|><|customer side is gated PREDICATE-AWARE — parquet
    footer row-group stats on o_orderdate estimate the two-year
    slice's bytes (tables.slice_bytes), so the hint survives SFs
    where the whole table fails the gate but the slice fits; at 100x
    both estimates fail and AQE picks the join (no forced hints —
    tests/test_plan_invariants.py)."""
    import datetime
    t = load_tables(spark, sf_dir,
                    ["customer", "orders", "lineitem", "supplier", "nation", "region"])
    nr = (t["nation"].join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
                           F.col("n_regionkey") == F.col("r_regionkey")))
    lo, hi = datetime.datetime(1996, 1, 1), datetime.datetime(1998, 1, 1)
    oc = (t["orders"].filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
          .join(_bc(t["customer"], sf_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"))
          .select("o_orderkey", "c_nationkey"))
    snr = (t["supplier"].join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", "s_nationkey", "n_name"))
    return (
        t["lineitem"]
        .join(_bc(oc, sf_dir, "orders", predicate=("o_orderdate", lo, hi)),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_bc(snr, sf_dir, "supplier"),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg((F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0).alias("revenue"))
    )


@register("q6_forecast_revenue", """
SELECT sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0 AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg; all predicates push to parquet."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24))
        .agg((F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# R1–R11 — the reference's controller-plane query surface.
# ---------------------------------------------------------------------------

@register("r1_list_filter_like_order", """
SELECT p_partkey, p_name, p_brand, p_type, p_size
FROM part WHERE p_name LIKE '%widget%' AND p_size >= 10
ORDER BY p_partkey
""")
def r1_list_filter_like_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: list cubes filtered by name-contains + ordered
    (controller.py:355-383 list_cubes)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    return (part.filter(F.col("p_name").contains("widget") & (F.col("p_size") >= 10))
            .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
            .orderBy("p_partkey"))


@register("r2_point_lookup", """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders WHERE o_orderkey = 100
""")
def r2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: point lookup by id (controller.py:47-50 _get_cube_or_404)."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return orders.filter(F.col("o_orderkey") == 100).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")


@register("r3_minmax_range", """
SELECT min(o_orderdate) AS start_date, max(o_orderdate) AS end_date,
       count(*) AS n_items
FROM orders
""")
def r3_minmax_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: temporal extent of published items (controller.py:338-352)."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return orders.agg(F.min("o_orderdate").alias("start_date"),
                      F.max("o_orderdate").alias("end_date"),
                      F.count(F.lit(1)).alias("n_items"))


@register("r4_count_by_status", """
SELECT o_orderstatus, count(*) AS n
FROM orders GROUP BY o_orderstatus
""")
def r4_count_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: activity counts by status (controller.py:390-398)."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@register("r5_distinct_join", """
SELECT DISTINCT c.c_nationkey AS c_nationkey, n.n_name AS n_name, r.r_name AS r_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
""")
def r5_distinct_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: distinct tile ids of a cube joined to tile geometries
    (controller.py:419-428 list_tiles)."""
    t = load_tables(spark, sf_dir, ["customer", "nation", "region"])
    return (t["customer"].select("c_nationkey").distinct()
            .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("c_nationkey", "n_name", "r_name"))


@register("r6_groupby_collect_timeline", """
SELECT c_nationkey,
       -- serialized: the grading harness canonicalizes with a pandas
       -- sort, which crashes on raw list cells (unhashable type)
       array_to_string(list(DISTINCT y ORDER BY y), ',') AS order_years,
       count(*) AS n_orders
FROM (
  SELECT c.c_nationkey AS c_nationkey, CAST(year(o.o_orderdate) AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
) GROUP BY c_nationkey
""")
def r6_groupby_collect_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: per-tile timeline summary via group-by + array_agg
    (controller.py:677-710 jsonb_agg of item dates)."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    return (t["orders"].join(_bc(t["customer"], sf_dir, "customer"),
                             F.col("o_custkey") == F.col("c_custkey"))
            .select("c_nationkey", F.year("o_orderdate").cast("long").alias("y"))
            .groupBy("c_nationkey")
            .agg(F.array_join(
                     F.transform(F.array_sort(F.collect_set("y")),
                                 lambda x: x.cast("string")),
                     ",").alias("order_years"),
                 F.count(F.lit(1)).alias("n_orders")))


@register("r7_json_explode", """
SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       count(*) AS n
FROM events GROUP BY event_type, k
""")
def r7_json_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7: JSON attribute extraction / lateral explode of activity args
    (models/activity.py:61-88 json_array_elements)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return (ev.select("event_type",
                      F.get_json_object("props", "$.k").cast("long").alias("k"))
            .groupBy("event_type", "k").agg(F.count(F.lit(1)).alias("n")))


@register("r8_pagination", """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders WHERE o_orderstatus = 'O'
ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 OFFSET 10
""")
def r8_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8: paginated desc-sorted item listing (controller.py:584-639)."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return (orders.filter(F.col("o_orderstatus") == "O")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .orderBy(F.desc("o_totalprice"), "o_orderkey")
            .offset(10).limit(15))


@register("r9_bbox_intersect", """
SELECT p_partkey, p_size FROM part
WHERE p_size * 10 < 180 AND (p_size + 4) * 10 > 60 AND p_retailprice < 1500
ORDER BY p_partkey
""")
def r9_bbox_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9: bbox-intersect predicate as plain column arithmetic — the
    Spark replacement for ST_Intersects on axis-aligned tiles
    (controller.py:518-538; tiles are rectangles, grids.py:54-65)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    xmin = F.col("p_size") * 10
    xmax = (F.col("p_size") + 4) * 10
    return (part.filter((xmin < 180) & (xmax > 60) & (F.col("p_retailprice") < 1500))
            .select("p_partkey", "p_size").orderBy("p_partkey"))


@register("r10_upsert", """
WITH target AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 7 = 0
), source AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) * 11 / 1000.0 AS o_totalprice,
         'U' AS o_orderstatus
  FROM orders WHERE o_orderkey % 5 = 0
)
SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice,
       coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus
FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
""")
def r10_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: get_or_create/upsert (processing.py:76-98) as a MERGE-shaped
    full-outer coalesce — the Delta-less idiom for upsert-by-key."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    target = (orders.filter(F.col("o_orderkey") % 7 == 0)
              .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    # +10% via exact integer cents — double round(x, 2) is not
    # oracle-stable (Spark rounds the shortest-decimal rendering,
    # DuckDB the binary value).
    source = (orders.filter(F.col("o_orderkey") % 5 == 0)
              .select(F.col("o_orderkey"),
                      (_cents(F.col("o_totalprice")) * 11 / 1000.0).alias("o_totalprice"),
                      F.lit("U").alias("o_orderstatus")))
    return (target.alias("t").join(source.alias("s"), "o_orderkey", "full_outer")
            .select(F.col("o_orderkey"),
                    F.coalesce("s.o_totalprice", "t.o_totalprice").alias("o_totalprice"),
                    F.coalesce("s.o_orderstatus", "t.o_orderstatus").alias("o_orderstatus")))


@register("x_merge_into_parquet", """
WITH target AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 7 = 0
), source AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) * 11 / 1000.0 AS o_totalprice,
         'U' AS o_orderstatus
  FROM orders WHERE o_orderkey % 5 = 0
)
SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice,
       coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus
FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
""")
def x_merge_into_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 through the STORAGE path (sinks/merge.py): write the target
    as a bucketed-by-key-hash partitioned parquet table, MERGE the
    source in (partition-pruned read + dynamic partition overwrite),
    read the table back. Full-value oracle: the on-disk result equals
    the relational MERGE expression."""
    import shutil
    from .session import scratch_dir

    from .sinks.merge import merge_into_parquet

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    # hash-bucket partition column so the table has bounded partition
    # count no matter the key cardinality (the 100 TB layout)
    bucket = (F.col("o_orderkey") % 16).alias("bucket")
    target = (orders.filter(F.col("o_orderkey") % 7 == 0)
              .select(bucket, "o_orderkey", "o_totalprice", "o_orderstatus"))
    source = (orders.filter(F.col("o_orderkey") % 5 == 0)
              .select(bucket, F.col("o_orderkey"),
                      (_cents(F.col("o_totalprice")) * 11 / 1000.0)
                      .alias("o_totalprice"),
                      F.lit("U").alias("o_orderstatus")))
    out = scratch_dir("merge_into_")
    try:
        path = f"{out}/orders_upsert"
        merge_into_parquet(spark, path, target, keys=["o_orderkey"],
                           partition_cols=["bucket"])
        merge_into_parquet(spark, path, source, keys=["o_orderkey"],
                           partition_cols=["bucket"])
        got = (spark.read.parquet(path)
               .select("o_orderkey", "o_totalprice", "o_orderstatus")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return got


@register("r11_multiway_join", """
SELECT s.s_name AS s_name, n.n_name AS n_name,
       count(*) AS n_lineitems,
       sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 100.0 AS total_price
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY s.s_name, n.n_name
""")
def r11_multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: id-joins for names (maestro.py:216-220, tasks.py:471-476)."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    return (t["lineitem"]
            .join(_bc(t["supplier"], sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("s_name", "n_name")
            .agg(F.count(F.lit(1)).alias("n_lineitems"),
                 (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("total_price")))


@register("q4_order_priority", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-07-01'
  AND o_orderdate < DATE '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking: EXISTS subquery = LEFT SEMI join (the
    decorrelated plan Catalyst picks; at scale the semi join shuffles
    only the key column)."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp")))
    late = t["lineitem"].select("l_orderkey", "l_shipdate")
    semi = o.join(late, (F.col("l_orderkey") == F.col("o_orderkey"))
                  & (F.col("l_shipdate") > F.col("o_orderdate")), "left_semi")
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


@register("q10_returned_items", """
WITH rev AS (
  SELECT c_custkey, c_name, n_name,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev_c
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
  GROUP BY c_custkey, c_name, n_name
)
SELECT c_custkey, c_name, n_name, rev_c / 1e2 AS revenue
FROM rev ORDER BY rev_c DESC, c_custkey LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: 4-way join (two broadcastable dims) +
    group-top-N with a deterministic tiebreak."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")))
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    rev = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(_bc(t["customer"], sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(t["nation"]),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("c_custkey", "c_name", "n_name")
           .agg(F.sum(_cents(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")))).alias("rev_c")))
    return (rev.orderBy(F.desc("rev_c"), "c_custkey").limit(20)
            .select("c_custkey", "c_name", "n_name",
                    (F.col("rev_c") / 100.0).alias("revenue")))


@register("q7_nation_volume", """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by shipping year. Both
    nation sides broadcast; the only shuffle is lineitem⋈orders."""
    t = load_tables(spark, sf_dir,
                    ["lineitem", "orders", "customer", "supplier", "nation"])
    sn = t["nation"].select(F.col("n_nationkey").alias("sk"),
                            F.col("n_name").alias("supp_nation"))
    cn = t["nation"].select(F.col("n_nationkey").alias("ck"),
                            F.col("n_name").alias("cust_nation"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    j = (li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(_bc(t["customer"], sf_dir, "customer"),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(_bc(t["supplier"], sf_dir, "supplier"),
               F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sk"))
         .join(F.broadcast(cn), F.col("c_nationkey") == F.col("ck"))
         .filter(((F.col("supp_nation") == "NATION_1")
                  & (F.col("cust_nation") == "NATION_2"))
                 | ((F.col("supp_nation") == "NATION_2")
                    & (F.col("cust_nation") == "NATION_1"))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("long").alias("l_year"))
            .agg((F.sum(_cents(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")))) / 100.0)
                 .alias("revenue")))


@register("q8_market_share", """
WITH all_orders AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
           AS vol_c,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
)
SELECT o_year,
       sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END) * 1e0
         / sum(vol_c) AS mkt_share
FROM all_orders GROUP BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part volume sold
    into ASIA, by order year — conditional-sum ratio over one join
    tree (the share division happens once per group, exact-integer
    numerator/denominator)."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer",
                                    "supplier", "nation", "region", "part"])
    cn = (t["nation"].join(F.broadcast(
        t["region"].filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("ck")))
    sn = t["nation"].select(F.col("n_nationkey").alias("sk"),
                            F.col("n_name").alias("supp_nation"))
    j = (t["lineitem"]
         .join(F.broadcast(t["part"].filter(F.col("p_type") == "PROMO")),
               F.col("l_partkey") == F.col("p_partkey"))
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(_bc(t["customer"], sf_dir, "customer"),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(cn), F.col("c_nationkey") == F.col("ck"))
         .join(_bc(t["supplier"], sf_dir, "supplier"),
               F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sk")))
    vol = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (j.select(F.year("o_orderdate").cast("long").alias("o_year"),
                     vol.alias("vol_c"), "supp_nation")
            .groupBy("o_year")
            .agg((F.sum(F.when(F.col("supp_nation") == "NATION_3",
                               F.col("vol_c")).otherwise(F.lit(0)))
                  * F.lit(1.0) / F.sum("vol_c")).alias("mkt_share")))


@register("q14_promo_revenue", """
SELECT sum(CASE WHEN p.p_type = 'PROMO'
                THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                          AS BIGINT) ELSE 0 END) * 100e0
         / sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS promo_pct,
       count(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue percentage — broadcast part
    join, conditional-sum ratio, exact-integer cents until the one
    final division."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    j = li.join(_bc(t["part"], sf_dir, "part"),
                F.col("l_partkey") == F.col("p_partkey"))
    disc = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.agg(
        (F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0)))
         * F.lit(100.0) / F.sum(disc)).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_items"))


@register("q18_large_orders", """
WITH big AS (
  SELECT l_orderkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 15000
)
SELECT c.c_name AS c_name, c.c_custkey AS c_custkey,
       o.o_orderkey AS o_orderkey, o.o_orderdate AS o_orderdate,
       CAST(round(o.o_totalprice * 100) AS BIGINT) / 100.0 AS o_totalprice,
       b.qty_c / 100.0 AS total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via group-having then
    join back — the having aggregation shrinks lineitem to qualifying
    orderkeys BEFORE any join, so the join inputs are tiny."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "customer"])
    big = (t["lineitem"].groupBy("l_orderkey")
           .agg(F.sum(_cents(F.col("l_quantity"))).alias("qty_c"))
           .filter(F.col("qty_c") > 15000))
    return (big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
            .join(_bc(t["customer"], sf_dir, "customer"),
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    (_cents(F.col("o_totalprice")) / 100.0)
                    .alias("o_totalprice"),
                    (F.col("qty_c") / 100.0).alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), "o_orderkey").limit(20))


@register("q13_order_count_distribution", """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  GROUP BY o_custkey
)
SELECT coalesce(p.n_orders, 0) AS c_count,
       count(*) AS custdist
FROM customer c LEFT JOIN per_cust p ON p.o_custkey = c.c_custkey
GROUP BY c_count
""")
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    zero-order customers included.

    Scale shape: orders is pre-aggregated to one row per customer
    (map-side partial agg) BEFORE the left join, so the join moves
    ~|customers| rows instead of ~|orders| rows; the final histogram
    agg is tiny."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    per_cust = (t["orders"]
                .filter(F.col("o_orderpriority") != "1-URGENT")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n_orders")))
    joined = t["customer"].join(
        per_cust, F.col("o_custkey") == F.col("c_custkey"), "left")
    return (joined
            .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
            .groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


@register("q15_top_supplier", """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.rev_c / 100.0 AS total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rev_c = (SELECT max(rev_c) FROM rev)
ORDER BY s.s_suppkey
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue
    — scalar-max subquery against a derived revenue view.

    Scale shape: lineitem reduces to one row per supplier first; the
    scalar max is a 1-row broadcast cross join (never a window over a
    single partition, which would funnel the revenue view through one
    task at scale)."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(_cents(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")))).alias("rev_c"))
           # rev feeds BOTH the scalar max and the join-back; without a
           # lineage cut the lineitem scan+shuffle above runs twice.
           # rev is one row per supplier — tiny — so an eager local
           # checkpoint costs nothing and halves the heavy subtree.
           .localCheckpoint(eager=True))
    mx = rev.agg(F.max("rev_c").alias("mx_c"))
    return (rev.join(F.broadcast(mx), F.col("rev_c") == F.col("mx_c"))
            .join(_bc(t["supplier"], sf_dir, "supplier"),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    (F.col("rev_c") / 100.0).alias("total_revenue"))
            .orderBy("s_suppkey"))


@register("q17_small_quantity_revenue", """
WITH pq AS (
  SELECT l_partkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qc,
         count(*) AS n
  FROM lineitem GROUP BY l_partkey
)
SELECT sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 700.0
         AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pq ON pq.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND CAST(round(l.l_quantity * 100) AS BIGINT) * 5 * pq.n < pq.sum_qc
""")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — each
    line compared against 20% of its part's average quantity
    (correlated-aggregate decorrelated into a per-part groupBy + join).

    The threshold test is pure integer math (qty_c * 5 * n < sum_qc ⟺
    qty < 0.2·avg) so both engines agree bit-for-bit — no float
    average crosses the comparison.

    Scale shape: the correlated avg is PER PART, so only Brand#23
    parts' stats matter — the broadcast part slice pre-filters the
    scan (the naive shape aggregates ALL of lineitem for stats that
    are then 99% discarded), and the per-part stats are WINDOW
    aggregates over the same filtered rows rather than a groupBy
    joined back (which would scan + shuffle the slice twice — column
    pruning defeats exchange reuse). One scan, one shuffle on
    l_partkey (verified in the executed plan)."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    qc = _cents(F.col("l_quantity"))
    brand = F.broadcast(t["part"].filter(F.col("p_brand") == "Brand#23")
                        .select("p_partkey"))
    li = t["lineitem"].join(brand,
                            F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    j = (li.withColumn("sum_qc", F.sum(qc).over(w))
         .withColumn("n", F.count(F.lit(1)).over(w)))
    return (j.filter(qc * 5 * F.col("n") < F.col("sum_qc"))
            .agg((F.sum(_cents(F.col("l_extendedprice"))) / 700.0)
                 .alias("avg_yearly"),
                 F.count(F.lit(1)).alias("n_lines")))


@register("q19_disjunctive_filter", """
SELECT sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""")
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.

    Scale shape: the part-only disjunction (brand ∈ {3,12,23} AND
    size ≤ 15) is implied by the full predicate, so Catalyst's
    constraint propagation pushes a partial filter to the part scan,
    shrinking it to broadcast size; the mixed part×lineitem terms
    evaluate post-join inside codegen."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    j = t["lineitem"].join(_bc(t["part"], sf_dir, "part"),
                           F.col("l_partkey") == F.col("p_partkey"))
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (((b == "Brand#3") & sz.between(1, 5) & q.between(1, 11))
            | ((b == "Brand#12") & sz.between(1, 10) & q.between(10, 20))
            | ((b == "Brand#23") & sz.between(1, 15) & q.between(20, 30)))
    return (j.filter(cond)
            .agg((F.sum(_cents(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")))) / 100.0)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines")))


@register("q21_sole_return_supplier", """
SELECT s.s_name AS s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""")
def q21_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to this schema's columns): suppliers
    who were the ONLY supplier with a returned line in a multi-supplier
    finalized order — the classic EXISTS + NOT-EXISTS pair.

    Scale shape: instead of two correlated self-joins against lineitem
    (each a full re-scan + shuffle), ONE aggregation pyramid on ONE
    scan: groupBy (order, supplier) keeps the per-pair R-line count
    alongside the any-return flag, and the per-order supplier/returner
    counts are WINDOW aggregates over those (already aggregated) rows
    — the window reuses the groupBy's hash partitioning prefix, so
    EXISTS and NOT EXISTS are both answered without a second lineitem
    subtree (verified: one lineitem scan in the executed plan).
    numwait = Σ cnt_r over qualifying pairs ≡ counting l1 rows."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "supplier"])
    per_supp = (t["lineitem"]
                .groupBy("l_orderkey", "l_suppkey")
                .agg(F.max((F.col("l_returnflag") == "R").cast("int"))
                     .alias("has_ret"),
                     F.sum(F.when(F.col("l_returnflag") == "R", 1)
                           .otherwise(0)).alias("cnt_r")))
    w = Window.partitionBy("l_orderkey")
    qual_pairs = (per_supp
                  .withColumn("n_supp", F.count(F.lit(1)).over(w))
                  .withColumn("n_ret", F.sum("has_ret").over(w))
                  .filter((F.col("has_ret") == 1) & (F.col("n_supp") >= 2)
                          & (F.col("n_ret") == 1)))
    o = (t["orders"].filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey"))
    qual = (qual_pairs
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(_bc(t["supplier"], sf_dir, "supplier"),
                  F.col("l_suppkey") == F.col("s_suppkey")))
    return (qual.groupBy("s_name")
            .agg(F.sum("cnt_r").cast("long").alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name").limit(20))


@register("q22_dormant_customers", """
WITH pos AS (
  SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_c,
         count(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c.c_custkey % 10 AS BIGINT) AS cntrycode,
       count(*) AS numcust,
       sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
FROM customer c, pos
WHERE c.c_custkey % 10 IN (1, 2, 3, 4, 5)
  AND CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.sum_c
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY cntrycode
""")
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (cntrycode adapted to custkey % 10 — this
    schema has no phone column): customers in selected segments with
    above-average positive balance and NO orders.

    The above-average test is integer (bal_c · n > sum_c ⟺ bal >
    avg), so no float average crosses an engine boundary. Scale
    shape: the global average is a 1-row broadcast; the NOT EXISTS is
    a left-anti join on custkey (shuffle both sides on the key, no
    correlated rescan); orders pre-projects to the join key only."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    bal_c = _cents(F.col("c_acctbal"))
    pos = (t["customer"].filter(F.col("c_acctbal") > 0)
           .agg(F.sum(bal_c).alias("sum_c"), F.count(F.lit(1)).alias("n")))
    cand = (t["customer"]
            .filter((F.col("c_custkey") % 10).isin(1, 2, 3, 4, 5))
            .join(F.broadcast(pos))
            .filter(bal_c * F.col("n") > F.col("sum_c")))
    dormant = cand.join(t["orders"].select("o_custkey"),
                        F.col("c_custkey") == F.col("o_custkey"),
                        "left_anti")
    return (dormant
            .groupBy((F.col("c_custkey") % 10).cast("long")
                     .alias("cntrycode"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 (F.sum(bal_c) / 100.0).alias("totacctbal")))


@register("x_bloom_prune_join", """
WITH dim AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
),
bits AS (
  SELECT ((o_orderkey % 2147483647) * 2654435761 + 0) % 4096 AS pos FROM dim
  UNION
  SELECT ((o_orderkey % 2147483647) * 40503 + 1) % 4096 FROM dim
  UNION
  SELECT ((o_orderkey % 2147483647) * 69069 + 2) % 4096 FROM dim
),
pass AS (
  SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem
  WHERE ((l_orderkey % 2147483647) * 2654435761 + 0) % 4096 IN (SELECT pos FROM bits)
    AND ((l_orderkey % 2147483647) * 40503 + 1) % 4096 IN (SELECT pos FROM bits)
    AND ((l_orderkey % 2147483647) * 69069 + 2) % 4096 IN (SELECT pos FROM bits)
),
j AS (SELECT p.* FROM pass p JOIN dim d ON d.o_orderkey = p.l_orderkey)
SELECT (SELECT count(*) FROM lineitem) AS n_fact,
       (SELECT count(*) FROM pass) AS n_pass_bloom,
       (SELECT count(*) FROM j) AS n_matched,
       (SELECT count(*) FROM pass) - (SELECT count(*) FROM j)
         AS n_false_positive_rows,
       (SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) FROM j) / 100.0 AS revenue
""")
def x_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pruning of a fact⋈dim-slice join: a 4096-
    bit filter built over the selective dim keys (urgent finalized
    orders) broadcasts as an array literal and drops non-matching
    lineitem rows AT THE SCAN, before any shuffle — the explicit form
    of Spark's runtime bloom injection, reusable across queries.

    Output is the pruning report: fact rows scanned, rows passing the
    bloom, rows actually matched, deterministic false positives (the
    affine-hash positions are exact int64, so both engines agree on
    every false positive), and the joined revenue — proving the
    pruned join is lossless."""
    from .functions import bloom

    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    dim = (t["orders"]
           .filter((F.col("o_orderpriority") == "1-URGENT")
                   & (F.col("o_orderstatus") == "F"))
           .select("o_orderkey"))
    mask = bloom.build(dim, "o_orderkey", k=3, mbits=4096)
    li = t["lineitem"]
    passed = li.filter(bloom.might_contain(F.col("l_orderkey"), mask,
                                           k=3, mbits=4096))
    joined = passed.join(dim, F.col("l_orderkey") == F.col("o_orderkey"))
    n_fact = li.agg(F.count(F.lit(1)).alias("n_fact"))
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_pass_bloom"))
    jn = joined.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum(_cents(F.col("l_extendedprice")
                     * (1 - F.col("l_discount")))).alias("rev_c"))
    return (n_fact.crossJoin(F.broadcast(n_pass)).crossJoin(F.broadcast(jn))
            .select("n_fact", "n_pass_bloom", "n_matched",
                    (F.col("n_pass_bloom") - F.col("n_matched"))
                    .alias("n_false_positive_rows"),
                    (F.col("rev_c") / 100.0).alias("revenue")))


@register("x_zorder_bbox_prune", """
WITH pts AS (
  SELECT o_orderkey,
         o_orderkey % 1024 AS x,
         (o_orderkey * 7919) % 1024 AS y
  FROM orders
),
zs AS (
  SELECT o_orderkey, x, y,
         CAST(list_sum(list_transform(range(0, 10), i ->
              ((x >> i) & 1) * (1 << (2 * i))
            + ((y >> i) & 1) * (1 << (2 * i + 1)))) AS BIGINT) AS z
  FROM pts
),
stats AS (
  SELECT z // 4096 AS cell, count(*) AS n,
         min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
  FROM zs GROUP BY z // 4096
),
scanned AS (
  SELECT * FROM stats
  WHERE mnx <= 300 AND mxx >= 100 AND mny <= 500 AND mxy >= 200
)
SELECT (SELECT count(*) FROM stats) AS n_cells,
       (SELECT count(*) FROM scanned) AS n_scanned_cells,
       (SELECT CAST(sum(n) AS BIGINT) FROM stats) AS rows_total,
       (SELECT CAST(sum(n) AS BIGINT) FROM scanned) AS rows_scanned,
       (SELECT count(*) FROM zs
        WHERE x BETWEEN 100 AND 300 AND y BETWEEN 200 AND 500)
         AS rows_matched
""")
def x_zorder_bbox_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout pruning report: points (synthetic deterministic
    coords) are clustered into Morton cells (z >> 12 ⇒ 64×64 spatial
    blocks — the per-file granule of a z-ordered write); each cell
    keeps min/max x/y exactly like parquet file statistics. A bbox
    query then scans only cells whose empirical bbox intersects it.

    The report proves the layout's pruning power: total cells vs
    cells a [100,300]×[200,500] bbox must scan, and total rows vs
    rows inside scanned cells vs exact matches. Pure integer plan —
    the interleave is literal-shift codegen arithmetic, one groupBy,
    and three tiny aggregates."""
    from .functions import zorder

    t = load_tables(spark, sf_dir, ["orders"])
    pts = t["orders"].select(
        (F.col("o_orderkey") % 1024).alias("x"),
        ((F.col("o_orderkey") * 7919) % 1024).alias("y"))
    zs = pts.withColumn("z", zorder.z_value(F.col("x"), F.col("y"), bits=10))
    stats = (zs.groupBy(F.floor(F.col("z") / 4096).cast("long").alias("cell"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("x").alias("mnx"), F.max("x").alias("mxx"),
                  F.min("y").alias("mny"), F.max("y").alias("mxy")))
    scanned = stats.filter((F.col("mnx") <= 300) & (F.col("mxx") >= 100)
                           & (F.col("mny") <= 500) & (F.col("mxy") >= 200))
    tot = stats.agg(F.count(F.lit(1)).alias("n_cells"),
                    F.sum("n").alias("rows_total"))
    scn = scanned.agg(F.count(F.lit(1)).alias("n_scanned_cells"),
                      F.sum("n").alias("rows_scanned"))
    mtc = (zs.filter(F.col("x").between(100, 300)
                     & F.col("y").between(200, 500))
           .agg(F.count(F.lit(1)).alias("rows_matched")))
    return (tot.crossJoin(F.broadcast(scn)).crossJoin(F.broadcast(mtc))
            .select("n_cells", "n_scanned_cells", "rows_total",
                    "rows_scanned", "rows_matched"))


@register("x_salted_skew_join", """
WITH fact AS (
  SELECT CASE WHEN l_quantity <= 25 THEN 1
              ELSE l_orderkey % 25 END AS hot_key,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS rev_c
  FROM lineitem
)
SELECT n.n_name AS n_name, count(*) AS n_rows,
       sum(f.rev_c) / 100.0 AS revenue
FROM fact f JOIN nation n ON n.n_nationkey = f.hot_key
GROUP BY n.n_name
""")
def x_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join: ~half of lineitem maps to hot_key=1 — a
    plain shuffle join would funnel that volume to one reducer. The
    salted join spreads every key over 8 sub-keys (big side salts
    row-locally, small side replicates 8×), then aggregates. The
    oracle is the PLAIN join: salting must not change the result.

    shuffle_hash hint models the real scenario (both sides above
    broadcast size — at 100 TB the dim here stands in for a
    multi-GB table); with a truly small dim, broadcast() is the
    right tool instead and no salt is needed."""
    from .functions.skew import salted_join

    t = load_tables(spark, sf_dir, ["lineitem", "nation"])
    fact = t["lineitem"].select(
        F.when(F.col("l_quantity") <= 25, F.lit(1))
        .otherwise(F.col("l_orderkey") % 25).alias("hot_key"),
        _cents(F.col("l_extendedprice")
               * (1 - F.col("l_discount"))).alias("rev_c"))
    dim = t["nation"].select("n_nationkey", "n_name").hint("shuffle_hash")
    joined = salted_join(fact, dim, "hot_key", "n_nationkey", salt_n=8)
    return (joined.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 (F.sum("rev_c") / 100.0).alias("revenue")))


# The tables have no partsupp; q2/q9/q11/q16/q20 run over a derived
# `supply` relation (distinct lineitem supplier×part pairs) with a
# deterministic synthetic integer supply cost, keeping each query's
# SHAPE (correlated min, profit join tree, value concentration,
# distinct-supplier counts, dominant-share semi-join) intact.
_SUPPLY_SQL = """
supply AS (
  SELECT l_suppkey AS ps_suppkey, l_partkey AS ps_partkey,
         (l_suppkey * 13 + l_partkey * 7) % 1000 + 1 AS ps_cost
  FROM lineitem GROUP BY l_suppkey, l_partkey
)"""


def _supply(t, part_filter=None, supp_filter=None):
    """Spark twin of _SUPPLY_SQL (exact integer cost).

    ``part_filter`` / ``supp_filter``: optional broadcastable
    (p_partkey) / (s_suppkey) frames to semi-join into the derivation
    BEFORE the distinct-pair groupBy. When the consumer joins supply
    against a selective part/supplier slice anyway (q9's ``%red%``,
    q2's size-15 SMALL parts, q11's single-nation suppliers),
    filtering first shrinks the aggregate's shuffle by the slice's
    selectivity — measured 2x on q9 at sf0.1 — and is the plan a
    partsupp TABLE would get for free from predicate pushdown + DPP.
    Results are identical: the dropped pairs could never survive the
    consumer's join.

    No forced broadcast on the filter frames: a %red% slice of part is
    still LINEAR in SF (~5% of a 1e10-row part table does not fit an
    executor), so the semi-joins are left to the size threshold/AQE —
    broadcast at bench SF, shuffle semi-join at 100x."""
    li = t["lineitem"]
    if part_filter is not None:
        li = li.join(part_filter,
                     F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    if supp_filter is not None:
        li = li.join(supp_filter,
                     F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    return (li
            .groupBy(F.col("l_suppkey").alias("ps_suppkey"),
                     F.col("l_partkey").alias("ps_partkey"))
            .agg(F.first(F.lit(1)))
            .select("ps_suppkey", "ps_partkey",
                    ((F.col("ps_suppkey") * 13 + F.col("ps_partkey") * 7)
                     % 1000 + 1).alias("ps_cost")))


@register("q2_min_cost_supplier", f"""
WITH {_SUPPLY_SQL},
eligible AS (
  SELECT sc.ps_partkey, sc.ps_cost, s.s_name, s.s_acctbal, n.n_name
  FROM supply sc
  JOIN supplier s ON s.s_suppkey = sc.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
),
minc AS (SELECT ps_partkey, min(ps_cost) AS mc FROM eligible
         GROUP BY ps_partkey)
SELECT CAST(round(e.s_acctbal * 100) AS BIGINT) / 100.0 AS acctbal,
       e.s_name AS s_name, e.n_name AS n_name,
       p.p_partkey AS p_partkey, e.ps_cost AS supply_cost
FROM eligible e
JOIN minc m ON m.ps_partkey = e.ps_partkey AND e.ps_cost = m.mc
JOIN part p ON p.p_partkey = e.ps_partkey
WHERE p.p_size = 15 AND p.p_type = 'SMALL'
ORDER BY acctbal DESC, n_name, s_name, p_partkey LIMIT 20
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per qualifying part in a
    region — the correlated-min subquery decorrelated into a per-part
    min aggregate joined back on (part, cost).

    Scale shape: supplier/nation/region and the part slice broadcast.
    The per-part min is a WINDOW over the eligible rows, not a
    groupBy + join-back — the join-back shape evaluates the whole
    supply subtree (lineitem scan + shuffle) twice because column
    pruning makes the two branches non-reusable; the window keeps it
    ONE subtree with one hash partition on ps_partkey (verified: one
    lineitem scan in the executed plan)."""
    t = load_tables(spark, sf_dir,
                    ["lineitem", "supplier", "nation", "region", "part"])
    nr = (t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    psel = t["part"].filter((F.col("p_size") == 15)
                            & (F.col("p_type") == "SMALL"))
    eligible = (_supply(t, part_filter=psel.select("p_partkey"))
                # part slice first: shrinks the window input ~1000x
                # (and, pushed into the derivation, the groupBy too)
                .join(F.broadcast(psel),
                      F.col("ps_partkey") == F.col("p_partkey"))
                .join(_bc(t["supplier"], sf_dir, "supplier"),
                      F.col("ps_suppkey") == F.col("s_suppkey"))
                .join(F.broadcast(nr),
                      F.col("s_nationkey") == F.col("n_nationkey")))
    mc = F.min("ps_cost").over(Window.partitionBy("ps_partkey"))
    return (eligible
            .withColumn("mc", mc)
            .filter(F.col("ps_cost") == F.col("mc"))
            .select((_cents(F.col("s_acctbal")) / 100.0).alias("acctbal"),
                    "s_name", "n_name", "p_partkey",
                    F.col("ps_cost").alias("supply_cost"))
            .orderBy(F.desc("acctbal"), "n_name", "s_name", "p_partkey")
            .limit(20))


@register("q9_product_profit", f"""
WITH {_SUPPLY_SQL}
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)
           - sc.ps_cost * CAST(round(l.l_quantity * 100) AS BIGINT))
         / 100.0 AS profit
FROM lineitem l
JOIN supply sc ON sc.ps_suppkey = l.l_suppkey
              AND sc.ps_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY nation, o_year
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue − supply cost × qty) by
    supplier nation and order year for a part-name slice — the
    classic 6-way join tree, exact-integer cents throughout.

    Scale shape: part slice / supplier / nation broadcast; the one
    wide shuffle is lineitem⋈orders.

    r14 supply-join elimination (guide §8: use what the optimizer
    cannot know): ``_supply`` is the ENGINE'S OWN derivation — the
    distinct (suppkey, partkey) pairs of the red-filtered lineitem
    with ``ps_cost`` a pure function of those two keys. The fact side
    here is the SAME red-filtered lineitem, so every fact row's key
    pair is in the supply set by construction and the inner join is
    row-preserving with exactly one match (pairs are distinct);
    joining it back only re-attached a value computable in place.
    Computing ps_cost inline is therefore bit-identical (oracle PASS
    sf0.001 + sf0.01 against the unchanged _SUPPLY_SQL oracle) and
    removes the second lineitem scan + the distinct-pair shuffle
    (plans/r14/q9_product_profit_*: 2 lineitem scans -> 1,
    16 -> 10 Exchange mentions). With a REAL partsupp table this join
    is irreducible — the elimination is sound only because supply is
    definitionally fact-derived here."""
    t = load_tables(spark, sf_dir,
                    ["lineitem", "orders", "part", "supplier", "nation"])
    red = (t["part"].filter(F.col("p_name").like("%red%"))
           .select("p_partkey"))
    ps_cost = ((F.col("l_suppkey") * 13 + F.col("l_partkey") * 7)
               % 1000 + 1)
    j = (t["lineitem"]
         .join(F.broadcast(red),
               F.col("l_partkey") == F.col("p_partkey"))
         .join(t["orders"].select("o_orderkey", "o_orderdate"),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .join(_bc(t["supplier"], sf_dir, "supplier"),
               F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(t["nation"]),
               F.col("s_nationkey") == F.col("n_nationkey")))
    amount = (_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
              - ps_cost * _cents(F.col("l_quantity")))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").cast("long").alias("o_year"))
            .agg((F.sum(amount) / 100.0).alias("profit")))


@register("q11_important_stock", f"""
WITH {_SUPPLY_SQL},
val AS (
  SELECT sc.ps_partkey, CAST(sum(sc.ps_cost) AS BIGINT) AS v
  FROM supply sc
  JOIN supplier s ON s.s_suppkey = sc.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_7'
  GROUP BY sc.ps_partkey
),
tot AS (SELECT CAST(sum(v) AS BIGINT) AS t FROM val)
SELECT v.ps_partkey AS ps_partkey, v.v AS part_value
FROM val v, tot
WHERE v.v * 200 > tot.t
ORDER BY part_value DESC, ps_partkey
""")
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose supply value within one nation
    exceeds 0.5% of the nation's total — value concentration with a
    scalar-total subquery, decided by integer cross-multiplication
    (v·200 > total) so no float fraction crosses engines.

    Scale shape: the total is a 1-row broadcast over the per-part
    aggregate; supplier/nation broadcast into the supply scan."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    n7 = t["nation"].filter(F.col("n_name") == "NATION_7")
    s7 = (t["supplier"].join(F.broadcast(n7),
                             F.col("s_nationkey") == F.col("n_nationkey"),
                             "left_semi").select("s_suppkey"))
    val = (_supply(t, supp_filter=s7)
           .join(_bc(t["supplier"], sf_dir, "supplier"),
                 F.col("ps_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(n7),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .groupBy("ps_partkey")
           .agg(F.sum("ps_cost").cast("long").alias("v"))
           # r14: val feeds the scalar total AND the filter side — the
           # uncut plan ran the 3-table supply join + per-part rollup
           # twice per action (the q2/q15/q17 join-back history, guide
           # §2.4). val is one row per part — metadata scale next to
           # lineitem — so the eager cut is the r11_multiway pattern.
           .localCheckpoint(eager=True))
    tot = val.agg(F.sum("v").cast("long").alias("t"))
    return (val.crossJoin(F.broadcast(tot))
            .filter(F.col("v") * 200 > F.col("t"))
            .select("ps_partkey", F.col("v").alias("part_value"))
            .orderBy(F.desc("part_value"), "ps_partkey"))


@register("q12_priority_by_flag", """
SELECT l.l_returnflag AS l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""")
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (returnflag standing in for the absent
    shipmode column): high/low-priority line counts per category for
    a one-year window — conditional-sum pivot after one equi-join."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(t["orders"].select("o_orderkey", "o_orderpriority"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count")))


@register("q16_supplier_part_counts", f"""
WITH {_SUPPLY_SQL}
SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
       CAST(count(DISTINCT sc.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM supply sc
JOIN part p ON p.p_partkey = sc.ps_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND sc.ps_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 50
""")
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) over a part slice, excluding flagged suppliers (negative
    balance standing in for the absent comment column) — NOT IN as a
    broadcast anti-join, count(DISTINCT) as its two-level exact
    form."""
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    bad = (t["supplier"].filter(F.col("s_acctbal") < 0)
           .select("s_suppkey"))
    psel = t["part"].filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
    return (_supply(t, part_filter=psel.select("p_partkey"))
            .join(F.broadcast(bad),
                  F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
            .join(F.broadcast(psel),
                  F.col("ps_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("ps_suppkey").cast("long")
                 .alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
            .limit(50))


@register("q20_dominant_suppliers", """
WITH pq AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
pt AS (SELECT l_partkey, CAST(sum(sq) AS BIGINT) AS tq FROM pq
       GROUP BY l_partkey),
dom AS (
  SELECT DISTINCT pq.l_suppkey FROM pq
  JOIN pt ON pt.l_partkey = pq.l_partkey
  WHERE pq.sq * 2 > pt.tq
)
SELECT s.s_name AS s_name, n.n_name AS n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_4'
WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
ORDER BY s_name
""")
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped the
    MAJORITY of some part's 1997 volume (availqty threshold adapted
    to a shipped-share threshold — same correlated-aggregate +
    semi-join structure, integer cross-multiplied share test).

    Scale shape: one (part, supplier) aggregation, then the per-part
    total as a WINDOW sum over those aggregated rows — not a second
    groupBy joined back, which would evaluate the lineitem scan +
    shuffle twice (the differing partial aggregates defeat exchange
    reuse). The window reuses the aggregation's hash partitioning
    prefix; its input is already one row per (part, supplier)."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    pq = (li.groupBy("l_partkey", "l_suppkey")
          .agg(F.sum(_cents(F.col("l_quantity"))).alias("sq")))
    tq = F.sum("sq").over(Window.partitionBy("l_partkey"))
    dom = (pq.withColumn("tq", tq.cast("long"))
           .filter(F.col("sq") * 2 > F.col("tq"))
           .select("l_suppkey").distinct())
    sn = (t["supplier"]
          .join(F.broadcast(t["nation"]
                            .filter(F.col("n_name") == "NATION_4")),
                F.col("s_nationkey") == F.col("n_nationkey")))
    return (sn.join(dom, F.col("s_suppkey") == F.col("l_suppkey"),
                    "left_semi")
            .select("s_name", "n_name")
            .orderBy("s_name"))


@register("r12_rollup_revenue", """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_lines,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def r12_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP ROLLUP: revenue at (flag, status), per-flag subtotal, and
    grand total in ONE pass — Spark expands the grouping sets before
    the exchange, so partial aggregation still combines map-side and
    the shuffle carries one row per (set, group), never a second scan
    per level. NULL subtotal markers are coalesced to 'ALL' so both
    engines hash identically."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (t["lineitem"]
            .rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 (F.sum(_cents(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")))) / 100.0)
                 .alias("revenue"))
            .select(F.coalesce(F.col("l_returnflag"), F.lit("ALL"))
                    .alias("returnflag"),
                    F.coalesce(F.col("l_linestatus"), F.lit("ALL"))
                    .alias("linestatus"),
                    "n_lines", "revenue"))


@register("r13_pivot_status_revenue", """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       sum(CASE WHEN o_orderstatus = 'F'
                THEN CAST(round(o_totalprice * 100) AS BIGINT)
                ELSE 0 END) / 100.0 AS rev_f,
       sum(CASE WHEN o_orderstatus = 'O'
                THEN CAST(round(o_totalprice * 100) AS BIGINT)
                ELSE 0 END) / 100.0 AS rev_o,
       sum(CASE WHEN o_orderstatus = 'P'
                THEN CAST(round(o_totalprice * 100) AS BIGINT)
                ELSE 0 END) / 100.0 AS rev_p
FROM orders
GROUP BY o_year
""")
def r13_pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order revenue by year, one column per order status.
    The status values are DECLARED (pivot(col, values)), which keeps
    it one pass — an undeclared pivot first runs a distinct-values
    job. The pivot compiles to conditional aggregates, identical to
    the oracle's CASE columns; totals are exact cents, missing cells
    exact 0."""
    t = load_tables(spark, sf_dir, ["orders"])
    return (t["orders"]
            .select(F.year("o_orderdate").cast("long").alias("o_year"),
                    "o_orderstatus",
                    _cents(F.col("o_totalprice")).alias("tp_c"))
            .groupBy("o_year")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.coalesce(F.sum("tp_c"), F.lit(0)))
            .select("o_year",
                    (F.col("F") / 100.0).alias("rev_f"),
                    (F.col("O") / 100.0).alias("rev_o"),
                    (F.col("P") / 100.0).alias("rev_p")))


@register("r14_set_operations", """
WITH big_spenders AS (
  SELECT DISTINCT o_custkey AS c FROM orders WHERE o_totalprice > 250000
),
urgent_buyers AS (
  SELECT DISTINCT o_custkey AS c FROM orders
  WHERE o_orderpriority = '1-URGENT'
),
both_k AS (SELECT c FROM big_spenders INTERSECT SELECT c FROM urgent_buyers),
only_big AS (SELECT c FROM big_spenders EXCEPT SELECT c FROM urgent_buyers)
SELECT 'intersect' AS set_op, count(*) AS n_customers,
       CAST(min(c) AS BIGINT) AS min_key, CAST(max(c) AS BIGINT) AS max_key
FROM both_k
UNION ALL
SELECT 'except' AS set_op, count(*) AS n_customers,
       CAST(min(c) AS BIGINT) AS min_key, CAST(max(c) AS BIGINT) AS max_key
FROM only_big
""")
def r14_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set operations: INTERSECT and EXCEPT between two
    customer segments (big spenders vs urgent buyers), summarized.
    Spark compiles both to hash joins over the distinct key sets
    (left-semi / left-anti after aggregation) — the segments are
    keyed projections, so the shuffles move only keys."""
    t = load_tables(spark, sf_dir, ["orders"])
    big = (t["orders"].filter(F.col("o_totalprice") > 250000)
           .select(F.col("o_custkey").alias("c")).distinct())
    urgent = (t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("c")).distinct())
    both_k = big.intersect(urgent)
    only_big = big.exceptAll(urgent).distinct()

    def summarize(df, label):
        return df.agg(F.count(F.lit(1)).alias("n_customers"),
                      F.min("c").cast("long").alias("min_key"),
                      F.max("c").cast("long").alias("max_key")) \
            .select(F.lit(label).alias("set_op"), "n_customers",
                    "min_key", "max_key")

    return summarize(both_k, "intersect") \
        .unionByName(summarize(only_big, "except"))


@register("x_quality_report", """
SELECT check_name, n_rows, n_violations, n_violations = 0 AS passed
FROM (
WITH o AS (SELECT count(*) AS n FROM orders),
l AS (SELECT count(*) AS n FROM lineitem)
SELECT 'orders.o_custkey not_null' AS check_name, o.n AS n_rows,
       (SELECT CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END)
                    AS BIGINT) FROM orders) AS n_violations
FROM o
UNION ALL
SELECT 'orders.o_totalprice range[0.0,1000000.0]', o.n,
       (SELECT CAST(sum(CASE WHEN o_totalprice BETWEEN 0 AND 1000000
                             THEN 0 ELSE 1 END) AS BIGINT) FROM orders)
FROM o
UNION ALL
SELECT 'orders.o_orderstatus in_set', o.n,
       (SELECT CAST(sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
                             THEN 0 ELSE 1 END) AS BIGINT) FROM orders)
FROM o
UNION ALL
SELECT 'orders.(o_orderkey) unique', o.n,
       o.n - (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders))
FROM o
UNION ALL
SELECT 'lineitem.l_quantity range[1.0,50.0]', l.n,
       (SELECT CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
                             THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem)
FROM l
UNION ALL
SELECT 'lineitem.l_discount range[0.0,1.0]', l.n,
       (SELECT CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1
                             THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem)
FROM l
UNION ALL
SELECT 'lineitem.(l_orderkey,l_linenumber) unique', l.n,
       l.n - (SELECT count(*) FROM
              (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
FROM l
UNION ALL
SELECT 'orders.o_custkey -> customer.c_custkey', o.n,
       (SELECT count(*) FROM orders a LEFT JOIN customer c
        ON c.c_custkey = a.o_custkey WHERE c.c_custkey IS NULL)
FROM o
UNION ALL
SELECT 'lineitem.l_orderkey -> orders.o_orderkey', l.n,
       (SELECT count(*) FROM lineitem a LEFT JOIN orders oo
        ON oo.o_orderkey = a.l_orderkey WHERE oo.o_orderkey IS NULL)
FROM l
)
""")
def x_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: key uniqueness, referential
    integrity, ranges, null budgets, set membership — declared as
    data and compiled so every row-local check on a table rides ONE
    aggregation over ONE scan (adding a check adds a conditional-sum
    column, not a pass); FKs are anti-joins. The published report is
    (check, n_rows, n_violations, passed), tiny at any scale."""
    from .quality import TableChecks, check_foreign_key, combine, \
        run_table_checks

    t = load_tables(spark, sf_dir, ["orders", "lineitem", "customer"])
    orders_checks = run_table_checks(TableChecks(
        df=t["orders"],
        not_null=["o_custkey"],
        ranges={"o_totalprice": (0.0, 1000000.0)},
        in_set={"o_orderstatus": ["F", "O", "P"]},
        unique=[["o_orderkey"]],
    ), "orders")
    lineitem_checks = run_table_checks(TableChecks(
        df=t["lineitem"],
        ranges={"l_quantity": (1.0, 50.0), "l_discount": (0.0, 1.0)},
        unique=[["l_orderkey", "l_linenumber"]],
    ), "lineitem")
    fks = combine(
        check_foreign_key(t["orders"], "o_custkey",
                          t["customer"], "c_custkey",
                          "orders.o_custkey -> customer.c_custkey"),
        check_foreign_key(t["lineitem"], "l_orderkey",
                          t["orders"], "o_orderkey",
                          "lineitem.l_orderkey -> orders.o_orderkey"))
    return combine(orders_checks, lineitem_checks, fks)


_R15_SQL = """
SELECT n.n_name AS n_name,
       count(*) AS n_orders,
       sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) * 1e0 / 100 AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
"""


@register("r15_sql_interface", _R15_SQL)
def r15_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw ANSI-SQL surface: THE ORACLE STRING ITSELF is executed
    by ``spark.sql`` over registered views — one query text, two
    engines, identical hashes. Everything else in this repo uses the
    DataFrame API for composability, but a reference user's ad-hoc
    SQL (dialect-neutral subset) runs verbatim, with Catalyst doing
    the same join selection/pushdown it does for DataFrames."""
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation"])
    for name, df in t.items():
        df.createOrReplaceTempView(name)
    return spark.sql(_R15_SQL)


@register("r16_grouping_sets", """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS gset,
       count(*) AS n_lines,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         * 1e0 / 100 AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
""")
def r16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP GROUPING SETS with HETEROGENEOUS sets — (flag, mode) cells,
    per-mode subtotals, and the grand total in ONE aggregation pass
    (rollup/cube are the special cases; this is the general form a
    reporting layer asks for). Spark expands the sets BEFORE the
    exchange, so partial aggregation still combines map-side and the
    shuffle carries one row per (set, group) — never one scan per
    level. grouping() markers disambiguate a genuine NULL group from a
    subtotal row, exactly as in the oracle."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (t["lineitem"]
            .groupingSets([["l_returnflag", "l_linestatus"],
                           ["l_linestatus"], []],
                          "l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 (F.sum(_cents(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))))
                  * F.lit(1.0) / 100).alias("revenue"),
                 (F.grouping("l_returnflag") * 2
                  + F.grouping("l_linestatus")).cast("long").alias("gset"))
            .select(F.coalesce(F.col("l_returnflag"), F.lit("ALL"))
                    .alias("returnflag"),
                    F.coalesce(F.col("l_linestatus"), F.lit("ALL"))
                    .alias("linestatus"),
                    "gset", "n_lines", "revenue"))


_PAGERANK_ITER = 3


def _pagerank_sql() -> str:
    """Unrolled exact-integer PageRank oracle: ranks in micro-units,
    floor division everywhere, so every intermediate is a BIGINT and
    sums are order-independent (doubles would hash-differ between
    engines)."""
    cte = ["""edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
)""", """deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)""",
           """r0 AS (SELECT n_nationkey AS node,
         CAST(1000000 AS BIGINT) AS rank FROM nation)"""]
    for i in range(_PAGERANK_ITER):
        cte.append(f"""c{i + 1} AS (
  SELECT e.dst, CAST(sum(r.rank // d.deg) AS BIGINT) AS contrib
  FROM edges e JOIN deg d ON d.src = e.src
  JOIN r{i} r ON r.node = e.src GROUP BY e.dst)""")
        cte.append(f"""r{i + 1} AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT)
           AS rank
  FROM r{i} n LEFT JOIN c{i + 1} c ON c.dst = n.node)""")
    last = f"r{_PAGERANK_ITER}"
    return ("WITH " + ",\n".join(cte)
            + f"\nSELECT node AS nationkey, rank AS rank_micro FROM {last}")


@register("x_pagerank_trade", _pagerank_sql())
def x_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the nation TRADE GRAPH (edge
    src→dst iff any customer in nation src bought from a supplier in
    nation dst) — the standard iterative-graph shape beyond
    dup-clusters' min-label propagation.

    Scale shape: the expensive part is DERIVING the edge set — one
    early-projected lineitem⋈orders shuffle, AQE-broadcast dims, then
    a distinct on (src, dst) that shrinks the fact table to ≤ |N|²
    rows. The 3 unrolled rank iterations then run on that bounded
    graph: contribs re-aggregate per dst, ranks rebuild per node —
    tiny joins a 100 TB corpus never inflates, because graph size is
    fixed by the nation vocabulary, not the fact volume. Determinism:
    ranks are exact BIGINT micro-units with floor division (Spark
    ``div`` ≡ DuckDB ``//`` on non-negatives), so cross-engine sums
    can't drift the way double addition does. Dangling-node mass is
    dropped (simplified PageRank), identically in both engines."""
    t = load_tables(spark, sf_dir,
                    ["lineitem", "orders", "customer", "supplier", "nation"])
    edges = (t["lineitem"].select("l_orderkey", "l_suppkey")
             .join(t["orders"].select("o_orderkey", "o_custkey"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .join(t["customer"].select("c_custkey", "c_nationkey"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .join(t["supplier"].select("s_suppkey", "s_nationkey"),
                   F.col("l_suppkey") == F.col("s_suppkey"))
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst"))
             .distinct())
    # The graph is BOUNDED METADATA (≤ |nations|² rows): land it
    # driver-side once — the repo's IVF-centroid pattern — and run the
    # 3 iterations as plain Python int arithmetic. Distributed
    # iteration over a 25-node graph would pay 2 joins + an Exchange
    # of scheduler latency PER ROUND for microseconds of math (the
    # distributed iterative shape lives in d_dup_clusters, where the
    # graph actually scales with the data). Python ``//`` on
    # non-negative ints ≡ Spark ``div`` ≡ DuckDB ``//``, so the
    # driver-side fold is bit-identical to the unrolled SQL oracle.
    edge_rows = [(int(r.src), int(r.dst)) for r in edges.collect()]
    nodes = [int(r.n_nationkey)
             for r in t["nation"].select("n_nationkey").collect()]
    deg: dict[int, int] = {}
    for src, _dst in edge_rows:
        deg[src] = deg.get(src, 0) + 1
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(_PAGERANK_ITER):
        contrib = {n: 0 for n in nodes}
        for src, dst in edge_rows:
            contrib[dst] = contrib.get(dst, 0) + rank[src] // deg[src]
        rank = {n: 150_000 + (85 * contrib.get(n, 0)) // 100
                for n in nodes}
    return local_df(spark,
        sorted(rank.items()), "nationkey long, rank_micro long")


@register("r17_moving_avg_revenue", """
WITH m AS (
  SELECT o_orderstatus AS status,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
           AS ym,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1, 2)
SELECT status, ym,
       rev_c * 1e0 / 100 AS revenue,
       CAST(sum(rev_c) OVER w AS BIGINT) * 1e0 / 100
         / (count(*) OVER w) AS moving_avg
FROM m
WINDOW w AS (PARTITION BY status ORDER BY ym
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
""")
def r17_moving_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered moving average of monthly revenue per order status —
    the classic OLAP trend window. ONE aggregation shuffle (per
    (status, month) partial sums combine map-side), then the window
    runs over the already-tiny monthly frame; the frame sum stays
    exact BIGINT cents so the two final double divisions are the only
    float ops and are order-identical in both engines."""
    t = load_tables(spark, sf_dir, ["orders"])
    m = (t["orders"]
         .groupBy(F.col("o_orderstatus").alias("status"),
                  (F.year("o_orderdate") * 100
                   + F.month("o_orderdate")).cast("long").alias("ym"))
         .agg(F.sum(_cents(F.col("o_totalprice"))).alias("rev_c")))
    w = (Window.partitionBy("status").orderBy("ym")
         .rowsBetween(-1, 1))
    return m.select(
        "status", "ym",
        (F.col("rev_c") * F.lit(1.0) / 100).alias("revenue"),
        (F.sum("rev_c").over(w).cast("long") * F.lit(1.0) / 100
         / F.count(F.lit(1)).over(w)).alias("moving_avg"))


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph shared by the x_triangle_count /
    x_bfs_reach / x_kcore_parts / x_sssp_parts family: (pa, pb, c)
    with pa < pb and c = co-order count >= 2, derived array-first
    (per-order sorted item arrays, in-array i<j expansion — never a
    lineitem self-join).

    The pinned-count repartition on the group key is the load-bearing
    line at scale: lineitem arrives as few large splits (single-file
    parquet; at 100 TB, whatever the scan gives), and without it the
    collect_list PARTIAL aggregate runs on those few input tasks —
    1.5M groups per task overflow the object-hash aggregate into
    sort-based fallback (measured 47s at gen-1.0 vs ~4s after; the
    10x scale instrument caught it, BENCH_SF1). groupBy then reuses
    the exchange (subset-key clustering), so total shuffle count is
    unchanged — the partial agg just runs wide instead of narrow."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts_per_order = (
        li.select("l_orderkey", "l_partkey")
        .repartition(n_shuffle, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.array_distinct(F.collect_list("l_partkey")))
             .alias("ps"))
        .filter(F.size("ps") >= 2))
    combos = F.flatten(F.transform(
        F.col("ps"),
        lambda x, i: F.transform(
            F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
            lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
    return (parts_per_order.select(F.explode(combos).alias("p"))
            .groupBy("p.pa", "p.pb").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= 2))


@register("x_triangle_count", """
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, a.l_orderkey AS ok
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e AS (
  SELECT pa, pb FROM (
    SELECT pa, pb, count(DISTINCT ok) AS c FROM pairs GROUP BY pa, pb
  ) WHERE c >= 2
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e
  ) GROUP BY v
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT count(*)
             FROM e e1 JOIN e e2 ON e1.pb = e2.pa
             JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS BIGINT)
         AS n_triangles
""")
def x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the part CO-PURCHASE graph
    (edge iff two parts share >= 2 orders) — the degree-orientation
    algorithm (Suri & Vassilvitskii 2011's MR-friendly shape; what
    GraphFrames/Spark's triangleCount implements).

    Edge derivation is array-first: one groupBy(order) collects the
    bounded item set (<= 7 parts/order), in-array i<j expansion emits
    co-purchase pairs pre-ordered — no lineitem self-join, and the
    support count is a plain count(*) because per-order pairs are
    already distinct. The triangle phase orients every edge from the
    (degree, id)-smaller endpoint to the larger, which caps any
    node's out-degree at O(sqrt(m)) — wedge generation (out-edges
    self-joined on their source) is therefore bounded even for hub
    nodes, the classic skew-proofing that makes triangle counting
    feasible at 100 TB; a closing join on (v, w) verifies each wedge.
    Each triangle is counted exactly once (its (deg,id)-minimal
    vertex owns it). The oracle is the direct triple self-join over
    the same edge set.

    The eager localCheckpoints are the x_bfs_reach/x_kcore_parts
    lineage-cut discipline (optimization r14): the plan references
    ``e`` three times, ``deg`` twice and ``out`` three times, and
    column pruning gives each reference a DIFFERENT canonical subtree
    — ReuseExchange never fires, so the uncut plan re-derived the
    whole lineitem scan + co-purchase aggregation SEVENTEEN times per
    action (17 distinct parquet scans / 43 Exchanges in
    plans/r14/x_triangle_count_before.txt; 3 scans / 10 Exchanges
    after). Edge/degree/oriented-edge frames are support-filtered
    graph tables — bounded far below the fact table — so the
    materialization is the standard iterative-graph trade (guide
    §2.4: remove repeated shuffles outright)."""
    e = (_copurchase_edges(spark, sf_dir).select("pa", "pb")
         .localCheckpoint(eager=True))
    deg = (e.select(F.explode(F.array("pa", "pb")).alias("v"))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
           .localCheckpoint(eager=True))
    ed = (e.join(deg.select(F.col("v").alias("pa"), F.col("d").alias("da")), "pa")
          .join(deg.select(F.col("v").alias("pb"), F.col("d").alias("db")), "pb"))
    fwd = F.struct(F.col("da").alias("d"), F.col("pa").alias("n")) \
        < F.struct(F.col("db").alias("d"), F.col("pb").alias("n"))
    out = ed.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("ddst")) \
        .localCheckpoint(eager=True)
    x, y = out.alias("x"), out.alias("y")
    wedges = (x.join(y, (F.col("x.src") == F.col("y.src"))
                     & (F.struct(F.col("x.ddst").alias("d"),
                                 F.col("x.dst").alias("n"))
                        < F.struct(F.col("y.ddst").alias("d"),
                                   F.col("y.dst").alias("n"))))
              .select(F.col("x.dst").alias("src"), F.col("y.dst").alias("dst")))
    tri = wedges.join(out.select("src", "dst"), ["src", "dst"]) \
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    nn_ne = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"))
    return nn_ne.crossJoin(F.broadcast(tri)) \
        .select("n_nodes", "n_edges", "n_triangles")


@register("r18_pareto_frontier", """
SELECT a.p_partkey AS p_partkey, a.p_retailprice AS price, 
       CAST(a.p_size AS BIGINT) AS psize
FROM part a WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
""")
def r18_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier: minimize price, maximize size)
    over the part master — Börzsönyi et al. 2001's skyline operator.

    The oracle is the textbook O(n²) NOT-EXISTS dominance test; the
    Spark plan is the sort-scan O(n log n) shape that survives scale:
    one groupBy(price) keeps each price's best size (same-price
    smaller rows are dominated by the strict-size rule), one window
    cummax over the price ordering keeps a price only when its best
    size STRICTLY beats every cheaper price's best (<= means some
    cheaper part matches the size and dominates), then a join back
    picks the surviving (price, size) rows — ties on both axes are
    mutually non-dominating and all kept. The window runs over the
    price-distinct frame (bounded by price NDV, not rows); at 100 TB
    the same statistic distributes as a range-partitioned prefix
    max."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    per_price = (part.groupBy(F.col("p_retailprice").alias("price"))
                 .agg(F.max("p_size").alias("best_size")))
    w = (Window.orderBy("price")
         .rowsBetween(Window.unboundedPreceding, -1))
    frontier = (per_price
                .withColumn("prior_best", F.max("best_size").over(w))
                .filter(F.col("prior_best").isNull()
                        | (F.col("best_size") > F.col("prior_best")))
                .select("price", "best_size"))
    return (part.join(frontier,
                      (F.col("p_retailprice") == F.col("price"))
                      & (F.col("p_size") == F.col("best_size")))
            .select("p_partkey", "price",
                    F.col("p_size").cast("long").alias("psize")))


_BFS_DEPTH = 3

@register("x_bfs_reach", """
WITH RECURSIVE pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, a.l_orderkey AS ok
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e AS (
  SELECT pa, pb FROM (
    SELECT pa, pb, count(DISTINCT ok) AS c FROM pairs GROUP BY pa, pb
  ) WHERE c >= 2
),
edges AS (
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL SELECT pb, pa FROM e
),
seeds AS (SELECT p_partkey AS v FROM part WHERE p_size = 50),
reach(v, d) AS (
  SELECT v, 0 FROM seeds
  UNION
  SELECT g.dst, r.d + 1
  FROM reach r JOIN edges g ON g.src = r.v
  WHERE r.d < 3
)
SELECT v AS p_partkey, CAST(min(d) AS BIGINT) AS hops
FROM reach GROUP BY v
""")
def x_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (min-hop distances, depth <= 3) over the part
    CO-PURCHASE graph — the distributed frontier-expansion / Pregel
    superstep shape (Malewicz et al. 2010), over a graph that SCALES
    WITH THE DATA (unlike x_pagerank_trade's bounded nation graph,
    which is correctly folded driver-side). Seeds are the size-50
    parts; the answer is every part reachable within 3 hops with its
    exact hop count.

    The oracle is a genuine DuckDB ``WITH RECURSIVE`` CTE — UNION
    (not UNION ALL) dedupes (v, d) states so the recursion terminates
    at the depth bound, and min(d) collapses states to the BFS
    distance. The Spark side is the textbook BSP loop: per superstep,
    the frontier joins the edge list (co-partitioned on src — ONE
    hash exchange per step), newly-seen vertices are anti-joined
    against the visited set, and the new frontier is
    localCheckpoint(eager)-ed — materializing each superstep is what
    keeps the lineage LINEAR in depth (lazy chaining would re-derive
    every prior frontier per step, the classic iterative-DataFrame
    blowup; GraphFrames' Pregel checkpoints for exactly this reason).
    Edges: ``functions/graph.undirected``; the loop is not
    ``graph.iterate``'s, as a superstep joins only the live frontier.
    At 100 TB the same loop holds: frontier and visited are vertex-
    sized (bounded by |V|, not |E| or fact rows), the per-step join
    shuffles only the live frontier, and hub skew is capped by the
    support>=2 edge filter upstream (AQE skew-split covers the rest).
    Edge derivation is the array-first shape shared with
    x_triangle_count: per-order sorted item arrays, in-array i<j
    expansion — no lineitem self-join (the oracle's self-join form is
    the O(n^2)-per-order semantics it verifies against)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    e = _copurchase_edges(spark, sf_dir).select("pa", "pb")
    edges = graph.undirected(e, "pa", "pb").localCheckpoint(eager=True)
    frontier = (part.filter(F.col("p_size") == 50)
                .select(F.col("p_partkey").alias("v"))
                .localCheckpoint(eager=True))
    reached = frontier.select("v", F.lit(0).alias("d"))
    for depth in range(1, _BFS_DEPTH + 1):
        nxt = (frontier.join(edges, frontier["v"] == edges["src"])
               .select(F.col("dst").alias("v")).distinct()
               .join(reached.select("v"), "v", "left_anti")
               .localCheckpoint(eager=True))
        reached = reached.unionByName(
            nxt.select("v", F.lit(depth).alias("d")))
        frontier = nxt
    return reached.groupBy("v").agg(F.min("d").cast("long").alias("hops")) \
        .select(F.col("v").alias("p_partkey"), "hops")


@register("x_spatial_radius_join", """
WITH pts AS (
  SELECT c_custkey AS id,
         (c_custkey * 37) % 10000 AS x,
         (c_custkey * 91) % 10000 AS y
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
FROM pts a JOIN pts b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= 120 * 120
""")
def x_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs-within-radius spatial self-join (the Sedona/PostGIS
    ST_DWithin distance-join shape, reference analogue: the tile
    bbox-intersect plane, controller.py:518-538) over a deterministic
    point cloud derived from the customer key. The oracle is the
    brute-force O(n²) theta join; the Spark side is the fixed-grid
    binning plan (functions/spatial.radius_self_join): cell side ==
    radius, one side replicated to its 3x3 neighborhood, a two-key
    EQUI-join on the cell, then the exact integer distance verify —
    the pair space is local density x 9, never n². Every distance is
    integer arithmetic, so the hash match is engine-exact."""
    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    from .functions.spatial import radius_self_join
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37) % 10000).alias("x"),
        ((F.col("c_custkey") * 91) % 10000).alias("y"))
    return radius_self_join(pts, radius=120)


# price bands for r19 — deliberately NON-uniform so the join is a real
# interval containment, not a divisible binning
_R19_BANDS = [(0, 500, "budget"), (500, 1100, "mid"),
              (1100, 1400, "upper"), (1400, 1700, "premium"),
              (1700, 100000, "luxury")]


@register("r19_band_join", """
WITH bands(lo, hi, band) AS (
  VALUES (0, 500, 'budget'), (500, 1100, 'mid'),
         (1100, 1400, 'upper'), (1400, 1700, 'premium'),
         (1700, 100000, 'luxury')
)
SELECT b.band,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM part p JOIN bands b
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band
""")
def r19_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding (interval-dimension) join — the data-warehouse shape a
    dimension of NON-uniform value ranges forces (price tiers, risk
    bands, IP ranges). Spark has no native interval join; the correct
    plan at any scale is a BroadcastNestedLoopJoin against the
    range dimension: the dim is bounded metadata (here 5 rows), every
    fact row tests its containment predicate broadcast-side with NO
    shuffle of the fact table at all — at 100 TB the fact scan
    streams through map-side, and the aggregate is the only exchange.
    (A uniform-width band dim should instead derive an equi bin key —
    that variant is the `e_interval_join` family; this one keeps the
    general non-uniform contract.) Bands are half-open [lo, hi) so
    boundary prices land uniquely; cents are exact integers."""
    from .functions.numeric import round_half_up_long
    part = load_tables(spark, sf_dir, ["part"])["part"]
    bands = local_df(spark, _R19_BANDS, "lo int, hi int, band string")
    cond = ((F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi")))
    return (part.join(F.broadcast(bands), cond)
            .groupBy("band")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum(round_half_up_long(F.col("p_retailprice"), 100))
                 .cast("long").alias("sum_price_cents")))


# Exact integer point-in-polygon (even-odd ray casting) ----------------------

_PIP_K, _PIP_NV = 6, 7


def _pip_edges() -> list[tuple[int, int, int, int, int]]:
    """Deterministic irregular test polygons (shared arithmetic with
    the oracle SQL): vertex i of polygon k at
    ((k*37 + i*53 + i*i*11) % 197, (k*61 + i*29 + i*i*17) % 193)."""
    out = []
    for k in range(_PIP_K):
        vs = [((k * 37 + i * 53 + i * i * 11) % 197,
               (k * 61 + i * 29 + i * i * 17) % 193)
              for i in range(_PIP_NV)]
        for i in range(_PIP_NV):
            x1, y1 = vs[i]
            x2, y2 = vs[(i + 1) % _PIP_NV]
            out.append((k, x1, y1, x2, y2))
    return out


def points_in_polygons(pts: DataFrame, edges: DataFrame,
                       id_col: str) -> DataFrame:
    """(id_col, k) pairs where point (px, py) lies inside polygon k by
    the even-odd rule; ``edges`` holds (k, x1, y1, x2, y2) rows. Pure
    integer cross-multiplied crossing test; edges broadcast."""
    lhs = (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1"))
    rhs = (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    crossing = (((F.col("y1") <= F.col("py")) != (F.col("y2") <= F.col("py")))
                & (F.when(F.col("y2") > F.col("y1"), lhs > rhs)
                   .otherwise(lhs < rhs)))
    return (pts.crossJoin(F.broadcast(edges))
            .filter(crossing)
            .groupBy(id_col, "k")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") % 2 == 1))


@register("x_point_in_polygon", f"""
WITH verts AS (
  SELECT k, i,
         (k * 37 + i * 53 + i * i * 11) % 197 AS vx,
         (k * 61 + i * 29 + i * i * 17) % 193 AS vy
  FROM range(0, {_PIP_K}) t(k), range(0, {_PIP_NV}) u(i)
),
edges AS (
  SELECT a.k AS k, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
  FROM verts a JOIN verts b ON a.k = b.k AND b.i = (a.i + 1) % {_PIP_NV}
),
pts AS (
  SELECT c_custkey, (c_custkey * 7 + 13) % 197 AS px,
         (c_custkey * 11 + 5) % 193 AS py
  FROM customer
),
cr AS (
  SELECT p.c_custkey AS c_custkey, e.k AS k
  FROM pts p, edges e
  WHERE (e.y1 <= p.py) <> (e.y2 <= p.py)
    AND (CASE WHEN e.y2 > e.y1
              THEN (e.x2 - e.x1) * (p.py - e.y1) > (p.px - e.x1) * (e.y2 - e.y1)
              ELSE (e.x2 - e.x1) * (p.py - e.y1) < (p.px - e.x1) * (e.y2 - e.y1)
         END)
),
par AS (
  SELECT c_custkey, k
  FROM (SELECT c_custkey, k, count(*) AS c FROM cr GROUP BY c_custkey, k)
  WHERE c % 2 = 1
)
SELECT k AS polygon_id, CAST(count(*) AS BIGINT) AS n_inside,
       CAST(sum(c_custkey) AS BIGINT) AS sum_custkey
FROM par GROUP BY k
""")
def x_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment (even-odd ray casting) for
    ARBITRARY polygons — the general ST_Contains the reference gets
    from PostGIS for tile/footprint intersection
    (controller.py:518-538 uses ST_Intersects; r9 covers the
    axis-aligned fast path, c19 the hull construction; this closes
    the irregular-geometry predicate).

    Exactness: the crossing test is pure integer arithmetic — the
    ray-edge intersection comparison is cross-multiplied, never
    divided — so both engines count identical crossings, including
    deterministic (if arbitrary) results for boundary points.

    Scale shape: the polygon EDGE LIST is bounded metadata (42 rows,
    broadcast); each point evaluates all crossings map-side under a
    BroadcastNestedLoopJoin — the fact table is never shuffled; the
    only exchanges are the per-(point, polygon) parity aggregate and
    the tiny final rollup. A real geo layer swaps the edge literal
    for an R-tree-bucketed edge table; the predicate is unchanged."""
    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 7 + 13) % 197).alias("px"),
        ((F.col("c_custkey") * 11 + 5) % 193).alias("py"))
    edges = local_df(spark,
        _pip_edges(), "k int, x1 int, y1 int, x2 int, y2 int")
    return (points_in_polygons(pts, edges, id_col="c_custkey")
            .groupBy(F.col("k").alias("polygon_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_inside"),
                 F.sum("c_custkey").cast("long").alias("sum_custkey")))


@register("r20_cube_aggregate", """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
         AS gset,
       count(*) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 1e0 / 100
         AS total_value
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def r20_cube_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP GROUP BY CUBE — every subset of (status, priority) in ONE
    aggregation pass: cells, both one-dimension margins, and the
    grand total. Completes the grouping-construct surface next to
    ROLLUP (r12) and heterogeneous GROUPING SETS (r16). Spark expands
    the 4 sets before the exchange (map-side partial agg preserved,
    one shuffled row per (set, group)); grouping() markers
    disambiguate genuine NULL groups from margin rows, exactly as in
    the oracle."""
    from .functions.numeric import round_half_up_long
    t = load_tables(spark, sf_dir, ["orders"])
    return (t["orders"]
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 (F.sum(round_half_up_long(F.col("o_totalprice"), 100))
                  * F.lit(1.0) / 100).alias("total_value"),
                 (F.grouping("o_orderstatus") * 2
                  + F.grouping("o_orderpriority")).cast("long").alias("gset"))
            .select(F.coalesce(F.col("o_orderstatus"), F.lit("ALL"))
                    .alias("orderstatus"),
                    F.coalesce(F.col("o_orderpriority"), F.lit("ALL"))
                    .alias("orderpriority"),
                    "gset", "n_orders", "total_value"))


_R21_SQL = """
WITH RECURSIVE nodes AS (
  SELECT c_custkey AS k,
         CAST((c_custkey - c_custkey % 10) / 10 AS BIGINT) AS parent,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
tree AS (
  SELECT k, bal_cents, CAST(0 AS BIGINT) AS depth
  FROM nodes WHERE k < 10
  UNION ALL
  SELECT n.k, n.bal_cents, t.depth + 1
  FROM nodes n JOIN tree t ON n.parent = t.k
  WHERE n.k >= 10
)
SELECT depth, count(*) AS n_nodes,
       CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents,
       CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
FROM tree GROUP BY depth ORDER BY depth
"""


@register("r21_recursive_hierarchy", _R21_SQL)
def r21_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard ``WITH RECURSIVE`` hierarchy traversal (Spark
    4.x's recursive-CTE support, SPARK-24497) — THE ORACLE STRING
    ITSELF runs verbatim through ``spark.sql`` (the r15 pattern: one
    query text, two engines, identical hashes).

    The hierarchy is a derived 10-ary tree over customer (parent(k) =
    k DIV 10; keys are contiguous so every parent exists): the anchor
    seeds the single-digit roots, the recursive step joins children to
    the frontier, and the final aggregate rolls up per-depth node
    counts, exact-cents balance sums, and key ranges. Recursion depth
    is log10(|customer|) — each iteration is a JOIN of the full node
    table against the previous frontier, i.e. the same bounded-round
    iterative shape as LPA/flow-accumulation, but expressed in pure
    SQL and planned by Catalyst's UnionLoop.

    Exactness: (k - k % 10) / 10 is an exact integer before the
    division in BOTH engines' double arithmetic, so the truncating
    (Spark) vs rounding (DuckDB) CAST difference never bites; the
    balance rollup is integer cents."""
    load_tables(spark, sf_dir, ["customer"])
    return spark.sql(_R21_SQL)


def _kcore_sql(k: int, rounds: int) -> str:
    """Unroll the synchronous k-core peel into CTE stages (the LPA /
    c36 oracle pattern: both engines replay the identical automaton).

    Every stage is ``AS MATERIALIZED``: e{r+1} references e{r} three
    times (directly plus twice through n{r+1}), so DuckDB's default
    CTE INLINING would expand e{rounds} into 3^rounds copies of the
    lineitem self-join — materialization keeps the oracle linear in
    rounds. (DuckDB-only syntax is fine here: this oracle never runs
    through spark.sql.)"""
    parts = [f"""
WITH pairs AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, a.l_orderkey AS ok
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e0 AS MATERIALIZED (
  SELECT pa, pb FROM (
    SELECT pa, pb, count(DISTINCT ok) AS c FROM pairs GROUP BY pa, pb
  ) WHERE c >= 2
)"""]
    for r in range(rounds + 1):
        parts.append(f""",
d{r} AS MATERIALIZED (
  SELECT v, count(*) AS d FROM (
    SELECT pa AS v FROM e{r} UNION ALL SELECT pb AS v FROM e{r}
  ) GROUP BY v
)""")
        if r < rounds:
            parts.append(f""",
n{r + 1} AS MATERIALIZED (SELECT v FROM d{r} WHERE d >= {k}),
e{r + 1} AS MATERIALIZED (
  SELECT e{r}.pa, e{r}.pb FROM e{r}
  JOIN n{r + 1} a ON e{r}.pa = a.v JOIN n{r + 1} b ON e{r}.pb = b.v
)""")
    stats = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" CAST((SELECT count(*) FROM d{r}) AS BIGINT) AS n_nodes,"
        f" CAST((SELECT count(*) FROM e{r}) AS BIGINT) AS n_edges,"
        f" CAST((SELECT coalesce(max(d), 0) FROM d{r}) AS BIGINT)"
        f" AS max_deg"
        for r in range(rounds + 1))
    parts.append("\n" + stats + "\nORDER BY round")
    return "".join(parts)


_KCORE_K = 3
_KCORE_ROUNDS = 4


@register("x_kcore_parts", _kcore_sql(_KCORE_K, _KCORE_ROUNDS))
def x_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983; the distributed synchronous
    peel — Batagelj & Zaveršnik's algorithm as BSP rounds, what
    GraphX/Gelly implement) over the part CO-PURCHASE graph
    (x_triangle_count's edge set: two parts sharing >= 2 orders).

    Each round computes live-edge degrees and removes EVERY node of
    degree < k simultaneously (synchronous, so both engines replay the
    identical automaton whether or not the peel has converged — the
    LPA fixed-round discipline); an edge survives while both endpoints
    do. Output: per-round (n_nodes, n_edges, max_deg) for rounds
    0..{rounds} — the trajectory, not just the fixed point, so a
    one-round drift in either engine hash-mismatches. At sf0.01 the
    k=3 peel cascades 1892 -> 1295 -> 1154 -> 1104 -> 1078 live nodes.

    Scale shape: the edge set derives array-first (bounded <= 7
    parts/order in-array expansion, no lineitem self-join); each round
    is one map-side-combinable degree aggregate plus two keyed
    semi-joins, with an eager localCheckpoint per round cutting the
    lineage (the LPA pattern). Rounds are a FIXED constant — at 100 TB
    the peel runs log-depth rounds of output-shrinking joins, never a
    per-node sequential loop. Per-round scalars come from 1-row
    aggregates (bounded collect, house rule). The degree stream is
    explode-symmetrized (one pass over e, not a two-select union) and
    n_edges folds out of the SAME aggregate via the handshake lemma
    (sum(d) = 2|E|, exact in integers — x_triangle_count's identity),
    so each round's stats cost ONE scan of the checkpointed edge set
    instead of three (two union branches + the crossJoined count).
    EXACT convergence early-exit (the d_dup_clusters discipline):
    e_{r+1} is a filter of e_r, so equal edge counts prove set
    equality — the automaton is at its fixpoint and every remaining
    fixed round is the identity; the loop emits the repeated stats
    without running the dead jobs. Hash-identical to the full unroll
    (the DuckDB oracle IS the no-early-exit replay)."""
    e = (_copurchase_edges(spark, sf_dir).select("pa", "pb")
         .localCheckpoint(eager=True))
    rows = []
    prev_m = None
    for r in range(_KCORE_ROUNDS + 1):
        deg = (e.select(F.explode(F.array("pa", "pb")).alias("v"))
               .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
        stat = (deg.agg(F.count(F.lit(1)).alias("n"),
                        F.coalesce(F.max("d"), F.lit(0)).alias("mx"),
                        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
                        .cast("long").alias("m"))
                .collect()[0])
        rows.append((r, stat["n"], stat["m"], stat["mx"]))
        if stat["m"] == 0 or stat["m"] == prev_m:
            # empty graph, or e_r == e_{r-1} (subset + equal count):
            # every later round replays this one's stats exactly
            rows.extend((rr, stat["n"], stat["m"], stat["mx"])
                        for rr in range(r + 1, _KCORE_ROUNDS + 1))
            break
        prev_m = stat["m"]
        if r < _KCORE_ROUNDS:
            # alive is NOT checkpointed: it re-derives from the
            # checkpointed e (one cheap aggregate, evaluated twice by
            # the two semi-joins) — an eager pin here measured SLOWER
            # (2.35 vs 2.13s min-of-3 interleaved, sf0.1) and leaks
            # one more persisted RDD per round
            alive = deg.filter(F.col("d") >= _KCORE_K).select("v")
            e = (e.join(alive.select(F.col("v").alias("pa")), "pa")
                 .join(alive.select(F.col("v").alias("pb")), "pb")
                 .localCheckpoint(eager=True))
    return local_df(spark,
        rows, "round long, n_nodes long, n_edges long, max_deg long")


def _sssp_sql(rounds: int) -> str:
    """Unrolled fixed-round Bellman-Ford oracle (MATERIALIZED stages —
    d{r+1} references d{r} twice, so inlining would go exponential;
    the kcore/_mmr oracle discipline)."""
    parts = ["""
WITH pairs AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, a.l_orderkey AS ok
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e AS MATERIALIZED (
  SELECT pa, pb, CAST(10 - least(c, 5) AS BIGINT) AS w FROM (
    SELECT pa, pb, count(DISTINCT ok) AS c FROM pairs GROUP BY pa, pb
  ) WHERE c >= 2
),
edges AS MATERIALIZED (
  SELECT pa AS src, pb AS dst, w FROM e
  UNION ALL SELECT pb, pa, w FROM e
),
d0 AS MATERIALIZED (
  SELECT p_partkey AS v, CAST(0 AS BIGINT) AS d
  FROM part WHERE p_size = 50
)"""]
    for r in range(rounds):
        parts.append(f""",
d{r + 1} AS MATERIALIZED (
  SELECT v, min(d) AS d FROM (
    SELECT v, d FROM d{r}
    UNION ALL
    SELECT g.dst AS v, x.d + g.w AS d
    FROM d{r} x JOIN edges g ON g.src = x.v
  ) GROUP BY v
)""")
    parts.append(f"""
SELECT v AS p_partkey, CAST(d AS BIGINT) AS dist FROM d{rounds}""")
    return "".join(parts)


_SSSP_ROUNDS = 4


@register("x_sssp_parts", _sssp_sql(_SSSP_ROUNDS))
def x_sssp_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source-set shortest paths — fixed-round
    Bellman-Ford relaxation (the Pregel/GraphX SSSP shape) over the
    part co-purchase graph, completing the graph family beside
    PageRank / BFS / triangles / CC / LPA / k-core with its WEIGHTED
    member: edge weight 10 - min(support, 5) (stronger co-purchase =
    cheaper hop, exact integers), seeds = the size-50 parts at
    distance 0.

    Exactly 4 synchronous relaxation rounds (the LPA fixed-round
    discipline: both engines replay the identical automaton whether
    or not it has converged), so the result is by definition the
    cheapest path using at most 4 edges. Each round is one keyed
    frontier-edge join + a map-side-combinable min — the same
    one-exchange-per-superstep shape as x_bfs_reach; the round loop
    and its lineage cuts are ``functions/graph.iterate``'s. The
    oracle unrolls the rounds as MATERIALIZED stages (d_{r+1}
    references d_r twice — inlining would re-derive the edge set
    exponentially)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    e = _copurchase_edges(spark, sf_dir).select(
        "pa", "pb",
        (F.lit(10) - F.least(F.col("c"), F.lit(5))).cast("long").alias("w"))
    edges = graph.undirected(e, "pa", "pb", "w").localCheckpoint(eager=True)
    seeds = (part.filter(F.col("p_size") == 50)
             .select(F.col("p_partkey").alias("v"),
                     F.lit(0).cast("long").alias("d")))

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = (dist.join(edges, dist["v"] == edges["src"])
                   .select(F.col("dst").alias("v"),
                           (F.col("d") + F.col("w")).alias("d")))
        return (dist.unionByName(relaxed)
                .groupBy("v").agg(F.min("d").alias("d")))

    dist, _ = graph.iterate(seeds, relax, _SSSP_ROUNDS)
    return dist.select(F.col("v").alias("p_partkey"),
                       F.col("d").cast("long").alias("dist"))


@register("r22_market_basket", """
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM items),
pc AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY p),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS co
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
),
scored AS (
  SELECT pr.pa, pr.pb, pr.co, ca.c AS c_a, cb.c AS c_b,
         pr.co * 1e0 / (ca.c + cb.c - pr.co) AS jaccard,
         CAST(1000000 * pr.co * n.n_orders // (ca.c * cb.c) AS BIGINT)
           AS lift_micro
  FROM pairs pr
  JOIN pc ca ON ca.p = pr.pa
  JOIN pc cb ON cb.p = pr.pb
  CROSS JOIN n
  WHERE pr.co >= 2
)
SELECT pa, pb, co, c_a, c_b, jaccard, lift_micro
FROM scored ORDER BY lift_micro DESC, pa, pb LIMIT 25
""")
def r22_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining — "frequently bought
    together" (Agrawal & Srikant 1994's support/confidence/lift
    frame): part pairs co-ordered in at least 2 orders (the
    min-support knob — production catalogs with real co-purchase
    structure raise it; the synthetic corpus' baskets are near-
    uniform over a 2M-pair space, so higher support would grade an
    empty frame), scored by
    Jaccard overlap and by LIFT = P(a,b)/(P(a)P(b)), ranked by the
    exact-integer lift key 1e6·co·N DIV (c_a·c_b) (monotone in lift —
    the t_cooccurrence_pmi discipline applied to the relational
    basket plane; PMI is log-lift). Jaccard ships as the single IEEE
    division co/(c_a+c_b−co), identical op shape in both engines.

    Scale shape: baskets are order-bounded (≤13 items here, retail
    carts in general), so the pair expansion is the in-array i<j
    shape — one groupBy(order) with a sorted collect_set, at most
    C(13,2) rows out per order, never a self-join shuffle of the
    fact table; the pair aggregate is map-side combinable with a
    min-support filter BEFORE the count joins; the top-25 is
    TakeOrderedAndProject. int64 headroom: 1e6·co·N ≤ 2e16 at sf0.1;
    at larger corpora drop the 1e6 scale or compare cross-multiplied
    fractions."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    # r14 note: items feeds THREE subtrees (n_orders, pc, grouped), so
    # an eager localCheckpoint cut was tried (the x_triangle
    # discipline). Measured SLOWER at sf0.1 (min-of-5 2.12 -> 2.46s):
    # each consumer prunes items to 1-2 columns, so three pruned
    # parquet rescans + map-side distinct are cheaper than
    # materializing the full distinct plane once. Kept the re-derive.
    items = li.select(F.col("l_orderkey").alias("o"),
                      F.col("l_partkey").alias("p")).distinct()
    n_orders = items.agg(F.countDistinct("o").cast("long")
                         .alias("n_orders"))
    pc = items.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("c"))
    grouped = items.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps"))
    combos = F.flatten(F.transform(
        F.col("ps"),
        lambda x, i: F.transform(
            F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
            lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
    pairs = (grouped.select(F.explode(combos).alias("pr"))
             .groupBy(F.col("pr.pa").alias("pa"),
                      F.col("pr.pb").alias("pb"))
             .agg(F.count(F.lit(1)).cast("long").alias("co"))
             .filter(F.col("co") >= 2))
    ca = pc.select(F.col("p").alias("pa"), F.col("c").alias("c_a"))
    cb = pc.select(F.col("p").alias("pb"), F.col("c").alias("c_b"))
    scored = (pairs.join(ca, "pa").join(cb, "pb")
              .crossJoin(F.broadcast(n_orders))
              .select("pa", "pb", "co", "c_a", "c_b",
                      (F.col("co") * 1e0
                       / (F.col("c_a") + F.col("c_b") - F.col("co")))
                      .alias("jaccard"),
                      F.expr("CAST(1000000 * co * n_orders DIV "
                             "(c_a * c_b) AS BIGINT)")
                      .alias("lift_micro")))
    return scored.orderBy(F.desc("lift_micro"), "pa", "pb").limit(25)


@register("r23_skyline_pareto", """
WITH days AS (
  SELECT CAST(o_orderdate AS DATE) AS o_day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
percents AS (
  SELECT o_day, cents, CAST(count(*) AS BIGINT) AS n
  FROM days GROUP BY o_day, cents
),
dmin AS (
  SELECT o_day, min(cents) AS best_price_cents,
         CAST(min(cents * 100000 + n) % 100000 AS BIGINT) AS n_at_best
  FROM (SELECT o_day, cents, n FROM percents) GROUP BY o_day
),
f AS (
  SELECT o_day, best_price_cents, n_at_best,
         min(best_price_cents) OVER (
           ORDER BY o_day DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS later_min
  FROM dmin
)
SELECT o_day, CAST(best_price_cents AS BIGINT) AS best_price_cents,
       n_at_best
FROM f WHERE later_min IS NULL OR best_price_cents < later_min
""")
def r23_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto-frontier) query — Borzsony/Kossmann/Stocker
    2001's SKYLINE OF operator: the orders not dominated on the
    (recency, price) plane, where a later order date and a lower
    price are both better. A day is on the frontier iff its cheapest
    order is strictly cheaper than every LATER day's cheapest —
    dominance reduced to one running min over the day-level frame.
    Output: frontier day, its best price (exact cents), and how many
    orders hit that price that day.

    Scale shape: the raw scan reduces per (day, price-cents) with a
    map-side-combinable count, then per day with a packed-min
    (cents*1e5 + n — n < 1e5 bounds the pack; min over the pack IS
    (min cents, its count) because cents dominates the key), so the
    only window runs over the CALENDAR-BOUNDED day frame (~2,400
    rows for 7 years — metadata scale, the e_peak_concurrency
    discipline), never over order rows. The quadratic NOT-EXISTS
    skyline definition is what the oracle's window formulation
    replaces in both engines identically."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    days = orders.select(
        F.col("o_orderdate").cast("date").alias("o_day"),
        _cents(F.col("o_totalprice")).alias("cents"))
    percents = (days.groupBy("o_day", "cents")
                .agg(F.count(F.lit(1)).cast("long").alias("n")))
    dmin = (percents.groupBy("o_day")
            .agg(F.min("cents").alias("best_price_cents"),
                 (F.min(F.col("cents") * 100000 + F.col("n"))
                  % 100000).cast("long").alias("n_at_best")))
    w = (Window.orderBy(F.col("o_day").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    return (dmin
            .withColumn("later_min",
                        F.min("best_price_cents").over(w))
            .filter(F.col("later_min").isNull()
                    | (F.col("best_price_cents") < F.col("later_min")))
            .select("o_day",
                    F.col("best_price_cents").cast("long")
                    .alias("best_price_cents"),
                    "n_at_best"))


_HITS_ITER = 3


def _hits_sql() -> str:
    """Unrolled exact-integer HITS oracle (unnormalized — see
    x_hits_rank): a_i(v) = sum of h_{i-1} over in-edges, h_i(u) =
    sum of a_i over out-edges, all BIGINT."""
    cte = ["""edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
)""", """h0 AS (SELECT n_nationkey AS node, CAST(1 AS BIGINT) AS h
       FROM nation)"""]
    for i in range(1, _HITS_ITER + 1):
        cte.append(f"""a{i} AS (
  SELECT n.n_nationkey AS node,
         CAST(coalesce(sum(h.h), 0) AS BIGINT) AS a
  FROM nation n
  LEFT JOIN edges e ON e.dst = n.n_nationkey
  LEFT JOIN h{i - 1} h ON h.node = e.src
  GROUP BY n.n_nationkey)""")
        cte.append(f"""h{i} AS (
  SELECT n.n_nationkey AS node,
         CAST(coalesce(sum(a.a), 0) AS BIGINT) AS h
  FROM nation n
  LEFT JOIN edges e ON e.src = n.n_nationkey
  LEFT JOIN a{i} a ON a.node = e.dst
  GROUP BY n.n_nationkey)""")
    k = _HITS_ITER
    return ("WITH " + ",\n".join(cte) + f"""
SELECT h{k}.node AS nationkey, h{k}.h AS hub, a{k}.a AS authority
FROM h{k} JOIN a{k} ON a{k}.node = h{k}.node""")


@register("x_hits_rank", _hits_sql())
def x_hits_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the nation
    trade graph — the mutually-recursive sibling of x_pagerank_trade:
    a nation is a strong AUTHORITY when many strong hubs buy from it,
    a strong HUB when it buys from strong authorities. Three
    UNNORMALIZED power-iteration rounds (the per-round L2
    normalization only rescales — rankings are unaffected — and
    dropping it keeps every intermediate an exact BIGINT where the
    float norm would drift across engines; int64 headroom:
    values <= degree^(2*iters) ~ 25^6 ~ 2.4e8).

    Scale shape: identical to x_pagerank_trade — the one expensive
    stage is deriving the edge set (early-projected fact join,
    AQE-broadcast dims, distinct to <= |N|^2 rows); the iteration
    then runs driver-side on the bounded-metadata graph (the
    IVF-centroid pattern; a distributed 25-node iteration would pay
    per-round scheduling for microseconds of math — d_dup_clusters
    owns the genuinely-scaling iterative shape). Python int
    arithmetic == the unrolled SQL oracle exactly."""
    t = load_tables(spark, sf_dir,
                    ["lineitem", "orders", "customer", "supplier",
                     "nation"])
    edges = (t["lineitem"].select("l_orderkey", "l_suppkey")
             .join(t["orders"].select("o_orderkey", "o_custkey"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .join(t["customer"].select("c_custkey", "c_nationkey"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .join(t["supplier"].select("s_suppkey", "s_nationkey"),
                   F.col("l_suppkey") == F.col("s_suppkey"))
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst"))
             .distinct())
    edge_rows = [(int(r.src), int(r.dst)) for r in edges.collect()]
    nodes = [int(r.n_nationkey)
             for r in t["nation"].select("n_nationkey").collect()]
    hub = {n: 1 for n in nodes}
    auth = {n: 0 for n in nodes}
    for _ in range(_HITS_ITER):
        auth = {n: 0 for n in nodes}
        for src, dst in edge_rows:
            auth[dst] += hub[src]
        hub = {n: 0 for n in nodes}
        for src, dst in edge_rows:
            hub[src] += auth[dst]
    return local_df(spark,
        [(n, hub[n], auth[n]) for n in sorted(nodes)],
        "nationkey long, hub long, authority long")


@register("x_degree_assortativity", """
WITH e0 AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
edges AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY src),
jk AS (
  SELECT dj.deg AS j, dk.deg AS k
  FROM edges e
  JOIN deg dj ON dj.node = e.src
  JOIN deg dk ON dk.node = e.dst
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(j * k) AS BIGINT) AS s_jk,
         CAST(sum(j) AS BIGINT) AS s_j,
         CAST(sum(j * j) AS BIGINT) AS s_j2
  FROM jk
)
SELECT m, s_jk, s_j, s_j2,
       CAST(m * s_jk - s_j * s_j AS BIGINT) AS r_num,
       CAST(m * s_j2 - s_j * s_j AS BIGINT) AS r_den,
       (m * s_jk - s_j * s_j) * 1e0 / (m * s_j2 - s_j * s_j)
         AS assortativity
FROM s WHERE m * s_j2 - s_j * s_j <> 0
""")
def x_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the nation trade graph (Newman 2002):
    the Pearson correlation of endpoint degrees over the undirected
    edge list — positive means hubs trade with hubs (assortative,
    social-network-like), negative means hubs serve the periphery
    (disassortative, infrastructure-like). On the symmetrized list
    every undirected edge appears in both directions, so Σj = Σk and
    Σj² = Σk² and Newman's r collapses to the single exact fraction
    (M·Σjk − (Σj)²/M·...) shipped as BIGINT (r_num, r_den) with one
    identical-shape float division. Self-loops excluded (they distort
    degree correlation by construction).

    Scale shape: deriving the edge set is the x_pagerank_trade cost —
    one early-projected lineitem⋈orders shuffle with AQE-broadcast
    dims, then a distinct bounding the graph at |N|²; degrees and the
    (j,k) expansion are joins on that vocabulary-sized frame. The
    statistic itself is one map-side-combinable 1-row fold."""
    t = load_tables(spark, sf_dir,
                    ["lineitem", "orders", "customer", "supplier"])
    e0 = (t["lineitem"].select("l_orderkey", "l_suppkey")
          .join(t["orders"].select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .join(t["customer"].select("c_custkey", "c_nationkey"),
                F.col("o_custkey") == F.col("c_custkey"))
          .join(t["supplier"].select("s_suppkey", "s_nationkey"),
                F.col("l_suppkey") == F.col("s_suppkey"))
          .filter(F.col("c_nationkey") != F.col("s_nationkey"))
          .select(F.col("c_nationkey").alias("src"),
                  F.col("s_nationkey").alias("dst"))
          .distinct())
    # symmetrized from one evaluation of e0, then cut: edges feeds
    # THREE subtrees (deg, and jk's base + two deg sides), and the
    # uncut plan scanned lineitem/orders/customer/supplier 24x per
    # action. edges is bounded at |nations|^2 rows — metadata scale —
    # so the checkpoint is the x_triangle/x_kcore discipline: one
    # 4-table join pass total.
    edges = (graph.undirected(e0, "src", "dst")
             .distinct().localCheckpoint(eager=True))
    deg = (edges.groupBy(F.col("src").alias("node"))
           .agg(F.count(F.lit(1)).cast("long").alias("deg")))
    jk = (edges
          .join(deg.select(F.col("node").alias("src"),
                           F.col("deg").alias("j")), "src")
          .join(deg.select(F.col("node").alias("dst"),
                           F.col("deg").alias("k")), "dst"))
    s = jk.agg(F.count(F.lit(1)).cast("long").alias("m"),
               F.sum(F.col("j") * F.col("k")).cast("long").alias("s_jk"),
               F.sum("j").cast("long").alias("s_j"),
               F.sum(F.col("j") * F.col("j")).cast("long").alias("s_j2"))
    num = F.col("m") * F.col("s_jk") - F.col("s_j") * F.col("s_j")
    den = F.col("m") * F.col("s_j2") - F.col("s_j") * F.col("s_j")
    return (s.filter(den != 0)
            .select("m", "s_jk", "s_j", "s_j2",
                    num.cast("long").alias("r_num"),
                    den.cast("long").alias("r_den"),
                    (num * F.lit(1.0) / den).alias("assortativity")))


@register("x_key_skew_report", """
WITH per AS (
  SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_suppkey
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS max_n
  FROM per
),
top AS (
  SELECT key, n, CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT)
           AS rank
  FROM per QUALIFY rank <= 20
)
SELECT t.rank, t.key, t.n,
       CAST(x.n_keys AS BIGINT) AS n_keys,
       CAST(t.n * x.n_keys AS BIGINT) AS skew_num,
       x.n_rows AS skew_den,
       t.n * x.n_keys * 1e0 / x.n_rows AS skew_factor
FROM top t CROSS JOIN tot x
""")
def x_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW report — the diagnostic read before choosing a
    join strategy at scale: the 20 heaviest supplier keys in the fact
    table with each key's skew factor n·K/total (1.0 = uniform; the
    shuffle-partition analogue of a_ivf_balance_report's list
    imbalance). A factor ≫ 1 on the build key is the signal to salt
    (x_salted_skew_join) or to let AQE split the partition — this
    report is what tells you WHICH keys and HOW MUCH, exact integers
    plus one identical-shape float division.

    Scale shape: one map-side-combinable key count (the aggregate any
    skew detector must pay), a TakeOrdered top-20, and a broadcast
    1-row total. Nothing else touches the fact table."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    # r14: eager cut — per is key-cardinality-bounded metadata, but
    # feeding both the 1-row total and the top-20 re-ran the lineitem
    # scan + count twice per action (plan sweep: 2 scans -> 1)
    per = (t["lineitem"].groupBy(F.col("l_suppkey").alias("key"))
           .agg(F.count(F.lit(1)).cast("long").alias("n"))
           .localCheckpoint(eager=True))
    tot = per.agg(F.count(F.lit(1)).cast("long").alias("n_keys"),
                  F.sum("n").cast("long").alias("n_rows"),
                  F.max("n").cast("long").alias("max_n"))
    top = per.orderBy(F.desc("n"), "key").limit(20)
    w = Window.orderBy(F.desc("n"), "key")
    top = top.withColumn("rank", F.row_number().over(w).cast("long"))
    return (top.crossJoin(F.broadcast(tot))
            .select("rank", "key", "n", "n_keys",
                    (F.col("n") * F.col("n_keys")).cast("long")
                    .alias("skew_num"),
                    F.col("n_rows").alias("skew_den"),
                    (F.col("n") * F.col("n_keys") * F.lit(1.0)
                     / F.col("n_rows")).alias("skew_factor")))


@register("r24_unpivot_revenue", """
WITH wide AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(sum(CASE WHEN o_orderstatus = 'F'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS rev_f,
         CAST(sum(CASE WHEN o_orderstatus = 'O'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS rev_o,
         CAST(sum(CASE WHEN o_orderstatus = 'P'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS rev_p
  FROM orders GROUP BY o_year
)
SELECT o_year, status, CAST(rev_cents AS BIGINT) AS rev_cents
FROM wide
UNPIVOT (rev_cents FOR status IN (rev_f AS 'F', rev_o AS 'O',
                                  rev_p AS 'P'))
WHERE rev_cents > 0
""")
def r24_unpivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the wide→long inverse of
    r13_pivot_status_revenue, the reshaping surface every BI export
    and ML feature loader needs (metrics-as-columns back to
    metrics-as-rows). Spark's ``stack()`` table-generating expression
    against DuckDB's declarative UNPIVOT clause — one in-plan literal
    expansion, no join, no shuffle beyond the wide frame's own
    aggregate. Zero cells are dropped in both engines (UNPIVOT's
    usual NULL-drop semantics, made explicit so the engines can't
    disagree on empty-cell handling); revenue stays exact cents.

    Scale shape: the wide frame is the |years|-row pivot aggregate;
    the unpivot triples it in-plan. Nothing scales past the pivot's
    one map-side-combinable pass."""
    t = load_tables(spark, sf_dir, ["orders"])
    cents = round_half_up_long(F.col("o_totalprice"), 100)
    wide = (t["orders"]
            .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(*[F.sum(F.when(F.col("o_orderstatus") == s, cents)
                         .otherwise(0)).cast("long").alias(f"rev_{s.lower()}")
                   for s in ("F", "O", "P")]))
    long = wide.select(
        "o_year",
        F.expr("stack(3, 'F', rev_f, 'O', rev_o, 'P', rev_p)"
               " AS (status, rev_cents)"))
    return (long.filter(F.col("rev_cents") > 0)
            .select("o_year", "status",
                    F.col("rev_cents").cast("long").alias("rev_cents")))


# --- count-min sketch (round 14) ---------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 1024
_CM_A, _CM_B, _CM_P = 2654435761, 40503, 1000003


def _cm_hash_sql(key: str, r: str) -> str:
    return f"(({key} * {_CM_A} + {r} * {_CM_B}) % {_CM_P}) % {_CM_WIDTH}"


@register("x_countmin_heavy_hitters", f"""
WITH rs(r) AS (VALUES (0), (1), (2), (3)),
cm AS MATERIALIZED (
  SELECT rs.r AS r, {_cm_hash_sql('l_partkey', 'rs.r')} AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem CROSS JOIN rs GROUP BY 1, 2
),
ex AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS exact_n
  FROM lineitem GROUP BY 1 ORDER BY exact_n DESC, k LIMIT 10
),
est AS (
  SELECT ex.k, ex.exact_n, min(cm.cnt) AS cm_estimate
  FROM ex CROSS JOIN rs
  JOIN cm ON cm.r = rs.r AND cm.c = {_cm_hash_sql('ex.k', 'rs.r')}
  GROUP BY ex.k, ex.exact_n
)
SELECT CAST(k AS BIGINT) AS l_partkey, exact_n,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - exact_n AS BIGINT) AS overcount
FROM est ORDER BY exact_n DESC, l_partkey
""")
def x_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimates vs exact truth, built STREAMING-style from the raw fact
    scan: d={_CM_DEPTH} rows x w={_CM_WIDTH} counters, point estimate
    = min over rows, which can only OVERcount (each counter absorbs
    every colliding key) — the emitted `overcount` column is that
    one-sided error, measured against the exact top-10. Complements
    t_heavy_hitters_cms (corpus_queries), which sketches the document
    VOCABULARY from pre-aggregated term counts (the md5-position
    profile-pass shape); this one is the relational-plane raw-scan
    build — counters accumulate straight off the rows with no exact
    intermediate, the form a one-pass 100 TB profiler actually runs.

    The row hashes are plain modular arithmetic (k*A + r*B mod P mod
    w) so both engines compute bit-identical buckets without a shared
    xxhash; every value stays far inside int64. Top-10 ties break on
    the key (count DESC, key) in both engines.

    Scale shape: the sketch build is ONE lineitem scan exploded x4
    in-array (no join) into a map-side-combined <=4096-cell aggregate
    — the classic mergeable-summary shape (per-partition sketches
    merge by cell-wise sum, which IS the partial aggregate); the
    exact side is a key count + TakeOrdered (the x_key_skew_report
    machinery, here serving as ground truth); the estimate join
    touches 40 broadcast rows. At 100 TB the sketch is 4096 longs
    regardless of key cardinality — that bounded-memory guarantee is
    the operator's point."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]

    def h(key, r):
        return ((key * _CM_A + F.lit(r) * _CM_B) % _CM_P) % _CM_WIDTH

    hashes = F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 h(F.col("l_partkey"), r).alias("c"))
        for r in range(_CM_DEPTH)])
    cm = (li.select(F.explode(hashes).alias("h"))
          .groupBy(F.col("h.r").alias("r"), F.col("h.c").alias("c"))
          .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    ex = (li.groupBy(F.col("l_partkey").alias("k"))
          .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
          .orderBy(F.desc("exact_n"), "k").limit(10))
    probes = ex.select(
        "k", "exact_n",
        F.explode(F.array(*[
            F.struct(F.lit(r).cast("int").alias("r"),
                     h(F.col("k"), r).alias("c"))
            for r in range(_CM_DEPTH)])).alias("h"))
    return (probes.join(cm, (probes["h.r"] == cm["r"])
                        & (probes["h.c"] == cm["c"]))
            .groupBy("k", "exact_n")
            .agg(F.min("cnt").cast("long").alias("cm_estimate"))
            .select(F.col("k").alias("l_partkey"), "exact_n",
                    "cm_estimate",
                    (F.col("cm_estimate") - F.col("exact_n")).cast("long")
                    .alias("overcount"))
            .orderBy(F.desc("exact_n"), "l_partkey"))
