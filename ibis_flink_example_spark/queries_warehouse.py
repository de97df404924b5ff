"""Batch warehouse sink (SURVEY.md §2.1 S5): ``saveAsTable`` + ``insertInto``
+ read-back — the batch analog of the reference's ``con.insert(...)`` sink
(reference: window_aggregation.py:83).

The reference inserts query results into a named sink table registered via
DDL. In batch Spark that is the managed-table pair:

- ``df.write.saveAsTable(name, mode="overwrite")`` — CREATE TABLE AS SELECT;
- ``df.write.insertInto(name)`` — INSERT INTO (positional columns, appends).

At 100 TB the managed-parquet sink is the right default: writes are
partition-parallel, the table is immediately re-scannable with full
predicate pushdown, and ``insertInto`` appends new files without touching
existing data (no read-modify-write).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ibis_flink_example_spark.catalog import load_table, scratch_dir
from ibis_flink_example_spark.functions.exact import money
from ibis_flink_example_spark.operators.scd import scd2_from_changes
from ibis_flink_example_spark.queries import query

_SINK_TABLE = "warehouse_pricing_summary_sink"


def _pricing_slice(spark: SparkSession, sf_dir: str, returned: bool) -> DataFrame:
    """Pricing rollup over one disjoint slice of lineitem (split on
    l_returnflag = 'R' so the two inserted slices partition the table)."""
    li = load_table(spark, sf_dir, "lineitem")
    cond = F.col("l_returnflag") == "R"
    return (
        li.filter(cond if returned else ~cond)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.sum(money("l_extendedprice")).cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "warehouse_roundtrip",
    # The oracle is the SAME rollup computed directly: a correct
    # write-then-read roundtrip must be value-invisible.
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def warehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 batch INSERT INTO: CTAS one slice, INSERT INTO the complementary
    slice, then scan the table back. Returns the re-read rows, which must
    equal the direct rollup (the oracle) — proving the sink round-trips
    values, schema, and row multiplicity exactly."""
    from ibis_flink_example_spark.catalog import drop_table_and_location

    drop_table_and_location(spark, _SINK_TABLE)
    _pricing_slice(spark, sf_dir, returned=True).write.saveAsTable(
        _SINK_TABLE, mode="overwrite"
    )
    # Positional-column append, the Spark analog of the reference's
    # con.insert(...) into a pre-registered sink schema.
    _pricing_slice(spark, sf_dir, returned=False).write.insertInto(_SINK_TABLE)
    return spark.table(_SINK_TABLE)


@query(
    "csv_roundtrip",
    # A correct CSV write→read roundtrip is value-invisible: the oracle is
    # the same rollup computed straight from the parquet fixture.
    oracle="""
SELECT r.r_name, COUNT(*) AS n_nations,
  CAST(SUM(n.n_nationkey) AS BIGINT) AS sum_nationkey
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 CSV source, driven end-to-end: write the nation table as
    header-ed CSV files, read it back through the declared-schema CSV
    reader (schema declared, never inferred — at 100 TB inference is a
    full extra pass), broadcast-join region, aggregate. Values must
    survive the text encode/decode byte-exactly for integer/string
    columns."""
    from ibis_flink_example_spark.schema import schema as mk_schema
    from ibis_flink_example_spark.sources.files import read_csv

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    d = scratch_dir("csv_roundtrip", sf_dir)
    nation.write.mode("overwrite").option("header", True).csv(d)
    back = read_csv(
        spark,
        d,
        mk_schema(
            {"n_nationkey": "int64", "n_name": "string", "n_regionkey": "int64"}
        ),
    )
    region = load_table(spark, sf_dir, "region")
    return (
        back.join(F.broadcast(region), back.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("sum_nationkey"),
        )
    )


@query(
    "jsonl_roundtrip",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders WHERE o_orderkey % 100 = 0
GROUP BY o_orderpriority
""",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 JSON-lines source end-to-end (the reference's Kafka payloads are
    JSON — this is the same decode path against files, SURVEY §2.1 S2/S8):
    write an orders slice as JSONL, read it back against the DECLARED
    schema, aggregate with DECIMAL-exact money summing. Doubles round-trip
    via JSON textual encoding (Spark writes shortest-roundtrip decimal
    strings), so the sums are bit-identical to the direct rollup."""
    from ibis_flink_example_spark.schema import schema as mk_schema
    from ibis_flink_example_spark.sources.files import read_jsonl

    sl = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    d = scratch_dir("jsonl_roundtrip", sf_dir)
    sl.write.mode("overwrite").json(d)
    back = read_jsonl(
        spark,
        d,
        mk_schema(
            {
                "o_orderkey": "int64",
                "o_orderpriority": "string",
                "o_totalprice": "float64",
            }
        ),
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
    )


@query(
    "merge_upsert_customers",
    oracle="""
WITH src AS (
  SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS delta
  FROM orders WHERE o_orderkey % 4 = 0
  GROUP BY 1
), tgt AS (
  SELECT c_custkey AS custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS balance
  FROM customer
)
SELECT COALESCE(t.custkey, s.custkey) AS custkey,
  CAST(COALESCE(t.balance, CAST(0 AS DECIMAL(18,2)))
     + COALESCE(s.delta, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS balance,
  CASE WHEN s.custkey IS NULL THEN 'unchanged'
       WHEN t.custkey IS NULL THEN 'inserted'
       ELSE 'updated' END AS merge_action
FROM tgt t FULL OUTER JOIN src s ON t.custkey = s.custkey
""",
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 MERGE INTO semantics without a transactional table format: a
    change batch (order totals, with some keys shifted to exercise the
    insert path) upserted into the customer-balance target via one
    full-outer shuffle join — exactly the join Delta/Iceberg MERGE plans.
    Matched keys update (balance + delta), unmatched-source keys insert,
    unmatched-target keys pass through. Money math runs in DECIMAL(18,2)
    end-to-end, cast to double only at the output boundary — bit-identical
    at any partition count. At 100 TB: both sides shuffle once on the key;
    AQE handles skewed customers; no driver data."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    src = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.when(
                F.col("o_custkey") % 10 == 0, F.col("o_custkey") + 1000000
            )
            .otherwise(F.col("o_custkey"))
            .alias("custkey"),
            "o_totalprice",
        )
        .groupBy("custkey")
        .agg(F.sum(money("o_totalprice")).alias("delta"))
    )
    tgt = cust.select(
        F.col("c_custkey").alias("custkey"), money("c_acctbal").alias("balance")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        tgt.alias("t")
        .join(src.alias("s"), F.col("t.custkey") == F.col("s.custkey"), "full_outer")
        .select(
            F.coalesce(F.col("t.custkey"), F.col("s.custkey")).alias("custkey"),
            (
                F.coalesce(F.col("t.balance"), zero)
                + F.coalesce(F.col("s.delta"), zero)
            )
            .cast("double")
            .alias("balance"),
            F.when(F.col("s.custkey").isNull(), "unchanged")
            .when(F.col("t.custkey").isNull(), "inserted")
            .otherwise("updated")
            .alias("merge_action"),
        )
    )


# The SCD2 segment build as a DuckDB CTE chain — the ONE SQL mirror of
# operators/scd.py (null-safe change flag: first row of a key always opens
# a segment, and NULL-vs-non-NULL transitions in either direction are
# changes while NULL-vs-NULL is not — IS DISTINCT FROM = eqNullSafe).
# Shared by scd2_customer_priority and scd2_point_in_time so the
# semantics can never drift between the two oracles.
_SCD2_DIM_CTES = """ch AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS ts, o_orderkey AS tb
  FROM orders
), flag AS (
  SELECT custkey, priority, ts, tb,
    CASE WHEN row_number() OVER w = 1
           OR priority IS DISTINCT FROM lag(priority) OVER w
         THEN 1 ELSE 0 END AS chg
  FROM ch WINDOW w AS (PARTITION BY custkey ORDER BY ts ASC, tb ASC)
), seg AS (
  SELECT custkey, priority, ts,
    CAST(SUM(chg) OVER (
      PARTITION BY custkey ORDER BY ts ASC, tb ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS segid
  FROM flag
), iv AS (
  SELECT custkey, segid, MIN(priority) AS priority, MIN(ts) AS valid_from,
    CAST(COUNT(*) AS INTEGER) AS n_observations
  FROM seg GROUP BY 1, 2
), dim AS (
  SELECT custkey, priority, valid_from,
         LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY segid ASC)
           AS valid_to,
         n_observations
  FROM iv
)"""


@query(
    "scd2_customer_priority",
    oracle=f"""
WITH {_SCD2_DIM_CTES}
SELECT custkey, priority, valid_from, valid_to,
  (valid_to IS NULL) AS is_current,
  n_observations
FROM dim
""",
)
def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from a change stream: each customer's order
    priority collapsed into effective-dated intervals (gaps-and-islands).
    Every window and the interval groupBy are keyed by custkey, so
    Catalyst plans ONE exchange for the whole build — no self-joins, no
    driver state (operators/scd.py)."""
    orders = load_table(spark, sf_dir, "orders")
    changes = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("tb"),
    )
    return scd2_from_changes(
        changes, key_col="custkey", state_col="priority", ts_col="ts",
        tiebreak_col="tb",
    )


@query(
    "data_quality_audit",
    oracle="""
WITH a AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS nulls_custkey,
    CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS nulls_totalprice,
    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS distinct_status,
    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS distinct_priority,
    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_custkey,
    CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_totalprice,
    CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_totalprice,
    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS violations_nonpositive_price,
    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                    OR o_orderdate >= TIMESTAMP '1999-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS violations_date_range
  FROM orders
)
SELECT metric, value FROM (
  SELECT 'n_rows' AS metric, CAST(n_rows AS DOUBLE) AS value FROM a
  UNION ALL SELECT 'nulls_custkey', CAST(nulls_custkey AS DOUBLE) FROM a
  UNION ALL SELECT 'nulls_totalprice', CAST(nulls_totalprice AS DOUBLE) FROM a
  UNION ALL SELECT 'distinct_status', CAST(distinct_status AS DOUBLE) FROM a
  UNION ALL SELECT 'distinct_priority', CAST(distinct_priority AS DOUBLE) FROM a
  UNION ALL SELECT 'distinct_custkey', CAST(distinct_custkey AS DOUBLE) FROM a
  UNION ALL SELECT 'min_totalprice', min_totalprice FROM a
  UNION ALL SELECT 'max_totalprice', max_totalprice FROM a
  UNION ALL SELECT 'violations_nonpositive_price',
    CAST(violations_nonpositive_price AS DOUBLE) FROM a
  UNION ALL SELECT 'violations_date_range',
    CAST(violations_date_range AS DOUBLE) FROM a
)
""",
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style single-pass constraint audit over a fact table:
    completeness (null counts), cardinality (exact distincts), range
    (min/max through DECIMAL for bit-exactness), and rule violations —
    all metrics from ONE aggregation pass (multi-distinct plans via
    Catalyst's Expand), reshaped map-only to long (metric, value) rows.
    At 100 TB this reads the table once instead of once per metric."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("nulls_custkey"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("nulls_totalprice"),
        F.countDistinct("o_orderstatus").alias("distinct_status"),
        F.countDistinct("o_orderpriority").alias("distinct_priority"),
        F.countDistinct("o_custkey").alias("distinct_custkey"),
        F.min(money("o_totalprice")).cast("double").alias("min_totalprice"),
        F.max(money("o_totalprice")).cast("double").alias("max_totalprice"),
        F.sum(
            F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
        ).alias("violations_nonpositive_price"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("violations_date_range"),
    )
    metrics = [
        "n_rows", "nulls_custkey", "nulls_totalprice", "distinct_status",
        "distinct_priority", "distinct_custkey", "min_totalprice",
        "max_totalprice", "violations_nonpositive_price",
        "violations_date_range",
    ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric"),
                F.col(m).cast("double").alias("value"),
            )
            for m in metrics
        ]
    )
    return agg.select(F.explode(pairs).alias("x")).select("x.*")


@query(
    "orc_roundtrip",
    # Value-invisible roundtrip: the oracle computes the same rollup
    # straight from the parquet fixture.
    oracle="""
SELECT l_returnflag, COUNT(*) AS n_rows,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  MIN(l_shipdate) AS min_shipdate,
  MAX(l_shipdate) AS max_shipdate
FROM lineitem WHERE l_orderkey % 50 = 0
GROUP BY l_returnflag
""",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 ORC source end-to-end: write a lineitem slice as ORC, read it
    back through the declared-schema ORC reader, aggregate with
    DECIMAL-exact money sums. Exercises the second columnar format's
    timestamp round-trip under the UTC-pinned session (ORC stores
    zone-adjusted µs — values must come back bit-identical)."""
    from ibis_flink_example_spark.schema import schema as mk_schema
    from ibis_flink_example_spark.sources.files import read_orc

    sl = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate")
    )
    d = scratch_dir("orc_roundtrip", sf_dir)
    sl.write.mode("overwrite").orc(d)
    back = read_orc(
        spark,
        d,
        mk_schema(
            {
                "l_orderkey": "int64",
                "l_returnflag": "string",
                "l_extendedprice": "float64",
                "l_shipdate": "timestamp",
            }
        ),
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(money("l_extendedprice")).cast("double").alias("sum_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


@query(
    "udaf_gini_by_priority",
    # The same integer-cents Gini algebra as a window formulation:
    # G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)). Within tied x the
    # rank sum is permutation-invariant, so ordering by cents alone is
    # deterministic.
    oracle="""
WITH r AS (
  SELECT o_orderpriority AS priority,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    ROW_NUMBER() OVER (
      PARTITION BY o_orderpriority
      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)
    ) AS i
  FROM orders WHERE o_totalprice IS NOT NULL
)
, g AS (
  SELECT priority,
    -- SUM(cents)=0 (or an all-NULL-price group, which never reaches r)
    -- maps to 0.0, mirroring the UDAF's n==0 / s0==0 -> 0.0 convention
    CASE WHEN SUM(cents) = 0 THEN 0.0 ELSE
      CAST(CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents) AS HUGEINT)
           AS DOUBLE)
        / (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(cents) AS HUGEINT) AS DOUBLE))
    END AS gini
  FROM r GROUP BY 1
), n AS (
  -- n_orders counts ALL orders of the priority; only the Gini itself
  -- skips NULL prices (mirroring the UDAF's dropna)
  SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT n.priority, n.n_orders, COALESCE(g.gini, 0.0) AS gini
FROM n LEFT JOIN g USING (priority)
""",
)
def udaf_gini_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 grouped-aggregate pandas UDAF: Gini concentration of order
    value per priority class. A genuine UDAF case — needs the group's full
    sorted distribution, inexpressible as a composition of built-in
    aggregates — yet plans like any aggregate: ONE keyed exchange, Arrow
    batches per group, no driver data. Integer-cents math inside makes the
    scalar engine-exact (functions/udafs.py)."""
    from ibis_flink_example_spark.functions.udafs import gini_cents

    orders = load_table(spark, sf_dir, "orders")
    grouped = orders.groupBy(F.col("o_orderpriority").alias("priority"))
    # Spark forbids mixing a grouped-agg pandas UDF with built-in
    # aggregates in one agg(); the count rides a second aggregation over
    # the same key (partitioning reused) and joins on the tiny result.
    gini = grouped.agg(gini_cents(F.col("o_totalprice")).alias("gini"))
    counts = grouped.agg(F.count(F.lit(1)).alias("n_orders"))
    return counts.join(gini, "priority").select("priority", "n_orders", "gini")


def _zorder_cols():
    """Morton bit-spread (16 -> 32 bits) as Spark column algebra — the
    standard mask ladder; identical integer ops exist in DuckDB, so the
    oracle mirrors it literally."""
    def spread(x):
        x = x.bitwiseAND(F.lit(0xFFFF))
        x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
        x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
        x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
        return x

    a = F.col("o_custkey").bitwiseAND(F.lit(0xFFFF))
    b = F.floor(F.col("o_totalprice") / 16).cast("bigint").bitwiseAND(F.lit(0xFFFF))
    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


_ZORDER_SPREAD_SQL = """
  SELECT o_orderkey, o_custkey, o_totalprice,
    ((sa4 | (sa4 << 1)) & 1431655765)
      | (((sb4 | (sb4 << 1)) & 1431655765) << 1) AS zval
  FROM (
    SELECT *, ((sa3 | (sa3 << 2)) & 858993459) AS sa4,
              ((sb3 | (sb3 << 2)) & 858993459) AS sb4
    FROM (
      SELECT *, ((sa2 | (sa2 << 4)) & 252645135) AS sa3,
                ((sb2 | (sb2 << 4)) & 252645135) AS sb3
      FROM (
        SELECT *, ((sa1 | (sa1 << 8)) & 16711935) AS sa2,
                  ((sb1 | (sb1 << 8)) & 16711935) AS sb2
        FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
            (o_custkey & 65535) AS sa1,
            (CAST(floor(o_totalprice / 16) AS BIGINT) & 65535) AS sb1
          FROM orders
        )
      )
    )
  )
"""


@query(
    "zorder_bucket_stats",
    oracle=f"""
WITH z AS ({_ZORDER_SPREAD_SQL})
SELECT CAST(zval >> 22 AS BIGINT) AS z_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(o_custkey) AS min_custkey, MAX(o_custkey) AS max_custkey,
  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM z GROUP BY 1
""",
)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys for 2-dimensional data clustering —
    the write-side optimization that lets BOTH customer- and price-range
    predicates prune files at 100 TB (interleaved bits keep each z-range
    rectangular in (custkey, price) space). The spread is the classic
    shift/mask ladder — pure codegen, no UDF — and the query reports
    per-z-bucket row counts and dimension envelopes, i.e. exactly the
    min/max file statistics a lakehouse write would persist. Sorting by
    zval (repartitionByRange at write time) is the deployment step; the
    stats here verify the clustering property itself."""
    orders = load_table(spark, sf_dir, "orders")
    z = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", _zorder_cols().alias("zval")
    )
    return z.groupBy(
        F.shiftrightunsigned(F.col("zval"), 22).cast("bigint").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_custkey").alias("min_custkey"),
        F.max("o_custkey").alias("max_custkey"),
        F.min(money("o_totalprice")).cast("double").alias("min_price"),
        F.max(money("o_totalprice")).cast("double").alias("max_price"),
    )


@query(
    "pareto_customers_by_nation",
    # Integer-cents cumulative share: cum*5 >= total*4 is the exact 80%
    # test without float division.
    oracle="""
WITH rev AS (
  SELECT c.c_nationkey AS nationkey, o.o_custkey AS custkey,
    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT nationkey, custkey, cents,
    CAST(SUM(cents) OVER (
      PARTITION BY nationkey ORDER BY cents DESC, custkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum,
    CAST(SUM(cents) OVER (PARTITION BY nationkey) AS BIGINT) AS total,
    ROW_NUMBER() OVER (
      PARTITION BY nationkey ORDER BY cents DESC, custkey ASC
    ) AS rnk
  FROM rev
)
SELECT nationkey,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(MIN(CASE WHEN cum * 5 >= total * 4 THEN rnk END) AS BIGINT)
    AS n_for_80pct
FROM ranked GROUP BY 1
""",
)
def pareto_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) per nation: the minimum number of
    top customers covering >= 80% of the nation's order revenue. The
    cumulative-share window runs INSIDE nation partitions — never a
    global sort — and the 80% test is the integer inequality
    cum*5 >= total*4 over exact cents, so the boundary rank is
    engine-exact. Two keyed exchanges (customer revenue rollup, nation
    window+rollup reusing one nation exchange)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        # customer is a LARGE dim (scales with the corpus) — no broadcast
        # hint; AQE broadcasts at test scale and shuffle-joins at 100 TB
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg((F.sum(money("o_totalprice")) * 100).cast("bigint").alias("cents"))
    )
    order_w = Window.partitionBy("nationkey").orderBy(
        F.col("cents").desc(), F.col("custkey").asc()
    )
    ranked = rev.select(
        "nationkey",
        F.sum("cents")
        .over(order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cents").over(Window.partitionBy("nationkey")).alias("total"),
        F.row_number().over(order_w).alias("rnk"),
    )
    return ranked.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min(
            F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rnk"))
        ).alias("n_for_80pct"),
    )


@query(
    "snapshot_diff_orders",
    # CDC-style snapshot diff: snapshot B is derived from orders by a
    # DETERMINISTIC mutation (drop keys %97==0, bump priority on %100==0,
    # insert copies re-keyed above max(o_orderkey)), mirrored exactly in
    # SQL; the diff is a full-outer join on the key comparing row digests.
    oracle="""
WITH a AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
), b AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 100 = 0 THEN '0-BUMPED' ELSE o_orderpriority END
      AS o_orderpriority,
    o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  -- inserted keys live ABOVE the existing key space (offset derived from
  -- the data, not a constant that could collide at larger SFs)
  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
         o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 250 = 0
), j AS (
  SELECT
    COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
    CASE
      WHEN a.o_orderkey IS NULL THEN 'added'
      WHEN b.o_orderkey IS NULL THEN 'removed'
      WHEN a.o_orderpriority <> b.o_orderpriority
        OR CAST(round(a.o_totalprice * 100) AS BIGINT)
           <> CAST(round(b.o_totalprice * 100) AS BIGINT) THEN 'changed'
      ELSE 'unchanged'
    END AS change_type
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM j GROUP BY 1
""",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the CDC/reconciliation primitive): classify every
    key across two table versions as added / removed / changed /
    unchanged. Snapshot B is a deterministic mutation of the fixture
    (delete + update + insert classes), so the oracle reproduces it; the
    diff itself is ONE key-keyed full-outer join comparing integer-cents
    digests — the shape that reconciles two 100 TB snapshots in a single
    co-partitioned pass (bucket both snapshots on the key to elide even
    that exchange)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    b = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 100 == 0, F.lit("0-BUMPED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
            "o_totalprice",
        )
        .unionByName(
            # inserted keys live ABOVE the existing key space: offset =
            # max(o_orderkey)+1 from the data (a constant offset would
            # silently collide with real keys at larger SFs and fan out
            # the full-outer join); the 1-row max broadcasts
            orders.where(F.col("o_orderkey") % 250 == 0)
            .crossJoin(
                F.broadcast(
                    orders.agg((F.max("o_orderkey") + 1).alias("__off"))
                )
            )
            .select(
                (F.col("o_orderkey") + F.col("__off")).alias("o_orderkey"),
                "o_orderpriority",
                "o_totalprice",
            )
        )
    )
    from ibis_flink_example_spark.functions.exact import cents

    a, bb = orders.alias("a"), b.alias("b")
    j = a.join(bb, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .when(
            (F.col("a.o_orderpriority") != F.col("b.o_orderpriority"))
            | (cents(F.col("a.o_totalprice")) != cents(F.col("b.o_totalprice"))),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def dpp_partitioned_orders_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the month-partitioned layout + calendar dim, return the DPP
    join (shared by the registered query and the plan-audit test, which
    additionally inspects the executed scan metrics)."""

    orders = load_table(spark, sf_dir, "orders")
    fact_dir = scratch_dir("dpp_orders_fact", sf_dir)
    # One file per month partition: repartition BY the partition column
    # before partitionBy, so a 1000-executor write emits one file per
    # (month, task-owning-that-month) instead of n_tasks × n_months small
    # files — the standard date-partitioned fact layout at 100 TB.
    (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        )
        .repartition("o_month")
        .write.mode("overwrite")
        .partitionBy("o_month")
        .parquet(fact_dir)
    )
    # Calendar dim written to its OWN files: the quarter->months mapping is
    # only resolvable at runtime (Catalyst cannot constant-fold a parquet
    # read), which is exactly what forces DYNAMIC partition pruning — the
    # dim scan executes first and its month keys prune fact partitions
    # before the fact scan starts.
    dim_dir = scratch_dir("dpp_orders_dim", sf_dir)
    (
        orders.select(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .distinct()
        .withColumn(
            "quarter",
            F.concat(
                F.substring("month", 1, 4),
                F.lit("-Q"),
                F.ceil(F.substring("month", 6, 2).cast("int") / 3).cast("string"),
            ),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("quarter") == "1996-Q2")
    return (
        fact.join(dim, fact.o_month == dim.month)
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("revenue"),
        )
    )


@query(
    "dpp_partitioned_orders",
    # The oracle is the plain (unpartitioned) quarter rollup: a correct
    # partitioned write + DPP join must be value-invisible. 1996-Q2 =
    # months 04-06, mirroring the quarter derivation in the dim.
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-04','1996-05','1996-06')
GROUP BY 1
""",
)
def dpp_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned table layout + DYNAMIC partition pruning — the
    single most common 100 TB scan-reduction mechanism (VERDICT r6
    'What's missing' #3): orders written ``partitionBy(month)`` (one file
    per partition via pre-repartition), joined to a runtime-filtered
    calendar dim on the partition column. Catalyst inserts a
    dynamicpruningexpression on the fact scan, so only the ~3 matching
    month partitions are read (plan-audited with runtime metrics:
    numPartitions read << staticFilesNum). The oracle is the equivalent
    unpartitioned rollup — layout must be value-invisible."""
    return dpp_partitioned_orders_impl(spark, sf_dir)


def bucketed_order_sizes_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the bucketed layout + exchange-free join/agg chain (shared by
    the registered query and the plan audit)."""
    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.operators.bucketing import write_bucketed

    for t in ("bq_orders", "bq_lineitem"):
        drop_table_and_location(spark, t)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "bq_orders", bucket_col="o_orderkey", n_buckets=8)
    write_bucketed(li, "bq_lineitem", bucket_col="o_orderkey", n_buckets=8)
    # merge hint (not a conf mutation): without it AQE would broadcast the
    # small fixture side and hide the property under audit — the co-located
    # sort-merge path is what a 100 TB fact-fact join runs
    per_order = (
        spark.table("bq_orders")
        .hint("merge")
        .join(spark.table("bq_lineitem"), "o_orderkey")
        .groupBy("o_orderkey")  # same key: reuses the bucket layout too
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    # histogram over the per-order sizes: the only exchange in the whole
    # plan is this final tiny aggregation over <= ~7 distinct sizes
    return per_order.groupBy("n_items").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "bucketed_order_sizes",
    # value-invisibility of the bucketed layout: the oracle computes the
    # same order-size histogram from the plain (unbucketed) join
    oracle="""
WITH per_order AS (
  SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
)
SELECT n_items, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM per_order GROUP BY 1
""",
)
def bucketed_order_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join, driven end-to-end as a
    registered query (the write-once-shuffle-never 100 TB lever,
    operators/bucketing.py): orders and lineitem written ``bucketBy(8,
    orderkey)``, then join AND per-order aggregation run exchange-free on
    the bucket layout (plan-audited: the only Exchange is the final
    histogram reduce over ~7 rows). One write-time shuffle amortized
    across every subsequent orderkey join/agg — at 100 TB this is the
    difference between re-shuffling 100 TB per query and reading
    co-located buckets."""
    return bucketed_order_sizes_impl(spark, sf_dir)


@query(
    "schema_evolution_read",
    # The oracle recomputes directly from orders, marking the v1-written
    # half's priority NULL — a correct mergeSchema read must be exactly
    # that union. NULL-group aggregation semantics ride along for free.
    oracle="""
WITH unioned AS (
  SELECT o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
           AS o_orderpriority
  FROM orders
)
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(price) AS DOUBLE) AS sum_price
FROM unioned GROUP BY 1
""",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a growing table (S8 at warehouse reality: a
    producer ADDS a column and history is never rewritten): half of orders
    written with the v1 schema (key, price), the other half with v2 (+
    priority) into the SAME directory, read back with ``mergeSchema`` —
    v1 rows surface NULL priority, v2 rows keep theirs, and aggregation
    over the evolved column must match the direct computation. At 100 TB
    this is the only affordable migration: mergeSchema reconciles footers
    at planning time, no data rewrite. (Default reads skip the footer
    merge for speed — the option is per-read, which is why the engine
    makes it explicit.)"""
    from ibis_flink_example_spark.functions.exact import money

    orders = load_table(spark, sf_dir, "orders")
    d = scratch_dir("schema_evo_orders", sf_dir)
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", money("o_totalprice").alias("price")
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", money("o_totalprice").alias("price"), "o_orderpriority"
    )
    # two writer generations, one table directory (subdir per generation
    # keeps the writes independently overwritable; the reader globs both)
    v1.write.mode("overwrite").parquet(f"{d}/gen=1")
    v2.write.mode("overwrite").parquet(f"{d}/gen=2")
    evolved = spark.read.option("mergeSchema", "true").parquet(
        f"{d}/gen=1", f"{d}/gen=2"
    )
    return evolved.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("sum_price"),
    )


@query(
    "xml_roundtrip",
    # value-invisibility of the XML encode/decode: oracle is the direct
    # supplier rollup (integers and strings round-trip byte-exactly;
    # acctbal goes through DECIMAL on both sides)
    oracle="""
SELECT s_nationkey,
  CAST(COUNT(*) AS BIGINT) AS n_suppliers,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM supplier GROUP BY 1
""",
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 XML source end-to-end (built into Spark 4 — no external package):
    write supplier as XML rows, read back against the DECLARED schema
    (never inferred), aggregate with DECIMAL-exact money summing. XML is
    the interchange format that still shows up at enterprise ingestion
    edges; the engine treats it as just another declared-schema file
    source with the same never-infer contract as CSV/JSONL/ORC."""
    from ibis_flink_example_spark.schema import schema as mk_schema

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", money("s_acctbal").alias("s_acctbal")
    )
    d = scratch_dir("xml_supplier", sf_dir)
    (
        sup.write.format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .mode("overwrite")
        .save(d)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(
            mk_schema(
                {
                    "s_suppkey": "int64",
                    "s_name": "string",
                    "s_nationkey": "int64",
                    "s_acctbal": "decimal(18,2)",
                }
            )
        )
        .load(d)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("s_acctbal").cast("double").alias("sum_acctbal"),
    )


@query(
    "scd2_point_in_time",
    # Point-in-time (AS OF) join of a fact table against the SCD2
    # dimension built from the same warehouse: every shipment priced
    # under the customer's priority segment valid at l_shipdate
    # (half-open [valid_from, valid_to)). Shipments before a customer's
    # first segment drop (inner join) — identical rule in both engines.
    # Revenue via the DECIMAL(18,2) exact idiom.
    oracle=f"""
WITH {_SCD2_DIM_CTES}, fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate AS ship,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT d.priority AS priority_at_ship,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(f.rev) AS DOUBLE) AS revenue
FROM fact f JOIN dim d
  ON d.custkey = f.custkey
 AND f.ship >= d.valid_from
 AND (d.valid_to IS NULL OR f.ship < d.valid_to)
GROUP BY 1
""",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse temporal join: revenue attributed to the customer's
    priority AS OF each line item's ship date, against the SCD2 intervals
    scd2_from_changes builds (operators/scd.py). The plan is the
    scale-correct one: the fact->orders key join and the fact->dim join
    are both equi-joins on bigint keys (shipdate range as residual
    filter), so Catalyst shuffle-hash/sort-merge partitions by key — no
    interval cross product; segments-per-customer is bounded by that
    customer's change count, keeping the residual scan per key short."""
    from ibis_flink_example_spark.operators.scd import scd2_from_changes

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    changes = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("tb"),
    )
    dim = scd2_from_changes(
        changes, key_col="custkey", state_col="priority", ts_col="ts",
        tiebreak_col="tb",
    ).select("custkey", "priority", "valid_from", "valid_to")
    fact = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ship"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("rev"),
    )
    joined = fact.join(
        dim,
        (fact.custkey == dim.custkey)
        & (fact.ship >= dim.valid_from)
        & (dim.valid_to.isNull() | (fact.ship < dim.valid_to)),
    )
    return joined.groupBy(dim.priority.alias("priority_at_ship")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("rev").cast("double").alias("revenue"),
    )


@query(
    "file_compaction_plan",
    # Deterministic next-fit compaction planning over a file manifest
    # (documents as the stand-in manifest: one row per file, n_chars as
    # bytes): files ordered (bytes DESC, id ASC) per source, running-sum
    # offset, bin = (cum-1) DIV target — pure integer arithmetic. The
    # GREATEST(cum, 1) guard keeps the -1 DIV divergence (DuckDB floors,
    # Spark truncates toward zero) unreachable even for zero-byte files.
    oracle="""
WITH ordered AS (
  SELECT source, n_chars AS bytes,
    CAST(SUM(n_chars) OVER (
      PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum
  FROM documents
), binned AS (
  SELECT source, bytes, (GREATEST(cum, 1) - 1) // 100000 AS bin
  FROM ordered
), per_bin AS (
  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS files_in_bin,
         CAST(SUM(bytes) AS BIGINT) AS bin_bytes
  FROM binned GROUP BY 1, 2
)
SELECT source,
  CAST(SUM(files_in_bin) AS BIGINT) AS n_files,
  CAST(SUM(bin_bytes) AS BIGINT) AS total_bytes,
  CAST(COUNT(*) AS BIGINT) AS n_bins,
  CAST(MAX(files_in_bin) AS BIGINT) AS max_files_per_bin,
  CAST(MAX(bin_bytes) AS BIGINT) AS max_bin_bytes,
  -- mean-bin-bytes FIRST (bounded by the largest single file, so the
  -- *10 rescale to 1e6 fixed-point can never overflow BIGINT no matter
  -- how large the source partition is — total*1e6 would wrap past
  -- ~9.2 TB/source), then scale: x1e6 of target = mean/1e5 * 1e6
  CAST((SUM(bin_bytes) // COUNT(*)) * 10 AS BIGINT) AS fill_x1e6
FROM per_bin GROUP BY 1
""",
)
def file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops/maintenance surface: plan small-file compaction bins (target
    100 KB) per source partition with a deterministic next-fit-by-offset
    rule — the manifest-level pass a table-maintenance job runs before
    rewriting files. The window sorts the per-source MANIFEST (one row
    per file), never data: at 100 TB with 100 MB files that is ~1M rows
    total, and the partitionBy(source) keeps each sort local to a key."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ordered = docs.select(
        "source",
        F.col("n_chars").alias("bytes"),
        F.sum("n_chars").over(w).cast("long").alias("cum"),
    )
    binned = ordered.select(
        "source",
        "bytes",
        F.expr("(GREATEST(cum, 1) - 1) DIV 100000").alias("bin"),
    )
    per_bin = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("files_in_bin"),
        F.sum("bytes").alias("bin_bytes"),
    )
    return per_bin.groupBy("source").agg(
        F.sum("files_in_bin").alias("n_files"),
        F.sum("bin_bytes").alias("total_bytes"),
        F.count(F.lit(1)).alias("n_bins"),
        F.max("files_in_bin").alias("max_files_per_bin"),
        F.max("bin_bytes").alias("max_bin_bytes"),
        # mean-bin-bytes first — see the oracle note on overflow headroom
        F.expr("(SUM(bin_bytes) DIV COUNT(*)) * 10").alias("fill_x1e6"),
    )


@query(
    "referential_integrity_audit",
    # Warehouse FK health, one row per relationship, each computed in a
    # SINGLE pass: child keys pre-aggregated to (key, n), full-outer
    # joined with the (unique) parent keys, then one conditional
    # aggregation yields child/orphan/parent/childless counts together —
    # the snapshot-diff idiom applied to integrity checking. Orphans are
    # zero on the TPC-H-consistent fixtures; the childless-parent counts
    # are non-trivial and pin the arithmetic.
    oracle="""
WITH fk1 AS (
  SELECT 'orders->customer' AS fk,
    CAST(COALESCE(SUM(c.n), 0) AS BIGINT) AS n_child,
    CAST(COALESCE(SUM(CASE WHEN p.k IS NULL THEN c.n END), 0) AS BIGINT)
      AS n_orphans,
    CAST(COUNT(p.k) AS BIGINT) AS n_parent,
    CAST(COUNT(CASE WHEN c.k IS NULL THEN 1 END) AS BIGINT) AS n_childless
  FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) c
  FULL OUTER JOIN (SELECT c_custkey AS k FROM customer) p ON c.k = p.k
), fk2 AS (
  SELECT 'lineitem->orders' AS fk,
    CAST(COALESCE(SUM(c.n), 0) AS BIGINT),
    CAST(COALESCE(SUM(CASE WHEN p.k IS NULL THEN c.n END), 0) AS BIGINT),
    CAST(COUNT(p.k) AS BIGINT),
    CAST(COUNT(CASE WHEN c.k IS NULL THEN 1 END) AS BIGINT)
  FROM (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1) c
  FULL OUTER JOIN (SELECT o_orderkey AS k FROM orders) p ON c.k = p.k
), fk3 AS (
  SELECT 'supplier->nation' AS fk,
    CAST(COALESCE(SUM(c.n), 0) AS BIGINT),
    CAST(COALESCE(SUM(CASE WHEN p.k IS NULL THEN c.n END), 0) AS BIGINT),
    CAST(COUNT(p.k) AS BIGINT),
    CAST(COUNT(CASE WHEN c.k IS NULL THEN 1 END) AS BIGINT)
  FROM (SELECT s_nationkey AS k, COUNT(*) AS n FROM supplier GROUP BY 1) c
  FULL OUTER JOIN (SELECT n_nationkey AS k FROM nation) p ON c.k = p.k
)
SELECT * FROM fk1 UNION ALL SELECT * FROM fk2 UNION ALL SELECT * FROM fk3
""",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse FK audit across three relationships, each a single
    full-outer key join over the PRE-AGGREGATED child keys (shuffle
    volume = distinct keys, never child rows) followed by one conditional
    aggregation — orphaned children and childless parents fall out of the
    same pass. At 100 TB each FK costs one keyed exchange of digest-sized
    rows; nothing is re-scanned per metric."""

    def _fk(fk: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
        ck = child.groupBy(F.col(ckey).alias("ck")).agg(
            F.count(F.lit(1)).alias("n")
        )
        pk = parent.select(F.col(pkey).alias("pk"))
        j = ck.join(pk, ck.ck == pk.pk, "full_outer")
        return j.agg(
            F.lit(fk).alias("fk"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_child"),
            F.coalesce(
                F.sum(F.when(F.col("pk").isNull(), F.col("n"))), F.lit(0)
            ).alias("n_orphans"),
            F.count("pk").alias("n_parent"),
            F.count(F.when(F.col("ck").isNull(), F.lit(1))).alias(
                "n_childless"
            ),
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        _fk("orders->customer", orders, "o_custkey", customer, "c_custkey")
        .unionAll(
            _fk("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey")
        )
        .unionAll(
            _fk("supplier->nation", supplier, "s_nationkey", nation, "n_nationkey")
        )
    )


def _rendezvous_oracle(n_shards: int = 16) -> str:
    """Generated oracle: per-doc argmax over the n_shards md5 hashes via a
    ROW_NUMBER over the exploded (doc, shard) pairs (fine at oracle
    scale; the engine side does it join-free in-row), plus the
    add-one-shard movement count."""
    return f"""
WITH pairs AS (
  SELECT doc_id, n_chars, UNNEST(range(0, {n_shards})) AS s
  FROM documents
), hashed AS (
  SELECT doc_id, n_chars, CAST(s AS BIGINT) AS s,
         md5(doc_id || ':' || s) AS h
  FROM pairs
), best AS (
  SELECT doc_id, n_chars, s AS shard, h AS hmax
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY h DESC, s DESC
    ) AS rn FROM hashed
  ) WHERE rn = 1
)
SELECT shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
  CAST(SUM(CASE WHEN md5(doc_id || ':' || {n_shards}) > hmax
                THEN 1 ELSE 0 END) AS BIGINT) AS n_moving_add_one
FROM best
GROUP BY 1
"""


@query("rendezvous_shard_plan", oracle=_rendezvous_oracle(16))
def rendezvous_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard layout QA
    (operators/bucketing.py:rendezvous_shard_plan): the documents corpus
    assigned to 16 shards by highest-random-weight hashing, with per-shard
    doc/byte loads AND the measured minimal-movement property — how many
    of each shard's docs would move if a 17th shard were added (each such
    doc moves TO the new shard; expected ~1/17 of the corpus — the reason
    a 100 TB reshard under rendezvous hashing is an incremental copy, not
    a full reshuffle like id % n). The argmax is a per-row scan-stage
    expression (array of structs + array_max, no explode, no
    per-(row, shard) shuffle); the only exchange is the 16-group rollup."""
    from ibis_flink_example_spark.operators.bucketing import (
        rendezvous_shard_plan as rsp,
    )

    docs = load_table(spark, sf_dir, "documents")
    return rsp(docs, id_col="doc_id", bytes_col="n_chars", n_shards=16)


@query(
    "shard_file_manifest",
    # Rendezvous shard via the md5-argmax (ROW_NUMBER ORDER BY h DESC,
    # s DESC — the _rendezvous_oracle shape), in-shard id-ordered file
    # cut, per-file sorted-digest md5 (string_agg ORDER BY == Spark's
    # array_sort+array_join — the journey-strings idiom).
    oracle="""
WITH pairs AS (
  SELECT doc_id, n_chars, t.s
  FROM documents, UNNEST(range(0, 16)) AS t(s)
), hashed AS (
  SELECT doc_id, n_chars, CAST(s AS BIGINT) AS s,
         md5(doc_id || ':' || s) AS h
  FROM pairs
), best AS (
  SELECT doc_id, n_chars, s AS shard
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY h DESC, s DESC
    ) AS rn FROM hashed
  ) WHERE rn = 1
), filed AS (
  SELECT b.shard, b.doc_id, b.n_chars, md5(d.text) AS digest,
    CAST((ROW_NUMBER() OVER (PARTITION BY b.shard ORDER BY b.doc_id) - 1)
         // 100 AS BIGINT) AS file_seq
  FROM best b JOIN documents d USING (doc_id)
)
SELECT shard, file_seq,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
  CAST(MIN(doc_id) AS BIGINT) AS min_id,
  CAST(MAX(doc_id) AS BIGINT) AS max_id,
  md5(string_agg(digest, '|' ORDER BY digest)) AS content_md5
FROM filed GROUP BY 1, 2
""",
)
def shard_file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset manifest / data card (operators/bucketing.py:
    shard_file_manifest): the documents corpus rendezvous-assigned to 16
    shards, each shard cut into 100-doc files in id order, one row per
    file with doc/byte counts, id range and a content md5 over the
    file's sorted per-doc digests — the artifact that makes a 100 TB
    corpus VERIFIABLE (re-download or re-materialization diffs against
    the manifest at file granularity) and training runs reproducible
    (the manifest pins exactly which bytes went in). Checksum concat is
    bounded by docs_per_file, never shard-sized; the one exchange is the
    shard-keyed numbering window, and the file rollup rides the same
    partitioning."""
    from ibis_flink_example_spark.operators.bucketing import (
        shard_file_manifest as sfm,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sfm(
        docs,
        id_col="doc_id",
        text_col="text",
        bytes_col="n_chars",
        n_shards=16,
        docs_per_file=100,
    )


def _morton_sql(x: str, y: str, bits: int = 16) -> str:
    """Generated Morton-interleave expression for the oracle — DuckDB
    >>/&/* on BIGINT mirrors Spark's shiftright/bitwiseAND term list."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x}) >> {b}) & 1) * {1 << (2 * b)}")
        terms.append(f"((({y}) >> {b}) & 1) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


@query(
    "zorder_layout_plan",
    oracle=f"""
WITH k AS (
  SELECT CAST(o_custkey AS BIGINT) AS x,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
  FROM orders
), m AS (
  SELECT MAX(x) AS xmax, MAX(y) AS ymax FROM k
), q AS (
  -- affine range quantization into [0, 2^16): order-preserving, so the
  -- layout QA holds for ANY natural key domain (o_custkey past 65535
  -- keeps clustering instead of pmod-wrapping). `//` == Spark DIV here:
  -- both operands are provably non-negative
  SELECT x, y,
         (x * 65536) // (xmax + 1) AS xq,
         (y * 65536) // (ymax + 1) AS yq
  FROM k CROSS JOIN m
), z AS (
  SELECT x, y, {_morton_sql('xq', 'yq')} AS zkey FROM q
)
SELECT CAST(zkey // {(1 << 32) // 64} AS BIGINT) AS file_idx,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
  CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max
FROM z GROUP BY 1
""",
)
def zorder_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout QA
    (operators/bucketing.py:zorder_layout_plan): orders keyed by the
    Morton interleave of (o_custkey, order date as epoch days)
    range-quantized into the 16-bit key domain, cut into 64 equal key
    ranges — the files a Z-ORDER-clustered write would emit — each
    reporting row count and RAW min/max of BOTH dimensions (the footer
    stats the write would persist). The table that shows why a z-ordered
    layout prunes on either column's footer stats at 100 TB where
    single-column sorting prunes only one. Range quantization (vs the
    old pmod fold) keeps the QA honest once the natural key outgrows
    2^16 — o_custkey at sf1+ would otherwise wrap and silently destroy
    the locality the QA claims to measure (ADVICE r10). Key assignment
    is scan-stage bit math; the exchanges are the one-row max aggregate
    (scalar broadcast crossJoin) and the 64-group rollup."""
    from ibis_flink_example_spark.operators.bucketing import (
        zorder_layout_plan as zp,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "o_days"
        ),
    )
    return zp(
        orders,
        x_col="o_custkey",
        y_col="o_days",
        bits=16,
        n_files=64,
        quantize="range",
    )


@query(
    "state_table_compaction",
    # Executed small-file compaction on a bucketed append-only state
    # table (VERDICT r14 "What's missing" #3): the engine builds the
    # table with 4 bucket-aligned arrival appends (8 files per append),
    # compacts it to one file per bucket, and reads the COMPACTED table
    # back — so a value/hash match against this source-derived oracle IS
    # the proof the rewrite preserved content exactly. File counts are
    # deterministic layout facts: before = n_buckets x n_batches,
    # after = n_buckets (every (bucket, batch) slice is non-empty at
    # every verification SF — premise pinned by
    # test_compaction_bucket_occupancy_premise).
    oracle="""
WITH b AS (
  SELECT doc_id & 3 AS batch_id,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY 1
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM b)
SELECT CAST(batch_id AS BIGINT) AS batch_id, n_rows, sum_chars,
  CAST(8 * nb AS BIGINT) AS files_before,
  CAST(8 AS BIGINT) AS files_after
FROM b, n
""",
)
def state_table_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops/maintenance EXECUTION arm of file_compaction_plan: grow a
    bucketed state table exactly the way the streaming ingests do (one
    bucket-aligned append per arrival batch — file count grows linearly
    with batch count forever), then run
    operators/maintenance.compact_bucketed_state_table to rewrite each
    bucket's per-batch small files into its planned bin count (1 at any
    fixture scale: bucket bytes << the 128 MB target), copy-swap,
    idempotent. Output one row per arrival batch FROM THE COMPACTED
    TABLE — row counts and content sums must equal the source-derived
    oracle (read-back equality), and the file-count columns witness the
    32 -> 8 collapse. At 100 TB this is the periodic maintenance pass
    that keeps months of micro-batch appends from turning every state
    read-back into a per-file-open storm."""
    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.operators.maintenance import (
        compact_bucketed_state_table,
    )

    t = "compaction_state_demo"
    drop_table_and_location(spark, t)
    drop_table_and_location(spark, t + "__compact_stage")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.col("doc_id").bitwiseAND(F.lit(3)).cast("int").alias("arr"),
    )
    for k in range(4):
        docs.filter(F.col("arr") == k).repartition(
            8, F.col("doc_id")
        ).write.mode("append").bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(t)
    stats = compact_bucketed_state_table(
        spark, t, bucket_col="doc_id", n_buckets=8
    )
    if not stats["compacted"]:
        raise RuntimeError(f"compaction unexpectedly skipped: {stats}")
    back = spark.table(t)
    return back.groupBy(F.col("arr").cast("long").alias("batch_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).select(
        "batch_id",
        "n_rows",
        "sum_chars",
        F.lit(stats["files_before"]).cast("long").alias("files_before"),
        F.lit(stats["files_after"]).cast("long").alias("files_after"),
    )


@query(
    "state_table_retention",
    # The RETENTION complement of state_table_compaction (VERDICT r14
    # "What's missing" #3's second half): the same single rewrite pass
    # also expires rows outside the retention horizon (keep arr >= 2),
    # so months of append-only ingest state shrink to the policy window
    # without a second scan. Oracle: the kept batches' content straight
    # from the source plus the deterministic layout facts (files_after =
    # 8 occupied buckets; n_expired = the dropped arrivals' row count).
    oracle="""
WITH b AS (
  SELECT doc_id & 3 AS batch_id,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents WHERE (doc_id & 3) >= 2 GROUP BY 1
), e AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_expired
  FROM documents WHERE (doc_id & 3) < 2
)
SELECT CAST(batch_id AS BIGINT) AS batch_id, n_rows, sum_chars,
  CAST(8 AS BIGINT) AS files_after, e.n_expired
FROM b, e
""",
)
def state_table_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops/maintenance retention arm: grow the same 4-arrival bucketed
    state table as state_table_compaction, then run ONE
    compact_bucketed_state_table pass with keep='arr >= 2' — expiry and
    small-file compaction folded into a single bucket-aligned rewrite
    (the shape a periodic maintenance job runs at 100 TB: every rewrite
    is also the moment to drop rows past the retention horizon, never a
    separate scan). Returns the surviving batches' content FROM THE
    REWRITTEN TABLE (read-back equality against the source-derived
    oracle proves the rewrite kept exactly the horizon) plus the file
    and expired-row witnesses."""
    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.operators.maintenance import (
        compact_bucketed_state_table,
    )

    t = "retention_state_demo"
    drop_table_and_location(spark, t)
    drop_table_and_location(spark, t + "__compact_stage")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.col("doc_id").bitwiseAND(F.lit(3)).cast("int").alias("arr"),
    )
    for k in range(4):
        docs.filter(F.col("arr") == k).repartition(
            8, F.col("doc_id")
        ).write.mode("append").bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(t)
    n_before = spark.table(t).count()
    stats = compact_bucketed_state_table(
        spark, t, bucket_col="doc_id", n_buckets=8, keep="arr >= 2"
    )
    if not stats["compacted"]:
        raise RuntimeError(f"retention rewrite unexpectedly skipped: {stats}")
    back = spark.table(t)
    n_after = back.count()
    return back.groupBy(F.col("arr").cast("long").alias("batch_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).select(
        "batch_id",
        "n_rows",
        "sum_chars",
        F.lit(stats["files_after"]).cast("long").alias("files_after"),
        F.lit(n_before - n_after).cast("long").alias("n_expired"),
    )
