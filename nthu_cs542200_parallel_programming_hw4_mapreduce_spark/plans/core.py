"""Core relational surface.

First block: the reference's entire query surface re-expressed Spark-first
(hw4.cc O1-O11 per SURVEY.md §2.1). Second block: the standard relational
categories the reference has no implementation of (SURVEY.md §2.2) —
filters, joins, distinct, set ops, top-k, window functions, rollup,
scalar functions — all built-in Catalyst territory.

Scale notes are on each query: what shuffles, what broadcasts, what gets
pushed down. At 100 TB the parquet scans prune columns + push predicates
(visible as ``PushedFilters``/``ReadSchema`` in ``.explain``), small dims
broadcast, and every aggregation is partial (map-side combine) before the
single shuffle on the grouping key — the combiner the reference never
implemented (SURVEY.md §2.1 O10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import jsonx as X_JSON
from ..registry import query

# ---------------------------------------------------------------------------
# The reference's own surface (hw4.cc O1..O11)
# ---------------------------------------------------------------------------


def wordcount(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The canonical pipeline O3→O4→O5/O6/O7 (shuffle)→O8→O9→O10: tokenize,
    count per word (hw4.cc:457-474, 359-420).

    Spark plan: explode is a generator inside whole-stage codegen; the
    groupBy count is hash-agg with partial aggregation, so only (word,
    partial_count) rows cross the shuffle — the combiner hw4.cc never had.
    Empty tokens are filtered on BOTH engine and oracle side (Spark's
    split and DuckDB's string_split both keep empties).
    """
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "wordcount_e2e",
    oracle="""
    SELECT w AS word, COUNT(*) AS cnt
    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
    WHERE w <> ''
    GROUP BY w
    ORDER BY word
    """,
)
def wordcount_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's entire end-to-end query (SURVEY.md §2.1
    canonical query) over ``documents.text``."""
    return wordcount(table(spark, sf_dir, "documents")).orderBy("word")


@query("scan_count", oracle="SELECT COUNT(*) AS n FROM lineitem")
def scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 text-scan analogue: parquet scan + count. Catalyst answers this
    from parquet row-group metadata — no row materialization at all."""
    return table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


@query(
    "tokenize_wordcount",
    oracle="""
    SELECT w AS word, COUNT(*) AS cnt
    FROM (SELECT UNNEST(string_split(o_orderpriority, ' ')) AS w FROM orders) t
    WHERE w <> ''
    GROUP BY w
    ORDER BY word
    """,
)
def tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 split/tokenize as a lateral view (hw4.cc:457-466, minus quirk Q1 —
    the trailing token is kept; faithful mode lives in ``mapreduce``)."""
    return wordcount(table(spark, sf_dir, "orders"), "o_orderpriority").orderBy("word")


@query(
    "project_lit",
    oracle="""
    SELECT l_orderkey, 1 AS one FROM lineitem
    ORDER BY l_orderkey NULLS LAST LIMIT 100
    """,
)
def project_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 map/project: constant projection (word,1) of hw4.cc:468-474.
    Column pruning reaches the scan: only l_orderkey is read."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.lit(1).alias("one"))
        # NULLS LAST pins membership under the LIMIT: Spark ASC defaults
        # NULLS FIRST, DuckDB NULLS LAST (round-8 review, all ORDER BY +
        # LIMIT selections in this file)
        .orderBy(F.asc_nulls_last("l_orderkey"))
        .limit(100)
    )


@query(
    "partition_expr",
    oracle="""
    SELECT w AS word, ascii(substr(w, 1, 1)) % 4 AS pid
    FROM (SELECT DISTINCT UNNEST(string_split(o_orderpriority, ' ')) AS w FROM orders) t
    WHERE w <> ''
    ORDER BY word
    """,
)
def partition_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 partition function: the reference's skew-prone first-char router
    ``int(key[0]) % R`` (hw4.cc:479, quirk Q3) as a value-level expression.
    Physical placement parity is exercised by the mapreduce file-contract
    tests; this checks the expression's semantics."""
    words = (
        table(spark, sf_dir, "orders")
        .select(F.explode(F.split("o_orderpriority", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    return words.select(
        "word", (F.ascii(F.substring("word", 1, 1)) % 4).alias("pid")
    ).orderBy("word")


@query(
    "sort_asc",
    oracle="SELECT c_custkey, c_name FROM customer ORDER BY c_name ASC, c_custkey ASC",
)
def sort_asc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 ascending sort (hw4.cc:411-420, ascend=true call site :333).
    Spark: range-partitioned exchange + per-partition sort — the same
    sort-merge shape at any scale, spilling instead of OOMing."""
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .orderBy(F.col("c_name").asc(), F.col("c_custkey").asc())
    )


@query(
    "sort_desc",
    oracle="SELECT c_custkey, c_name FROM customer ORDER BY c_name DESC, c_custkey DESC",
)
def sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 with ascend=false (the ``greater<>`` branch, hw4.cc:414)."""
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .orderBy(F.col("c_name").desc(), F.col("c_custkey").desc())
    )


@query(
    "agg_count",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9+O10 group-and-reduce (hw4.cc:359-409) generalized beyond the
    constant-1 quirk (Q5): COUNT plus a real SUM over the record's value.
    Hash aggregation with partial agg — only |groups| rows shuffle."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), F.sum("l_quantity").alias("qty"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Standard categories absent from the reference (SURVEY.md §2.2)
# ---------------------------------------------------------------------------


@query(
    "filter_pred",
    oracle="""
    SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > 25 AND l_returnflag = 'R'
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicates (absent in reference). Both conjuncts push down into the
    parquet scan (``PushedFilters: [GreaterThan(l_quantity,25.0),
    EqualTo(l_returnflag,R)]``) — row groups that can't match are skipped,
    which is the difference between scanning 100 TB and scanning 2 TB."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 25) & (F.col("l_returnflag") == "R")).agg(
        F.count("*").alias("n")
    )


@query(
    "join_equi",
    oracle="""
    SELECT n_name, COUNT(*) AS c
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join (absent in reference). nation is O(1) rows at any SF —
    broadcast it explicitly so the fact side never shuffles for the join;
    the only shuffle is the final groupBy on n_name (25 groups)."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("c"))
        .orderBy("n_name")
    )


@query(
    "join_multiway",
    oracle="""
    SELECT r_name, o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, o_orderstatus
    ORDER BY r_name, o_orderstatus
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema 4-way join. Only orders⋈customer is a real (shuffle)
    join; nation/region broadcast. SUM goes through DECIMAL so engine and
    oracle agree bit-for-bit regardless of summation order — float sums
    are order-dependent and a 1000-executor plan must not depend on
    accumulation order for correctness checks."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("r_name", "o_orderstatus")
    )


@query(
    "join_semi_anti",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
      (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)) AS n_without_orders
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (EXISTS / NOT EXISTS). At scale both sides are one
    shuffle on the key with early exit per match — no row multiplication.

    The oracle is spelled NOT EXISTS, not NOT IN (round-8 review): a
    single NULL o_custkey makes SQL's NOT IN never-true (every
    comparison yields NULL) while Spark's left_anti keeps all unmatched
    customers — EXISTS/NOT EXISTS is the exact SQL twin of
    left_semi/left_anti under NULLs."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").agg(
        F.count("*").alias("n_with_orders")
    )
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").agg(
        F.count("*").alias("n_without_orders")
    )
    return semi.crossJoin(anti)


@query(
    "join_outer",
    oracle="""
    SELECT n_name, COALESCE(c, 0) AS c
    FROM nation LEFT JOIN (
        SELECT c_nationkey, COUNT(*) AS c FROM customer GROUP BY c_nationkey
    ) t ON n_nationkey = c_nationkey
    ORDER BY n_name
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join, aggregate-before-join: pre-aggregating the fact
    side first shrinks the join input from |customer| to |nations| rows —
    at 100 TB this ordering is the plan."""
    nation = table(spark, sf_dir, "nation")
    counts = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("c"))
    )
    return (
        nation.join(counts, nation.n_nationkey == counts.c_nationkey, "left")
        .select("n_name", F.coalesce("c", F.lit(0)).alias("c"))
        .orderBy("n_name")
    )


@query("distinct_dedup", oracle="SELECT COUNT(DISTINCT o_custkey) AS n FROM orders")
def distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (absent in reference) — partial-agg'd like any groupBy."""
    return table(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n")
    )


@query(
    "topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — each partition keeps a
    k-heap, the driver merges |partitions|·k rows. No global sort, no full
    shuffle; the reference's only sort (O8) is always total."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "set_union",
    oracle="""
    SELECT COUNT(*) AS n FROM (
      SELECT o_custkey AS k FROM orders UNION SELECT c_custkey FROM customer
    ) t
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — union + hash-dedup on the fly."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.union(c).distinct().agg(F.count("*").alias("n"))


@query(
    "set_intersect_except",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders) a) AS n_intersect,
      (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders) b) AS n_except
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT — planned as semi/anti joins after dedup."""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    n_i = c.intersect(o).agg(F.count("*").alias("n_intersect"))
    n_e = c.subtract(o).agg(F.count("*").alias("n_except"))
    return n_i.crossJoin(n_e)


@query(
    "scalar_text",
    oracle="""
    SELECT lower(p_type) AS t, length(p_name) AS l, round(p_retailprice, 1) AS pr
    FROM part ORDER BY p_partkey NULLS LAST LIMIT 50
    """,
)
def scalar_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math functions (absent in reference) — all JVM-side
    codegen'd expressions, never Python."""
    return (
        table(spark, sf_dir, "part")
        .orderBy(F.asc_nulls_last("p_partkey"))  # membership pin (project_lit note)
        .limit(50)
        .select(
            F.lower("p_type").alias("t"),
            F.length("p_name").cast("long").alias("l"),
            F.round("p_retailprice", 1).alias("pr"),
        )
    )


@query(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn = 1 ORDER BY o_custkey
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (absent in reference): top order per customer.
    One shuffle on o_custkey; tie-broken on o_orderkey so the winner is
    deterministic across engines and partitionings."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_custkey")
    )


@query(
    "window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (frame clause). DECIMAL accumulator keeps
    the prefix sums bitwise-identical between engines."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("running"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (stretch in SURVEY.md §2.2). Spark expands the
    sets before the (single) shuffle — still partial-agg'd."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "cube_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the classic scan-heavy aggregate the reference's
    O9/O10 pipeline generalizes to. Predicate pushes to parquet; DECIMAL
    sums keep engine/oracle bit-identical under any accumulation order."""
    li = table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            F.sum(ep * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "pivot_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS f_cnt,
           COUNT(*) FILTER (o_orderstatus = 'O') AS o_cnt,
           COUNT(*) FILTER (o_orderstatus = 'P') AS p_cnt
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (absent in reference): order counts by priority × status.
    Explicit pivot values keep the schema static (no extra pass to
    discover columns — mandatory at scale); missing combos fill 0."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .select(
            "o_orderpriority",
            F.col("F").alias("f_cnt"),
            F.col("O").alias("o_cnt"),
            F.col("P").alias("p_cnt"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "quantile_price",
    oracle="""
    SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS q50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS q75
    FROM orders
    """,
)
def quantile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation in both engines; rounded
    to 1e-4, far above interpolation-arithmetic noise). The scale path is
    percentile_approx (see approx_agg) — exact percentile requires a
    global sort of the column."""
    pcts = F.expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))")
    return table(spark, sf_dir, "orders").agg(
        F.round(pcts[0], 4).alias("q25"),
        F.round(pcts[1], 4).alias("q50"),
        F.round(pcts[2], 4).alias("q75"),
    )


@query("approx_agg")  # rows-only: sketch values are engine-specific
def approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100 TB substitutes for exact
    distinct/percentile: HyperLogLog++ count-distinct and GK-sketch
    percentile. Values are sketch-dependent (no cross-engine oracle),
    but the CONTRACT is checkable: ``exact_distinct_agg`` computes the
    same quantities exactly under a full oracle, and
    tests/test_sources.py::test_approx_agg_error_bounds pins
    |approx − exact|/exact ≤ 3·rsd (rsd = 0.05, the HLL++ default)
    plus the sketch median landing inside the exact p40-p60 band."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.count("*").alias("n"),
    )


@query(
    "exact_distinct_agg",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    """,
)
def exact_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact companion to ``approx_agg`` — same quantities, exact
    operators, full DuckDB oracle. Exists so the sketch query's
    rows-only driver row is anchored by an oracle-green row computing
    the identical semantics, and the error-bound test has a declared
    exact side. At 100 TB this is the plan you pay a global sort /
    two-phase distinct for; approx_agg is the plan you actually run."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
            "exact_median_price"
        ),
        F.count("*").alias("n"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           CAST(epoch_us(o_orderdate) - lag(epoch_us(o_orderdate)) OVER w AS BIGINT) AS gap_us
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation windows: order succession per customer with
    inter-order gaps in integral microseconds (exact in both engines)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # o_orderdate is TIMESTAMP_NTZ; cast to session-TZ (UTC) timestamp so
    # unix_micros matches DuckDB's epoch_us on the naive value.
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.lead("o_orderkey").over(w).alias("next_order"),
            (us - F.lag(us).over(w)).cast("bigint").alias("gap_us"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "sql_api_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
                              WHERE i.o_custkey = o.o_custkey)
    ORDER BY o_orderkey
    """,
)
def sql_api_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface (SURVEY.md §3.1: Catalyst makes spark.sql and
    the DataFrame API produce the same plans): a correlated scalar
    subquery — orders more than twice their customer's average. Catalyst
    decorrelates it into an aggregate + join; nothing hand-written."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders o
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
                                  WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
        """
    )


@query(
    "scalar_date",
    oracle="""
    SELECT o_orderkey,
           CAST(extract(year FROM o_orderdate) AS INT) AS y,
           CAST(extract(month FROM o_orderdate) AS INT) AS m,
           CAST(extract(day FROM o_orderdate) AS INT) AS d,
           date_trunc('month', o_orderdate) AS month_start
    FROM orders ORDER BY o_orderkey NULLS LAST LIMIT 200
    """,
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar functions over the NTZ timestamp column."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.asc_nulls_last("o_orderkey"))  # membership pin (project_lit note)
        .limit(200)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
        )
    )


@query(
    "set_ops_all",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders UNION ALL SELECT c_custkey FROM customer) a) AS n_union_all,
      (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders INTERSECT ALL SELECT o_custkey FROM orders) b) AS n_intersect_all,
      (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders EXCEPT ALL SELECT c_custkey FROM customer) c) AS n_except_all
    """,
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (UNION/INTERSECT/EXCEPT ALL) — multiplicity
    preserved, planned as counters not dedup."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    ua = o.unionAll(c).agg(F.count("*").alias("n_union_all"))
    ia = o.intersectAll(o).agg(F.count("*").alias("n_intersect_all"))
    ea = o.exceptAll(c).agg(F.count("*").alias("n_except_all"))
    return ua.crossJoin(ia).crossJoin(ea)


@query(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey NULLS LAST LIMIT 25 OFFSET 50
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination over a deterministic order."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.asc_nulls_last("o_orderkey"))  # membership pin (project_lit note)
        .offset(50)
        .limit(25)
    )


@query(
    "tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure filter+aggregate — every
    predicate pushes into the parquet scan, zero joins, one partial-agg
    shuffle of a single row per partition. The canonical scan-bound
    query for measuring pushdown effectiveness."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderkey
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderkey
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective dim filter → join → agg →
    top-10. Filters push to all three scans before the joins; the limit
    plans as TakeOrdered over the aggregated (small) result. Tie-break
    on l_orderkey for cross-engine determinism."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderkey")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderkey")
    )


@query(
    "scalar_array",
    oracle="""
    SELECT vec_id, len(embedding) AS dim,
           round(CAST(list_min(embedding) AS DOUBLE), 6) AS lo,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS hi,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_v
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar functions over the embedding column (size, min/max,
    element access) — JVM-side expressions on ArrayType."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.orderBy("vec_id")
        .limit(100)
        .select(
            "vec_id",
            F.size("embedding").cast("long").alias("dim"),
            F.round(F.array_min("embedding").cast("double"), 6).alias("lo"),
            F.round(F.array_max("embedding").cast("double"), 6).alias("hi"),
            F.round(F.col("embedding")[0].cast("double"), 6).alias("first_v"),
        )
    )


@query(
    "grouping_sets_explicit",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither a rollup nor a cube): marginal
    counts by returnflag and by linestatus in one pass — Spark expands
    the sets before a single partial-agg'd shuffle."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


@query(
    "histogram_value",
    oracle="""
    SELECT CAST(floor(value / 25) AS BIGINT) AS bin, COUNT(*) AS cnt
    FROM events GROUP BY 1 ORDER BY bin
    """,
)
def histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over a double column — floor-division
    binning, exact in both engines (value/25 is a double op on identical
    inputs; floor of it is deterministic)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 25).cast("bigint").alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("bin")
    )


@query(
    "agg_string_list",
    oracle="""
    SELECT r_name,
           coalesce(string_agg(n_name, ',' ORDER BY n_name), '') AS nations
    FROM region JOIN nation ON r_regionkey = n_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def agg_string_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (collect → sort → join) — collect_list
    order is nondeterministic under parallelism, so the sort inside the
    aggregate is what makes the result stable at any partitioning.

    The oracle coalesces to '' (round-8 review): a group whose joined
    names are ALL NULL aggregates to '' through Spark's concat_ws-over-
    empty-collect_list but to NULL through SQL string_agg — both
    engines skip NULL elements, they just disagree on the empty
    result."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
        )
        .orderBy("r_name")
    )


@query(
    "tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-way star join. Dims
    (nation/region) broadcast; the customer⋈supplier nation-equality is
    an extra conjunct on the lineitem⋈supplier join, not a separate
    shuffle. Region filter prunes before anything joins."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
    )
    SELECT c_custkey, o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_custkey, o_orderkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING-filtered aggregate as
    a semi-join feeder. The 'big orders' aggregate runs FIRST and
    semi-joins orders — at scale this is the aggregate-then-join
    ordering that keeps the 3-way join's probe side small."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    orders_all = table(spark, sf_dir, "orders")
    orders = orders_all.join(
        big, orders_all.o_orderkey == big.l_orderkey, "left_semi"
    )
    cust = table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty")
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "rollup_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers distinguish 'NULL because subtotal' from
    'NULL in the data' — required for correct rollup consumers."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("cnt"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "cnt")
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, val FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    ) t WHERE l_orderkey <= 100
    ORDER BY l_orderkey, l_linenumber, metric
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack() — one scan emits 3 rows per input
    row; the oracle is the equivalent UNION ALL. Scoped to 100 orders."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount) AS (metric, val)"
        ),
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS with
    an extra correlated inequality — physically a LEFT SEMI join, which
    is exactly what Catalyst decorrelates the subquery into. The date
    filter prunes orders before the semi-join; lineitem carries only the
    two join columns into the exchange. (Adapted to the fixture schema:
    l_shipdate > o_orderdate stands in for commit/receipt lateness.)

    Re-expresses hw4.cc's group-and-count core (hw4.cc:359-382) over a
    filtered semi-join input rather than tokenized text."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split): join + CONDITIONAL
    aggregation — two CASE-fed SUMs in one pass instead of two queries
    or a pivot. Both conditional sums partial-aggregate map-side, so the
    shuffle after the join carries one row per (partition, returnflag).
    (Adapted: l_returnflag stands in for l_shipmode, which the fixture
    lineitem does not carry.)"""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q14",
    oracle="""
    SELECT round(
             100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                   ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-12-01 00:00:00'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): join + ratio of conditional to total
    revenue in a single aggregate. Sums are exact DECIMAL both sides (the
    double division happens once on two identical decimals, so the
    rounded ratio is bit-stable across engines). The shipdate range
    prunes lineitem at the scan; part joins broadcast at dimension size."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-12-01 00:00:00").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).cast("double")
    total = F.sum(rev).cast("double")
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(100.0 * promo / total, 6).alias("promo_revenue_pct")
    )


@query(
    "tpch_q17",
    oracle="""
    WITH perpart AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN perpart ON perpart.l_partkey = part.p_partkey
    WHERE p_brand = 'Brand#23'
      AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < sum_qty
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar
    subquery (per-part average quantity) decorrelated into an aggregate
    + equi-join — the rewrite Catalyst itself applies to the SQL form.
    The threshold compare is rearranged to exact decimal arithmetic
    (qty * 5 * n < sum_qty ⇔ qty < 0.2 * avg) so both engines evaluate
    an identical predicate with no float-average wobble."""
    li = table(spark, sf_dir, "lineitem")
    perpart = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.count("*").alias("n"),
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(perpart.withColumnRenamed("l_partkey", "pp_key"),
              F.col("p_partkey") == F.col("pp_key"))
        .filter(
            F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("n")
            < F.col("sum_qty")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly")
        )
    )


@query(
    "tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): an
    equi-join whose residual filter is an OR-of-ANDs mixing columns from
    both sides. The single-table conjuncts that CAN be factored out
    (brand ∈ {…}, size ≤ 25, quantity ≤ 30) are pushed below the join by
    Catalyst's constraint propagation, shrinking both join inputs; the
    mixed disjunction evaluates post-join inside codegen."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 20) & qty.between(10, 20))
        | ((brand == "Brand#34") & size.between(1, 25) & qty.between(20, 30))
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(rev.alias("revenue"))
    )


@query(
    "tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the nation-PAIR join — lineitem joined
    to BOTH a supplier-side and a customer-side copy of nation, with a
    symmetric disjunction over the pair. Both nation copies broadcast
    (25 rows); the disjunctive pair filter evaluates post-join in
    codegen, but each single-sided IN('NATION_1','NATION_2') conjunct is
    inferred by constraint propagation and pushed below the join, so
    supplier and customer shrink to two nations' worth before the big
    joins. One shuffle per fact-fact join, one for the final group-by."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pair = ["NATION_1", "NATION_2"]
    n1 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(pair))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(pair))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q8",
    oracle="""
    SELECT o_year,
           round(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the widest join tree in the
    suite — lineitem against FIVE broadcastable dimensions (part,
    supplier, nation×2, region) plus the orders⋈customer fact pair. The
    region filter reaches lineitem only transitively (region → n1 →
    customer → orders), which is exactly what a star-join plan handles:
    every dim broadcasts, so lineitem is never repartitioned until the
    final one-row-per-year aggregate. The market-share ratio is a
    conditional sum over the SAME aggregate pass (no second scan), exact
    decimal until the final division."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    region = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    target = F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0)).cast(
        "double"
    )
    total = F.sum(vol).cast("double")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(target / total, 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): fact-fact join + grouped
    top-k. The returnflag and orderdate filters push to the two parquet
    scans; nation broadcasts; the final ORDER BY..LIMIT 20 becomes
    TakeOrderedAndProject — per-partition top-20 then a 20-row driver
    merge, never a full sort of the grouped output. Tie-break on
    c_custkey keeps the cut deterministic across engines."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev.alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    with an extra non-join predicate on the RIGHT side (kept in the join
    condition, NOT a WHERE — a WHERE would silently turn the outer join
    inner), then a double aggregation. COUNT(o_orderkey) — not COUNT(*) —
    makes match-less customers count 0. First agg shuffles on c_custkey;
    the second input is one row per customer, so the distribution agg is
    near-free. (o_orderpriority stands in for the fixture-absent
    o_comment NOT LIKE filter.)"""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): scalar subquery over a derived view —
    the quarter's per-supplier revenue compared against ITS OWN max. The
    revenue aggregate is computed once and localCheckpoint'd so the two
    consumers (the row stream and the 1-row MAX) don't recompute the
    lineitem scan; the max then broadcasts into an equality join. Exact
    DECIMAL equality — a double total would make `= MAX(...)`
    float-fragile across accumulation orders."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("total_revenue")
        )
        .localCheckpoint(eager=False)
    )
    best = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(
            F.broadcast(best), F.col("total_revenue") == F.col("max_revenue")
        )
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate
      AND n_name = 'NATION_1'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): EXISTS + correlated
    NOT EXISTS over the same fact table. Instead of the two self-joins
    the SQL literally describes (quadratic in per-order line count), the
    pair of subqueries is decorrelated into ONE per-order aggregate:
    `n_supp = countDistinct(suppkey)` and `n_late_supp =
    countDistinct(suppkey WHERE late)`. For a late line l1,
    "another supplier exists" ⇔ n_supp > 1, and "no OTHER supplier was
    late" ⇔ n_late_supp = 1 (l1's own). One extra shuffle on l_orderkey
    replaces two semi/anti joins against full lineitem — linear at any
    per-order fan-out, immune to hot-order skew. (Lateness adapted to
    the fixture: l_shipdate > o_orderdate.)"""
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate")
    per_order = lo.groupBy("o_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
    ).withColumnRenamed("o_orderkey", "po_orderkey")
    nation = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_1")
        .select("n_nationkey")
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return (
        lo.filter(late)
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )


@query(
    "tpch_q22",
    oracle="""
    WITH eligible AS (
      SELECT c_custkey, c_nationkey % 10 AS cntrycode,
             CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
    ), pos AS (
      SELECT SUM(bal) AS total, COUNT(*) AS n FROM eligible WHERE bal > 0
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(bal) AS DOUBLE) AS totacctbal
    FROM eligible CROSS JOIN pos
    WHERE bal * n > total
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): IN-list prefilter, scalar
    AVG subquery, and an anti-join against orders. The average compare
    is rewritten exact — `bal * n > total` over decimals instead of
    `bal > AVG(bal)` in doubles — so no accumulation-order wobble can
    flip a boundary row between engines. The 1-row aggregate broadcasts;
    the NOT EXISTS lowers to LEFT ANTI with its date conjunct pushed to
    the orders scan. (Adapted: c_nationkey % 10 stands in for the
    fixture-absent phone country code, and "no orders" — vacuously empty
    here — becomes "no orders since 1999".)"""
    code = (F.col("c_nationkey") % 10).alias("cntrycode")
    eligible = (
        table(spark, sf_dir, "customer")
        .filter((F.col("c_nationkey") % 10).isin(1, 2, 3, 4, 5))
        .select(
            "c_custkey", code, F.col("c_acctbal").cast("decimal(18,2)").alias("bal")
        )
        .localCheckpoint(eager=False)
    )
    pos = eligible.filter(F.col("bal") > 0).agg(
        F.sum("bal").alias("total"), F.count("*").alias("n")
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        eligible.crossJoin(F.broadcast(pos))
        .filter(F.col("bal") * F.col("n") > F.col("total"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "tpch_q9",
    oracle="""
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS profit
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part     ON l_partkey = p_partkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted to the fixture schema: no
    partsupp table, so supply cost is p_retailprice and the year comes
    from l_shipdate rather than orders. The pattern under test is the
    fact-to-fact star with a mid-size filtered dim: the p_name LIKE
    filter prunes part BEFORE the join, and the pruned part + nation
    broadcast so lineitem is never shuffled for the joins — only the
    final (nation, year) aggregate exchanges, and that after map-side
    partial aggregation."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    nation = table(spark, sf_dir, "nation")
    profit = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount").cast("decimal(18,2)"))
        - F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("double")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(profit.alias("profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@query(
    "tpch_q11",
    oracle="""
    SELECT n_name, CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS value
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    HAVING SUM(CAST(s_acctbal AS DECIMAL(18,2))) * 25
           > (SELECT SUM(CAST(s_acctbal AS DECIMAL(18,2))) FROM supplier)
    ORDER BY value DESC, n_name
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: per-nation supplier balance
    exceeding a fraction of the GLOBAL total — the HAVING-against-
    uncorrelated-scalar-subquery pattern. The global total is a 1-row
    aggregate crossJoin-broadcast into the per-group HAVING filter; both
    aggregates partial-aggregate map-side, and at 100 TB the global pass
    reads the same scan Catalyst already column-pruned to one column.

    The 4% threshold compares as ``value * 25 > grand`` in DECIMAL
    (round-8 review, the q17/q20/q22 exact-arithmetic discipline):
    ``value > grand * 0.04`` coerces the decimal sums to DOUBLE (Spark)
    or DECIMAL(38,4) (DuckDB), and a group landing within one double
    ulp of the boundary could flip between engines; multiplying by the
    integer reciprocal keeps both comparisons exact."""
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    bal = F.col("s_acctbal").cast("decimal(18,2)")
    total = supp.agg(F.sum(bal).alias("_grand"))
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(bal).alias("_value"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("_value") * 25 > F.col("_grand"))
        .select("n_name", F.col("_value").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), F.col("n_name"))
    )


@query(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45'
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l_suppkey AND s.s_name LIKE '%7%')
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (supplier relationship), adapted: distinct-supplier
    counts per part attribute with an exclusion list (complaint
    suppliers in real Q16; a name pattern here), decorrelated to a
    broadcast anti-join. The oracle is spelled NOT EXISTS, not NOT IN
    (round-8 review, the join_semi_anti rule): one NULL s_suppkey in
    the exclusion list would make NOT IN never-true while left_anti
    keeps every unmatched row; COUNT(DISTINCT) expands
    to a two-phase aggregate (partial distinct on (group, suppkey), then
    count) so duplicates die map-side before the shuffle."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#45")
    excl = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7%"))
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@query(
    "stats_agg",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_qp,
           round(stddev_pop(l_discount), 4) AS sd_disc,
           round(var_samp(l_tax), 4) AS var_tax
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: correlation, covariance, stddev, variance
    per group — single-pass co-moment accumulators in both engines, so
    one scan + one partial-aggregated shuffle regardless of scale.
    Nonlinear results can differ in the last ulps between merge orders;
    round(4) absorbs that (values are O(1)-O(1e4), error is O(1e-9))."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
            F.round(F.stddev_pop("l_discount"), 4).alias("sd_disc"),
            F.round(F.var_samp("l_tax"), 4).alias("var_tax"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q2",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey AS bp, MIN(cost) AS min_cost FROM costs GROUP BY l_partkey
    )
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           p_partkey, p_name
    FROM costs
    JOIN best ON l_partkey = bp AND cost = min_cost
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_type = 'ECONOMY'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum cost supplier), adapted to the fixture: the
    correlated MIN subquery (cheapest regional offer per part) is
    decorrelated into a per-part aggregate joined back on exact DECIMAL
    equality — the same rewrite Catalyst's own subquery planner would
    make, expressed directly so the join keys are visible. Without a
    partsupp table, lineitem plays the part-supplier price list
    (cost = cheapest observed line price). region/nation broadcast
    (O(1) dims); the part side is type-filtered before its join; the
    min-cost join keys on (partkey, cost) — both partial-agg'd, so the
    per-part best never materializes a sort. Ref parity: SURVEY.md §2.2
    joins/subqueries row; same decorrelation family as tpch_q15/q17."""
    region = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = (
        table(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("_price"),
    )
    costs = (
        li.join(supp.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("_price").alias("cost"))
        .localCheckpoint(eager=False)
    )
    best = costs.groupBy(F.col("l_partkey").alias("bp")).agg(
        F.min("cost").alias("min_cost")
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey", "p_name")
    )
    return (
        costs.join(
            best,
            (F.col("l_partkey") == F.col("bp")) & (F.col("cost") == F.col("min_cost")),
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q20",
    oracle="""
    WITH flagged AS (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%widget%'
      GROUP BY l_suppkey, l_partkey
      HAVING 2 * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                           AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
                     THEN CAST(l_quantity AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END)
            > SUM(CAST(l_quantity AS DECIMAL(18,2)))
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM flagged)
    ORDER BY s_name
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: the doubly-nested
    IN subqueries (suppliers stocking pattern-parts beyond a correlated
    quantity threshold) become ONE conditional aggregate per
    (supplier, part) cell — here "shipped more than half their all-time
    volume of that part in 1995" — followed by a semi-join. The
    threshold compare stays in DECIMAL via `2·sum95 > total` (no 0.5×
    double rounding at the boundary). Shapes: part filter broadcasts
    into the lineitem scan, the cell aggregate partial-aggregates
    map-side, and the distinct supplier set semi-joins supplier — no
    correlated re-scan of lineitem per supplier as the literal SQL
    would do. Ref parity: SURVEY.md §2.2 joins (semi) + conditional
    aggregation; same decorrelation family as tpch_q21."""
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    in95 = (
        F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    zero = F.lit(0).cast("decimal(18,2)")
    flagged = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in95, qty).otherwise(zero)).alias("q95"),
            F.sum(qty).alias("qall"),
        )
        .filter(F.col("q95") * 2 > F.col("qall"))
        .select("l_suppkey")
    )
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        supp.join(flagged, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_events,
           CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join via explicit salting (operators/joins.salted_join):
    the events fixture concentrates its rows on a handful of user_ids —
    the single-hot-key regime where even AQE's skew splitting can't help
    a *build-side* hot key. Fact rows scatter over 8 salt sub-keys and
    the (small) customer side replicates 8×, so the former one-reducer
    key becomes 8 balanced tasks; the aggregate afterwards partial-aggs
    as usual. Semantically identical to the plain equi-join the oracle
    states — only the physical key distribution differs. Ref parity:
    the reference's first-char partitioner (hw4.cc:479, quirk Q3) is the
    same pathology on the map side; SURVEY.md §2.2 joins (skew)."""
    from ..operators.joins import salted_join

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = salted_join(ev, cust, "user_id", "c_custkey", salt=8)
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").try_cast("decimal(18,6)")).cast("double").alias("sv"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "delta_scan",
    oracle="""
    SELECT lang, source, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake round trip through the jar-free connector
    (sources/delta.py): documents materializes ONCE per sf_dir as an
    on-disk Delta table (data parquet + commit-0 transaction log,
    partitioned by lang), then reads back through ``read_delta`` — log
    replay → active-file snapshot → native parquet scan with per-branch
    partition literals — and aggregates. The oracle runs on the
    original parquet, so a green row proves the Delta path loses,
    duplicates, and mistypes nothing (including the partition column,
    which exists only in the log, not in the data files).

    Scale: the transaction log is metadata (file list on the driver,
    same posture as any file index); the data path is Spark's own
    parquet scan, so pushdown/pruning/codegen apply unchanged, and
    filters on partition columns constant-fold per branch — real
    partition pruning (pinned by tests/test_delta.py)."""
    from ..sources.cache import materialize_once
    from ..sources.delta import write_delta_commit0
    from ..sources.readers import read_delta

    base = materialize_once(
        "delta", sf_dir, "documents",
        lambda tmp: write_delta_commit0(
            spark, table(spark, sf_dir, "documents"), tmp, partition_by=["lang"]
        ),
    )
    return (
        read_delta(spark, base)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .orderBy("lang", "source")
    )


_Z_BITS = 16  # bits per dimension interleaved into the Z-value


def zvalue(a, b):
    """Morton/Z-order key: interleave the low 16 bits of two nonnegative
    integer columns (bit i of a → bit 2i, bit i of b → bit 2i+1). Rows
    sorted by this key cluster in BOTH dimensions at once, which is what
    makes parquet min/max skipping work for predicates on either column
    — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER, expressed
    as a plain column so any writer can ``repartitionByRange`` on it."""
    zx, zy = F.pmod(a, F.lit(1 << _Z_BITS)), F.pmod(b, F.lit(1 << _Z_BITS))
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        # Column.__or__ is boolean OR; bitwiseOR is the integer one.
        z = z.bitwiseOR(F.shiftleft(F.shiftright(zx, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(zy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _z_sql(a: str, b: str) -> str:
    # DuckDB/Postgres give <<, >>, &, | ONE precedence level (left-
    # assoc), so every term must be fully parenthesized — otherwise
    # `x << 2 | y << 4` parses as `((x << 2) | y) << 4`.
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((({a} % 65536) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({b} % 65536) >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@query(
    "zorder_layout",
    oracle=f"""
    WITH st AS (
      SELECT min(l_orderkey) AS omin, max(l_orderkey) AS omax,
             min(l_partkey) AS pmin, max(l_partkey) AS pmax
      FROM lineitem
    ), sc AS (
      SELECT l_orderkey, l_partkey,
             ((l_orderkey - omin) * 65535) // greatest(omax - omin, 1) AS sx,
             ((l_partkey - pmin) * 65535) // greatest(pmax - pmin, 1) AS sy
      FROM lineitem, st
    )
    SELECT l_orderkey, l_partkey,
           CAST({_z_sql("sx", "sy")} AS BIGINT) AS z
    FROM sc
    ORDER BY z NULLS LAST, l_orderkey NULLS LAST, l_partkey NULLS LAST
    LIMIT 100
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_orderkey, l_partkey) —
    the first 100 rows of the interleaved-bit layout order.

    Both keys are min/max-scaled to the full 16-bit domain BEFORE
    interleaving (what OPTIMIZE ZORDER's range-ranking does): raw keys
    of different magnitudes put their top bits at different interleave
    positions, and the wider key's high bits then dominate the sort —
    i.e. unscaled Z-order silently degenerates to single-key order
    (caught by the skipping test below when this query used raw keys).
    The scaling stats are one singleton agg, broadcast back; integer
    floor-division keeps both engines exact.

    Why it matters at 100 TB: range-partitioning the write by this key
    gives every output file a TIGHT min/max envelope in BOTH join/filter
    columns, so scans with a predicate on EITHER column skip most files
    via parquet footer stats alone (measured in
    tests/test_bucketing.py::test_zorder_layout_skips_both_dimensions:
    the per-file second-key span drops to <75% of the single-key
    layout's). The Z-value itself is 32 codegen'd bit ops."""
    li = table(spark, sf_dir, "lineitem")
    st = li.agg(
        F.min("l_orderkey").alias("omin"),
        F.max("l_orderkey").alias("omax"),
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
    )
    sc = li.crossJoin(F.broadcast(st)).select(
        "l_orderkey",
        "l_partkey",
        F.expr(
            "((l_orderkey - omin) * 65535) div greatest(omax - omin, 1)"
        ).alias("sx"),
        F.expr(
            "((l_partkey - pmin) * 65535) div greatest(pmax - pmin, 1)"
        ).alias("sy"),
    )
    return (
        sc.select(
            "l_orderkey",
            "l_partkey",
            zvalue(F.col("sx"), F.col("sy")).alias("z"),
        )
        .orderBy(
            F.asc_nulls_last("z"),
            F.asc_nulls_last("l_orderkey"),
            F.asc_nulls_last("l_partkey"),
        )  # membership pin (project_lit note)
        .limit(100)
    )


@query(
    "json_quarantine",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 11 = 0
                  THEN substr(props, 1, length(props) - 2)
                  ELSE props END AS payload
      FROM events
    ), parsed AS (
      -- json_type gate (round-10 type-diverse props rows): Spark's
      -- from_json('k BIGINT') is STRICTLY typed — {"k": "s"}, true,
      -- 1.5, even "7" all yield NULL — while a bare CAST of the ->>
      -- text raised on 's' and TRY_CAST would coerce '7'/1.5; only an
      -- integer-typed JSON value counts as valid on either side
      SELECT event_id,
             CASE WHEN json_valid(payload) THEN
               CASE WHEN json_type(payload, 'k') IN ('UBIGINT', 'BIGINT')
                    THEN TRY_CAST(payload ->> '$.k' AS BIGINT) END
             END AS k
      FROM raw
    )
    SELECT CAST(COUNT(k) AS BIGINT) AS n_valid,
           CAST(COUNT(*) - COUNT(k) AS BIGINT) AS n_quarantined,
           CAST(SUM(k) AS BIGINT) AS k_sum
    FROM parsed
    """,
)
def json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine on semi-structured ingest: parse the
    events' JSON payload with a typed schema, route unparseable rows to
    quarantine counts instead of failing the job — the PERMISSIVE-mode
    contract every production ingest needs (a corrupted Kafka record
    must never kill a 100 TB backfill).

    A deterministic corruption (event_id % 11 → truncated JSON) is
    applied identically in both engines, so the quarantine rate is
    checkable. Spark side: ``from_json`` with an explicit schema —
    malformed input yields a NULL struct, making 'quarantined' a null
    test, all inside codegen (no Python). Scale: scan-bound single
    aggregate; the quarantined rows would stream to a dead-letter sink
    via the same null predicate."""
    ev = table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 11 == 0,
        F.expr("substr(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    k = F.from_json(payload, "k BIGINT")["k"]
    return ev.select(k.alias("k")).agg(
        F.count("k").cast("long").alias("n_valid"),
        (F.count("*") - F.count("k")).cast("long").alias("n_quarantined"),
        F.sum("k").cast("long").alias("k_sum"),
    )


@query(
    "arrow_udf_reverse",
    oracle="""
    SELECT doc_id, reverse(text) AS rev FROM documents
    WHERE doc_id < 50 ORDER BY doc_id
    """,
)
def arrow_udf_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (``useArrow=True``) —
    completes the UDF-surface matrix (row-Python UDTF: udtf_tokenize;
    Pandas UDAF: pandas_udaf_mean; mapInPandas: the dedup/PCA kernels;
    this: the Arrow-batched scalar path, ~10× the pickle path's serde
    throughput).

    Extension-point PROOF, deliberately scoped to 50 docs (the
    ``udtf_tokenize`` rule): string reverse has a builtin
    (``F.reverse``) that any production plan should use — the point is
    the Arrow serde contract, checked against DuckDB's builtin, not the
    transform. The UDF is nested so it pickles by value."""
    from pyspark.sql.functions import udf

    @udf(returnType="string", useArrow=True)
    def rev(s: str) -> str:
        # NULL-safe (round-8 review): a NULL payload reaches the UDF as
        # None and None[::-1] kills the task, while the oracle's
        # reverse(NULL) is NULL — the one un-null-safe query left after
        # the round-4 "every query null-safe" sweep (its .count()-based
        # probe never executes a pruned UDF projection).
        return None if s is None else s[::-1]

    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", rev("text").alias("rev"))
    )


@query(
    "null_semantics",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 3 END AS v
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(*) FILTER (WHERE v = 1) AS BIGINT) AS eq_one,
           CAST(COUNT(*) FILTER (WHERE v <> 1) AS BIGINT) AS ne_one,
           CAST(COUNT(*) FILTER (WHERE v IS NULL) AS BIGINT) AS is_null,
           CAST(COUNT(*) FILTER (WHERE v IS NOT DISTINCT FROM NULL) AS BIGINT)
             AS nullsafe_null,
           CAST(COUNT(v) AS BIGINT) AS count_v,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM t
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic contract, pinned: ``v = 1`` and ``v <> 1``
    both EXCLUDE nulls (eq_one + ne_one + is_null = total), aggregates
    skip nulls (COUNT(v), SUM(v)), and the null-safe comparator
    (Spark ``<=>`` ≡ SQL ``IS NOT DISTINCT FROM``) treats NULL as a
    comparable value. An engine that gets any of this wrong corrupts
    every outer-join-fed aggregate downstream, so the contract is a
    declared query, not a unit test. Scan-bound single aggregate."""
    docs = table(spark, sf_dir, "documents")
    v = F.when(F.col("doc_id") % 5 != 0, F.col("doc_id") % 3)
    t = docs.select(v.alias("v"))
    return t.agg(
        F.count("*").cast("long").alias("total"),
        F.count(F.when(F.col("v") == 1, True)).cast("long").alias("eq_one"),
        F.count(F.when(F.col("v") != 1, True)).cast("long").alias("ne_one"),
        F.count(F.when(F.col("v").isNull(), True)).cast("long").alias("is_null"),
        F.count(F.when(F.col("v").eqNullSafe(F.lit(None).cast("long")), True))
        .cast("long")
        .alias("nullsafe_null"),
        F.count("v").cast("long").alias("count_v"),
        F.sum("v").cast("long").alias("sum_v"),
    )


@query(
    "join_nullsafe_keys",
    oracle="""
    WITH a AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 7 END AS k
      FROM documents WHERE doc_id < 100
    ), b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE doc_id % 7 END AS k
      FROM documents WHERE doc_id < 100
    )
    SELECT
      CAST((SELECT COUNT(*) FROM a JOIN b ON a.k = b.k) AS BIGINT)
        AS eq_matches,
      CAST((SELECT COUNT(*) FROM a JOIN b
            ON a.k IS NOT DISTINCT FROM b.k) AS BIGINT)
        AS nullsafe_matches
    """,
)
def join_nullsafe_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key join semantics, pinned: a plain equi-join DROPS
    null-keyed rows (NULL = NULL is unknown), while the null-safe
    comparator (Spark ``eqNullSafe`` ≡ SQL ``IS NOT DISTINCT FROM``)
    matches them — the difference between the two counts is exactly
    the null×null pair volume. Entity-resolution and SCD pipelines hit
    this constantly (absent attributes as join keys), and the null-safe
    form still plans as a HASH join (the comparator is an equality on
    a null-tagged key), not a nested loop — which this query's gate
    asserts. The ``null_semantics`` contract, extended to joins."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    a = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 != 0, F.col("doc_id") % 7).alias("k"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_id_b"),
        F.when(F.col("doc_id") % 3 != 0, F.col("doc_id") % 7).alias("k2"),
    )
    eq = a.join(b, a.k == b.k2).agg(F.count("*").alias("eq_matches"))
    ns = a.join(b, a.k.eqNullSafe(b.k2)).agg(
        F.count("*").alias("nullsafe_matches")
    )
    return eq.crossJoin(ns)


@query(
    "delta_time_travel",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 250) AS BIGINT)
        AS v0_rows,
      CAST((SELECT SUM(n_chars) FROM documents WHERE doc_id < 250) AS BIGINT)
        AS v0_chars,
      CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS latest_rows,
      CAST((SELECT SUM(n_chars) FROM documents) AS BIGINT) AS latest_chars
    """,
)
def delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta time travel through the jar-free connector: a two-commit
    table (commit 0 = doc_id < 250, commit 1 appends the rest)
    materializes once per sf_dir, then version-0 and latest snapshots
    read back via log replay (sources/delta.py:read_delta_via_log) and
    aggregate side by side. The oracle runs the same splits on the
    original parquet, so a green row proves BOTH snapshots are exact —
    append isolation and historical reads, not just current-state
    fidelity (``delta_scan``'s half).

    Scale posture matches delta_scan: the log is driver-side metadata;
    both snapshot scans are Spark's native parquet reader."""
    from ..sources.cache import materialize_once
    from ..sources.delta import (
        append_delta_commit,
        read_delta_via_log,
        write_delta_commit0,
    )

    docs = table(spark, sf_dir, "documents")

    def _write(tmp: str) -> None:
        write_delta_commit0(spark, docs.filter(F.col("doc_id") < 250), tmp)
        append_delta_commit(spark, docs.filter(F.col("doc_id") >= 250), tmp)

    base = materialize_once("deltatt", sf_dir, "documents", _write)
    v0 = read_delta_via_log(spark, base, version=0).agg(
        F.count("*").cast("long").alias("v0_rows"),
        F.sum("n_chars").cast("long").alias("v0_chars"),
    )
    latest = read_delta_via_log(spark, base).agg(
        F.count("*").cast("long").alias("latest_rows"),
        F.sum("n_chars").cast("long").alias("latest_chars"),
    )
    return v0.crossJoin(latest)


@query(
    "variant_shred",
    # json_valid guard (round-9 hostile sweep): try_parse_json answers a
    # NULL variant on malformed payloads while DuckDB's ->> RAISES.
    # TRY_CAST on the extracted value (round-10 type-diverse props
    # rows): a non-numeric k must shred to NULL like Spark's
    # try_variant_get, not throw. Booleans are normalized away first —
    # DuckDB TRY_CAST('true' AS BIGINT) answers NULL where a variant
    # could coerce — via an explicit json_type guard.
    oracle=f"""
    WITH p AS (
      -- duplicate-keyed payloads shred to NULL on both sides (round-10
      -- review): the engine's map read keeps the LAST occurrence while
      -- DuckDB's path lookup resolves the FIRST — the shared
      -- functions/jsonx contract, same gate as json_schema_profile
      SELECT CASE WHEN json_valid(props) THEN
               CASE WHEN {X_JSON.dd_no_dup_keys()}
                    THEN props END
             END AS payload
      FROM events
    ), x AS (
      SELECT CASE WHEN json_type(payload, 'k') IN ('UBIGINT', 'BIGINT')
                  THEN TRY_CAST(payload ->> '$.k' AS BIGINT) END AS k
      FROM p
    )
    SELECT k % 10 AS kb,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(k) AS BIGINT) AS ks
    FROM x
    GROUP BY kb ORDER BY kb
    """,
)
def variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: parse
    the JSON payload once into a variant column (binary-encoded,
    shredding-friendly), extract typed paths with
    ``try_variant_get``, and aggregate — the open-schema ingestion
    pattern that replaces rigid from_json structs when payloads evolve
    (new keys appear without schema migrations).

    VARIANT's point at scale: the binary encoding parses the JSON text
    ONCE at ingestion, and every downstream path extraction is a
    binary traversal (no re-parse per expression, which the
    ``get_json_object``-per-column formulation pays). The oracle runs
    DuckDB's JSON operators over the same payloads — same typed
    values, so parse + extraction semantics match exactly."""
    ev = table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: a malformed payload must shred to
    # NULL, not kill the ingestion job (round-9 hostile sweep). The
    # shred is TYPE-STRICT (round-10 type-diverse props rows): bare
    # try_variant_get(..., 'bigint') COERCES a boolean k to 1 and
    # TRUNCATES 1.5 to 1 — silent dirty-data laundering a typed column
    # must not do — so only an integer-typed variant shreds; everything
    # else answers NULL (json_schema_profile is the audit that finds
    # those keys). Duplicate-keyed payloads are likewise
    # out-of-contract (the engines resolve opposite occurrences —
    # json_schema_profile's gate, mirrored in the oracle's p CTE).
    v = ev.select(
        F.when(X_JSON.no_dup_keys(), F.try_parse_json("props")).alias("v")
    )
    kv = F.try_variant_get("v", "$.k", "variant")
    k = F.when(
        F.schema_of_variant(kv) == "BIGINT",
        F.try_variant_get("v", "$.k", "bigint"),
    )
    return (
        v.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("kb"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k").cast("long").alias("ks"),
        )
        .orderBy("kb")
    )


@query(
    "collated_distinct",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               AS s2
      FROM documents
    )
    SELECT CAST(COUNT(DISTINCT s2) AS BIGINT) AS n_binary,
           CAST(COUNT(DISTINCT lower(s2)) AS BIGINT) AS n_lcase
    FROM s
    """,
)
def collated_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collation semantics (Spark 4): distinct counts under
    binary vs case-insensitive (``UTF8_LCASE``) collation over a
    mixed-case derived column. Collation-aware comparison is the
    correct tool where ``lower()`` is only an ASCII approximation
    (Turkish dotless-i, ß); on this ASCII fixture the two agree, which
    is exactly what lets DuckDB's ``lower()`` oracle check the
    collated aggregate. Collation changes COMPARISON, not storage —
    the distinct aggregate hashes the collation key, still
    partial-agg'd map-side."""
    docs = table(spark, sf_dir, "documents")
    s2 = F.when(
        F.col("doc_id") % 2 == 0, F.upper("source")
    ).otherwise(F.col("source"))
    return docs.select(s2.alias("s2")).agg(
        F.count_distinct("s2").cast("long").alias("n_binary"),
        F.count_distinct(F.collate("s2", "UTF8_LCASE")).cast("long").alias("n_lcase"),
    )


_PYDS_ROWS = 100_000
_PYDS_PARTS = 8


@query(
    "python_datasource_scan",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((i * 2654435761) % 1000) AS BIGINT) AS sv,
           CAST(MAX((i * 2654435761) % 1000) AS BIGINT) AS mx
    FROM range({_PYDS_ROWS}) t(i)
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through Spark 4's PYTHON DATA SOURCE API: a
    synthetic source registered as ``format("graft_synth")`` plans its
    own input partitions (8 row-ranges) and streams Arrow record
    batches from pure Python readers — the extension point for reading
    systems Spark has no JVM connector for (internal services, bespoke
    formats), with partition-parallel scans instead of a single-driver
    fetch. The reader yields ONE RecordBatch per partition rather than
    per-row tuples (round-13 optimization, guide §4: the row path
    pickles every tuple across the Python boundary individually).

    The generator is the Knuth multiplicative hash ``(i * 2654435761)
    % 1000``, replicated exactly in the DuckDB oracle over ``range()``
    — so the parity row proves the source's partition planning loses,
    duplicates, and reorders nothing. Classes are defined INSIDE this
    function so cloudpickle ships them by value (workers don't have
    the repo on sys.path — the repo-wide nested-closure rule).
    sf_dir is unused by design: this query checks the CONNECTOR, not a
    fixture table."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangePart(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class SynthReader(DataSourceReader):
        def __init__(self, options):
            self.rows = int(options.get("rows", _PYDS_ROWS))
            self.parts = int(options.get("partitions", _PYDS_PARTS))

        def partitions(self):
            step = -(-self.rows // self.parts)
            return [
                RangePart(s, min(s + step, self.rows))
                for s in range(0, self.rows, step)
            ]

        def read(self, part):
            # Arrow batches, not per-row tuples (round-13, guide §4):
            # the row path pickles 100k tuples across the Python
            # boundary one at a time; yielding ONE RecordBatch per
            # partition keeps the same reader contract (Spark 4's
            # DataSourceReader accepts either) and crosses the boundary
            # columnar — measured 3.3 s → 1.4 s at the bench fixture.
            # int64 arithmetic is exact here: max i · 2654435761 ≈
            # 2.7e14, far inside the 2^63 range.
            import numpy as np
            import pyarrow as pa

            ids = np.arange(part.start, part.end, dtype=np.int64)
            vals = (ids * 2654435761) % 1000
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(vals)], names=["id", "value"]
            )

    class SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "graft_synth"

        def schema(self):
            return "id bigint, value bigint"

        def reader(self, schema):
            return SynthReader(self.options)

    spark.dataSource.register(SynthSource)
    df = (
        spark.read.format("graft_synth")
        .option("rows", _PYDS_ROWS)
        .option("partitions", _PYDS_PARTS)
        .load()
    )
    return df.agg(
        F.count("*").alias("n"),
        F.sum("value").cast("long").alias("sv"),
        F.max("value").cast("long").alias("mx"),
    )


@query(
    "xml_ingest",
    # the XML-1.0 representability gate is mirrored below — see the
    # docstring's round-9 note
    oracle=r"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE text IS NULL
       OR NOT regexp_matches(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')
    GROUP BY lang ORDER BY lang
    """,
)
def xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML round trip (Spark 4 ships the spark-xml connector
    in-core): documents → XML files (``rowTag=doc``) → XML scan →
    aggregate, with the oracle running on the ORIGINAL parquet — a
    green row proves the writer/reader pair loses, duplicates, and
    mistypes nothing (including XML escaping of the text payload).

    Same materialize-once posture as ``delta_scan``. XML is the
    slowest mainstream format (row-tag parsing, no pushdown, no
    columnar batches — ``delta_scan``'s docstring economics in
    reverse), so its role is INGEST: land once, convert to parquet;
    this query is the fidelity check for that landing step.

    XML-representability gate (round-9 hostile sweep): XML 1.0 cannot
    carry control characters below 0x20 except tab/newline/CR — the
    writer throws ``Invalid white space character (0xb)`` mid-job on a
    vertical-tab doc. Docs containing such bytes are excluded by an
    explicit predicate, mirrored in the oracle, so the landing-step
    contract is 'representable docs round-trip exactly; others are
    routed to a non-XML landing' rather than one bad row killing the
    ingest."""
    from ..sources.cache import materialize_once

    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNull()
        | ~F.col("text").rlike(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")
    )
    base = materialize_once(
        "xml", sf_dir, "documents",
        lambda tmp: docs.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "doc")
        .save(tmp),
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "doc")
        # explicit schema: XML omits null elements, so inference on a
        # null-heavy landing would DROP columns (all-null sweep, round
        # 4) — and at scale inference costs a whole extra pass anyway
        .schema(docs.schema)
        .load(base)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .orderBy("lang")
    )


_PYSTREAM_ROWS = 5000
_PYSTREAM_BATCH = 2000


@query(
    "python_stream_source",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((i * 2654435761) % 1000) AS BIGINT) AS sv
    FROM range({_PYSTREAM_ROWS}) t(i)
    """,
)
def python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector through Spark 4's Python Data Source
    API (``SimpleDataSourceStreamReader``): a pure-Python source emits
    offset-tracked micro-batches (2000 rows each) until exhausted; the
    streaming aggregate over it, drained by ``windows.run_drained`` (one
    ``processAllAvailable``) into a complete-mode memory sink, must
    equal the closed-form oracle — the connector twin of
    ``python_datasource_scan``, proving offsets advance without loss or
    replay across micro-batches.

    This is the extension point for streaming systems Spark has no JVM
    connector for (internal queues, vendor APIs): offsets are the
    source's replay contract, and the same reader recovers from a
    checkpoint by re-reading between committed offsets. Classes nested
    → shipped by value (the repo-wide rule)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    total, step = _PYSTREAM_ROWS, _PYSTREAM_BATCH

    class StreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"offset": 0}

        def read(self, start):
            s = start["offset"]
            e = min(s + step, total)
            rows = [(i, (i * 2654435761) % 1000) for i in range(s, e)]
            return iter(rows), {"offset": e}

        def readBetweenOffsets(self, start, end):
            return iter(
                (i, (i * 2654435761) % 1000)
                for i in range(start["offset"], end["offset"])
            )

    class StreamSource(DataSource):
        @classmethod
        def name(cls):
            return "graft_stream"

        def schema(self):
            return "id bigint, value bigint"

        def simpleStreamReader(self, schema):
            return StreamReader()

    spark.dataSource.register(StreamSource)
    agg = (
        spark.readStream.format("graft_stream")
        .load()
        .agg(
            F.count("*").alias("n"),
            F.sum("value").cast("long").alias("sv"),
        )
    )
    from ..streaming.windows import run_drained

    # one processAllAvailable drains the source: the query triggers until
    # latestOffset stops advancing (3 data batches here); no event-time
    # watermark, so the trailing no-data batch is inert.
    return run_drained(spark, agg, "complete", "pystream", no_data_batches=False)



@query(
    "fuzzy_name_match",
    oracle="""
    WITH s AS (
      SELECT c_custkey, lower(c_name) AS nm FROM customer
      WHERE c_custkey < 150
    )
    SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
    FROM s a JOIN s b
      ON a.c_custkey < b.c_custkey
     AND substr(a.nm, 1, 9) = substr(b.nm, 1, 9)
    WHERE levenshtein(a.nm, b.nm) <= 1
    ORDER BY a_id, b_id
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution name matching: customer-name pairs within edit
    distance 1, blocked on a shared 9-char prefix — the
    blocking-then-scoring shape every record-linkage pipeline uses
    (``dedup_lsh_jaccard_verified``'s candidates→verify discipline
    applied to typo-distance instead of Jaccard).

    The blocking key is the scale story: an unblocked all-pairs
    levenshtein is O(n²·m²); the prefix equi-join keeps candidate
    volume at Σ block² (production blocks on phonetic keys or q-gram
    LSH — same plan, different key), and the quadratic scorer runs
    only inside blocks. Both engines implement the identical DP edit
    distance, so scores agree exactly; the driver-side sample bound
    (c_custkey < 150) keeps the oracle's self-join oracle-sized. On
    THIS fixture the synthetic names all share the prefix, so the block
    is degenerate (one block — the plan shape is what's demonstrated);
    real name distributions split into thousands of blocks."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 150)
        .select("c_custkey", F.lower("c_name").alias("nm"))
    )
    a = cust.select(F.col("c_custkey").alias("a_id"), F.col("nm").alias("na"))
    b = cust.select(F.col("c_custkey").alias("b_id"), F.col("nm").alias("nb"))
    return (
        a.join(
            b,
            (F.col("a_id") < F.col("b_id"))
            & (F.substring("na", 1, 9) == F.substring("nb", 1, 9)),
        )
        .filter(F.levenshtein("na", "nb") <= 1)
        .select("a_id", "b_id", F.levenshtein("na", "nb").cast("long").alias("dist"))
    )


@query(
    "lateral_join_topn",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
    WHERE c.c_custkey < 100
    ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def lateral_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL surface): each customer's top-2
    orders by price, written as the per-row subquery users port from
    OLTP engines. Catalyst DECORRELATES it — the plan is the same
    window/rank-per-key shape the DataFrame formulation produces
    (``window_rank``), not N executions of the subquery; this query
    pins that the lateral SYNTAX lands on the scalable plan. Filter
    kept to custkey < 100 so the oracle's per-row lateral stays
    oracle-sized."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        WHERE c.c_custkey < 100
        ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
        """
    )


@query(
    "sql_udf_scoring",
    oracle="""
    SELECT doc_id,
           round(CAST(least(n_chars, 400) AS DOUBLE) / 400
                 * (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.8 END), 6) AS score
    FROM documents ORDER BY doc_id
    """,
)
def sql_udf_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (``CREATE FUNCTION … RETURN expr``): a reusable
    quality-scoring function defined in SQL and applied per row. Unlike
    every Python UDF path, a SQL UDF INLINES into the plan at analysis
    time — the scoring expression lands inside WholeStageCodegen with
    zero serialization boundary, which makes it the right vehicle for
    shared business logic (one definition, optimizer-visible
    everywhere). The oracle spells the same arithmetic inline; a green
    row proves the function body and its inlining are
    semantics-preserving."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION graft_doc_score(
            n_chars BIGINT, lang STRING) RETURNS DOUBLE
        RETURN CAST(least(n_chars, 400) AS DOUBLE) / 400
               * (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.8 END)
        """
    )
    return spark.sql(
        """
        SELECT doc_id, round(graft_doc_score(n_chars, lang), 6) AS score
        FROM documents ORDER BY doc_id
        """
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem WHERE l_quantity >= 40 AND l_discount <= 0.05
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named ``:param`` binding): the
    injection-safe way user-supplied values enter queries — parameters
    bind as typed literals in the parser, never by string splicing, so
    a hostile value cannot change query structure, and Catalyst still
    constant-folds and PUSHES the bound predicates into the parquet
    scan exactly like hand-written literals (gated below)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem WHERE l_quantity >= :minq AND l_discount <= :maxd
        GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        args={"minq": 40, "maxd": 0.05},
    )


@query(
    "schema_evolution_scan",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(quality) AS BIGINT) AS with_quality,
           CAST(SUM(quality) AS BIGINT) AS quality_sum
    FROM (
      SELECT lang, NULL::BIGINT AS quality FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT lang, n_chars % 100 FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY lang ORDER BY lang
    """,
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (``mergeSchema``): generation-1 files
    were written WITHOUT the ``quality`` column, generation-2 files
    with it; one merged scan reads both generations, old rows
    surfacing NULL — the additive-column evolution every long-lived
    dataset goes through, without rewriting a byte of old data.

    The two generations materialize once per sf_dir (even doc_ids =
    gen-1, odd = gen-2 with quality = n_chars % 100), and the oracle
    reconstructs the same union from the original parquet — a green
    row proves the merged scan neither drops old files nor invents
    non-null values for the missing column. Cost note: mergeSchema
    reconciles footers at planning time; production tables pin the
    merged schema in a catalog instead of re-deriving it per query."""
    import os

    from ..sources.cache import materialize_once

    docs = table(spark, sf_dir, "documents")

    def _write(tmp: str) -> None:
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(
            os.path.join(tmp, "gen=1")
        )
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", (F.col("n_chars") % 100).alias("quality")
        ).write.parquet(os.path.join(tmp, "gen=2"))

    base = materialize_once("evo", sf_dir, "documents", _write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.count("quality").alias("with_quality"),
            F.sum("quality").cast("long").alias("quality_sum"),
        )
        .orderBy("lang")
    )


@query(
    "revenue_yoy_growth",
    oracle="""
    WITH yearly AS (
      SELECT n_name, EXTRACT(year FROM o_orderdate) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, CAST(yr AS BIGINT) AS yr, revenue,
           round((revenue - lag(revenue) OVER w)
                 / nullif(lag(revenue) OVER w, 0), 6) AS yoy
    FROM yearly
    WINDOW w AS (PARTITION BY n_name ORDER BY yr)
    ORDER BY n_name, yr
    """,
)
def revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the BI staple that
    exercises the star join (fact ⋈ customer ⋈ broadcast nation), a
    DECIMAL yearly rollup, and a per-nation lag window in one plan.

    Shape: the nation dim broadcasts (constant-size, the TPC-H rule),
    the customer join keys on custkey, and the rollup partial-aggs to
    |nations × years| rows BEFORE the window — so the lag pass sorts
    a dimension-sized result, not the fact table. NULL yoy on each
    nation's first year and nullif-guarded division, spelled
    identically in both engines."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    yearly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "n_name",
        F.col("yr").cast("long").alias("yr"),
        "revenue",
        F.round((F.col("revenue") - prev) / F.nullif(prev, F.lit(0.0)), 6).alias(
            "yoy"
        ),
    ).orderBy("n_name", "yr")


@query(
    "sql_pipe_syntax",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority, o_orderstatus, o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    ), a AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM b GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority, o_orderstatus, n, total
    FROM a WHERE n >= 5
    ORDER BY o_orderpriority, o_orderstatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's ``|>`` operator chain — the
    FROM-first composable dialect): filter → aggregate → having-style
    filter → order, written as a linear pipeline instead of nested
    subqueries. Same Catalyst plan as the ANSI form — pipe stages are
    pure parser sugar, so pushdown/partial-agg behavior is identical —
    which is exactly what the oracle (the ANSI rewrite in DuckDB)
    verifies. Completes the Spark-4 SQL-surface family
    (VARIANT/collations/parameterized SQL/polymorphic UDTF).

    The revenue sum rides try_cast DECIMAL(18,2) per the poison-row
    rule. Scale shape: one pushed-down scan, one partial-agg'd
    two-key groupBy, a tiny post-agg filter — flat at any corpus
    size."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total
           GROUP BY o_orderpriority, o_orderstatus
        |> WHERE n >= 5
        |> SELECT o_orderpriority, o_orderstatus, n, total
        |> ORDER BY o_orderpriority, o_orderstatus
        """
    )


@query(
    "orc_scan",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ORC round trip: lineitem → ORC files → ORC scan with a
    pushed-down predicate → aggregate, the oracle running on the
    ORIGINAL parquet — a green row proves the ORC writer/reader pair
    loses, duplicates, and mistypes nothing across the second columnar
    format a lakehouse meets in practice (Hive-era warehouses land
    ORC; this is the fidelity check for reading them in place before
    converting).

    Same materialize-once posture as ``delta_scan``/``xml_ingest``.
    Unlike XML, ORC is a first-class columnar source: the quantity
    predicate reaches the ORC reader as a pushed filter and the scan
    prunes to the three referenced columns (PLANS.md shows
    PushedFilters/ReadSchema on the OrcScan exactly as on parquet), so
    the round trip also certifies that the FAST path — not just
    correctness — survives the format change. Revenue rides try_cast
    DECIMAL(18,2) per the poison-row rule."""
    from ..sources.cache import materialize_once

    li = table(spark, sf_dir, "lineitem")
    base = materialize_once(
        "orc", sf_dir, "lineitem",
        lambda tmp: li.write.mode("overwrite").orc(tmp),
    )
    return (
        spark.read.orc(base)
        .filter(F.col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("try_cast(l_extendedprice AS DECIMAL(18,2))"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )
