"""Classic decision-support shapes, part 2 — the TPC-H patterns not yet
in operators/classics.py: correlated-min supplier selection (Q2), market
share (Q8), product profit (Q9), important-stock threshold (Q11),
supplier relationship anti-join census (Q16), majority-share semi-join
(Q20), and the sole-responsible-supplier multi-EXISTS (Q21). With these
the engine covers every TPC-H query shape expressible on the driver's
star schema (no partsupp table, no commit/receipt dates — adaptations
follow the xq* family's conventions and say what they substituted).

Same determinism discipline as classics.py: integer cents × basis-point
micros for money (order-independent, engine-exact), CAST(... AS BIGINT)
on every integer aggregate the oracle projects (the round-3 HUGEINT→
float64 hash lesson), total-order tiebreaks on every top-k.

(``yq`` prefix: sorts after the round-4 driver window's last name
(xq01) AND after every queued x* name, so these queue behind the
existing backlog without evicting anyone's first check.)

Scale notes (100 TB): dims broadcast (nation/region/supplier/part at
TPC-H proportions; at larger dim scale the joins degrade gracefully to
shuffle joins on the same keys); each query has exactly one fact-sized
shuffle — the (group-key) rollup of lineitem — and the correlated /
EXISTS forms are all spelled as co-keyed aggregate+join (never a per-row
subquery), so AQE can reuse the exchange partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.classics import _rev_micros
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: lineitem revenue in micros: cents(extendedprice) * (10000 - bp(discount))
_REV_MICROS_SQL = (
    "SUM(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (10000 - CAST(round(l_discount * 10000) AS BIGINT)))"
)


# ---------------------------------------------------------------------------
# yq02 — Q2 shape: minimum-cost supplier per part (correlated min)
# ---------------------------------------------------------------------------


@register(
    "yq02_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    mn AS (SELECT l_partkey, MIN(cents) AS min_cents FROM ps GROUP BY l_partkey)
    SELECT p.p_partkey, p.p_name, s.s_name, ps.cents AS min_cents
    FROM ps
    JOIN mn ON mn.l_partkey = ps.l_partkey AND ps.cents = mn.min_cents
    JOIN part p ON p.p_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE p.p_size <= 5
    ORDER BY p.p_partkey, s.s_name
    """,
    doc=(
        "TPC-H Q2 shape (minimum-cost supplier, adapted: observed "
        "lineitem spend per (part, supplier) stands in for the missing "
        "partsupp.ps_supplycost): the correlated-min pattern — "
        "per-group min computed over the already-aggregated (part, "
        "supplier) frame as a partitioned window (one exchange on the "
        "rollup, one on the part key — no separate min-aggregate + "
        "join-back, which would cost a third exchange), never a "
        "per-row subquery. Ties legitimately return multiple suppliers "
        "(exact integer cents makes tie semantics deterministic); "
        "part/supplier dims broadcast."
    ),
    tags=("classic", "join", "correlated"),
)
def yq02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    mn = F.min("cents").over(Window.partitionBy("l_partkey"))
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5).select("p_partkey", "p_name")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ps.withColumn("min_cents", mn)
        .where(F.col("cents") == F.col("min_cents"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name", F.col("cents").alias("min_cents"))
        .orderBy("p_partkey", "s_name")
    )


# ---------------------------------------------------------------------------
# yq08 — Q8 shape: national market share within a region, by year
# ---------------------------------------------------------------------------

#: Q8's focus nation and its market = every supplier in the same region.
_Q8_NATION = "NATION_5"


@register(
    "yq08_market_share",
    oracle=f"""
    WITH home AS (
      SELECT n_regionkey FROM nation WHERE n_name = '{_Q8_NATION}'
    ),
    market AS (
      SELECT s.s_suppkey, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN home h ON h.n_regionkey = n.n_regionkey
    )
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN m.n_name = '{_Q8_NATION}'
                         THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                              * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
                         ELSE 0 END) AS BIGINT) AS nation_micros,
           CAST({_REV_MICROS_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS BIGINT) AS total_micros,
           CAST(SUM(CASE WHEN m.n_name = '{_Q8_NATION}'
                         THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                              * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
                         ELSE 0 END) * 1000000
                // {_REV_MICROS_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}
                AS BIGINT) AS share_ppm
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN market m ON m.s_suppkey = l.l_suppkey
    GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
    ORDER BY o_year
    """,
    doc=(
        f"TPC-H Q8 shape (national market share): {_Q8_NATION}'s share "
        "of its own region's supplied revenue per order year, as an "
        "exact integer-ppm ratio of micros sums (one conditional "
        "aggregate — numerator and denominator in the SAME pass, no "
        "self-join of the two populations). The market is defined "
        "self-containedly as every supplier whose nation shares the "
        "focus nation's region. Supplier→nation→region resolve "
        "broadcast-side; orders⋈lineitem is the one fact shuffle; "
        "the (year) rollup map-combines to O(#years)."
    ),
    tags=("classic", "aggregate", "ratio"),
)
def yq08(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    home_rk = nation.where(F.col("n_name") == _Q8_NATION).select("n_regionkey")
    market = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(home_rk), "n_regionkey")
        .select("s_suppkey", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    micros = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        F.lit(10000) - F.round(F.col("l_discount") * 10000).cast("bigint")
    )
    joined = (
        li.join(F.broadcast(market), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.when(F.col("n_name") == _Q8_NATION, micros).otherwise(F.lit(0)).alias("nm"),
            micros.alias("tm"),
        )
    )
    return (
        joined.groupBy("o_year")
        # DECIMAL(38,0) accumulators: per-year total micros ~3e16 already at
        # SF1, so a BIGINT SUM wraps near SF300 while the oracle's HUGEINT
        # stays exact. The int64 output casts stay loud (Spark NULLs, DuckDB
        # errors) instead of silently wrapping once a year's total passes
        # 2^63 — at that point the micros columns themselves outgrow the
        # contract, but the ppm below never does.
        .agg(
            F.sum(F.col("nm").cast("decimal(38,0)")).alias("nm_d"),
            F.sum(F.col("tm").cast("decimal(38,0)")).alias("tm_d"),
        )
        .select(
            "o_year",
            F.col("nm_d").cast("bigint").alias("nation_micros"),
            F.col("tm_d").cast("bigint").alias("total_micros"),
            # DECIMAL(38,0) long division on the PRE-cast sums: nation_micros
            # * 1e6 wraps int64 already at this SF (the xq10 ppm lesson), and
            # staged base-1000 division is NOT safe either — its remainder
            # *1000 is bounded by total_micros*1000 ~ 3e19 at SF1, past 2^63.
            # Spark's decimal DIV is exact integral division returning
            # BIGINT, matching the oracle's HUGEINT floor bit-for-bit.
            F.expr("CAST(nm_d * 1000000 DIV tm_d AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# yq09 — Q9 shape: product-line profit by supplier nation and year
# ---------------------------------------------------------------------------

#: Q9's p_name LIKE filter, adapted to the fixture's "<adj> <noun>" names.
_Q9_NAME_FRAG = "red"


@register(
    "yq09_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
                    - CAST(round(p.p_retailprice * 100) AS BIGINT)
                      * CAST(ROUND(l.l_quantity) AS BIGINT) * 10000
               ) AS BIGINT) AS profit_micros
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%{_Q9_NAME_FRAG}%'
    GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
    ORDER BY nation, o_year
    """,
    doc=(
        "TPC-H Q9 shape (product-line profit, adapted: retailprice × "
        "quantity stands in for the missing ps_supplycost): profit = "
        "discounted revenue minus cost, per supplier nation per order "
        "year, over parts matching a name fragment. All money in exact "
        "micros (cents × bp; cost cents × qty × 1e4 — same unit), "
        "quantity through ROUND-then-CAST (Spark CAST truncates where "
        "DuckDB rounds; ROUND first is the engine-exact spelling). "
        "part/supplier/nation broadcast with the name filter pushed to "
        "the part scan; orders⋈lineitem is the one fact shuffle."
    ),
    tags=("classic", "join", "aggregate"),
)
def yq09(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like(f"%{_Q9_NAME_FRAG}%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (F.lit(10000) - F.round(F.col("l_discount") * 10000).cast("bigint"))
        - F.round(F.col("p_retailprice") * 100).cast("bigint")
        * F.round(F.col("l_quantity")).cast("bigint")
        * F.lit(10000)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        # DECIMAL(38,0) accumulator: the profit addend is micros-scale
        # (~1e11/row), so per-(nation,year) BIGINT sums wrap at large SF
        # while the oracle's HUGEINT stays exact (_rev_micros discipline).
        .agg(F.sum(profit.cast("decimal(38,0)")).cast("bigint").alias("profit_micros"))
        .orderBy("nation", "o_year")
    )


# ---------------------------------------------------------------------------
# yq11 — Q11 shape: important stock (global-threshold scalar subquery)
# ---------------------------------------------------------------------------

#: Keep (nation, part) positions above MULT × the mean position value.
#: TPC-H's literal fraction-of-total cut (0.0001/SF) shrinks with data
#: volume, so any fixed fraction degenerates to an empty (vacuous-oracle)
#: or all-rows result away from one SF; anchoring to the mean is
#: SF-invariant and keeps the check non-trivial at every test SF.
_Q11_MULT = 3


@register(
    "yq11_important_stock",
    oracle=f"""
    WITH pos AS (
      SELECT n.n_name AS nation, l.l_partkey,
             CAST({_REV_MICROS_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS BIGINT) AS value_micros
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name, l.l_partkey
    ),
    tot AS (SELECT SUM(value_micros) AS total, COUNT(*) AS n FROM pos)
    SELECT pos.nation, pos.l_partkey, pos.value_micros
    FROM pos, tot
    WHERE CAST(pos.value_micros AS HUGEINT) * tot.n > {_Q11_MULT} * tot.total
    ORDER BY pos.value_micros DESC, pos.nation, pos.l_partkey
    """,
    doc=(
        "TPC-H Q11 shape (important stock, adapted: lineitem revenue "
        "position per (supplier nation, part) stands in for partsupp "
        "availqty × supplycost): positions exceeding a multiple of the "
        "GLOBAL mean position — the scalar-subquery-threshold pattern, "
        "spelled as a 1-row broadcast crossJoin and an integer cross-"
        "multiplication (value × n > 3 × total ⟺ value > 3·mean — no "
        "float division anywhere; exact 128-bit on both factors). One "
        "fact rollup shuffle on the composite key; the compare is free."
    ),
    tags=("classic", "aggregate", "scalar-subquery"),
)
def yq11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pos = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "l_partkey")
        .agg(_rev_micros().cast("bigint").alias("value_micros"))
    )
    # The GLOBAL position total is full-corpus revenue micros — a BIGINT
    # accumulator wraps near SF40 (per-position sums stay comfortably
    # int64). Total and threshold compare run in exact DECIMAL(38,0) /
    # HUGEINT on both sides; no down-cast anywhere on this path.
    tot = pos.agg(
        F.sum(F.col("value_micros").cast("decimal(38,0)")).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        pos.crossJoin(F.broadcast(tot))
        .where(
            F.col("value_micros").cast("decimal(38,0)") * F.col("n")
            > _Q11_MULT * F.col("total")
        )
        .select("nation", "l_partkey", "value_micros")
        .orderBy(F.col("value_micros").desc(), "nation", "l_partkey")
    )


# ---------------------------------------------------------------------------
# yq16 — Q16 shape: supplier-relationship census with an anti-join blacklist
# ---------------------------------------------------------------------------


@register(
    "yq16_supplier_relationship",
    oracle="""
    WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
    rel AS (
      SELECT DISTINCT p.p_brand, p.p_type, p.p_size, l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_size <= 8
        AND l.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    )
    SELECT p_brand, p_type, p_size, COUNT(*) AS supplier_cnt
    FROM rel
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc=(
        "TPC-H Q16 shape (parts/suppliers relationship, adapted: "
        "observed lineitem supply edges stand in for partsupp; "
        "negative account balance stands in for the complaints "
        "blacklist): distinct supplier count per (brand, type, size) "
        "EXCLUDING blacklisted suppliers — the anti-join + "
        "count-distinct census. Blacklist is a broadcast "
        "left_anti join (never a NOT IN subquery per row); distinct "
        "collapses edge multiplicity BEFORE the count so the rollup "
        "carries relationship edges, not lineitems."
    ),
    tags=("classic", "anti-join", "aggregate"),
)
def yq16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_size") <= 8)
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    rel = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        rel.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# yq20 — Q20 shape: majority-share suppliers (nested aggregate + semi-join)
# ---------------------------------------------------------------------------

_Q20_YEAR = 1997


@register(
    "yq20_majority_share_suppliers",
    oracle=f"""
    WITH sp AS (
      SELECT l_suppkey, l_partkey,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{_Q20_YEAR}-01-01'
        AND l_shipdate <  TIMESTAMP '{_Q20_YEAR + 1}-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    pt AS (SELECT l_partkey, CAST(SUM(sq) AS BIGINT) AS tq FROM sp GROUP BY l_partkey)
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM sp JOIN pt ON pt.l_partkey = sp.l_partkey
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    WHERE 2 * sp.sq > pt.tq
    ORDER BY s.s_suppkey
    """,
    doc=(
        f"TPC-H Q20 shape (suppliers with excess share, adapted: "
        f"majority of a part's {_Q20_YEAR} shipped quantity stands in "
        "for the half-of-availqty partsupp test): nested aggregation — "
        "per-(supplier, part) quantity, per-part total ON TOP of that "
        "rollup (never a second scan), then the EXISTS spelled as a "
        "join + DISTINCT projection. Both aggregates and the re-join "
        "share the l_partkey domain (one exchange chain); quantities "
        "ROUND-then-CAST exact."
    ),
    tags=("classic", "semi-join", "nested-aggregate"),
)
def yq20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(f"{_Q20_YEAR}-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{_Q20_YEAR + 1}-01-01").cast("timestamp"))
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("sq")
    )
    pt = sp.groupBy("l_partkey").agg(F.sum("sq").cast("bigint").alias("tq"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sp.join(pt, "l_partkey")
        .where(2 * F.col("sq") > F.col("tq"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# yq21 — Q21 shape: sole responsible supplier on multi-supplier orders
# ---------------------------------------------------------------------------


@register(
    "yq21_sole_return_supplier",
    oracle="""
    WITH per AS (
      SELECT l_orderkey, l_suppkey,
             MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    ord AS (
      SELECT l_orderkey,
             COUNT(*) AS n_supp,
             CAST(SUM(has_r) AS BIGINT) AS n_r
      FROM per GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM per
    JOIN ord ON ord.l_orderkey = per.l_orderkey
    JOIN supplier s ON s.s_suppkey = per.l_suppkey
    WHERE ord.n_supp >= 2 AND ord.n_r = 1 AND per.has_r = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    """,
    doc=(
        "TPC-H Q21 shape (suppliers who kept orders waiting, adapted: "
        "the 'R' return flag stands in for the missing receipt-vs-"
        "commit lateness; EXISTS other supplier / NOT EXISTS other "
        "late supplier becomes n_supp >= 2 AND n_r = 1): the double-"
        "EXISTS correlated pattern collapsed into ONE per-(order, "
        "supplier) flag rollup + a per-order census WINDOW over it "
        "(partitioned by orderkey — no separate census aggregate + "
        "join-back, which would cost a third exchange). The blamed "
        "supplier is the unique has_r row; final census is "
        "O(#suppliers)."
    ),
    tags=("classic", "exists", "aggregate"),
)
def yq21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    per = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    w = Window.partitionBy("l_orderkey")
    census = per.select(
        "l_suppkey",
        "has_r",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("has_r").over(w).cast("bigint").alias("n_r"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        census.where(
            (F.col("n_supp") >= 2) & (F.col("n_r") == 1) & (F.col("has_r") == 1)
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )
