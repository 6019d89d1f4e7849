package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Fixtures._

/** TPC-H-style analytic queries over the sf fixture tables. */
object TpchGates {

  val gates: Seq[Gate] = Seq(
    // ----- TPC-H-style analytics (bench headliners) --------------------
    Gate("q1_pricing")((s, dir) =>
      li(s, dir)
        .where(col("l_shipdate") <= to_timestamp(lit("1998-12-31")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")) {
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(round(avg(l_quantity), 6) AS DOUBLE) AS avg_qty,
        |  CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    },
    Gate("q3_shipping")((s, dir) => {
      val cust = tbl(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val orders = tbl(s, dir, "orders")
      li(s, dir)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("rev4"))
        .select(col("l_orderkey"),
          round(col("rev4").cast(DecimalType(20, 0)) * lit(BigDecimal("0.0001")), 2)
            .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }) {
      // exact on both sides: a bigint sum in units of 1/10000, rounded
      // once as a decimal — a double sum's last bit depends on the
      // engine's summation order and can flip a half-cent
      """SELECT l_orderkey,
        |  CAST(round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DECIMAL(20,0))
        |    * 0.0001, 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin
    },
    Gate("q5_region")((s, dir) => {
      val nation = tbl(s, dir, "nation")
      val region = tbl(s, dir, "region").where(col("r_name") === "ASIA")
      val cust = tbl(s, dir, "customer")
      val supp = tbl(s, dir, "supplier")
      li(s, dir)
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }) {
      """SELECT n_name,
        |  CAST(round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS DOUBLE)
        |    AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin
    },

    // Order-priority census over orders with at least one returned
    // item (TPC-H Q4's shape adapted to the fixture columns): the
    // EXISTS subquery is a LEFT SEMI join — the probe side never
    // duplicates orders however many lineitems match, and Spark plans
    // it as a semi hash join, not a distinct-after-inner.
    Gate("q4_priority")((s, dir) => {
      val returned = li(s, dir).where(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      tbl(s, dir, "orders")
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }) {
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    },
    // Bilateral shipping volume (TPC-H Q7's shape): revenue per
    // (supplier nation, customer nation) pair — the two nation hops
    // ride broadcast dimension joins; only the lineitem⋈orders spine
    // shuffles.
    Gate("q7_volume")((s, dir) => {
      val n1 = tbl(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = tbl(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      li(s, dir)
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where(col("supp_nation") < col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        // the per-row double product is bitwise-identical in any
        // engine; casting it to decimal BEFORE the sum makes the
        // aggregation exact, so a ~7-digit revenue cannot drift in the
        // cents digit with summation order (q5's smaller sums never
        // hit this; these do)
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("supp_nation", "cust_nation")
    }) {
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name < n2.n_name
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // Customer order-count distribution (TPC-H Q13's shape): LEFT
    // OUTER join so zero-order customers land in bucket 0, then a
    // second aggregation over the per-customer counts — the classic
    // two-level agg whose first level must count MATCHES, not rows.
    Gate("q13_distribution")((s, dir) => {
      val ords = tbl(s, dir, "orders")
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      tbl(s, dir, "customer")
        .join(ords, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("n_custs"))
        .orderBy(col("c_count"))
    }) {
      """SELECT c_count, CAST(count(*) AS BIGINT) AS n_custs FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY c_count""".stripMargin
    },
    // Large-volume orders (TPC-H Q18's shape): the HAVING subquery is
    // a grouped aggregate joined back to orders/customer — sum once,
    // filter on the aggregate, never re-scan lineitem per order.
    Gate("q18_toporders")((s, dir) => {
      val big = li(s, dir).groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .where(col("sum_qty") > 250)
      tbl(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
        .orderBy("o_orderkey")
    }) {
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin
    },

    // Small-quantity revenue (TPC-H Q17's shape): the correlated
    // scalar subquery `l_quantity < 0.2 * avg(quantity per part)`
    // decorrelates into ONE grouped aggregate over the brand-filtered
    // lineitems joined back by partkey — never a per-row rescan. The
    // threshold compares 5·qty·n < sum(qty) in exact decimal, so no
    // float-boundary row can flip between engines.
    Gate("q17_smallqty")((s, dir) => {
      val part = tbl(s, dir, "part").where(col("p_brand") === "Brand#12")
        .select("p_partkey")
      val l12 = li(s, dir)
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("l_quantity"), col("l_extendedprice"))
      val thresh = l12.groupBy("p_partkey")
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("sq"),
          count(lit(1)).as("nq"))
      l12.join(broadcast(thresh), Seq("p_partkey"))
        .where(col("l_quantity").cast("decimal(18,6)") * 5 * col("nq") < col("sq"))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,6)")) / 7.0, 2)
            .cast("double").as("avg_yearly"),
          count(lit(1)).as("n_small"))
    }) {
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0 AS DOUBLE), 2)
        |    AS avg_yearly,
        |  count(*) AS n_small
        |FROM lineitem l, part p
        |WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#12'
        |  AND CAST(l.l_quantity AS DECIMAL(18,6)) * 5 *
        |      (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |    < (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,6)))
        |       FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin
    },
    // Excess-volume suppliers (TPC-H Q20's shape): the nested
    // IN (… IN (…) GROUP BY … HAVING …) chain — part-name prefix
    // filter broadcast into lineitem, per-supplier HAVING aggregate,
    // then a LEFT SEMI into the nation-filtered supplier table.
    Gate("q20_excess")((s, dir) => {
      val pk = tbl(s, dir, "part").where(col("p_name").startsWith("sm"))
        .select("p_partkey")
      val bigSupp = li(s, dir)
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(round(sum("l_quantity"), 2).as("sm_qty"))
        .where(col("sm_qty") > 300)
      val nat = tbl(s, dir, "nation").where(col("n_name") === "NATION_3")
      tbl(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(bigSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))
        .orderBy("s_name")
    }) {
      """SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'sm%')
        |    GROUP BY l_suppkey
        |    HAVING round(sum(l_quantity), 2) > 300)
        |ORDER BY s_name""".stripMargin
    },
    // Suppliers who kept finished orders waiting (TPC-H Q21's shape,
    // adapted to the fixture's returnflag as the lateness marker):
    // semi-join on finished orders, EXISTS another supplier's line in
    // the same order, NOT EXISTS another supplier's RETURNED line —
    // equi-key semi/anti joins with a non-equi residual, never a
    // cartesian.
    Gate("q21_waiting")((s, dir) => {
      val l = li(s, dir)
      val l1 = l.where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val ordF = tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select("o_orderkey")
      val l2 = l.select(col("l_orderkey").as("l2_ok"), col("l_suppkey").as("l2_sk"))
      val l3 = l.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("l3_ok"), col("l_suppkey").as("l3_sk"))
      l1.join(ordF, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(l2, col("l_orderkey") === col("l2_ok") &&
          col("l_suppkey") =!= col("l2_sk"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_ok") &&
          col("l_suppkey") =!= col("l3_sk"), "left_anti")
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }) {
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1, orders o, supplier s
        |WHERE l1.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R' AND l1.l_suppkey = s.s_suppkey
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 20""".stripMargin
    },
    // Dormant prospects (TPC-H Q22's shape): scalar-average subquery
    // (exact decimal cross-multiply, as q17) + LEFT ANTI join against
    // urgent orders (every fixture customer has SOME order, so the
    // anti-join side is priority-filtered to stay non-degenerate),
    // grouped by market segment standing in for the phone country
    // code.
    Gate("q22_prospects")((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val avgBal = cust.where(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast("decimal(18,6)")).as("sbal"),
          count(lit(1)).as("nbal"))
      cust.join(tbl(s, dir, "orders")
            .where(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(avgBal))
        .where(col("c_acctbal").cast("decimal(18,6)") * col("nbal") > col("sbal"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double").as("totacctbal"))
        .orderBy("c_mktsegment")
    }) {
      """WITH bal AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS sbal, count(*) AS nbal
        |  FROM customer WHERE c_acctbal > 0
        |)
        |SELECT c_mktsegment,
        |  count(*) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
        |FROM customer, bal
        |WHERE CAST(c_acctbal AS DECIMAL(18,6)) * nbal > sbal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
    },
    // Minimum-cost supplier (TPC-H Q2's shape, lineitem standing in for
    // partsupp): the correlated `= (SELECT min(cost) ...)` decorrelates
    // into ONE per-part min over the region-filtered offers joined back
    // on (partkey, cost = min) — the offers subplan is built once and
    // feeds both the min aggregate and the join-back (the two legs
    // shuffle on different keys, so the exchange itself is not shared).
    // Equality on l_extendedprice compares stored doubles (min of a set
    // is a member of it), so no epsilon is needed.
    Gate("q2_mincost")((s, dir) => {
      val eu = tbl(s, dir, "nation")
        .join(broadcast(tbl(s, dir, "region").where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val suppEu = tbl(s, dir, "supplier")
        .join(broadcast(eu), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val partF = tbl(s, dir, "part").where(col("p_size") < 10)
        .select(col("p_partkey"), col("p_name"))
      val offers = li(s, dir)
        .join(broadcast(suppEu), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          round(col("s_acctbal"), 2).as("s_acctbal"), col("n_name"),
          col("l_extendedprice"))
      val minCost = offers.groupBy(col("p_partkey").as("mc_pk"))
        .agg(min(col("l_extendedprice")).as("min_cost"))
      offers
        .join(minCost, col("p_partkey") === col("mc_pk") &&
          col("l_extendedprice") === col("min_cost"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name", "min_cost")
        .distinct()
        .orderBy("p_partkey", "s_name")
        .limit(100)
    }) {
      // classic correlated `= (SELECT min ...)` form — DuckDB
      // decorrelates it itself, pinning the Spark-side manual
      // decorrelation
      """SELECT DISTINCT p_partkey, p_name, s_name,
        |  round(s_acctbal, 2) AS s_acctbal, n_name,
        |  l_extendedprice AS min_cost
        |FROM part, lineitem, supplier, nation, region
        |WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size < 10
        |  AND l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2, supplier s2, nation n2, region r2
        |    WHERE l2.l_partkey = p_partkey AND l2.l_suppkey = s2.s_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY p_partkey, s_name LIMIT 100""".stripMargin
    },
    // National market share (TPC-H Q8's shape): EUROPE customers'
    // SMALL-part market by order year, numerator restricted to one
    // supplier nation via a conditional aggregate — the share's two
    // legs come out of ONE pass, never two scans. Dimensions all ride
    // broadcasts; only lineitem⋈orders shuffles.
    Gate("q8_marketshare")((s, dir) => {
      val natC = tbl(s, dir, "nation")
        .join(broadcast(tbl(s, dir, "region").where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val natS = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")
      li(s, dir)
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "part").where(col("p_type") === "SMALL")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(natC), col("c_nationkey") === col("cn_key"))
        .join(broadcast(tbl(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_7", vol)
            .otherwise(lit(0).cast("decimal(18,6)"))), 2).cast("double").as("nation_vol"),
          round(sum(vol), 2).cast("double").as("total_vol"),
          count(lit(1)).as("n"))
        .orderBy("o_year")
    }) {
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(sum(CASE WHEN n2.n_name = 'NATION_7'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS nation_vol,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_vol,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'EUROPE' AND p_type = 'SMALL'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // Product-line profit (TPC-H Q9's shape, retail-price stand-in for
    // ps_supplycost): profit per supplier nation per ship year over a
    // part-name filter — name filter broadcast into the fact scan, one
    // grouped aggregate, exact decimal accumulation of the per-row
    // double products.
    Gate("q9_profit")((s, dir) => {
      val profit =
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)") -
        (lit(0.6) * col("p_retailprice") * col("l_quantity")).cast("decimal(18,6)")
      li(s, dir)
        .join(broadcast(tbl(s, dir, "part").where(col("p_name").contains("bolt"))
          .select("p_partkey", "p_retailprice")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(tbl(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("bigint").as("o_year"))
        .agg(round(sum(profit), 2).cast("double").as("sum_profit"),
          count(lit(1)).as("n"))
        .orderBy(col("nation"), col("o_year").desc)
    }) {
      """SELECT n_name AS nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |  CAST(round(sum(
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) -
        |    CAST(CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity
        |      AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin
    },
    // Returned-item revenue ranking (TPC-H Q10's shape): revenue lost
    // to returns per customer over one order year, top 20 — the
    // big⋈big lineitem⋈orders spine shuffles once; customer/nation
    // ride broadcasts; ties on the rounded revenue are broken by the
    // unique customer key so LIMIT is deterministic.
    Gate("q10_returns")((s, dir) => {
      li(s, dir).where(col("l_returnflag") === "R")
        .join(tbl(s, dir, "orders")
            .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }) {
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
    },
    // Important stock value (TPC-H Q11's shape): per-part value from
    // one nation's suppliers, kept when above a fixed fraction of the
    // total — the scalar-subquery total rides a broadcast crossJoin of
    // ONE row, and the threshold compares value·1000 > total in exact
    // decimal instead of multiplying by a float fraction.
    Gate("q11_stock")((s, dir) => {
      val suppN = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation").where(col("n_name") === "NATION_2")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val vals = li(s, dir)
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("value_dec"))
      val total = vals.agg(sum(col("value_dec")).as("total_dec"))
      vals.crossJoin(broadcast(total))
        .where(col("value_dec") * 1000 > col("total_dec"))
        .select(col("p_partkey"),
          round(col("value_dec"), 2).cast("double").as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    }) {
      """WITH vals AS (
        |  SELECT l_partkey AS p_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS value_dec
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_2'
        |  GROUP BY 1)
        |SELECT p_partkey,
        |  CAST(round(value_dec, 2) AS DOUBLE) AS value
        |FROM vals
        |WHERE value_dec * 1000 > (SELECT sum(value_dec) FROM vals)
        |ORDER BY value DESC, p_partkey""".stripMargin
    },
    // Shipping-priority split (TPC-H Q12's shape, linestatus standing
    // in for shipmode): per lineitem status over one ship year, how
    // many orders were high-priority vs not — the CASE lives inside
    // the aggregate so both counts come from one pass over the
    // lineitem⋈orders shuffle.
    Gate("q12_priority")((s, dir) => {
      val high = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      li(s, dir)
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }) {
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
    },
    // Promotion revenue share (TPC-H Q14's shape): one ship month,
    // promo vs total revenue from a single conditional aggregate over
    // the broadcast part join — never two scans of lineitem.
    Gate("q14_promo")((s, dir) => {
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")
      li(s, dir)
        .where(col("l_shipdate") >= lit("1998-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .join(broadcast(tbl(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,6)"))), 2).cast("double").as("promo_rev"),
          round(sum(rev), 2).cast("double").as("total_rev"),
          sum(when(col("p_type") === "PROMO", 1L).otherwise(0L)).as("n_promo"),
          count(lit(1)).as("n_total"))
    }) {
      """SELECT
        |  CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS promo_rev,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_rev,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_promo,
        |  CAST(count(*) AS BIGINT) AS n_total
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-03-01'
        |  AND l_shipdate < TIMESTAMP '1998-04-01'""".stripMargin
    },
    // Top supplier (TPC-H Q15's shape): quarterly revenue per supplier
    // as a shared subplan — the max-revenue scalar is an aggregate OVER
    // the same grouped aggregate, joined back on exact-decimal equality
    // so Catalyst reuses one exchange for both legs instead of
    // recomputing the revenue view.
    Gate("q15_topsupplier")((s, dir) => {
      val rev = li(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp") &&
          // explicit, though never null in the data: the join-back leg
          // infers isnotnull(l_suppkey) on its side, and the max leg
          // must canonicalize to the SAME subtree for Catalyst to reuse
          // one exchange for both
          col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_rev"))
      rev.crossJoin(broadcast(top))
        .where(col("rev_dec") === col("max_rev"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("rev_dec"), 2).cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }) {
      // classic view + scalar max form, as the TPC-H text writes it
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
        |      AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(round(rev_dec, 2) AS DOUBLE) AS total_rev
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE rev_dec = (SELECT max(rev_dec) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin
    },
    // Parts/supplier relationship count (TPC-H Q16's shape,
    // negative-balance suppliers standing in for the complaints NOT
    // IN): distinct supplier count per (brand, type, size) over the
    // lineitem-derived part⋈supplier pairs, excluded suppliers removed
    // by a broadcast anti-join BEFORE the distinct shuffle.
    Gate("q16_partsupp")((s, dir) => {
      val excl = tbl(s, dir, "supplier").where(col("s_acctbal") < 0)
        .select("s_suppkey")
      val partF = tbl(s, dir, "part")
        .where(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      li(s, dir).select("l_partkey", "l_suppkey")
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
        .limit(50)
    }) {
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 50""".stripMargin
    },
    // Disjunctive predicate revenue (TPC-H Q19's shape): three
    // brand/size/quantity conjunctions OR-ed together — the part
    // filter is the union of the brand legs so the broadcast stays
    // small, and the residual disjunction evaluates inside the join,
    // never as a fallback nested loop.
    Gate("q19_disjunct")((s, dir) => {
      val p = tbl(s, dir, "part")
        .where(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey", "p_brand", "p_size")
      val legs =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 25) &&
          col("l_quantity").between(20, 30))
      li(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(legs)
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }) {
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE
        |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin
    },

    // ----- TPC-H q6: forecast revenue (scan + filter + agg, no shuffle
    // beyond the final 1-row combine) --------------------------------------
    // Range predicate, not year(col)==1996: a function over the column
    // defeats parquet filter pushdown; the half-open timestamp range
    // reaches the scan as PushedFilters (asserted by PlanAuditSpec).
    Gate("q6_forecast")((s, dir) =>
      li(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.08) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))) {
      """SELECT CAST(round(sum(l_extendedprice * l_discount), 2) AS DOUBLE)
        |  AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.08
        |  AND l_quantity < 24""".stripMargin
    },
  )

  /** A two-decimal amount the fixture stores as a double, as exact
    * integer cents (the double lies within an ulp of them). */
  private def cents(c: String): Column = rint(col(c) * 100).cast("long")
}
