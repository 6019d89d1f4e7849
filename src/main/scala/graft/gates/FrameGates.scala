package graft
package gates

import org.apache.spark.sql.functions._

import graft.api.GraftFrame
import graft.operators.{Apply, Graph, Layout, Reductions, Sketches, TextOps}
import graft.operators.OpUtil.fan

import Fixtures._

/** Frame operations: reductions, apply/map_partitions, joins and skew,
  * group-by/window/set operations, layout, graph and sketches. */
object FrameGates {

  val gates: Seq[Gate] = Seq(
    // ----- §2.4 named reductions (axis=0) ------------------------------
    Gate("red_sum")((s, dir) => {
      val r = Reductions.sum0(li(s, dir), dCols :+ "l_orderkey")
      r.select(
        round(col("l_quantity"), 2).as("l_quantity"),
        round(col("l_extendedprice"), 2).as("l_extendedprice"),
        round(col("l_discount"), 2).as("l_discount"),
        round(col("l_tax"), 2).as("l_tax"),
        col("l_orderkey"))
    }) {
      """SELECT round(sum(l_quantity), 2) AS l_quantity,
        |round(sum(l_extendedprice), 2) AS l_extendedprice,
        |round(sum(l_discount), 2) AS l_discount,
        |round(sum(l_tax), 2) AS l_tax,
        |CAST(sum(l_orderkey) AS BIGINT) AS l_orderkey
        |FROM lineitem""".stripMargin
    },
    Gate("red_prod")((s, dir) => {
      val sub = li(s, dir).where(col("l_orderkey") <= 64)
        .withColumn("disc_factor", lit(1.0) + col("l_discount"))
      Reductions.prod0(sub, Seq("disc_factor"))
        .select(round(col("disc_factor"), 6).as("disc_factor"))
    }) {
      """SELECT CAST(round(product(1.0 + l_discount), 6) AS DOUBLE) AS disc_factor
        |FROM lineitem WHERE l_orderkey <= 64""".stripMargin
    },
    Gate("red_max")((s, dir) => Reductions.max0(li(s, dir))) {
      """SELECT max(l_orderkey) AS l_orderkey, max(l_partkey) AS l_partkey,
        |max(l_suppkey) AS l_suppkey, max(l_linenumber) AS l_linenumber,
        |max(l_quantity) AS l_quantity, max(l_extendedprice) AS l_extendedprice,
        |max(l_discount) AS l_discount, max(l_tax) AS l_tax
        |FROM lineitem""".stripMargin
    },
    Gate("red_min")((s, dir) => Reductions.min0(li(s, dir))) {
      """SELECT min(l_orderkey) AS l_orderkey, min(l_partkey) AS l_partkey,
        |min(l_suppkey) AS l_suppkey, min(l_linenumber) AS l_linenumber,
        |min(l_quantity) AS l_quantity, min(l_extendedprice) AS l_extendedprice,
        |min(l_discount) AS l_discount, min(l_tax) AS l_tax
        |FROM lineitem""".stripMargin
    },
    Gate("red_count")((s, dir) => Reductions.count0(li(s, dir))) {
      """SELECT count(l_orderkey) AS l_orderkey, count(l_partkey) AS l_partkey,
        |count(l_suppkey) AS l_suppkey, count(l_linenumber) AS l_linenumber,
        |count(l_quantity) AS l_quantity, count(l_extendedprice) AS l_extendedprice,
        |count(l_discount) AS l_discount, count(l_tax) AS l_tax
        |FROM lineitem""".stripMargin
    },
    Gate("red_mean")((s, dir) => {
      val r = Reductions.mean0(li(s, dir), dCols)
      r.select(dCols.map(c => round(col(c), 6).as(c)): _*)
    }) {
      """SELECT CAST(round(avg(l_quantity), 6) AS DOUBLE) AS l_quantity,
        |CAST(round(avg(l_extendedprice), 6) AS DOUBLE) AS l_extendedprice,
        |CAST(round(avg(l_discount), 6) AS DOUBLE) AS l_discount,
        |CAST(round(avg(l_tax), 6) AS DOUBLE) AS l_tax
        |FROM lineitem""".stripMargin
    },
    Gate("red_std")((s, dir) => {
      val r = Reductions.std0(li(s, dir), dCols, ddof = 1)
      r.select(dCols.map(c => round(col(c), 6).as(c)): _*)
    }) {
      """SELECT CAST(round(stddev_samp(l_quantity), 6) AS DOUBLE) AS l_quantity,
        |CAST(round(stddev_samp(l_extendedprice), 6) AS DOUBLE) AS l_extendedprice,
        |CAST(round(stddev_samp(l_discount), 6) AS DOUBLE) AS l_discount,
        |CAST(round(stddev_samp(l_tax), 6) AS DOUBLE) AS l_tax
        |FROM lineitem""".stripMargin
    },
    Gate("red_std_ddof2")((s, dir) => {
      val r = Reductions.std0(li(s, dir), Seq("l_quantity"), ddof = 2)
      r.select(round(col("l_quantity"), 6).as("l_quantity"))
    }) {
      """SELECT CAST(round(sqrt(var_samp(l_quantity) * (count(l_quantity) - 1)
        |  / (count(l_quantity) - 2)), 6) AS DOUBLE) AS l_quantity
        |FROM lineitem""".stripMargin
    },
    Gate("red_all")((s, dir) =>
      Reductions.all0(li(s, dir), Seq("l_quantity", "l_discount"))) {
      """SELECT bool_and(l_quantity <> 0) AS l_quantity,
        |bool_and(l_discount <> 0) AS l_discount
        |FROM lineitem""".stripMargin
    },
    Gate("red_any")((s, dir) =>
      Reductions.any0(li(s, dir), Seq("l_quantity", "l_discount"))) {
      """SELECT bool_or(l_quantity <> 0) AS l_quantity,
        |bool_or(l_discount <> 0) AS l_discount
        |FROM lineitem""".stripMargin
    },
    Gate("red_sum_mincount")((s, dir) =>
      Reductions.sum0(li(s, dir), Seq("l_quantity"), minCount = 10000000)) {
      """SELECT CASE WHEN count(l_quantity) >= 10000000
        |  THEN CAST(sum(l_quantity) AS DOUBLE) END AS l_quantity
        |FROM lineitem""".stripMargin
    },

    // ----- §2.4 axis=1 row reductions ----------------------------------
    Gate("row_sum")((s, dir) => {
      val d = li(s, dir).where(col("l_orderkey") < 400)
      d.select(
        col("l_orderkey"), col("l_linenumber"),
        round(Reductions.rowSum(dCols.map(col)), 4).as("row_sum"))
        .orderBy("l_orderkey", "l_linenumber")
    }) {
      """SELECT l_orderkey, l_linenumber,
        |CAST(round(l_quantity + l_extendedprice + l_discount + l_tax, 4) AS DOUBLE)
        |  AS row_sum
        |FROM lineitem WHERE l_orderkey < 400
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    Gate("row_count")((s, dir) => {
      val d = li(s, dir).where(col("l_orderkey") < 400)
      val maybeNullDisc = when(col("l_discount") > 0, col("l_discount"))
      d.select(
        col("l_orderkey"), col("l_linenumber"),
        Reductions.rowCount(Seq(col("l_quantity"), maybeNullDisc)).as("row_count"))
        .orderBy("l_orderkey", "l_linenumber")
    }) {
      """SELECT l_orderkey, l_linenumber,
        |CAST((CASE WHEN l_quantity IS NOT NULL THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_discount > 0 THEN 1 ELSE 0 END) AS BIGINT) AS row_count
        |FROM lineitem WHERE l_orderkey < 400
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    Gate("row_mean")((s, dir) => {
      val d = li(s, dir).where(col("l_orderkey") < 400)
      val maybeNullDisc = when(col("l_discount") > 0, col("l_discount"))
      d.select(
        col("l_orderkey"), col("l_linenumber"),
        round(Reductions.rowMean(Seq(col("l_quantity"), col("l_tax"), maybeNullDisc)), 6)
          .as("row_mean"))
        .orderBy("l_orderkey", "l_linenumber")
    }) {
      """SELECT l_orderkey, l_linenumber,
        |CAST(round((l_quantity + l_tax + CASE WHEN l_discount > 0 THEN l_discount ELSE 0 END)
        |  / (2 + CASE WHEN l_discount > 0 THEN 1 ELSE 0 END), 6) AS DOUBLE) AS row_mean
        |FROM lineitem WHERE l_orderkey < 400
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    Gate("row_max")((s, dir) => {
      val d = li(s, dir).where(col("l_orderkey") < 400)
      d.select(
        col("l_orderkey"), col("l_linenumber"),
        Reductions.rowMax(Seq(col("l_quantity"), col("l_discount"), col("l_tax"))).as("row_max"),
        Reductions.rowMin(Seq(col("l_quantity"), col("l_discount"), col("l_tax"))).as("row_min"))
        .orderBy("l_orderkey", "l_linenumber")
    }) {
      """SELECT l_orderkey, l_linenumber,
        |greatest(l_quantity, l_discount, l_tax) AS row_max,
        |least(l_quantity, l_discount, l_tax) AS row_min
        |FROM lineitem WHERE l_orderkey < 400
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    // ----- §2.3 apply / map_partitions / generic reduction -------------
    // Reproduces the reference's own smoke test semantics
    // (test_df.py:17-20: myadd(row, a=2, b=1.5) = row.sum() + a + b).
    Gate("apply_rowsum")((s, dir) => {
      import s.implicits._
      val d = li(s, dir)
        .where(col("l_orderkey") < 400)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax")
      val applied = Apply.applyRows(d) { row =>
        val rowSum = row.getLong(0).toDouble + row.getInt(1).toDouble +
          row.getDouble(2) + row.getDouble(3) + row.getDouble(4) + row.getDouble(5)
        (row.getLong(0), row.getInt(1), rowSum + 2.0 + 1.5)
      }
      applied.toDF("l_orderkey", "l_linenumber", "apply_val")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("apply_val"), 4).as("apply_val"))
        .orderBy("l_orderkey", "l_linenumber")
    }) {
      """SELECT l_orderkey, l_linenumber,
        |CAST(round(l_orderkey + l_linenumber + l_quantity + l_extendedprice
        |  + l_discount + l_tax + 2 + 1.5, 4) AS DOUBLE) AS apply_val
        |FROM lineitem WHERE l_orderkey < 400
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    Gate("map_partitions_count")((s, dir) => {
      import s.implicits._
      val counts = Apply.mapPartitions(li(s, dir))(it => Iterator.single(it.size.toLong))
      counts.toDF("c").agg(sum("c").as("n_rows"))
    }) {
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem"
    },
    Gate("reduction_count")((s, dir) => {
      import s.implicits._
      val n = Apply.reduction(li(s, dir))(
        chunk = it => it.size.toLong,
        combine = (a: Long, b: Long) => a + b,
        aggregate = (x: Long) => x)
      Seq(n).toDF("n_rows")
    }) {
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem"
    },
    // partition_info injection: every row sees a valid (number, total)
    // context; the aggregate is partition-count-invariant so the oracle
    // holds under any parallelism.
    Gate("map_partitions_info")((s, dir) => {
      import s.implicits._
      val tagged = Apply.mapPartitionsWithInfo(li(s, dir)) { (info, it) =>
        val ok = info.number >= 0 && info.number < info.numPartitions
        it.map(_ => ok)
      }
      tagged.toDF("ok").agg(
        count(lit(1)).as("n_rows"),
        min(col("ok")).as("all_valid"))
    }) {
      "SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS all_valid FROM lineitem"
    },
    // Multi-frame map_partitions: orders and per-order lineitem counts
    // hash-aligned on the key, then a partition-LOCAL merge join inside
    // the zipped iterators — no row-level join shuffle beyond the two
    // alignment exchanges. Oracle = the plain SQL join.
    Gate("zip_partitions_join")((s, dir) => {
      import s.implicits._
      val ords = tbl(s, dir, "orders").where(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_totalprice"))
      val items = li(s, dir).where(col("l_orderkey") < 2000)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
      val merged = Apply.zipPartitionsAligned(
        ords, items, Seq("o_orderkey"), numPartitions = 8) { (oit, iit) =>
        val counts = iit.map(r => r.getLong(0) -> r.getLong(1)).toMap
        oit.flatMap { r =>
          counts.get(r.getLong(0)).map(n => (r.getLong(0), r.getDouble(1), n))
        }
      }
      merged.toDF("o_orderkey", "o_totalprice", "n_items")
        .agg(count(lit(1)).as("n_matched"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          sum("n_items").as("sum_items"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_matched,
        |  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_price,
        |  CAST(sum(n_items) AS BIGINT) AS sum_items
        |FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 2000) o
        |JOIN (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items
        |      FROM lineitem WHERE l_orderkey < 2000 GROUP BY 1) i
        |  ON o.o_orderkey = i.l_orderkey""".stripMargin
    },

    // ----- §2.2 filter / query facade ----------------------------------
    Gate("filter_query")((s, dir) => {
      new GraftFrame(li(s, dir))
        .query("l_quantity > 45 AND l_discount < 0.02")
        .toDF
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02""".stripMargin
    },

    // ----- §2.4 groupBy.agg --------------------------------------------
    Gate("groupby_agg")((s, dir) => {
      new GraftFrame(li(s, dir)).groupby("l_returnflag")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          count(lit(1)).as("n"))
        .toDF.orderBy("l_returnflag")
    }) {
      """SELECT l_returnflag,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |CAST(round(avg(l_extendedprice), 6) AS DOUBLE) AS avg_price,
        |CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    // ----- §2.5 joins ---------------------------------------------------
    // Broadcast join: orders ⋈ customer (dimension side broadcast — no
    // shuffle of the fact side; the 100 TB-correct plan for small dims).
    Gate("join_broadcast")((s, dir) => {
      val orders = new GraftFrame(tbl(s, dir, "orders")
        .withColumnRenamed("o_custkey", "custkey"))
      val cust = new GraftFrame(tbl(s, dir, "customer")
        .withColumnRenamed("c_custkey", "custkey"))
      orders.merge(cust, Seq("custkey"), "inner", broadcastOther = true)
        .toDF.groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("c_mktsegment")
    }) {
      """SELECT c_mktsegment,
        |CAST(count(*) AS BIGINT) AS n_orders,
        |CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    },
    // Big-big join: lineitem ⋈ orders on the orderkey — shuffle-hash /
    // sort-merge territory; AQE picks at runtime.
    Gate("join_big")((s, dir) => {
      li(s, dir).join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }) {
      """SELECT o_orderpriority,
        |CAST(round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS DOUBLE) AS revenue,
        |CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    },
    // Salted shuffle join (explicit-control skew handling): fact side
    // salted, dim side replicated per salt — same rows as join_big's
    // plain join, proven by sharing its aggregate-and-oracle shape.
    Gate("join_salted")((s, dir) => {
      val dim = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li(s, dir), dim, Seq("l_orderkey"), salts = 8,
          saltCols = Seq("l_orderkey", "l_linenumber"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }) {
      """SELECT o_orderpriority,
        |CAST(round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS DOUBLE) AS revenue,
        |CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    },
    // Zipf-skew stress (round-11 VERDICT item 5): the skew defenses on
    // STATISTICALLY skewed data, not planted structures. Keys follow
    // zipf(s=1, N=8) via integer inverse-CDF thresholds on a 16-bit
    // row hash (pure integer comparisons — no float boundary can flip
    // a row between engines); the hot key carries ~37% of all rows.
    // Leg 1: salted shuffle join of the zipf-keyed lineitem fact
    // against a key→label dim. Leg 2: LSH dedup over documents whose
    // TEXT is its zipf template — cluster sizes are zipf, the hot
    // template is a degenerate identical-text class, and exactly one
    // survivor (min id) per template must remain. SkewSpec asserts the
    // fact exchange's max-partition-bytes bound under the same keying.
    Gate("skew_zipf_stress")((s, dir) => {
      val fact = li(s, dir).select(
        zipfKey((col("l_orderkey") * 131 + col("l_linenumber")) * 48271 % 65536)
          .as("key"),
        col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      val dim = tbl(s, dir, "nation").where(col("n_nationkey") < 8)
        .select((col("n_nationkey") + 1).cast("long").as("key"),
          col("n_name").as("label"))
      val joined = graft.operators.Skew.saltedJoin(fact, dim, Seq("key"),
          salts = 16, saltCols = Seq("l_orderkey", "l_linenumber"))
        .groupBy("key", "label")
        .agg(count(lit(1)).as("fact_n"), round(sum("l_quantity"), 2).as("fact_qty"))
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        zipfKey(col("doc_id") * 7919 % 65536).as("key"))
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(1), lit(12)),
            i => concat(lit("tpl"), col("key"), lit("w"), i))))
      val surv = graft.operators.Dedup.dropLshDuplicates(
          docs, "doc_id", "text", threshold = 0.5)
        .groupBy("key")
        .agg(count(lit(1)).as("surv_n"), min("doc_id").as("surv_id"))
      joined.join(surv, Seq("key")).orderBy("key")
    }) {
      // the oracle keeps the CLASSIC correlated form — DuckDB
      // decorrelates it itself, pinning that the Spark-side manual
      // decorrelation is semantically identical
      """WITH zf AS (
        |  SELECT (l_orderkey * 131 + l_linenumber) * 48271 % 65536 AS h, l_quantity
        |  FROM lineitem
        |), fact AS (
        |  SELECT CASE WHEN h < 24113 THEN 1 WHEN h < 36170 THEN 2
        |              WHEN h < 44207 THEN 3 WHEN h < 50236 THEN 4
        |              WHEN h < 55058 THEN 5 WHEN h < 59077 THEN 6
        |              WHEN h < 62522 THEN 7 ELSE 8 END AS key, l_quantity
        |  FROM zf
        |), dim AS (
        |  SELECT n_nationkey + 1 AS key, n_name AS label
        |  FROM nation WHERE n_nationkey < 8
        |), dz AS (
        |  SELECT doc_id, doc_id * 7919 % 65536 AS h FROM documents
        |), dk AS (
        |  SELECT doc_id,
        |    CASE WHEN h < 24113 THEN 1 WHEN h < 36170 THEN 2
        |         WHEN h < 44207 THEN 3 WHEN h < 50236 THEN 4
        |         WHEN h < 55058 THEN 5 WHEN h < 59077 THEN 6
        |         WHEN h < 62522 THEN 7 ELSE 8 END AS key
        |  FROM dz
        |), surv AS (
        |  SELECT key, CAST(1 AS BIGINT) AS surv_n, min(doc_id) AS surv_id
        |  FROM dk GROUP BY key
        |)
        |SELECT f.key, d.label,
        |  count(*) AS fact_n,
        |  CAST(round(sum(f.l_quantity), 2) AS DOUBLE) AS fact_qty,
        |  s.surv_n, s.surv_id
        |FROM fact f
        |JOIN dim d ON d.key = f.key
        |JOIN surv s ON s.key = f.key
        |GROUP BY f.key, d.label, s.surv_n, s.surv_id
        |ORDER BY f.key""".stripMargin
    },
    // Bigram LM over STATISTICALLY zipf text (round-13 VERDICT item 6):
    // the hot-key differentiated join (TextOps.bigramLogProb) was
    // pinned on planted skew only — here every token draws zipf(1, N=8)
    // through the same integer inverse-CDF as skew_zipf_stress, so the
    // hottest token carries ~36.8% of tokens and the hottest bigram
    // ~13.5% of pairs STATISTICALLY. The hot-slice broadcast absorbs
    // that traffic (TextOpsSpec pins executed partition bytes on this
    // exact corpus recipe); counts come from the doc_id >= 250 half,
    // scores from the other half with a per-doc OOV suffix keeping the
    // backoff branch reachable. The oracle replays token generation,
    // both count tables, and the backoff arithmetic.
    Gate("skew_zipf_bigram")((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(12)),
          i => concat(lit("zw"), zipfKey(
            (col("doc_id") * 131 + i) * 48271 % 65536).cast("string"))))
          .as("text"))
      val scored = docs.where(col("doc_id") < 250)
        .withColumn("text",
          concat(col("text"), lit(" oovtok"), col("doc_id").cast("string")))
      TextOps.bigramLogProb(
          scored, docs.where(col("doc_id") >= 250), "doc_id", "text")
        .select(col("doc_id"), round(col("bigram_logprob"), 6).as("bigram_logprob"))
        .orderBy("doc_id")
    }) {
      """WITH d AS (
        |  SELECT doc_id, list_transform(range(1, 13), i ->
        |    'zw' || CAST(
        |      CASE WHEN (doc_id * 131 + i) * 48271 % 65536 < 24113 THEN 1
        |           WHEN (doc_id * 131 + i) * 48271 % 65536 < 36170 THEN 2
        |           WHEN (doc_id * 131 + i) * 48271 % 65536 < 44207 THEN 3
        |           WHEN (doc_id * 131 + i) * 48271 % 65536 < 50236 THEN 4
        |           WHEN (doc_id * 131 + i) * 48271 % 65536 < 55058 THEN 5
        |           WHEN (doc_id * 131 + i) * 48271 % 65536 < 59077 THEN 6
        |           WHEN (doc_id * 131 + i) * 48271 % 65536 < 62522 THEN 7
        |           ELSE 8 END AS VARCHAR)) AS tk
        |  FROM documents
        |), cn AS (
        |  SELECT tk FROM d WHERE doc_id >= 250
        |), sc AS (
        |  SELECT doc_id, list_append(tk, 'oovtok' || doc_id) AS tk
        |  FROM d WHERE doc_id < 250
        |), uni AS (
        |  SELECT w, count(*) AS cnt_u
        |  FROM (SELECT unnest(tk) AS w FROM cn) GROUP BY w
        |), tot AS (
        |  SELECT sum(cnt_u)::DOUBLE AS n, count(*)::DOUBLE AS v FROM uni
        |), bi AS (
        |  SELECT bg, count(*) AS cnt_b
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS bg
        |    FROM cn WHERE len(tk) >= 2)
        |  GROUP BY bg
        |), spx AS (
        |  SELECT doc_id, pr[1] AS w1, pr[2] AS w2, pr[3] AS bg
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> [tk[i], tk[i+1], tk[i] || ' ' || tk[i+1]])) AS pr
        |    FROM sc WHERE len(tk) >= 2)
        |), scored AS (
        |  SELECT doc_id,
        |    CASE WHEN b.cnt_b IS NOT NULL
        |      THEN ln(b.cnt_b::DOUBLE) - ln(u1.cnt_u::DOUBLE)
        |      ELSE ln(0.4) + ln(coalesce(u2.cnt_u, 0)::DOUBLE + 1.0)
        |           - ln(t.n + t.v)
        |    END AS lp
        |  FROM spx
        |  LEFT JOIN bi b USING (bg)
        |  LEFT JOIN uni u1 ON spx.w1 = u1.w
        |  LEFT JOIN uni u2 ON spx.w2 = u2.w
        |  CROSS JOIN tot t
        |)
        |SELECT ids.doc_id, CAST(round(avg(s.lp), 6) AS DOUBLE) AS bigram_logprob
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 250) ids
        |LEFT JOIN scored s USING (doc_id)
        |GROUP BY ids.doc_id ORDER BY ids.doc_id""".stripMargin
    },
    // Bucketed co-located join: both sides bucket-written ONCE on the
    // join key (the 100 TB pattern — pay the shuffle at ingest, join
    // nightly for free), then joined from the bucketed scans. The
    // bucket spec lives in the catalog; PlanAuditSpec pins the
    // exchange-free join plan, this gate pins the numbers through the
    // full write→catalog→read→join path.
    Gate("join_bucketed")((s, dir) => {
      // external tables at a fresh scratch path: the in-memory catalog
      // dies with the session but a MANAGED table's warehouse dir does
      // not, and the next run would hit LOCATION_ALREADY_EXISTS
      val tag = math.abs(dir.hashCode).toHexString
      val base = scratchDir("bkt")
      new GraftFrame(tbl(s, dir, "orders")).to_parquet_bucketed(
        s"orders_bkt_$tag", buckets = 8, by = Seq("o_custkey"),
        path = Some(s"$base/orders"))
      new GraftFrame(tbl(s, dir, "customer")).to_parquet_bucketed(
        s"customer_bkt_$tag", buckets = 8, by = Seq("c_custkey"),
        path = Some(s"$base/customer"))
      val o = GraftFrame.read_table(s, s"orders_bkt_$tag").df
      val c = GraftFrame.read_table(s, s"customer_bkt_$tag").df
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("c_mktsegment")
    }) {
      """SELECT c_mktsegment,
        |CAST(count(*) AS BIGINT) AS n_orders,
        |CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    },
    // HLL++ sketch path for distinct counts (mergeable, bounded memory —
    // the 100 TB route; exact countDistinct double-shuffles the keys).
    // Gate: relative error within 5% of exact (rsd configured at 2%).
    Gate("nunique_approx")((s, dir) =>
      li(s, dir).agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
          countDistinct(col("l_partkey")).as("ex"))
        .select((abs(col("ap") - col("ex")).cast("double") / col("ex") <= 0.05)
          .as("ok_rel_err"))) {
      "SELECT true AS ok_rel_err"
    },
    // Grouped HLL++: one two-phase shuffle of fixed-size sketches (the
    // exact countDistinct expands to a double shuffle of the raw keys —
    // at 100 TB the sketch IS the grouped-cardinality route). Audited
    // per group against the exact count like the global gate.
    Gate("nunique_approx_group")((s, dir) =>
      li(s, dir).groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
          countDistinct(col("l_partkey")).as("ex"))
        .select(col("l_returnflag"),
          (abs(col("ap") - col("ex")).cast("double") / col("ex") <= 0.05)
            .as("ok_rel_err"))
        .orderBy("l_returnflag")) {
      """SELECT l_returnflag, true AS ok_rel_err
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },
    // Explicit runtime-filter semi-join: bloom of the hot orders' keys
    // pushed into the lineitem scan before the exchange (the bloom only
    // PRUNES — the exact semi-join after it makes false positives
    // harmless, so the oracle is the plain IN-subquery).
    Gate("bloom_semi_join")((s, dir) => {
      val hot = tbl(s, dir, "orders").where(col("o_totalprice") > 150000)
      graft.operators.BloomJoin
        .bloomSemiJoin(li(s, dir), "l_orderkey", hot, "o_orderkey",
          expectedItems = 200000)
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).cast("double").as("sum_qty"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)""".stripMargin
    },
    // Per-GROUP sketch quantiles: percentile_approx is a mergeable
    // partial aggregate, so group medians come out of ONE two-phase
    // shuffle — no per-group sort, no column buffering (the exact
    // percentile here only exists to bracket the sketch, gate-style).
    Gate("groupby_quantiles")((s, dir) => {
      // Per-group sketch + per-group rank audit (see quantiles_approx):
      // the group-median sketch table is tiny, so it broadcasts back
      // onto the fact scan and conditional counts verify each group's
      // rank contract — no exact per-group percentile buffering.
      val l = li(s, dir)
      val ap = l.groupBy("l_returnflag")
        .agg(element_at(expr(
          "percentile_approx(l_extendedprice, array(0.5), 10000)"), 1).as("ap"))
      l.join(broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("ap"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("l_extendedprice") <= col("ap"), 1L).otherwise(0L)).as("le"))
        .select(col("l_returnflag"),
          (col("lt") <= (col("n") * 0.501) && col("le") >= (col("n") * 0.499))
            .as("ok_q50"))
        .orderBy("l_returnflag")
    }) {
      """SELECT l_returnflag, true AS ok_q50 FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    // ----- §2.6 sort / top-k / set ops ---------------------------------
    Gate("topk_orders")((s, dir) => {
      tbl(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    }) {
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin
    },
    Gate("set_intersect")((s, dir) => {
      val a = tbl(s, dir, "orders").select(col("o_custkey").as("custkey"))
      val b = tbl(s, dir, "customer").where(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      new GraftFrame(a).intersect(new GraftFrame(b)).toDF
        .agg(count(lit(1)).as("n"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  INTERSECT
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |)""".stripMargin
    },

    // ----- §2.4 skew-safe salted aggregation ---------------------------
    // Only 3 distinct return flags over the whole table — the textbook
    // hot-key shape. Result is provably salt-invariant (stage 2 merges).
    Gate("groupby_salted")((s, dir) =>
      graft.operators.Skew.saltedCountSum(li(s, dir), "l_returnflag", "l_quantity", salts = 32)
        .select(col("l_returnflag"), col("n"),
          round(col("sum"), 2).as("sum_qty"))
        .orderBy("l_returnflag")) {
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    // ----- §2.4 correlation / covariance -------------------------------
    Gate("corr_covar")((s, dir) =>
      li(s, dir).agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_qty_price"))) {
      """SELECT CAST(round(corr(l_quantity, l_extendedprice), 6) AS DOUBLE)
        |  AS corr_qty_price,
        |CAST(round(covar_samp(l_quantity, l_extendedprice), 4) AS DOUBLE)
        |  AS covar_qty_price
        |FROM lineitem""".stripMargin
    },

    // ----- §2.4 pivot ---------------------------------------------------
    Gate("pivot_events")((s, dir) =>
      new GraftFrame(events(s, dir).where(col("user_id") < 20))
        .groupby("user_id")
        .pivotCount("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .toDF.orderBy("user_id")) {
      """SELECT user_id,
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS "click",
        |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS "view",
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS "purchase",
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS "signup",
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS "error"
        |FROM events WHERE user_id < 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    // ----- §2.6 cumulative window --------------------------------------
    Gate("cumsum_events")((s, dir) =>
      new GraftFrame(events(s, dir).where(col("user_id") < 10))
        .cumsum("value", "ts", Seq("user_id"))
        .toDF
        .select(col("user_id"), col("ts").cast("long").as("ts_sec"),
          round(col("value_cumsum"), 2).as("running_value"))
        .orderBy("user_id", "ts_sec")) {
      """SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |  CAST(round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_value
        |FROM events WHERE user_id < 10
        |ORDER BY user_id, ts_sec""".stripMargin
    },

    // ----- §2.4 quantiles ----------------------------------------------
    // ONE percentile agg with an array of percentages — two separate
    // percentile(...) calls would each buffer the full column.
    Gate("quantiles")((s, dir) =>
      fan(li(s, dir).select("l_extendedprice"))
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ps"))
        .select(
          round(element_at(col("ps"), 1), 4).as("p50"),
          round(element_at(col("ps"), 2), 4).as("p95"))) {
      """SELECT CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS p50,
        |CAST(round(quantile_cont(l_extendedprice, 0.95), 4) AS DOUBLE) AS p95
        |FROM lineitem""".stripMargin
    },
    // The 100 TB quantile route: percentile_approx (Greenwald–Khanna
    // sketch, mergeable partial agg — bounded memory, one pass) gated
    // against its own rank-error contract. accuracy=10000 bounds rank
    // error by n/10000; the exact quantiles at p ± 0.001 therefore
    // bracket the sketch value with 10× margin. Exact percentile
    // buffers the column and exists here only to CHECK the sketch.
    Gate("quantiles_approx")((s, dir) => {
      // Audit the sketch by RANK, not by exact percentile: count values
      // strictly below / at-or-below each sketch output (one extra
      // linear scan, plain conditional sums) and demand the value's
      // true rank interval [lt+1, le] intersect n·(p ± 0.001) — 10× the
      // sketch's n/accuracy contract, tie-robust. Unlike the previous
      // exact-`percentile` bracket, NOTHING here buffers the column:
      // both passes are mergeable bounded-memory aggregates, so the
      // audit itself survives 100 TB (and is ~5× faster here).
      val l = li(s, dir)
      val ap = l.agg(
        expr("percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75), 10000)").as("ap"))
      def lt(i: Int) = sum(when(
        col("l_extendedprice") < element_at(col("ap"), i), 1L).otherwise(0L))
      def le(i: Int) = sum(when(
        col("l_extendedprice") <= element_at(col("ap"), i), 1L).otherwise(0L))
      def ok(i: Int, p: Double) =
        (col(s"lt$i") <= (col("n") * (p + 0.001)) &&
          col(s"le$i") >= (col("n") * (p - 0.001))).as(s"ok_q${(p * 100).toInt}")
      l.crossJoin(broadcast(ap))
        .agg(count(lit(1)).as("n"),
          lt(1).as("lt1"), le(1).as("le1"),
          lt(2).as("lt2"), le(2).as("le2"),
          lt(3).as("lt3"), le(3).as("le3"))
        .select(ok(1, 0.25), ok(2, 0.50), ok(3, 0.75))
    }) {
      // The Spark side proves the GK sketch lands inside its own
      // rank-error contract; the oracle pins the three booleans.
      "SELECT true AS ok_q25, true AS ok_q50, true AS ok_q75"
    },

    // ----- §2.2/§2.7 missing-data & dtype surface ----------------------
    Gate("value_counts")((s, dir) =>
      new GraftFrame(tbl(s, dir, "documents")).value_counts("lang").toDF) {
      """SELECT lang, CAST(count(*) AS BIGINT) AS count
        |FROM documents GROUP BY lang ORDER BY count DESC, lang ASC""".stripMargin
    },
    // Long-form describe: ONE aggregate pass over all columns (struct
    // array + explode), not one job per column.
    Gate("describe_stats")((s, dir) =>
      new GraftFrame(li(s, dir)).describe_(Seq("l_quantity", "l_discount")).toDF
        .select(col("column"),
          round(col("count"), 2).as("count"),
          round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"),
          round(col("min"), 2).as("min"),
          round(col("max"), 2).as("max"))
        .orderBy("column")) {
      """SELECT "column", CAST(round(count, 2) AS DOUBLE) AS count,
        |  CAST(round(mean, 6) AS DOUBLE) AS mean,
        |  CAST(round(std, 6) AS DOUBLE) AS std,
        |  CAST(round(mn, 2) AS DOUBLE) AS min,
        |  CAST(round(mx, 2) AS DOUBLE) AS max
        |FROM (
        |  SELECT 'l_quantity' AS "column", count(l_quantity)::DOUBLE AS count,
        |    avg(l_quantity) AS mean, stddev_samp(l_quantity) AS std,
        |    min(l_quantity)::DOUBLE AS mn, max(l_quantity)::DOUBLE AS mx
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(l_discount)::DOUBLE, avg(l_discount),
        |    stddev_samp(l_discount), min(l_discount)::DOUBLE,
        |    max(l_discount)::DOUBLE
        |  FROM lineitem
        |) ORDER BY "column"""".stripMargin
    },
    Gate("fillna_dropna")((s, dir) => {
      val base = li(s, dir)
        .withColumn("d", when(col("l_discount") > 0, col("l_discount")))
      val filled = new GraftFrame(base).fillna(0.0, Seq("d")).toDF
        .agg(round(sum("d"), 2).as("filled_sum"))
      val kept = new GraftFrame(base).dropna(subset = Seq("d")).toDF
        .agg(count(lit(1)).as("n_nonnull"))
      filled.crossJoin(kept)
    }) {
      """SELECT
        |  CAST(round(sum(CASE WHEN l_discount > 0 THEN l_discount ELSE 0 END), 2)
        |    AS DOUBLE) AS filled_sum,
        |  CAST(count(CASE WHEN l_discount > 0 THEN 1 END) AS BIGINT) AS n_nonnull
        |FROM lineitem""".stripMargin
    },

    // ----- §2.7 scalar-function surface --------------------------------
    Gate("scalar_funcs")((s, dir) => {
      li(s, dir).where(col("l_orderkey") < 200)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          upper(substring(col("l_returnflag"), 1, 1)).as("flag_u"),
          concat_ws("-", col("l_returnflag"), col("l_linestatus")).as("flag_pair"),
          year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"),
          round(abs(col("l_discount") - lit(0.05)), 6).as("disc_dev"),
          ceil(col("l_quantity") / 10).as("qty_bucket"),
          round(pow(col("l_tax") + 1.0, 2), 6).as("tax_sq"))
        .orderBy("l_orderkey", "l_linenumber")
    }) {
      """SELECT l_orderkey, l_linenumber,
        |  upper(substr(l_returnflag, 1, 1)) AS flag_u,
        |  l_returnflag || '-' || l_linestatus AS flag_pair,
        |  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |  CAST(month(l_shipdate) AS INTEGER) AS ship_month,
        |  CAST(round(abs(l_discount - 0.05), 6) AS DOUBLE) AS disc_dev,
        |  CAST(ceil(l_quantity / 10) AS BIGINT) AS qty_bucket,
        |  CAST(round(pow(l_tax + 1.0, 2), 6) AS DOUBLE) AS tax_sq
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    // ----- §2.6 window functions ---------------------------------------
    Gate("window_rank")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy("o_orderpriority", "rk")
    }) {
      """SELECT o_orderpriority, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders
        |) WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin
    },

    // ----- §2.6 rolling window -----------------------------------------
    Gate("rolling_mean")((s, dir) =>
      new GraftFrame(events(s, dir).where(col("user_id") < 10))
        .rolling("value", "ts", window = 4, fn = "mean", partitionCols = Seq("user_id"))
        .toDF
        .select(col("user_id"), col("ts").cast("long").as("ts_sec"),
          round(col("value_roll_mean"), 4).as("roll_mean"))
        .orderBy("user_id", "ts_sec")) {
      """SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |  CAST(round(CASE WHEN count(value) OVER w >= 4
        |    THEN avg(value) OVER w END, 4) AS DOUBLE) AS roll_mean
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_sec""".stripMargin
    },

    // ----- §2.6 shift / diff -------------------------------------------
    Gate("shift_diff")((s, dir) =>
      new GraftFrame(events(s, dir).where(col("user_id") < 10))
        .shift("value", "ts", periods = 1, partitionCols = Seq("user_id"))
        .diff("value", "ts", partitionCols = Seq("user_id"))
        .toDF
        .select(col("user_id"), col("ts").cast("long").as("ts_sec"),
          round(col("value_shift"), 2).as("prev_value"),
          round(col("value_diff"), 2).as("delta"))
        .orderBy("user_id", "ts_sec")) {
      """SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |  CAST(round(lag(value) OVER w, 2) AS DOUBLE) AS prev_value,
        |  CAST(round(value - lag(value) OVER w, 2) AS DOUBLE) AS delta
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |ORDER BY user_id, ts_sec""".stripMargin
    },

    // ----- §2.6 melt (wide-to-long unpivot) ----------------------------
    Gate("melt_lineitem")((s, dir) =>
      new GraftFrame(li(s, dir).where(col("l_orderkey") < 100))
        .melt(Seq("l_orderkey", "l_linenumber"), Seq("l_quantity", "l_tax"))
        .toDF
        .orderBy("l_orderkey", "l_linenumber", "variable")) {
      """SELECT l_orderkey, l_linenumber, variable, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
        |    l_quantity AS value FROM lineitem WHERE l_orderkey < 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey < 100
        |) ORDER BY l_orderkey, l_linenumber, variable""".stripMargin
    },

    // ----- §2.2 deterministic modulo sampling --------------------------
    Gate("sample_mod")((s, dir) =>
      new GraftFrame(li(s, dir)).sample_mod("l_orderkey", mod = 10, bucket = 3)
        .toDF.agg(
          count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"))) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 3""".stripMargin
    },

    // ----- §2.7 JSON extraction ----------------------------------------
    // props is a JSON string column; get_json_object is row-local codegen
    // (no shuffle) and prunes to the two columns read.
    Gate("json_extract")((s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count("k").as("n_k"))
        .orderBy("event_type")) {
      """SELECT event_type,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS sum_k,
        |CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    // ----- §2.7 explode / token frequency ------------------------------
    Gate("explode_tokens")((s, dir) =>
      tbl(s, dir, "documents").where(col("doc_id") < 100)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)) {
      """SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id < 100
        |) GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin
    },

    // ----- §2.4 exact distinct count -----------------------------------
    Gate("nunique_partkey")((s, dir) =>
      li(s, dir).agg(countDistinct("l_partkey").as("n_parts"))) {
      "SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts FROM lineitem"
    },

    // ----- §2.6 except set-op ------------------------------------------
    Gate("set_except")((s, dir) => {
      val a = tbl(s, dir, "orders").select(col("o_custkey").as("custkey"))
      val b = tbl(s, dir, "customer").where(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      new GraftFrame(a).except(new GraftFrame(b)).toDF
        .agg(count(lit(1)).as("n"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |)""".stripMargin
    },

    // ----- §2.4 histogram / binning ------------------------------------
    Gate("histogram_price")((s, dir) =>
      tbl(s, dir, "orders")
        .select(floor(col("o_totalprice") / 60000).as("bucket"),
          col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("bucket")) {
      """SELECT CAST(floor(o_totalprice / 60000) AS BIGINT) AS bucket,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    // ----- §2.4 grouped arg-max (first/last by value) ------------------
    Gate("arg_max_group")((s, dir) =>
      li(s, dir).groupBy("l_returnflag")
        .agg(
          max_by(col("l_orderkey"), col("l_extendedprice")).as("top_order"),
          round(max(col("l_extendedprice")), 2).as("top_price"))
        .orderBy("l_returnflag")) {
      """SELECT l_returnflag,
        |arg_max(l_orderkey, l_extendedprice) AS top_order,
        |CAST(round(max(l_extendedprice), 2) AS DOUBLE) AS top_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    // ----- §2.4 rollup (hierarchical subtotals) ------------------------
    Gate("rollup_agg")((s, dir) =>
      li(s, dir).rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")) {
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |coalesce(l_linestatus, 'ALL') AS status,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin
    },
    Gate("cube_agg")((s, dir) =>
      li(s, dir).cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")) {
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |coalesce(l_linestatus, 'ALL') AS status,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin
    },

    // ----- §2.6 concat (pandas concat / UNION ALL) ---------------------
    Gate("concat_frames")((s, dir) => {
      val hi = new GraftFrame(li(s, dir).where(col("l_quantity") >= 45))
      val lo = new GraftFrame(li(s, dir).where(col("l_quantity") <= 5))
      hi.concat(lo).toDF.agg(
        count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_price
        |FROM (
        |  SELECT * FROM lineitem WHERE l_quantity >= 45
        |  UNION ALL
        |  SELECT * FROM lineitem WHERE l_quantity <= 5
        |)""".stripMargin
    },

    // ----- §2.6 divisions analog: range partitioning -------------------
    // Range-partition + sort-within: proves every partition holds a
    // disjoint ordered key range (the Dask `divisions` contract). The
    // aggregate is partition-boundary-invariant: whatever boundaries the
    // sampler picks, ranges must be disjoint and the row count conserved.
    Gate("range_partition")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rp = new GraftFrame(li(s, dir))
        .repartition_by_range(4, "l_shipdate")
        .sort_within_partitions("l_shipdate")
      val per = rp.toDF
        .select(col("l_shipdate"), spark_partition_id().as("pid"))
        .groupBy("pid")
        .agg(min("l_shipdate").as("mn"), max("l_shipdate").as("mx"),
          count(lit(1)).as("n"))
      // constant bucket of the key: the frame is 4 aggregate rows —
      // explicit single-partition window, not an accidental global one
      // (a bare literal would be optimizer-folded back to empty)
      val w = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy("pid")
      per.select(col("n"), col("mn"), lag(col("mx"), 1).over(w).as("prev_mx"))
        .agg(sum("n").as("n_rows"),
          min(coalesce(col("prev_mx") <= col("mn"), lit(true))).as("ranges_disjoint"))
    }) {
      "SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS ranges_disjoint FROM lineitem"
    },
    // Bucketed range join: ship-date-in-order-window as a hash
    // equi-join on 4-day buckets — never the BroadcastNestedLoopJoin a
    // bare BETWEEN predicate compiles to (PlanAuditSpec pins this).
    Gate("range_join")((s, dir) => {
      val pts = li(s, dir).select(col("l_orderkey"), col("l_quantity"),
        datediff(col("l_shipdate"), lit("1970-01-01").cast("date")).as("pday"))
      val ivs = tbl(s, dir, "orders").where(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("win_key"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("lo"))
        .withColumn("hi", col("lo") + 3)
      operators.RangeJoin.pointInInterval(pts, "pday", ivs, "lo", "hi", bucketWidth = 4L)
        .agg(count(lit(1)).as("n_pairs"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          sum(col("win_key")).as("sum_keys"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM lineitem l JOIN orders o
        |  ON o.o_orderkey % 97 = 0
        | AND datediff('day', o.o_orderdate, l.l_shipdate) BETWEEN 0 AND 3""".stripMargin
    },
    // Z-order layout: Morton-interleave two quantized dimensions with
    // pure bitwise Column expressions (codegen, no UDF) and range-
    // partition + sort on the key — the data-layout step that makes
    // 2-D selective scans prune files at 100 TB. The oracle recomputes
    // every interleaved bit in SQL.
    Gate("layout_zorder")((s, dir) => {
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        (col("o_custkey") % 256).as("xb"), (col("o_orderkey") % 256).as("yb"))
      Layout.zorderBy(o, col("xb"), col("yb"), bits = 8)
        .select(col("o_orderkey"), col("z"))
        .orderBy("z", "o_orderkey")
        .limit(500)
    }) {
      s"""WITH t AS (
         |  SELECT o_orderkey, o_custkey % 256 AS xb, o_orderkey % 256 AS yb
         |  FROM orders
         |)
         |SELECT o_orderkey,
         |  CAST(${(0 until 8).flatMap(i => Seq(
               s"(((xb >> $i) & 1) << ${2 * i})",
               s"(((yb >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")} AS BIGINT) AS z
         |FROM t ORDER BY z, o_orderkey LIMIT 500""".stripMargin
    },
    // Hilbert-curve layout: the better-locality sibling of Z-order
    // (consecutive indexes are ADJACENT cells — no quadrant-seam
    // jumps), the curve newer lakehouse clustering prefers. Pure
    // bitwise/conditional Column expressions, one range-partitioned
    // sort. The oracle replays all 8 rotation rounds CTE-for-CTE.
    Gate("layout_hilbert")((s, dir) => {
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        (col("o_custkey") % 256).as("xb"), (col("o_orderkey") % 256).as("yb"))
      Layout.hilbertBy(o, col("xb"), col("yb"), bits = 8)
        .select(col("o_orderkey"), col("h"))
        .orderBy("h", "o_orderkey")
        .limit(500)
    }) {
      s"""WITH hb_in AS (
         |  SELECT o_orderkey,
         |    CAST(o_custkey % 256 AS BIGINT) AS x,
         |    CAST(o_orderkey % 256 AS BIGINT) AS y,
         |    CAST(0 AS BIGINT) AS d
         |  FROM orders
         |)${hilbertSqlRounds(8, "o_orderkey", "hb")}
         |SELECT o_orderkey, CAST(d AS BIGINT) AS h
         |FROM hb_out ORDER BY h, o_orderkey LIMIT 500""".stripMargin
    },
    // The measurable locality claim, as integers: walk the FULL 32×32
    // grid along each curve and total the Manhattan jump between
    // consecutive cells. Hilbert's total is exactly cells−1 = 1023
    // (every step adjacent — the defining property); Z-order pays the
    // quadrant seams. The oracle recomputes both curves and both
    // walks.
    Gate("layout_locality")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val grid = s.range(1024).select(
        (col("id") % 32).as("x"), shiftrightunsigned(col("id"), 5).as("y"))
        .withColumn("h", Layout.hilbertValue(col("x"), col("y"), 5))
        .withColumn("z", Layout.zValue(col("x"), col("y"), 5))
      def walk(key: String) = {
        // constant bucket of the key: 1024 synthetic grid cells —
        // explicit single-partition window, not an accidental global
        // one (a bare literal would be optimizer-folded back to empty)
        val w = Window.partitionBy(pmod(col(key), lit(1))).orderBy(key)
        grid.select(
          (abs(col("x") - lag("x", 1).over(w)) +
            abs(col("y") - lag("y", 1).over(w))).as("jump"))
          .agg(sum("jump").as(s"jump_$key"))
      }
      walk("h").crossJoin(walk("z"))
        .select(lit(1024L).as("cells"), col("jump_h"), col("jump_z"))
    }) {
      s"""WITH grid AS (
         |  SELECT CAST(i % 32 AS BIGINT) AS gx, CAST(i // 32 AS BIGINT) AS gy
         |  FROM (SELECT unnest(range(1024)) AS i)
         |), hl_in AS (
         |  SELECT gx, gy, gx AS x, gy AS y, CAST(0 AS BIGINT) AS d FROM grid
         |)${hilbertSqlRounds(5, "gx, gy", "hl")}
         |, hkeys AS (SELECT gx, gy, d AS h FROM hl_out),
         |zkeys AS (
         |  SELECT gx, gy,
         |    CAST(${(0 until 5).flatMap(i => Seq(
               s"(((gx >> $i) & 1) << ${2 * i})",
               s"(((gy >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")} AS BIGINT) AS z
         |  FROM grid
         |), hwalk AS (
         |  SELECT sum(j) AS jump_h FROM (
         |    SELECT abs(gx - lag(gx) OVER (ORDER BY h))
         |         + abs(gy - lag(gy) OVER (ORDER BY h)) AS j
         |    FROM hkeys)
         |), zwalk AS (
         |  SELECT sum(j) AS jump_z FROM (
         |    SELECT abs(gx - lag(gx) OVER (ORDER BY z))
         |         + abs(gy - lag(gy) OVER (ORDER BY z)) AS j
         |    FROM zkeys)
         |)
         |SELECT CAST(1024 AS BIGINT) AS cells,
         |  CAST(jump_h AS BIGINT) AS jump_h, CAST(jump_z AS BIGINT) AS jump_z
         |FROM hwalk CROSS JOIN zwalk""".stripMargin
    },
    // Audio preprocessing: synthesize stereo PCM from a closed-form
    // ramp, round-trip through the real WAV encode/decode, downmix to
    // mono (floor-average), linear-resample 6000→4000 Hz (the 3:2
    // ratio exercises both the exact and the interpolated branch on
    // every other sample). The oracle replays every output sample
    // from the generator formula.
    // PageRank over a synthetic link graph (two out-links per doc,
    // modular targets): 3 exact iterations of the non-normalized
    // formulation. The oracle replays all three join+aggregate rounds
    // in SQL; float compare absorbs summation-order noise.
    Gate("graph_pagerank")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val n = docs.count()
      val e = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % n).as("dst"))
        .unionAll(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 3) % n).as("dst")))
      Graph.pageRank(e, iters = 3).orderBy("node")
    }) {
      """WITH nn AS (SELECT count(*) AS c FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id * 7 + 1) % c AS dst FROM documents, nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 3) % c FROM documents, nn
        |),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |c1 AS (SELECT e.dst AS node, sum(1.0 / od.outdeg) AS s
        |  FROM e JOIN od ON e.src = od.src GROUP BY e.dst),
        |r1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c1.s, 0) AS rank
        |  FROM nodes n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS s
        |  FROM e JOIN r1 r ON e.src = r.node JOIN od ON e.src = od.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c2.s, 0) AS rank
        |  FROM nodes n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS s
        |  FROM e JOIN r2 r ON e.src = r.node JOIN od ON e.src = od.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c3.s, 0) AS rank
        |  FROM nodes n LEFT JOIN c3 USING (node))
        |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
    },
    // Connected components via the log-round min-label contraction:
    // decade + century edges make every 100-block one component
    // labeled by its minimum id — closed form for the oracle.
    Gate("graph_components")((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val e = docs.select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 10).as("dst"))
        .unionAll(docs.select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 100).as("dst")))
      Graph.connectedComponents(e).orderBy("id")
    }) {
      """SELECT doc_id AS id,
        |  CAST(doc_id - doc_id % 100 AS BIGINT) AS cluster
        |FROM documents ORDER BY id""".stripMargin
    },
    // KMV distinct sketch: k-bounded partial aggregation (≤k longs per
    // partition cross the exchange — never a corpus-wide DISTINCT).
    // Unlike HLL the sketch is a pure function of data + hash, so the
    // oracle replays it EXACTLY: kth smallest distinct hash and the
    // (k−1)·H/h_k estimate, next to the true distinct count.
    Gate("sketch_kmv_distinct")((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val est = Sketches.kmvDistinct(orders,
        (col("o_custkey") * lit(2654435761L)) % lit(4294967296L),
        k = 64, hashSpace = 4294967296.0)
      val exact = orders.agg(countDistinct(col("o_custkey")).as("n_exact"))
      est.crossJoin(exact)
    }) {
      """WITH h AS (
        |  SELECT DISTINCT (o_custkey * 2654435761) % 4294967296 AS h FROM orders
        |), k AS (
        |  SELECT h FROM h ORDER BY h LIMIT 64
        |)
        |SELECT CAST(count(*) AS INTEGER) AS n_sketch,
        |  CAST(max(h) AS BIGINT) AS kth_hash,
        |  63 * 4294967296.0 / max(h) AS est,
        |  (SELECT count(DISTINCT o_custkey) FROM orders) AS n_exact
        |FROM k""".stripMargin
    },
  )

  /** Numeric double columns of lineitem used by the reduction queries. */
  private val dCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Chained-CTE replay of [[graft.operators.Layout.hilbertValue]]'s
    * quadrant-rotation rounds: `${prefix}_in` must provide `idCols`,
    * `x`, `y` (bucketed to [0, 2^bits)) and `d = 0`; the final CTE is
    * `${prefix}_out` carrying the accumulated Hilbert index `d`. */
  private def hilbertSqlRounds(bits: Int, idCols: String,
      prefix: String): String = {
    val n1 = (1L << bits) - 1L
    (0 until bits).map { j =>
      val s = 1L << (bits - 1 - j)
      val prev = if (j == 0) s"${prefix}_in" else s"${prefix}_${j - 1}"
      val name = if (j == bits - 1) s"${prefix}_out" else s"${prefix}_$j"
      s""", ${prefix}_g$j AS (
         |  SELECT $idCols, x, y, d,
         |    CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |  FROM $prev
         |), $name AS (
         |  SELECT $idCols,
         |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $n1 - y ELSE y END)
         |         ELSE x END AS x,
         |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $n1 - x ELSE x END)
         |         ELSE y END AS y,
         |    d + ${s * s} * xor(3 * rx, ry) AS d
         |  FROM ${prefix}_g$j
         |)""".stripMargin
    }.mkString
  }
}
