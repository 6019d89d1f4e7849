package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Shared guards/derivations for operators that add internal columns. */
private[graft] object OpUtil {

  /** Loud failure when `df` already carries a column an operator needs
    * for itself (silent `withColumn` would clobber user data). */
  def requireNoColumns(df: DataFrame, reserved: Set[String], op: String): Unit = {
    val clash = df.columns.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"$op reserves column name(s) ${clash.mkString(", ")} — rename before calling")
  }

  private def hashUnsupported(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hashUnsupported(f.dataType))
    case a: ArrayType => hashUnsupported(a.elementType)
    case _ => false
  }

  /** Deterministic per-row salt in [0, salts): content hash of every
    * hashable column. NEVER `monotonically_increasing_id` — that id is
    * assigned by execution order, so a task retry downstream of an
    * exchange re-salts rows differently and an aggregation/join mixing
    * original and re-executed map output double-counts or loses rows
    * (the SPARK-23207 failure class). A content hash replays
    * identically; fully identical rows share a salt, which only costs
    * balance, never correctness.
    *
    * DEGENERATE CASE (documented contract, silent at runtime): if a hot
    * key's rows are IDENTICAL on the hashed columns — exact-duplicate
    * rows with `saltCols = Nil`, or a `saltCols` subset that is
    * constant within the key — every such row gets the SAME salt and
    * the hot key collapses back into one reducer: the skew returns.
    * Callers with duplicate-heavy data must pass `saltCols` covering a
    * row-distinguishing column (a unique id is ideal; a composite line
    * key works). Detecting this at runtime would need its own grouped
    * count over the data (a shuffle as big as the one being salted), so
    * it is a caller contract, not a check. Map-typed columns (at any
    * nesting) are excluded — `xxhash64` rejects them; if NO column is
    * hashable the salt degrades to a constant (correct, no
    * balancing). */
  def contentSalt(df: DataFrame, salts: Int, saltCols: Seq[String] = Nil): Column = {
    val fields =
      if (saltCols.isEmpty) df.schema.fields.toSeq
      else saltCols.map(n => df.schema(n))
    val hashable = fields
      .filterNot(f => hashUnsupported(f.dataType))
      .map(f => col(s"`${f.name}`"))
    if (hashable.isEmpty) lit(0L)
    else pmod(xxhash64(hashable: _*), lit(salts.toLong))
  }

  /** Fan a CPU-dense input out to the cluster's parallelism when its
    * scan is narrower than that. The gate fixtures are single-row-group
    * parquet files — one scan task at any core count — so per-row
    * codec/minhash/n-gram work downstream of the scan would serialize
    * on one core. Width is `defaultParallelism`; the round-robin
    * exchange moves only the projected input once, before the
    * expensive per-row stage. An input already at or above that width
    * (any real large table, arriving in many splits) passes through
    * untouched: repartitioning it would full-shuffle the payload and cap
    * the stage at exactly core-count tasks. Callers apply it AFTER any
    * pushable filter, so PushedFilters still reach the scan. Only
    * row-invariant work should follow, so results stay
    * partitioning-independent.
    *
    * The partition probe must not run anything. Over scan+project/filter
    * plans it is plan-time only; but a plan that needs an exchange is
    * adaptive, and probing its partitions would run the upstream query
    * stages as jobs that the downstream plan then runs again. Such a
    * frame — its width is decided at run time anyway — passes through
    * untouched; whether it is one is read off the physical plan, which
    * planning alone builds. */
  def fan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (hasExchange(df) || df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Whether `df`'s physical plan holds an exchange. Adaptive execution
    * wraps exactly the plans that need one (or a subquery), so the
    * adaptive root alone answers under AQE; without AQE the exchanges
    * sit in the plan itself. Planning only — no job runs. */
  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case _ => false
    }
}
