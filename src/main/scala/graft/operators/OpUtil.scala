package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
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

  /** Payload bytes at or under which [[collectIfSmall]] keeps a probe on
    * the driver. The driver-local paths behind it build hash maps and
    * symbol arrays a few times the size of the rows they read, so 64 MiB
    * of row payload keeps their state to a few hundred MB, well inside a
    * driver heap of a few GB. A row bound alone does not: 2^16 training
    * docs of a thousand buckets each are already 0.5 GB. */
  val ProbeByteBudget: Long = 64L << 20

  /** The one bounded probe behind the "small input trains on the
    * driver" dispatches: ONE `limit(maxRows + 1)` collect, returned when
    * it holds at most `maxRows` rows whose payload ([[payloadBytes]])
    * fits `maxBytes`; `None` means "run the distributed path". A bound
    * ≤ 0 returns `None` without running a job (the tests pass 0 to force
    * the distributed reference). The byte count walks the rows already
    * collected — no second job, no plan change. */
  def collectIfSmall[T](ds: Dataset[T], maxRows: Long,
      maxBytes: Long = ProbeByteBudget): Option[Array[T]] =
    if (maxRows <= 0L) None
    else {
      val bound = math.min(maxRows, Int.MaxValue - 1L).toInt
      val rows = ds.limit(bound + 1).collect()
      val small = rows.length <= bound
      var bytes = 0L
      val it = rows.iterator
      while (small && it.hasNext && bytes <= maxBytes) bytes += payloadBytes(it.next())
      if (small && bytes <= maxBytes) Some(rows) else None
    }

  /** Payload estimate of a collected value: 2 bytes per string char and
    * 8 per scalar, summed through rows, tuples and collections (array
    * and map columns). JVM object headers are not counted. */
  private def payloadBytes(v: Any): Long = v match {
    case null => 0L
    case s: String => 2L * s.length
    case r: Row => sumBytes(r.toSeq.iterator)
    case s: Iterable[_] => sumBytes(s.iterator)
    case p: Product => sumBytes(p.productIterator)
    case _ => 8L
  }

  private def sumBytes(it: Iterator[Any]): Long = {
    var n = 0L
    while (it.hasNext) n += payloadBytes(it.next())
    n
  }
}
