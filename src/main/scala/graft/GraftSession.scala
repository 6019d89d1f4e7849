package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * The reference engine creates a fresh `lithops.FunctionExecutor()` per
  * operator call (reference: dataframe/core.py:258,271,306 — no session
  * reuse). We instead hold one long-lived SparkSession; AQE + shuffle
  * partition sizing are the knobs that matter at 100 TB.
  */
object GraftSession {
  def builder(
      appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      // On a real cluster AQE coalesces/splits these at runtime; the static
      // number is just the pre-AQE default (200 is wrong for local mode).
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE coalescing floor (r19 optimization): AQE costs a partition by
      // its BYTES, but this engine's hot stages are CPU-dense per byte —
      // minhash banding, n-gram explodes, codec encodes — where 1 MB of
      // text is seconds of CPU. The default 1 MB minPartitionSize
      // collapses any shuffle under ~cores·1MB to a handful of tasks, so
      // a CPU-dense reduce stage serializes on one core exactly when the
      // data is small relative to the machine. 64 KB keeps such stages
      // parallel; at production scale (partitions >> 1 MB after the
      // parallelism-first target) the floor never binds, so this is not a
      // local-mode tune. A cluster profile can still set this SQL conf on
      // the running session.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // graft's native expressions as SQL functions (cosine_similarity,
      // minhash_signature, simhash64, word_ngrams, product_agg)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/root/repo/target/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet TIMESTAMP(NANOS) (older pandas-written event fixtures) is
      // rejected by default; read as LongType nanos instead of erroring.
      // gates.Fixtures.events dispatches on the resulting dtype: LongType →
      // nanos div 1000, timestamp[us] fixtures (the current generation)
      // arrive as TimestampNTZ/Timestamp and never hit this config. Kept
      // so a nanos-era fixture still reads rather than throwing at scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark's generated-class cache (default 100 entries, LRU) is
      // smaller than one pass of the gates: a warm pass evicted its own
      // classes and recompiled them through Janino (the perfbench
      // iterative workload alone has ~153). One `graft.Verify` pass over
      // the 330 gates at sf0.1 compiles N = 2803 distinct classes with
      // both settings here (its `[verify] codegen compiles=` line;
      // 6478 at the defaults; measured 2026-10-19 at 4 cores), so
      // S = 8000 keeps N <= S/2.
      // A static conf: `CodeGenerator` reads it once per JVM, when the
      // first class is generated, so it is set here and nowhere later.
      // The bound only caps entries; a class never generated costs
      // nothing.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      // The cache key is the generated source, and by default a
      // whole-stage class is named after its stage id. AQE numbers stages
      // in the order they are planned, which varies with which shuffle
      // finishes first, so one pipeline came back as a new class under
      // another number for several warm passes; the same pipeline in two
      // gates is also two classes. Without the id one pipeline is one
      // class (the id stays in the plan's `*(n)` and the code comment).
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      // Spark writes a plan string into each query-start event and each
      // AQE re-plan event, for the SQL UI and the event log. The UI is off
      // and no event log is written, so nothing reads it. Plan strings in
      // the default formatted form were 7% of
      // `image_dedup_incremental_drop`'s warm main-thread samples (61 ms
      // a run at 4 cores), 42 ms in the simple form. `PlanDump` and the
      // specs ask for `FormattedMode` explicitly, so their plans do not
      // change.
      .config("spark.sql.ui.explainMode", "simple")

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
