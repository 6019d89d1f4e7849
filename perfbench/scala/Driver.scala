package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: set up a session, run the workload's gate
  * list once cold and then in warm passes for `--seconds`, each gate's
  * `SparkEntry.queries(name)(spark, dir)` into a `noop` sink as
  * `graft.Bench` does, then dump every gate's output as parquet (untimed)
  * for the DuckDB oracle check. Writes one JSON record; `perfbench/run.py`
  * turns it into metrics.
  *
  * With `--trace 1` a [[Recorder]] listener keeps every job and task
  * span in memory and the record carries them, so the per-layer numbers
  * come from the same passes as the traced wall times.
  *
  * Usage: Driver --dir <fixture> --gates a,b,c --seed n --seconds s
  *   --trace 0|1 --cpus n --dump <dir> --out <file> --launched-ms <epoch ms>
  */
object Driver {

  /** Job and task spans as the listener bus delivers them. */
  final class Recorder extends SparkListener {
    val jobs = ArrayBuffer.empty[String]
    val tasks = ArrayBuffer.empty[String]
    private val jobStart = scala.collection.mutable.HashMap.empty[Int, (Long, Int)]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobStart(j.jobId) = (j.time, j.stageIds.length)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      val (t0, stages) = jobStart.remove(j.jobId).getOrElse((j.time, 0))
      val ok = j.jobResult == JobSucceeded
      jobs += s"""{"id":${j.jobId},"start":$t0,"end":${j.time},"stages":$stages,"ok":$ok}"""
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val i = t.taskInfo
      val m = Option(t.taskMetrics)
      def v(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      tasks += Seq(
        s""""stage":${t.stageId}""", s""""launch":${i.launchTime}""",
        s""""finish":${i.finishTime}""", s""""ok":${i.successful}""",
        s""""run_ms":${v(_.executorRunTime)}""",
        s""""cpu_ns":${v(_.executorCpuTime)}""",
        s""""gc_ms":${v(_.jvmGCTime)}""",
        s""""deser_ms":${v(_.executorDeserializeTime)}""",
        s""""ser_ms":${v(_.resultSerializationTime)}""",
        s""""get_ms":${i.gettingResultTime match { case 0L => 0L; case g => i.finishTime - g }}""",
        s""""result_b":${v(_.resultSize)}""",
        s""""in_rows":${v(_.inputMetrics.recordsRead)}""",
        s""""out_b":${v(_.outputMetrics.bytesWritten)}""",
        s""""sw_b":${v(_.shuffleWriteMetrics.bytesWritten)}""",
        s""""sw_rec":${v(_.shuffleWriteMetrics.recordsWritten)}""",
        s""""sw_ns":${v(_.shuffleWriteMetrics.writeTime)}""",
        s""""sr_b":${v(_.shuffleReadMetrics.totalBytesRead)}""",
        s""""spill_b":${v(_.diskBytesSpilled)}""").mkString("{", ",", "}")
    }
  }

  private def q(s: String): String = graft.JsonOut.q(s)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("dir")
    val gates = opt("gates").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val launchedMs = opt("launched-ms").toLong
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(",")}")

    val spark = GraftSession
      .builder(appName = "perfbench", master = s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .config("spark.local.dir", opt("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warm-up, as graft.Bench: one-time JVM, codegen and parquet
    // reader costs land in set-up, not in the first gate
    try {
      import org.apache.spark.sql.functions.{col, sum}
      spark.range(1000000).agg(sum(col("id"))).collect()
      spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
        .agg(sum(col("l_quantity"))).collect()
    } catch { case _: Throwable => () }
    val readyMs = System.currentTimeMillis()

    val recorder = new Recorder
    if (trace) spark.sparkContext.addSparkListener(recorder)

    // gate spans: (pass, gate, start ms, end ms, seconds, error)
    val spans = ArrayBuffer.empty[(Int, String, Long, Long, Double, String)]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def runPass(pass: Int): Double = {
      val order = new scala.util.Random(seed * 1000 + pass)
        .shuffle(gates.filterNot(failed.contains))
      val t0 = System.nanoTime()
      order.foreach { name =>
        val s0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val err =
          try {
            SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
            ""
          } catch { case e: Throwable =>
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300) }
        spans += ((pass, name, s0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9, err))
        if (err.nonEmpty) failed(name) = err
      }
      (System.nanoTime() - t0) / 1e9
    }

    // after the cold pass, warm passes fill `seconds`: at least three, and
    // no pass is started that the last one says would end past the window.
    // The first warm pass still runs 20-40% slow while the JIT settles, so
    // run.py takes the medians over the passes after it.
    val passWalls = ArrayBuffer(runPass(0))
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (passWalls.size < 4 || elapsed + passWalls.last <= seconds)
      passWalls += runPass(passWalls.size)
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toLong).getOrElse(-1L)
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }

    // output dump for the oracle check, outside the timed passes
    val dump = opt("dump")
    gates.filterNot(failed.contains).foreach { name =>
      try SparkEntry.queries(name)(spark, dir).write.mode("overwrite")
        .parquet(s"$dump/$name")
      catch { case e: Throwable =>
        failed(name) = "dump: " + Option(e.getMessage).getOrElse(e.getClass.getName).take(300) }
    }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      gates.map(g => s"${q(g)}:${q(SparkEntry.oracleSql(g))}").mkString("{", ",", "}"))

    val spanJson = spans.map { case (p, g, s0, s1, sec, err) =>
      s"""{"pass":$p,"gate":${q(g)},"start":$s0,"end":$s1,"sec":$sec,"error":${q(err)}}"""
    }
    val record = Seq(
      s""""launched_ms":$launchedMs""", s""""ready_ms":$readyMs""",
      s""""cpus":$cpus""", s""""peak_rss_kb":$hwmKb""",
      s""""pass_walls":${passWalls.mkString("[", ",", "]")}""",
      s""""gates":${spanJson.mkString("[", ",", "]")}""",
      s""""failed":${failed.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")}""",
      s""""jobs":${recorder.jobs.mkString("[", ",", "]")}""",
      s""""tasks":${recorder.tasks.mkString("[", ",", "]")}""").mkString("{", ",", "}")
    Files.writeString(Paths.get(opt("out")), record)
    spark.stop()
  }
}
