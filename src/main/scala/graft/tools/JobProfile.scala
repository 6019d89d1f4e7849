package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{GraftSession, SparkEntry}

/** Per-JOB breakdown of a declared query — which jobs a gate fires, how
  * long each takes, and what plan fragment it came from (callsite +
  * description): it counts a gate's jobs and says WHICH jobs to delete.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> q1,q2,...
  */
object JobProfile {
  private case class JobRec(id: Int, desc: String, stages: Int, var ms: Long)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession
      .builder(appName = "graft-jobprofile", master = s"local[$cpus]",
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recs = ArrayBuffer.empty[JobRec]
    val starts = scala.collection.mutable.HashMap.empty[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        // first graft frame in the newest stage's creation stack — the
        // operator that scheduled this job
        val site = j.stageInfos.sortBy(-_.stageId).iterator
          .flatMap(_.details.linesIterator)
          .find(l => l.contains("graft.") && !l.contains("JobProfile"))
          .map(_.trim.take(110))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts(j.jobId) = j.time
        recs += JobRec(j.jobId, site, j.stageIds.length, -1L)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
        recs.find(_.id == j.jobId).foreach { r =>
          r.ms = j.time - starts.getOrElse(j.jobId, j.time)
        }
      }
    })
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    // warm pass: JIT + per-JVM fixtures, unprofiled
    names.foreach(run)
    names.foreach { name =>
      Thread.sleep(300)
      recs.clear(); starts.clear()
      val t0 = System.nanoTime()
      run(name)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"PROFILE $name  jobs=${recs.size}  wall=$wall%6.2f")
      recs.foreach { r =>
        println(f"  job=${r.id}%4d  ms=${r.ms}%6d  stages=${r.stages}%2d  ${r.desc}")
      }
    }
    spark.stop()
  }
}
