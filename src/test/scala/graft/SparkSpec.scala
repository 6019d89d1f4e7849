package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(appName = "graft-test", master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The job group `eventsDuring` runs its body under. */
  protected val probeGroup = "spec-probe"

  /** `body`'s result, and what `pick` makes of the listener events posted
    * while it ran, in order. The body runs under the job group
    * `probeGroup`; a trailing marker job in that group flushes the
    * asynchronous listener bus. */
  protected def eventsDuring[A, E](pick: PartialFunction[SparkListenerEvent, E])(
      body: => A): (A, Seq[E]) = {
    val sc = spark.sparkContext
    val marker = "spec-probe-marker"
    def isMarker(e: SparkListenerEvent) = e match {
      case j: SparkListenerJobStart => j.properties != null &&
        j.properties.getProperty("spark.job.description") == marker &&
        j.properties.getProperty("spark.jobGroup.id") == probeGroup
      case _ => false
    }
    // None marks the marker job
    val seen = new LinkedBlockingQueue[Option[E]]()
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit =
        if (isMarker(e)) seen.put(None) else pick.lift(e).foreach(x => seen.put(Some(x)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probeGroup, "probe")
      val out = body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val got = Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map { e => assert(e != null, "the listener bus did not deliver the marker job"); e }
        .takeWhile(_.isDefined).map(_.get).toSeq
      (out, got)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `body`'s result and the description of each job this thread started
    * while running it, in start order. */
  protected def jobsDuring[A](body: => A): (A, Seq[String]) =
    eventsDuring {
      case j: SparkListenerJobStart if j.properties != null &&
          j.properties.getProperty("spark.jobGroup.id") == probeGroup =>
        Option(j.properties.getProperty("spark.job.description")).getOrElse("")
    }(body)
}
