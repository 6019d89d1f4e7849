package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates.{ClassifierGates, DedupGates, EventGates, FrameGates, Gate, IoGates, MultimodalGates, PipelineGates, TextGates, TokenizerGates, TpchGates, WebGates}
import graft.gates.Fixtures.li

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql`) per
  * implemented operator from SURVEY.md §2. Each gate is declared once,
  * query beside oracle, in its family's file under `graft/gates/`; the
  * two maps here are derived from that list.
  */
object SparkEntry {

  /** Flagship: TPC-H-Q1-style pricing summary — scan → filter-free
    * groupBy → 2-phase hash agg, the canonical 100 TB-safe plan. */
  def entry(spark: SparkSession): DataFrame =
    li(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private lazy val byName: Map[String, Gate] = Gate.byName(Seq(
    FrameGates.gates, IoGates.gates, TpchGates.gates, EventGates.gates,
    PipelineGates.gates, DedupGates.gates, TextGates.gates,
    TokenizerGates.gates, ClassifierGates.gates, MultimodalGates.gates,
    WebGates.gates).flatten)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.query }

  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, g) => n -> g.oracle }
}
