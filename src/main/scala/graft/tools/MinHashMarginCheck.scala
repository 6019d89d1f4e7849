package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Dedup

/** Empirical safety check for the production MinHash banding
  * (128 hashes / 32 bands, r=4 rows/band) on a given fixture dir.
  *
  * The DuckDB all-pairs Jaccard oracle is quadratic in corpus size and
  * becomes impractical above sf0.01 (~10k docs ⇒ 10^8 shingle-set
  * intersections in a single thread). This tool replaces it with a
  * Spark-side sweep: ground truth comes from a much STRONGER banding of
  * the same 128-hash signature — r=2 rows/band over 64 bands, whose
  * miss probability at the gate threshold j=0.6 is
  * (1-0.6^2)^64 ≈ 4e-13 (effectively exhaustive for j ≥ 0.5) — followed
  * by exact shingle-Jaccard verification. The production r=4 pair set
  * must equal that ground truth, and the margin report shows how far
  * the corpus's true pairs sit from the s-curve's risky region
  * (miss probability at j: (1-j^4)^32 — 1.2e-2 at 0.6, 4.8e-8 at 0.8).
  *
  * Usage: runMain graft.tools.MinHashMarginCheck <sfDir> [threshold]
  * Exit code 1 if the production banding misses any true pair.
  */
object MinHashMarginCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val threshold = if (args.length > 1) args(1).toDouble else 0.6

    val spark = GraftSession.local("graft-minhash-margin")

    val corpus = graft.gates.Fixtures.nearDupCorpus(
      spark.read.parquet(s"$sfDir/documents.parquet"))

    // Ground truth: r=2 banding (64 bands) + exact verify at `threshold`.
    val truth = Dedup.nearDupMinHash(corpus, "doc_id", "text",
        threshold = threshold, numHashes = 128, bands = 64)
      .select(col("id_a"), col("id_b"), col("jaccard")).cache()
    // Production: the gate's r=4 banding (32 bands).
    val prod = Dedup.nearDupMinHash(corpus, "doc_id", "text",
        threshold = threshold, numHashes = 128, bands = 32)
      .select(col("id_a"), col("id_b")).cache()

    val nTruth = truth.count()
    val nProd = prod.count()
    val missed = truth.join(prod, Seq("id_a", "id_b"), "left_anti")
      .orderBy(col("jaccard")).collect()
    val margin = truth.agg(
        min("jaccard").as("min_j"),
        sum(when(col("jaccard") < 0.7, 1L).otherwise(0L)).as("n_below_0_7"),
        sum(when(col("jaccard") < 0.8, 1L).otherwise(0L)).as("n_below_0_8"))
      .collect()(0)

    println(s"truth_pairs=$nTruth prod_pairs=$nProd missed=${missed.length}")
    println(s"min_jaccard=${margin.get(0)} n_below_0.7=${margin.get(1)} " +
      s"n_below_0.8=${margin.get(2)}")
    missed.take(20).foreach(r => println(s"MISSED: $r"))
    spark.stop()
    if (missed.nonEmpty) sys.exit(1)
  }
}
