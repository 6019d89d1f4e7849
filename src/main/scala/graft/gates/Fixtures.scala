package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.QualityClassifier

/** Fixture readers, trained-model caches and oracle SQL builders that
  * more than one gate family uses. A helper only one family needs
  * lives in that family's file. */
object Fixtures {

  private[graft] def li(s: SparkSession, dir: String): DataFrame =
    parquet(s, s"$dir/lineitem.parquet")

  private[gates] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    parquet(s, s"$dir/$name.parquet")

  /** Inferred schema per session and fixture path, with the stamp
    * (name, length, modification time of each file under the path) it
    * was inferred from. The session is a weak key, so a stopped session
    * is not held alive. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]]())

  /** A fixture table, read with the schema inferred the first time this
    * session saw the file in its current stamp. A schemaless
    * `read.parquet` runs a one-task job to read the footer; a read with
    * a given schema runs none. A rewritten file (another stamp) or
    * another session infers again. */
  private[gates] def parquet(s: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a missing path fails in Spark's own read, with Spark's own error
    if (!fs.exists(p)) s.read.parquet(path)
    else {
      val files = fs.listFiles(p, true)
      val stamp = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
      val known = schemas.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap())
      val schema = known.compute(path, (_, old) =>
        if (old != null && old._1 == stamp) old else (stamp, s.read.parquet(path).schema))._2
      s.read.schema(schema).parquet(path)
    }
  }

  /** Scale-adaptive shard count for the blob-building gates (r19
    * optimization, guide §2.5): 4× the core count so the group-key
    * hash spreads over every post-shuffle partition instead of pinning
    * the encode stage to 16 tasks on any machine wider than 16 cores.
    * Blobs hold per-doc members concatenated in doc_id order and every
    * consumer re-splits them per doc, so the gate output is invariant
    * to the group count; only the stage parallelism changes. */
  private[gates] def blobGroups(s: SparkSession): Int =
    4 * s.sparkContext.defaultParallelism

  /** zipf(s=1, N=8) key from a 16-bit row hash via integer inverse-CDF
    * thresholds (cum(1/k)/H₈ · 65536, rounded) — pure integer
    * comparisons, so Spark and the SQL oracle can never disagree on a
    * boundary row. Key 1 gets ~36.8% of rows, key 8 ~4.6%. */
  private[graft] def zipfKey(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(h < 24113, 1L).when(h < 36170, 2L).when(h < 44207, 3L)
      .when(h < 50236, 4L).when(h < 55058, 5L).when(h < 59077, 6L)
      .when(h < 62522, 7L).otherwise(8L)

  /** events' `ts` has shipped in three physical shapes across fixture
    * generations; dispatch on what the parquet footer actually says so a
    * regenerated fixture can never silently break every events gate again:
    *  - LongType: parquet TIMESTAMP(NANOS) surfaced as long nanos via
    *    `spark.sql.legacy.parquet.nanosAsLong` (GraftSession) — convert
    *    with integer `div` (not `/`: double math loses precision on
    *    1.7e18-scale nanos);
    *  - TimestampNTZType: parquet timestamp[us] with isAdjustedToUTC=false
    *    (pandas/pyarrow default) — cast to TimestampType, an identity on
    *    the instant under the session's UTC time zone;
    *  - TimestampType: already instant-typed — pass through.
    * Anything else fails loudly rather than producing a wrong epoch. */
  private[gates] def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalArgumentException(
        s"events.parquet ts column has unsupported type $other; " +
          "expected long nanos, timestamp_ntz, or timestamp")
    }
  }

  /** The labeled corpus shared by the five `text_quality_lr_*` gates:
    * the heuristic rare-positive label "doc mentions 'dup'". */
  private[gates] def lrDocs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").withColumn("y",
      array_contains(split(lower(col("text")), "\\s+"), "dup").cast("int"))

  /** One trained model per (sfDir, numBuckets) per JVM. Training is
    * deterministic (integer-grid weights), so the five LR gates share
    * the result instead of re-running 10 GD rounds each — and every
    * cached model is REBUILT through the persistence round-trip the
    * API ships (`modelFrame` → parquet → `modelFromRows`), so the
    * artifact path is exercised on every dependent gate, not just
    * documented. */
  private val lrModelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      QualityClassifier.LrModel]()

  private[gates] def lrModel(s: SparkSession, dir: String,
      numBuckets: Int): QualityClassifier.LrModel =
    lrModelCache.computeIfAbsent((dir, numBuckets), { _ =>
      val docs = lrDocs(s, dir)
      val m = QualityClassifier.trainLogistic(docs, "text", "y",
        numBuckets = numBuckets, ns = Seq(1), seed = 13L, rounds = 10,
        lr = 0.25, posWeight = 32L, binary = true)
      val path = s"${scratchDir("lr_model")}/model"
      QualityClassifier.modelFrame(docs, m)
        .write.mode("overwrite").parquet(path)
      QualityClassifier.modelFromRows(s.read.parquet(path),
        ns = Seq(1), numBuckets = numBuckets, seed = 13L, binary = true)
    })

  /** Per-process scratch directory for gates that round-trip an index
    * through real parquet storage: unique per run (concurrent runs and
    * multi-user machines never clobber each other — the flaw of a
    * fixed path) AND deleted recursively at JVM exit (the flaw of a
    * bare createTempDirectory, which leaked one dir per run). */
  private[graft] def scratchDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del))
        f.delete(): Unit
      }
      del(p.toFile)
    }))
    p.toString
  }

  /** Deterministic near-dup corpus: ≥30-token docs plus a copy
    * (doc_id+100000) with the last 5 tokens dropped. */
  private[graft] def nearDupCorpus(documents: DataFrame): DataFrame = {
    val base = documents
      .where(size(split(col("text"), " ")) >= 30)
      .select(col("doc_id"), col("text"))
    val perturbed = base.select(
      (col("doc_id") + 100000).as("doc_id"),
      array_join(
        slice(split(col("text"), " "), lit(1), size(split(col("text"), " ")) - 5),
        " ").as("text"))
    base.unionAll(perturbed)
  }

  /** HUGEINT SQL expression: seeded FNV-1a over the characters of the
    * (already-lowercased) string column `expr` — the same
    * interleaved-sentinel list_reduce the simhash oracle uses, with the
    * same ASCII caveat (`ord` reads codepoints; equals UTF-8 bytes only
    * for ASCII, which is all the fixture contains). */
  private[gates] def fnvSql(expr: String, seed: Long): String = {
    val init = (BigInt("cbf29ce484222325", 16) ^ BigInt(seed)).toString
    s"""list_reduce(
       |      list_prepend(CAST($init AS HUGEINT),
       |        flatten(list_transform(range(1, length($expr)+1),
       |          i -> [CAST(ord($expr[i]) AS HUGEINT), CAST(-1 AS HUGEINT)]))),
       |      (h, x) -> CASE WHEN x >= 0
       |        THEN h - (h % 256)
       |             + CAST(xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT)) AS HUGEINT)
       |        ELSE ((h % 4294967296) * 1099511628211
       |              + (((h // 4294967296) * 1099511628211) % 4294967296) * 4294967296)
       |             % 18446744073709551616 END)""".stripMargin
  }

  /** `ClassifierGates.lrOracleCte` parameterized over bucket count /
    * round count — the metrics gate deliberately trains an UNDERSIZED 16-bucket
    * model (hash collisions make it imperfect, so precision/recall/
    * AUC are non-trivial). */
  private[gates] def lrOracleCteFor(numBuckets: Int, lrRounds: Int,
      source: String = "documents"): String = {
    def zExpr(zq: String) = s"(CAST($zq AS DOUBLE) / 1073741824.0)"
    def pExpr(z: String) = s"(0.5 + 0.5 * ($z / (1.0 + abs($z))))"
    // one GD round: margin from w{k-1} (the sentinel row in lr_feats
    // folds the intercept into the same sum), quantized class-weighted
    // residual, bucket gradient, grid update. Each w$k is MATERIALIZED:
    // DuckDB inlines plain CTEs, and w{k-1} is referenced twice per
    // round (z$k and w$k), so inlining re-evaluates the whole training
    // chain 2^rounds times — materialization makes the replay linear
    // in rounds, matching the engine's per-round collect.
    def gdRound(k: Int): String = {
      val wp = s"w${k - 1}"
      val p = pExpr(zExpr(s"coalesce(z$k.zq, 0)"))
      s""", z$k AS (
         |  SELECT f.doc_id, CAST(sum($wp.wq) AS BIGINT) AS zq
         |  FROM lr_feats f JOIN $wp ON $wp.bucket = f.bucket GROUP BY f.doc_id
         |), r$k AS (
         |  SELECT l.doc_id,
         |    CAST(floor(($p - l.y) * 1048576.0 + 0.5) AS BIGINT)
         |      * (CASE WHEN l.y = 1.0 THEN 32 ELSE 1 END) AS rq
         |  FROM lr_lab l LEFT JOIN z$k ON z$k.doc_id = l.doc_id
         |), g$k AS (
         |  SELECT f.bucket, CAST(sum(r.rq) AS BIGINT) AS g
         |  FROM lr_feats f JOIN r$k r ON r.doc_id = f.doc_id GROUP BY f.bucket
         |), w$k AS MATERIALIZED (
         |  SELECT $wp.bucket,
         |    $wp.wq - CAST(floor(((0.25 * (CAST(coalesce(g$k.g, 0) AS DOUBLE)
         |      / 1048576.0)) / lr_n.n) * 1073741824.0 + 0.5) AS BIGINT) AS wq
         |  FROM $wp LEFT JOIN g$k ON g$k.bucket = $wp.bucket CROSS JOIN lr_n
         |)""".stripMargin
    }
    s"""WITH lr_tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS tk
       |  FROM $source
       |), lr_lab AS MATERIALIZED (
       |  SELECT doc_id, tk,
       |    CASE WHEN list_contains(tk, 'dup') THEN 1.0 ELSE 0.0 END AS y
       |  FROM lr_tk
       |), lr_n AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM lr_lab
       |), lr_grams AS (
       |  SELECT doc_id, unnest(tk) AS gram FROM lr_lab
       |), lr_hashed AS (
       |  SELECT doc_id, CAST(${fnvSql("gram", 13L)} % $numBuckets AS INTEGER) AS bucket
       |  FROM lr_grams
       |), lr_feats AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, bucket FROM lr_hashed
       |  UNION ALL
       |  SELECT doc_id, -1 AS bucket FROM lr_lab
       |), w0 AS (
       |  SELECT CAST(b.range AS INTEGER) AS bucket, CAST(0 AS BIGINT) AS wq
       |  FROM range(-1, $numBuckets) b
       |)${(1 to lrRounds).map(gdRound).mkString}, zf AS (
       |  SELECT f.doc_id, CAST(sum(w$lrRounds.wq) AS BIGINT) AS zq
       |  FROM lr_feats f JOIN w$lrRounds ON w$lrRounds.bucket = f.bucket
       |  GROUP BY f.doc_id
       |), scored AS (
       |  SELECT l.doc_id, l.y, ${pExpr(zExpr("coalesce(zf.zq, 0)"))} AS p
       |  FROM lr_lab l LEFT JOIN zf ON zf.doc_id = l.doc_id
       |)""".stripMargin
  }

  private[gates] def knOracleCteFor(source: String): String =
    s"""WITH kn_tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> len(t) > 0) AS tk
       |  FROM $source
       |), kn_tri AS MATERIALIZED (
       |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
       |        FROM kn_tk WHERE len(tk) >= 3)
       |), kn_t3 AS MATERIALIZED (
       |  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
       |  FROM kn_tri GROUP BY 1, 2, 3
       |), kn_ctx2 AS MATERIALIZED (
       |  SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2ctx,
       |    CAST(count(*) AS BIGINT) AS n3
       |  FROM kn_t3 GROUP BY 1, 2
       |), kn_b23 AS MATERIALIZED (
       |  SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1p23
       |  FROM kn_t3 GROUP BY 1, 2
       |), kn_mid2 AS MATERIALIZED (
       |  SELECT w2, CAST(sum(n1p23) AS BIGINT) AS n1p2mid,
       |    CAST(count(*) AS BIGINT) AS n2
       |  FROM kn_b23 GROUP BY 1
       |), kn_u3 AS MATERIALIZED (
       |  SELECT w3, CAST(count(*) AS BIGINT) AS n1p3
       |  FROM kn_b23 GROUP BY 1
       |), kn_tot AS (
       |  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM kn_b23) AS nall,
       |         (SELECT CAST(count(*) AS DOUBLE) FROM kn_u3) AS v
       |), kn_att AS (
       |  SELECT s.doc_id, t.c3, x.c2ctx, x.n3, b.n1p23, m.n1p2mid, m.n2,
       |    u.n1p3, tot.nall, tot.v
       |  FROM kn_tri s
       |  LEFT JOIN kn_t3 t ON t.w1 = s.w1 AND t.w2 = s.w2 AND t.w3 = s.w3
       |  LEFT JOIN kn_ctx2 x ON x.w1 = s.w1 AND x.w2 = s.w2
       |  LEFT JOIN kn_b23 b ON b.w2 = s.w2 AND b.w3 = s.w3
       |  LEFT JOIN kn_mid2 m ON m.w2 = s.w2
       |  LEFT JOIN kn_u3 u ON u.w3 = s.w3
       |  CROSS JOIN kn_tot tot
       |), kn_p AS (
       |  SELECT doc_id, c3, c2ctx, n3,
       |    CASE WHEN n1p2mid IS NOT NULL THEN
       |      (greatest(CAST(coalesce(n1p23, 0) AS DOUBLE) - 0.75, 0.0)
       |        + (0.75 * CAST(n2 AS DOUBLE)) * pu) / CAST(n1p2mid AS DOUBLE)
       |    ELSE pu END AS pbi
       |  FROM (SELECT *, (CAST(coalesce(n1p3, 0) AS DOUBLE) + 1.0)
       |          / ((nall + v) + 1.0) AS pu FROM kn_att)
       |), kn_lp AS (
       |  SELECT doc_id, ln(CASE WHEN c2ctx IS NOT NULL THEN
       |      (greatest(CAST(coalesce(c3, 0) AS DOUBLE) - 0.75, 0.0)
       |        + (0.75 * CAST(n3 AS DOUBLE)) * pbi) / CAST(c2ctx AS DOUBLE)
       |    ELSE pbi END) AS lp
       |  FROM kn_p
       |), kn_doc AS (
       |  SELECT d.doc_id, CAST(coalesce(g.n, 0) AS BIGINT) AS n_scored,
       |    g.lp_sum
       |  FROM $source d LEFT JOIN (
       |    SELECT doc_id, count(*) AS n, sum(lp) AS lp_sum
       |    FROM kn_lp GROUP BY 1) g ON g.doc_id = d.doc_id
       |)""".stripMargin
}
