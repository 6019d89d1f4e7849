package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.operators.{Apply, Blocklist, BloomJoin, Bpe, Contamination, Dedup, Layout, Mojibake, PdfCodec, Reductions, Robots, Similarity, TextOps, WebArchive}
import graft.sources.{CsvOptions, CsvReader}

/** pandas-flavored facade over a Spark [[DataFrame]] — the user-facing
  * surface of the engine.
  *
  * The reference exposes a single wrapper class `DataFrame(df, filepath,
  * npartitions)` (reference: dataframe/core.py:9-13) whose declared
  * capability target (duck-type checks, reference: dataframe/utils.py:323,
  * 333) requires `groupby`, `merge`, `head`, plus the implemented
  * `apply`/reductions surface. This class is that target re-expressed over
  * Spark: every method is a thin delegation to a declarative DataFrame
  * operation so Catalyst sees the whole plan (pushdown, pruning, join
  * selection, AQE all apply) — nothing here schedules work itself.
  *
  * Scale notes are per-method; the general rule: transformations stay
  * lazy, no method calls an action, and nothing collects to the driver.
  */
final class GraftFrame(val df: DataFrame) extends GraftHandSink {

  def spark: SparkSession = df.sparkSession
  def schema = df.schema
  def columns: Seq[String] = df.columns.toSeq
  def count(): Long = df.count()
  def show(): Unit = df.show()
  def toDF: DataFrame = df

  // ----- projection / mutation (§2.2) ---------------------------------

  /** Column projection — `df[cols]` / `usecols`. Pruning reaches the scan
    * via Catalyst ColumnPruning. */
  def select(cols: String*): GraftFrame = new GraftFrame(df.select(cols.map(col): _*))
  def selectExpr(exprs: String*): GraftFrame = new GraftFrame(df.selectExpr(exprs: _*))

  /** Boolean-mask filter — `df[mask]` / `df.where`. Predicates push down
    * to the source (parquet row-group skipping at scale). */
  def where(cond: Column): GraftFrame = new GraftFrame(df.where(cond))
  def filter(cond: Column): GraftFrame = where(cond)

  /** pandas `df.query("a > 3 and b < 2")` — SQL-expression filter. */
  def query(sqlCond: String): GraftFrame = new GraftFrame(df.where(expr(sqlCond)))

  def withColumn(name: String, c: Column): GraftFrame = new GraftFrame(df.withColumn(name, c))
  def drop(cols: String*): GraftFrame = new GraftFrame(df.drop(cols: _*))

  /** pandas `df.rename(columns=...)`. */
  def rename(mapping: Map[String, String]): GraftFrame =
    new GraftFrame(mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) })

  // ----- sort / limit / top-k (§2.6) ----------------------------------

  /** pandas `sort_values`. Global sort = range-partitioned shuffle
    * (sampled boundaries), scale-safe; prefer [[nlargest]] for top-k —
    * TakeOrderedAndProject never materializes a full sort. */
  def sort_values(by: Seq[String], ascending: Boolean = true): GraftFrame = {
    val cols = by.map(c => if (ascending) col(c).asc else col(c).desc)
    new GraftFrame(df.orderBy(cols: _*))
  }

  /** First n rows as a frame (pandas `head` analog; lazy `limit`). */
  def head(n: Int): GraftFrame = new GraftFrame(df.limit(n))

  /** Top-k by columns. Plans as TakeOrderedAndProject: per-partition
    * heap of k + single merge — no global sort even at 100 TB. */
  def nlargest(n: Int, by: String*): GraftFrame =
    new GraftFrame(df.orderBy(by.map(col(_).desc): _*).limit(n))
  def nsmallest(n: Int, by: String*): GraftFrame =
    new GraftFrame(df.orderBy(by.map(col(_).asc): _*).limit(n))

  // ----- set ops (§2.6) ------------------------------------------------

  /** pandas `pd.concat([a, b])` — by-name union (allows missing columns). */
  def concat(other: GraftFrame): GraftFrame =
    new GraftFrame(df.unionByName(other.df, allowMissingColumns = true))
  def union(other: GraftFrame): GraftFrame = concat(other)
  def intersect(other: GraftFrame): GraftFrame = new GraftFrame(df.intersect(other.df))
  def except(other: GraftFrame): GraftFrame = new GraftFrame(df.except(other.df))

  /** Exact dedup — pandas `drop_duplicates(subset)`. Hash-partitioned
    * groupBy under the hood: one shuffle on the subset key, scale-safe. */
  def drop_duplicates(subset: Seq[String] = Nil): GraftFrame =
    new GraftFrame(if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset))

  // ----- join (§2.5) ---------------------------------------------------

  /** pandas `merge`. `how` accepts pandas names (left/right/outer/inner/
    * cross/semi/anti). Set `broadcastOther=true` when the other side is a
    * dimension table — plans a BroadcastHashJoin (no shuffle of the big
    * side); otherwise the planner picks (AQE may still auto-broadcast
    * from runtime stats).
    */
  def merge(
      other: GraftFrame,
      on: Seq[String],
      how: String = "inner",
      broadcastOther: Boolean = false): GraftFrame = {
    val joinType = how match {
      case "outer" => "full_outer"
      case h       => h
    }
    val right = if (broadcastOther) broadcast(other.df) else other.df
    new GraftFrame(df.join(right, on, joinType))
  }

  // ----- groupBy (§2.4) ------------------------------------------------

  /** `df.groupby(keys)` — grouped aggregation surface. */
  def groupby(keys: String*): GraftGroupBy = new GraftGroupBy(df, keys)

  // ----- UDF surface (§2.3) --------------------------------------------

  /** Per-row UDF — `apply(func, axis=1)`. */
  def apply[T: Encoder](f: Row => T): Dataset[T] = Apply.applyRows(df)(f)

  /** Per-partition UDF — `map_partitions(func)`. */
  def map_partitions[T: Encoder](f: Iterator[Row] => Iterator[T]): Dataset[T] =
    Apply.mapPartitions(df)(f)

  // ----- named reductions (§2.4), axis=0 -------------------------------

  def sum(minCount: Int = 0): GraftFrame = new GraftFrame(Reductions.sum0(df, Nil, minCount))
  def prod(minCount: Int = 0): GraftFrame = new GraftFrame(Reductions.prod0(df, Nil, minCount))
  def max(): GraftFrame = new GraftFrame(Reductions.max0(df))
  def min(): GraftFrame = new GraftFrame(Reductions.min0(df))
  def countNonNull(): GraftFrame = new GraftFrame(Reductions.count0(df))
  def mean(): GraftFrame = new GraftFrame(Reductions.mean0(df))
  def std(ddof: Int = 1): GraftFrame = new GraftFrame(Reductions.std0(df, Nil, ddof))
  def all(): GraftFrame = new GraftFrame(Reductions.all0(df))
  def any(): GraftFrame = new GraftFrame(Reductions.any0(df))

  // ----- missing-data & dtype surface (pandas parity) ------------------

  /** pandas `fillna(value)` on the given columns (all by default). */
  def fillna(value: Any, subset: Seq[String] = Nil): GraftFrame = {
    val cols = if (subset.nonEmpty) subset else df.columns.toSeq
    new GraftFrame(value match {
      case d: Double => df.na.fill(d, cols)
      case l: Long   => df.na.fill(l, cols)
      case i: Int    => df.na.fill(i.toLong, cols)
      case s: String => df.na.fill(s, cols)
      case b: Boolean => df.na.fill(b, cols)
      case other => throw new IllegalArgumentException(s"unsupported fill value: $other")
    })
  }

  /** pandas `dropna(how="any"|"all", subset=...)`. */
  def dropna(how: String = "any", subset: Seq[String] = Nil): GraftFrame = {
    val cols = if (subset.nonEmpty) subset else df.columns.toSeq
    new GraftFrame(df.na.drop(how, cols))
  }

  /** pandas `astype({"col": dtype})` — column casts. */
  def astype(dtypes: Map[String, DataType]): GraftFrame =
    new GraftFrame(df.select(df.columns.map { c =>
      dtypes.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }.toSeq: _*))

  /** pandas `value_counts()` for a column: (value, count) descending,
    * ties broken by value for determinism, nulls excluded (pandas
    * `dropna=True` default). One hash shuffle. */
  def value_counts(c: String): GraftFrame =
    new GraftFrame(
      df.where(col(c).isNotNull)
        .groupBy(col(c)).agg(F.count(lit(1)).as("count"))
        .orderBy(col("count").desc, col(c).asc))

  /** Distinct count for a column (exact), excluding nulls — pandas
    * `nunique(dropna=True)`, and what [[approx_nunique]] estimates, so
    * the exact and approximate paths agree. For 100 TB ballparks prefer
    * [[approx_nunique]] — one pass, no shuffle of distinct values. */
  def nunique(c: String): Long =
    df.select(c).where(col(c).isNotNull).distinct().count()

  /** HyperLogLog++ distinct estimate — the scale-safe cardinality path. */
  def approx_nunique(c: String, rsd: Double = 0.05): Long =
    df.agg(approx_count_distinct(col(c), rsd)).collect()(0).getLong(0)

  /** pandas `describe()` for numeric columns: count/mean/std/min/max
    * per column, returned long-form (column, stat, value). */
  def describe_(cols: Seq[String] = Nil): GraftFrame = {
    val cs = if (cols.nonEmpty) cols else graft.operators.Reductions.numericCols(df)
    require(cs.nonEmpty, "describe: no numeric columns")
    val stats = cs.map { c =>
      struct(lit(c).as("column"),
        F.count(col(c)).cast(DoubleType).as("count"),
        F.avg(col(c)).as("mean"),
        F.stddev_samp(col(c)).as("std"),
        F.min(col(c)).cast(DoubleType).as("min"),
        F.max(col(c)).cast(DoubleType).as("max"))
    }
    new GraftFrame(
      df.agg(array(stats: _*).as("s")).select(explode(col("s")).as("s")).select("s.*"))
  }

  /** Boolean-mask helper — pandas `df[df.col.isin(values)]`. */
  def isin(c: String, values: Seq[Any]): GraftFrame =
    new GraftFrame(df.where(col(c).isInCollection(values)))

  /** Window spec shared by [[cumsum]]/[[rolling]]/[[shift]]/[[diff]].
    * With `partitionCols` the work spreads across the group shuffle.
    * WITHOUT them the total order forces the whole frame through ONE
    * window partition — a single-executor sort of the full table at
    * 100× scale — so the empty-partition path is an ERROR unless the
    * caller opts in with `allowGlobalWindow = true` (r18 VERDICT item
    * 5: enforce the scale contract, don't just document it). The
    * opted-in path partitions by a constant bucket of the order key so
    * the plan is explicit about the single partition (and `WindowExec`'s
    * "No Partition Defined" warning, which flags exactly this hazard,
    * stays meaningful elsewhere; a bare literal won't do — the
    * optimizer folds it back to an empty partition spec). Pass a shard
    * column at scale, as [[graft.operators.Pipeline.packSequences]]
    * does. */
  private def seriesWindow(op: String, orderCol: String,
      partitionCols: Seq[String], allowGlobalWindow: Boolean)
      : org.apache.spark.sql.expressions.WindowSpec = {
    import org.apache.spark.sql.expressions.Window
    if (partitionCols.nonEmpty)
      Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    else {
      require(allowGlobalWindow,
        s"$op with no partitionCols sorts the ENTIRE frame in one window " +
          "partition — a non-scale path. Pass partitionCols (a shard/group " +
          "column), or opt in explicitly with allowGlobalWindow = true for " +
          "frames known to be small.")
      Window.partitionBy(F.pmod(F.xxhash64(col(orderCol)), F.lit(1L)))
        .orderBy(col(orderCol))
    }
  }

  /** pandas `cumsum` within optional groups, ordered by `orderCol` —
    * running total as a window aggregate. Empty `partitionCols`
    * requires `allowGlobalWindow` (see [[seriesWindow]]). */
  def cumsum(valueCol: String, orderCol: String, partitionCols: Seq[String] = Nil,
      allowGlobalWindow: Boolean = false): GraftFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = seriesWindow("cumsum", orderCol, partitionCols, allowGlobalWindow)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new GraftFrame(df.withColumn(s"${valueCol}_cumsum", F.sum(col(valueCol)).over(w)))
  }

  /** pandas `rolling(window, min_periods=window).agg(fn)` over `orderCol`,
    * optionally per group. A bounded `rowsBetween` frame — Spark keeps
    * only `window` rows of state per partition, so this scales to
    * arbitrarily long histories. Output column `{valueCol}_roll_{fn}`,
    * null until a full window has been seen (pandas min_periods default).
    */
  def rolling(
      valueCol: String,
      orderCol: String,
      window: Int,
      fn: String = "mean",
      partitionCols: Seq[String] = Nil,
      allowGlobalWindow: Boolean = false): GraftFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = seriesWindow("rolling", orderCol, partitionCols, allowGlobalWindow)
      .rowsBetween(-(window - 1).toLong, Window.currentRow)
    val agg = fn match {
      case "mean" => F.avg(col(valueCol))
      case "sum"  => F.sum(col(valueCol))
      case "min"  => F.min(col(valueCol))
      case "max"  => F.max(col(valueCol))
      case other  => throw new IllegalArgumentException(s"unknown rolling fn: $other")
    }
    val full = F.count(col(valueCol)).over(w) >= window
    new GraftFrame(df.withColumn(s"${valueCol}_roll_$fn", when(full, agg.over(w))))
  }

  /** pandas `shift(periods)` within optional groups — `lag` window. */
  def shift(
      valueCol: String,
      orderCol: String,
      periods: Int = 1,
      partitionCols: Seq[String] = Nil,
      allowGlobalWindow: Boolean = false): GraftFrame = {
    val w = seriesWindow("shift", orderCol, partitionCols, allowGlobalWindow)
    new GraftFrame(df.withColumn(s"${valueCol}_shift", lag(col(valueCol), periods).over(w)))
  }

  /** pandas `diff()` — value minus previous value in order. */
  def diff(
      valueCol: String,
      orderCol: String,
      partitionCols: Seq[String] = Nil,
      allowGlobalWindow: Boolean = false): GraftFrame = {
    val w = seriesWindow("diff", orderCol, partitionCols, allowGlobalWindow)
    new GraftFrame(df.withColumn(s"${valueCol}_diff",
      col(valueCol) - lag(col(valueCol), 1).over(w)))
  }

  /** pandas `melt` — wide-to-long. Spark-native `unpivot`: a row-local
    * generator, no shuffle. */
  def melt(
      ids: Seq[String],
      valueVars: Seq[String],
      varName: String = "variable",
      valueName: String = "value"): GraftFrame =
    new GraftFrame(df.unpivot(
      ids.map(col).toArray, valueVars.map(col).toArray, varName, valueName))

  /** Deterministic hash-free sampling: keep rows where `key % mod ==
    * bucket`. Reproducible across engines and runs (unlike fraction
    * sampling), prunes at the scan when `key` is a partition column. */
  def sample_mod(keyCol: String, mod: Int, bucket: Int = 0): GraftFrame =
    new GraftFrame(df.where(pmod(col(keyCol), lit(mod)) === bucket))

  // ----- partitioning --------------------------------------------------

  def npartitions: Int = df.rdd.getNumPartitions
  /** Full-shuffle repartition — explicit user request only (see
    * CsvReader scale note: prefer maxPartitionBytes for read width). */
  def repartition(n: Int): GraftFrame = new GraftFrame(df.repartition(n))
  /** Shuffle-free partition reduction. */
  def coalesce(n: Int): GraftFrame = new GraftFrame(df.coalesce(n))
  /** The `divisions` analog (reference: dataframe/core.py:517-529 keeps
    * sorted range boundaries as frame metadata): range-partition into
    * `n` shards on `cols` — each partition covers a disjoint, ordered
    * key range, with boundaries picked by a distributed sample. The
    * layout Dask's divisions metadata describes, and the precondition
    * for merge-join/as-of locality at scale. */
  def repartition_by_range(n: Int, cols: String*): GraftFrame =
    new GraftFrame(df.repartitionByRange(n, cols.map(col): _*))
  /** Sort INSIDE each partition, no exchange — composed after
    * [[repartition_by_range]] it yields the globally-ordered,
    * range-partitioned layout (Dask's `set_index(sorted=True)`) without
    * a global sort's single ordering bottleneck. */
  def sort_within_partitions(cols: String*): GraftFrame =
    new GraftFrame(df.sortWithinPartitions(cols.map(col): _*))

  // ----- LLM-pipeline surface ------------------------------------------
  // One-call forms of the training-data operators (COVERAGE.md) so a
  // facade user never has to drop to graft.operators.* — each is a thin
  // delegation carrying the operator's scale shape unchanged.

  /** Near-duplicate pairs (id_a, id_b, jaccard) via banded MinHash-LSH —
    * ONE shuffle on (band, hash), never all-pairs. */
  def near_dup_pairs(idCol: String, textCol: String,
      threshold: Double = 0.8): GraftFrame =
    new GraftFrame(Dedup.nearDupMinHash(df, idCol, textCol, threshold))

  /** Drop near-duplicates: keep rows in no ≥-threshold pair plus the
    * min-id representative of each duplicate cluster. */
  def drop_near_duplicates(idCol: String, textCol: String,
      threshold: Double = 0.8): GraftFrame =
    new GraftFrame(Dedup.dropNearDuplicates(df, idCol,
      Dedup.nearDupMinHash(df, idCol, textCol, threshold)
        .select(col("id_a"), col("id_b"))))

  /** Drop near-duplicates keeping the BEST-scoring cluster member
    * (quality-aware representative; ties to min id) —
    * [[graft.operators.Dedup.dropNearDuplicatesBy]]. */
  def drop_near_duplicates_by(idCol: String, textCol: String, scoreCol: String,
      threshold: Double = 0.8): GraftFrame =
    new GraftFrame(Dedup.dropNearDuplicatesBy(df, idCol, scoreCol,
      Dedup.nearDupMinHash(df, idCol, textCol, threshold)
        .select(col("id_a"), col("id_b"))))

  /** CCNet-style cross-document line dedup: remove lines occurring in
    * ≥ `minDocs` distinct docs ([[graft.operators.Dedup.dedupLines]]). */
  def dedup_lines(idCol: String, textCol: String,
      minDocs: Int = 2): GraftFrame =
    new GraftFrame(Dedup.dedupLines(df, idCol, textCol, minDocs))

  /** Dolma-style cross-document paragraph dedup: each duplicated
    * paragraph keeps its first `(id, position)` occurrence
    * ([[graft.operators.Dedup.dedupParagraphs]]). */
  def dedup_paragraphs(idCol: String, textCol: String): GraftFrame =
    new GraftFrame(Dedup.dedupParagraphs(df, idCol, textCol))

  /** RefinedWeb-style duplicated-span removal: `n`-token windows
    * shared across docs keep only their first-doc copy; later docs are
    * rebuilt around the cut ([[graft.operators.TextOps.removeDupSpans]]). */
  def remove_dup_spans(idCol: String, textCol: String, n: Int = 8): GraftFrame =
    new GraftFrame(graft.operators.TextOps.removeDupSpans(df, idCol, textCol, n))

  /** Aho-Corasick blocklist annotation: n_hits / n_terms / clean per
    * row ([[graft.operators.Blocklist.annotate]]). */
  def blocklist_annotate(idCol: String, textCol: String,
      patterns: Seq[String]): GraftFrame =
    new GraftFrame(Blocklist.annotate(df, idCol, textCol, patterns))

  /** Keep only rows with zero blocklist hits
    * ([[graft.operators.Blocklist.filterClean]]). */
  def blocklist_filter(idCol: String, textCol: String,
      patterns: Seq[String]): GraftFrame =
    new GraftFrame(Blocklist.filterClean(df, idCol, textCol, patterns))

  /** Encoding repair: undo Latin-1/CP1252 mojibake, reporting decode
    * rounds ([[graft.operators.Mojibake.repair]]). */
  def fix_mojibake(idCol: String, textCol: String): GraftFrame =
    new GraftFrame(Mojibake.repair(df, idCol, textCol))

  /** HTML→text extraction over an HTML column
    * ([[graft.operators.WebArchive.htmlTextFrame]]). */
  def html_to_text(idCol: String, htmlCol: String): GraftFrame =
    new GraftFrame(WebArchive.htmlTextFrame(df, idCol, htmlCol))

  /** Boilerplate removal over an HTML column: per-block link-density
    * + length gate ([[graft.operators.WebArchive.mainContentFrame]]). */
  def main_content(idCol: String, htmlCol: String, minChars: Int = 25,
      maxLinkDensity: Double = 0.5): GraftFrame =
    new GraftFrame(WebArchive.mainContentFrame(df, idCol, htmlCol, minChars, maxLinkDensity))

  /** Ingest Common-Crawl-shaped gzipped WARC blobs in a `data` column
    * ([[graft.operators.WebArchive.warcIngest]]). */
  def warc_ingest(): GraftFrame = new GraftFrame(WebArchive.warcIngest(df))

  /** PageRank over an edge frame (src, dst)
    * ([[graft.operators.Graph.pageRank]]). */
  def page_rank(iters: Int, damping: Double = 0.85): GraftFrame =
    new GraftFrame(graft.operators.Graph.pageRank(df, iters, damping))

  /** Connected components over an edge frame (src, dst)
    * ([[graft.operators.Graph.connectedComponents]]). */
  def connected_components(): GraftFrame =
    new GraftFrame(graft.operators.Graph.connectedComponents(df))

  /** Wikipedia multistream dump ingest over a `data` column of
    * concatenated-bz2 page-XML shards
    * ([[graft.operators.WikiDump.multistreamIngest]]). */
  def wiki_ingest(): GraftFrame =
    new GraftFrame(graft.operators.WikiDump.multistreamIngest(df))

  /** Auto-sniffing decompression over a binary payload column (gzip /
    * bzip2 / xz / raw pass-through —
    * [[graft.operators.Decompress.autoFrame]]). */
  def decompress(idCol: String, dataCol: String): GraftFrame =
    new GraftFrame(graft.operators.Decompress.autoFrame(df, idCol, dataCol))

  /** PDF text extraction over a binary payload column
    * ([[graft.operators.PdfCodec.extractFrame]]). */
  def pdf_extract(idCol: String, dataCol: String): GraftFrame =
    new GraftFrame(PdfCodec.extractFrame(df, idCol, dataCol))

  /** BPE token counts under a trained merge list
    * ([[graft.operators.Bpe.tokenCounts]]; train with
    * [[graft.operators.Bpe.train]]). */
  def bpe_token_counts(idCol: String, textCol: String,
      merges: Seq[Bpe.Merge]): GraftFrame =
    new GraftFrame(Bpe.tokenCounts(df, idCol, textCol, merges))

  /** robots.txt politeness check against a compiled rules table
    * ([[graft.operators.Robots.politenessCheck]]). */
  def politeness_check(compiled: GraftFrame): GraftFrame =
    new GraftFrame(Robots.politenessCheck(df, compiled.df))

  /** Z-order layout rewrite on two quantized dimensions
    * ([[graft.operators.Layout.zorderBy]]). */
  def zorder_by(x: Column, y: Column, bits: Int): GraftFrame =
    new GraftFrame(Layout.zorderBy(df, x, y, bits))

  /** Hilbert-curve layout rewrite — better locality than Z-order
    * ([[graft.operators.Layout.hilbertBy]]). */
  def hilbert_by(x: Column, y: Column, bits: Int): GraftFrame =
    new GraftFrame(Layout.hilbertBy(df, x, y, bits))

  /** Sparse hashed-TF-IDF vectors (id, bucket, w) —
    * [[graft.operators.TextOps.hashedTfidf]]. */
  def hashed_tfidf(idCol: String, textCol: String, dim: Int = 256,
      seed: Long = 13L): GraftFrame =
    new GraftFrame(TextOps.hashedTfidf(df, idCol, textCol, dim, seed))

  /** Per-document interpolated Kneser–Ney trigram log-probability
    * against `countDocs`' model
    * ([[graft.operators.KneserNey.trigramLogProb]]). */
  def kn_score(countDocs: GraftFrame, idCol: String, textCol: String,
      hotK: Int = 1024): GraftFrame =
    new GraftFrame(graft.operators.KneserNey.trigramLogProb(
      df, countDocs.df, idCol, textCol, hotK = hotK))

  /** First-touch windowed funnel over an event frame
    * ([[graft.streaming.EventWindows.funnel]]). */
  def funnel(steps: Seq[String], withinSeconds: Long): GraftFrame =
    new GraftFrame(graft.streaming.EventWindows.funnel(df, steps, withinSeconds))

  /** Cohort retention triangle over an event frame
    * ([[graft.streaming.EventWindows.retention]]). */
  def retention(maxOffsetDays: Int): GraftFrame =
    new GraftFrame(graft.streaming.EventWindows.retention(df, maxOffsetDays))

  /** Semi-join against `other`'s keys with a bloom pre-filter pushed
    * before the exchange ([[graft.operators.BloomJoin]]). */
  def semi_join_bloom(other: GraftFrame, key: String, otherKey: String,
      expectedItems: Long = 1000000L): GraftFrame =
    new GraftFrame(BloomJoin.bloomSemiJoin(df, key, other.df, otherKey, expectedItems))

  /** Deterministic cosine k-means assignments (id, cell) —
    * [[graft.operators.Similarity.kmeansAssign]]. */
  def kmeans(idCol: String, vecCol: String, k: Int, iters: Int = 1): GraftFrame =
    new GraftFrame(Similarity.kmeansAssign(df, idCol, vecCol, k, iters))

  /** Frequent-value candidates of `colName` with lower-bound estimates
    * ([[graft.operators.HeavyHitters.heavyHitters]]). */
  def heavy_hitters(colName: String, k: Int): GraftFrame =
    new GraftFrame(graft.operators.HeavyHitters.heavyHitters(df, colName, k))

  /** Join rows of this frame whose `pointCol` falls inside `[loCol,
    * hiCol]` of `intervals` — bucketed range join
    * ([[graft.operators.RangeJoin.pointInInterval]]). */
  def join_range(intervals: GraftFrame, pointCol: String,
      loCol: String, hiCol: String, bucketWidth: Long): GraftFrame =
    new GraftFrame(graft.operators.RangeJoin.pointInInterval(
      df, pointCol, intervals.df, loCol, hiCol, bucketWidth))

  /** Deterministic per-group uniform sample of `k` rows
    * ([[graft.operators.Pipeline.stratifiedSample]]). */
  def stratified_sample(groupCol: String, idCol: String, k: Int,
      seed: Long = 0L): GraftFrame =
    new GraftFrame(graft.operators.Pipeline.stratifiedSample(df, groupCol, idCol, k, seed))

  /** Deterministic global sample of exactly `k` rows
    * ([[graft.operators.Pipeline.uniformSample]]). */
  def sample_exact(idCol: String, k: Int, seed: Long = 0L): GraftFrame =
    new GraftFrame(graft.operators.Pipeline.uniformSample(df, idCol, k, seed))

  /** The `k` highest-`scoreCol` rows per group
    * ([[graft.operators.Pipeline.topNPerGroup]]). */
  def top_n_per_group(groupCol: String, idCol: String, scoreCol: String,
      k: Int): GraftFrame =
    new GraftFrame(graft.operators.Pipeline.topNPerGroup(df, groupCol, idCol, scoreCol, k))

  /** Drop every row sharing a word n-gram with the (small) eval
    * corpus — train/eval decontamination
    * ([[graft.operators.Contamination.decontaminate]]). */
  def decontaminate(idCol: String, textCol: String,
      eval: GraftFrame, evalTextCol: String, n: Int = 8): GraftFrame =
    new GraftFrame(Contamination.decontaminate(
      df, idCol, textCol, eval.df, evalTextCol, n))

  /** Append the text quality + repetition metric columns for `textCol`
    * (row-local, one scan — the standard cheap-filter pass). */
  def with_text_metrics(textCol: String): GraftFrame = {
    val named = TextOps.qualityMetrics(col(textCol)) ++ TextOps.repetitionMetrics(col(textCol))
    // duplicate column names would poison every later reference with
    // AMBIGUOUS_REFERENCE (the documents fixture itself carries n_chars)
    graft.operators.OpUtil.requireNoColumns(df, named.map(_._1).toSet, "with_text_metrics")
    new GraftFrame(df.select(col("*") +: named.map { case (n, c) => c.as(n) }: _*))
  }

  /** Append the Gopher quality-rule metric columns plus the composed
    * `gopher_keep` verdict (row-local; [[graft.operators.TextOps.gopherMetrics]]). */
  def with_gopher_quality(textCol: String): GraftFrame = {
    val named = TextOps.gopherMetrics(col(textCol)) :+
      ("gopher_keep" -> TextOps.gopherKeep(col(textCol)))
    graft.operators.OpUtil.requireNoColumns(df, named.map(_._1).toSet, "with_gopher_quality")
    new GraftFrame(df.select(col("*") +: named.map { case (n, c) => c.as(n) }: _*))
  }

  /** Append C4 page-cleaning columns (`clean_text`, line/sentence
    * counts, `keep_doc`; [[graft.operators.TextOps.c4Clean]]). */
  def with_c4_cleaning(textCol: String): GraftFrame = {
    val named = TextOps.c4Clean(col(textCol))
    graft.operators.OpUtil.requireNoColumns(df, named.map(_._1).toSet, "with_c4_cleaning")
    new GraftFrame(df.select(col("*") +: named.map { case (n, c) => c.as(n) }: _*))
  }

  /** BM25 relevance of each row's `textCol` to the fixed keyword query
    * ([[graft.operators.TextOps.bm25Score]] — two jobs at any size). */
  def bm25(idCol: String, textCol: String, terms: Seq[String]): GraftFrame =
    new GraftFrame(TextOps.bm25Score(df, idCol, textCol, terms))

  /** Append int8 absmax quantization columns (`codes`, `scale`) for an
    * embedding column ([[graft.operators.Quantization.int8Encode]]). */
  def with_int8_codes(vecCol: String): GraftFrame = {
    val named = graft.operators.Quantization.int8Encode(col(vecCol))
    graft.operators.OpUtil.requireNoColumns(df, named.map(_._1).toSet, "with_int8_codes")
    new GraftFrame(df.select(col("*") +: named.map { case (n, c) => c.as(n) }: _*))
  }

  /** Semantic near-dedup ([[graft.operators.Similarity.semDedup]]):
    * cluster embeddings, drop the larger id of every within-cluster
    * pair with cosine ≥ `tau`; returns the survivors. */
  def semantic_dedup(idCol: String, vecCol: String, k: Int,
      tau: Double, iters: Int = 1): GraftFrame =
    new GraftFrame(graft.operators.Similarity.semDedup(df, idCol, vecCol, k, tau, iters))

  /** DSIR resampling ([[graft.operators.Dsir]]): fit the hashed-n-gram
    * importance model of `target` against THIS frame as the raw
    * corpus, keep the top-`n` rows by importance weight. */
  def dsir_resample(idCol: String, textCol: String,
      target: GraftFrame, n: Int): GraftFrame = {
    val model = graft.operators.Dsir.fit(target.df, df, textCol)
    new GraftFrame(graft.operators.Dsir.resampleTopN(df, idCol, textCol, model, n))
  }

  /** Stochastic DSIR resample — the paper's seeded Gumbel-top-k
    * ([[graft.operators.Dsir.resampleGumbel]]); deterministic given
    * `seed`, sampling ∝ importance weight. */
  def dsir_resample_gumbel(idCol: String, textCol: String,
      target: GraftFrame, n: Int, seed: Long = 11L): GraftFrame = {
    val model = graft.operators.Dsir.fit(target.df, df, textCol)
    new GraftFrame(graft.operators.Dsir.resampleGumbel(df, idCol, textCol, model, n, seed))
  }

  /** Cross-doc duplicated-span fraction per document
    * ([[graft.operators.TextOps.crossDocDupNgramFraction]]);
    * `hashKeys` trades exact string shuffle keys for slim 8-byte
    * hashes (the scale default). */
  def dup_span_fraction(idCol: String, textCol: String, n: Int = 8,
      hashKeys: Boolean = true): GraftFrame =
    new GraftFrame(TextOps.crossDocDupNgramFraction(df, idCol, textCol, n, hashKeys))

  /** Perceptual hashes of a binary image column — one 64-bit aHash
    * space over BMP/PNG/JPEG/GIF via the real codecs
    * ([[graft.operators.Multimodal.aHashAnyFrame]]); undecodable or
    * non-image payloads hash to null. Returns (idCol, ahash). */
  def image_hashes(idCol: String, dataCol: String): GraftFrame = {
    val hashed = graft.operators.Multimodal.aHashAnyFrame(
      df.select(col(idCol).as("media_id"), col(dataCol).as("data")))
    new GraftFrame(hashed.select(col("media_id").as(idCol), col("ahash")))
  }

  /** ONE-CALL cross-format image near-dedup: perceptual hash → hamming
    * clusters (degenerate-class-safe banding) → keep each cluster's
    * min-id representative. Rows whose payload does not decode keep
    * their rows (null hashes join no cluster). All columns survive;
    * the payload never shuffles ([[graft.operators.Dedup.dropHammingDuplicates]]
    * over [[graft.operators.Multimodal.aHashAnyFrame]]). */
  def drop_duplicate_images(idCol: String, dataCol: String,
      maxHamming: Int = 2): GraftFrame = {
    val hashed = graft.operators.Multimodal.aHashAnyFrame(
        df.select(col(idCol).as("media_id"), col(dataCol).as("data")))
      .select(col("media_id").as(idCol), col("ahash"))
    val kept = graft.operators.Dedup.dropHammingDuplicates(hashed, idCol, "ahash", maxHamming)
    new GraftFrame(df.join(kept.select(idCol), Seq(idCol), "left_semi"))
  }

  /** Exact-integer audio features of a WAV payload column (PCM16/PCM8/
    * µ-law — [[graft.operators.Multimodal.extractAudioFeatures]]);
    * non-WAV rows report format "unknown" with zeroed stats. */
  def audio_features(idCol: String, dataCol: String): GraftFrame = {
    val f = graft.operators.Multimodal.extractAudioFeatures(
      df.select(col(idCol).as("media_id"), col(dataCol).as("data"))).toDF()
    new GraftFrame(f.withColumnRenamed("mediaId", idCol))
  }

  /** One-call audio METADATA over every supported shape — WAV, MP3,
    * ADTS/AAC, FLAC, Opus, Vorbis, M4A — by disjoint format probes
    * ([[graft.operators.Multimodal.extractAudioMeta]]); unmatched rows
    * report format "unknown" with zeroed fields. */
  def audio_metadata(idCol: String, dataCol: String): GraftFrame = {
    val f = graft.operators.Multimodal.extractAudioMeta(
      df.select(col(idCol).as("media_id"), col(dataCol).as("data"))).toDF()
    new GraftFrame(f.withColumnRenamed("mediaId", idCol))
  }

  /** GIF container metadata per payload row — frames, animated flag,
    * GCE-delay duration ([[graft.operators.Multimodal.extractGifMeta]]). */
  def gif_metadata(idCol: String, dataCol: String): GraftFrame = {
    val f = graft.operators.Multimodal.extractGifMeta(
      df.select(col(idCol).as("media_id"), col(dataCol).as("data"))).toDF()
    new GraftFrame(f.withColumnRenamed("mediaId", idCol))
  }

  /** MP4 container metadata per payload row — duration, dims, tracks
    * ([[graft.operators.Multimodal.extractVideoMeta]]). */
  def video_metadata(idCol: String, dataCol: String): GraftFrame = {
    val f = graft.operators.Multimodal.extractVideoMeta(
      df.select(col(idCol).as("media_id"), col(dataCol).as("data"))).toDF()
    new GraftFrame(f.withColumnRenamed("mediaId", idCol))
  }

  /** Append URL curation columns for `urlCol`: `url_canonical`,
    * `url_host`, `url_domain` ([[graft.operators.UrlOps]] — row-local
    * codegen'd regex). */
  def with_url_columns(urlCol: String): GraftFrame = {
    import graft.operators.UrlOps
    val named = Seq(
      "url_canonical" -> UrlOps.canonicalize(col(urlCol)),
      "url_host" -> UrlOps.host(col(urlCol)),
      "url_domain" -> UrlOps.registrableDomain(col(urlCol)))
    graft.operators.OpUtil.requireNoColumns(df, named.map(_._1).toSet, "with_url_columns")
    new GraftFrame(df.select(col("*") +: named.map { case (n, c) => c.as(n) }: _*))
  }

  /** Drop rows whose registrable domain is on `blocklist`
    * ([[graft.operators.UrlOps.dropBlockedDomains]] — broadcast
    * anti-join, the corpus never shuffles). */
  def drop_blocked_domains(urlCol: String, blocklist: GraftFrame,
      domainCol: String = "domain"): GraftFrame =
    new GraftFrame(graft.operators.UrlOps.dropBlockedDomains(
      df, urlCol, blocklist.df, domainCol))

  // ----- sinks (§2.1) --------------------------------------------------

  def to_parquet(path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(path)
  /** Hive-style partitioned parquet layout (`path/col=value/...`) — the
    * data-lake write shape: queries filtering on a partition column
    * prune whole directories at planning time, so a selective read
    * scans its partitions only, never the full 100 TB. Choose LOW
    * cardinality partition columns (each value is a directory; a
    * high-cardinality key would explode the file count). */
  def to_parquet_partitioned(
      path: String, partitionCols: Seq[String], mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
  def to_csv(path: String, header: Boolean = true, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)
  /** ORC sink — the other columnar warehouse format (Hive-ecosystem
    * tables arrive as ORC); Spark's native writer, same predicate
    * pushdown and column pruning as parquet on read-back. */
  def to_orc(path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)
  /** Bucketed (+ optionally in-bucket-sorted) parquet table — Spark's
    * co-located-join layout: rows hash into `buckets` files by `by`,
    * and a join or aggregation whose keys cover the bucket columns of
    * both sides (equal bucket counts) needs NO exchange at read time —
    * at 100 TB that is the difference between shuffling two fact
    * tables nightly and shuffling neither, paid once at write. Bucket
    * metadata lives in the catalog, not the files, hence saveAsTable
    * (lands under `spark.sql.warehouse.dir`); read back with
    * [[GraftFrame.read_table]]. The pre-write repartition yields ONE
    * file per bucket so an in-bucket sort also satisfies the merge
    * join's ordering requirement (multi-file buckets forfeit the
    * sorted-ness, Spark re-sorts). */
  def to_parquet_bucketed(table: String, buckets: Int, by: Seq[String],
      sortCols: Seq[String] = Seq.empty, mode: String = "overwrite",
      path: Option[String] = None): Unit = {
    require(by.nonEmpty, "bucketing needs at least one column")
    // `path` makes the table EXTERNAL: callers whose catalog is
    // per-session (in-memory) should pass a fresh path — a managed
    // table's warehouse directory outlives the catalog entry, and the
    // next session's saveAsTable dies on LOCATION_ALREADY_EXISTS
    val w0 = df.repartition(buckets, by.map(col): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, by.head, by.tail: _*)
    val w = path.fold(w0)(p => w0.option("path", p))
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
  /** JSON-Lines sink ([[graft.sources.JsonlReader.writeJsonl]]) — the
    * corpus interchange format; zstd preferred at scale. */
  def to_jsonl(path: String, mode: String = "overwrite",
      compression: Option[String] = None): Unit =
    graft.sources.JsonlReader.writeJsonl(df, path, mode, compression)
}

object GraftFrame {
  /** `read_csv` — the reference's single public entry point
    * (reference: dataframe/__init__.py:1, io.py:13-88). */
  def read_csv(spark: SparkSession, path: String, opts: CsvOptions = CsvOptions()): GraftFrame =
    new GraftFrame(CsvReader.readCsv(spark, path, opts))

  /** Parquet source (fixtures + any real deployment's columnar data). */
  def read_parquet(spark: SparkSession, path: String): GraftFrame =
    new GraftFrame(spark.read.parquet(path))

  /** JSON-Lines source ([[graft.sources.JsonlReader]]) — pass an
    * explicit schema at scale to skip the inference scan. */
  def read_jsonl(spark: SparkSession, path: String,
      opts: graft.sources.JsonlOptions = graft.sources.JsonlOptions()): GraftFrame =
    new GraftFrame(graft.sources.JsonlReader.readJsonl(spark, path, opts))

  /** ORC source — read side of [[GraftFrame!.to_orc]]. */
  def read_orc(spark: SparkSession, path: String): GraftFrame =
    new GraftFrame(spark.read.orc(path))

  /** Catalog table source — the read side of
    * [[GraftFrame.to_parquet_bucketed]]: scans carry the table's bucket
    * spec, so joins/aggs on the bucket columns plan exchange-free. */
  def read_table(spark: SparkSession, table: String): GraftFrame =
    new GraftFrame(spark.table(table))

  // ---- metadata tier (footer / page-index / bloom scans) ----------------

  /** Per-file footer census of a parquet directory — a metadata-only
    * scan (tail reads, never data pages). [[graft.sources.ParquetFooter]]. */
  def footer_census(spark: SparkSession, dir: String): GraftFrame =
    new GraftFrame(graft.sources.ParquetFooter.footers(spark, dir))

  /** Per (file, row group, column chunk) statistics. */
  def column_stats(spark: SparkSession, dir: String): GraftFrame =
    new GraftFrame(graft.sources.ParquetFooter.columnStats(spark, dir))

  /** Row-group min/max skip census for `lo <= column <= hi`. */
  def prune_census(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long): GraftFrame =
    new GraftFrame(graft.sources.ParquetFooter.pruneCensus(spark, dir, column, lo, hi))

  /** Page-level (ColumnIndex/OffsetIndex) skip census. */
  def page_prune_census(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long): GraftFrame =
    new GraftFrame(graft.sources.ParquetFooter.pagePruneCensus(spark, dir, column, lo, hi))

  /** Split-block Bloom probe: might each file contain each key? */
  def bloom_probe(spark: SparkSession, dir: String, column: String,
      keys: Seq[Long]): GraftFrame =
    new GraftFrame(graft.sources.ParquetBloom.probeCensus(spark, dir, column, keys))

  /** Bloom probe over BYTE_ARRAY/UTF8 key columns (string join keys —
    * ids, urls, hashes). */
  def bloom_probe_str(spark: SparkSession, dir: String, column: String,
      keys: Seq[String]): GraftFrame =
    new GraftFrame(graft.sources.ParquetBloom.probeCensusBinary(spark, dir, column, keys))

  /** Hand-written data-page scan of two flat columns (the repo's own
    * page walk and decompressors — no parquet-mr). Both page versions
    * decode, incl. the DELTA encoding family, boolean RLE,
    * BYTE_STREAM_SPLIT and INT96 timestamps (round 17). */
  def page_scan(spark: SparkSession, dir: String,
      colA: String, colB: String): GraftFrame =
    new GraftFrame(graft.sources.ParquetPages.scanTwoColumns(spark, dir, colA, colB))

  /** Hand-written data-page scan of a one-level LIST column: records
    * reassembled from repetition/definition levels (round 17). */
  def page_scan_list(spark: SparkSession, dir: String,
      column: String): GraftFrame =
    new GraftFrame(graft.sources.ParquetPages.scanListColumn(spark, dir, column))

  /** Generic Dremel assembly of a STRUCT column (round 18): fields
    * surfaced as a name→string map, nested values in canonical form. */
  def page_scan_struct(spark: SparkSession, dir: String,
      column: String): GraftFrame =
    new GraftFrame(graft.sources.ParquetNested.scanStructColumn(spark, dir, column))

  /** Generic Dremel assembly of a LIST<STRUCT> (or MAP) column
    * (round 18). */
  def page_scan_list_struct(spark: SparkSession, dir: String,
      column: String): GraftFrame =
    new GraftFrame(graft.sources.ParquetNested.scanListStructColumn(spark, dir, column))

  /** Generic Dremel assembly of a LIST<LIST<primitive>> column
    * (round 18). */
  def page_scan_nested_list(spark: SparkSession, dir: String,
      column: String): GraftFrame =
    new GraftFrame(graft.sources.ParquetNested.scanNestedListColumn(spark, dir, column))
}

/** Hand-writer sink surface (round 18): spec-conformant parquet built
  * from scratch — V1 PLAIN pages, RLE def levels, Thrift compact
  * footer — one file per partition. See
  * [[graft.sources.ParquetWriter]]. */
trait GraftHandSink { self: GraftFrame =>
  def to_parquet_hand(dir: String, codec: Int = 0, pageRows: Int = 20000,
      dictStrings: Boolean = true, bloomColumns: Set[String] = Set.empty): Int =
    graft.sources.ParquetWriter.writeDir(self.df, dir, codec, pageRows,
      dictStrings, bloomColumns)
}

/** Grouped-aggregation surface — `df.groupby(keys).agg(...)`.
  *
  * The reference never ships `groupby` but declares it as a required
  * capability (duck-type check, reference: dataframe/utils.py:323) and
  * built `aca`'s `split_out` precisely for hash-partitioned grouped
  * output (reference: dataframe/core.py:596-603). Spark's groupBy IS that
  * design: partial agg per partition → hash shuffle on keys (`split_out`
  * ≈ shuffle partitions, AQE-coalesced) → final agg.
  */
final class GraftGroupBy(df: DataFrame, keys: Seq[String]) {

  private def grouped = df.groupBy(keys.map(col): _*)

  /** pandas-style `agg({"col": "fn"})`: pairs of (column, fnName) where
    * fnName ∈ sum/prod/max/min/count/mean/std/all/any. Output column is
    * `fn_col` (aliased — stable names for oracles). */
  def agg(pairs: (String, String)*): GraftFrame = {
    import graft.functions.ProductAgg.product
    import org.apache.spark.sql.{functions => F}
    val aggCols = pairs.map { case (c, fn) =>
      val a = fn match {
        case "sum"   => F.sum(col(c))
        case "prod"  => product(col(c))
        case "max"   => F.max(col(c))
        case "min"   => F.min(col(c))
        case "count" => F.count(col(c))
        case "mean"  => F.avg(col(c))
        case "std"   => F.stddev_samp(col(c))
        case "all"   => F.bool_and(col(c).cast("boolean"))
        case "any"   => F.bool_or(col(c).cast("boolean"))
        case other   => throw new IllegalArgumentException(s"unknown agg fn: $other")
      }
      a.as(s"${fn}_$c")
    }
    new GraftFrame(grouped.agg(aggCols.head, aggCols.tail: _*))
  }

  /** Spark-native column aggregates. */
  def agg(first: Column, rest: Column*): GraftFrame =
    new GraftFrame(grouped.agg(first, rest: _*))

  /** `split_out` (reference: dataframe/core.py:596-603) — per-call
    * control of the grouped OUTPUT shard count, independent of the
    * global `spark.sql.shuffle.partitions`/AQE setting. The extra
    * exchange re-hashes the already-aggregated rows (one per group), so
    * its cost is proportional to the number of groups, not the input —
    * exactly the knob's purpose: high-cardinality groupings write `n`
    * balanced shards instead of one giant AQE-coalesced partition. */
  def agg(splitOut: Int, pairs: (String, String)*): GraftFrame = {
    require(splitOut > 0, s"split_out must be positive, got $splitOut")
    new GraftFrame(agg(pairs: _*).toDF.repartition(splitOut, keys.map(col): _*))
  }

  /** `sort=` (reference: dataframe/core.py:724-731): order the grouped
    * output by the group keys. Like the reference, incompatible with
    * `split_out > 1` — a keyed sort imposes one global range ordering,
    * which a hash-sharded output contract contradicts; `splitOut = 1`
    * composes (ordered single shard). The sort is the standard
    * range-partitioned orderBy over the POST-aggregation rows (one per
    * group), so its cost scales with groups, not input. */
  def agg(pairs: Seq[(String, String)], sort: Boolean): GraftFrame = {
    val out = agg(pairs: _*)
    if (sort) new GraftFrame(out.toDF.orderBy(keys.map(col): _*)) else out
  }

  /** [[agg(splitOut*]] + `sort` — rejects the contradictory combination
    * the way the reference does (core.py:724-731). */
  def agg(splitOut: Int, sort: Boolean, pairs: (String, String)*): GraftFrame = {
    require(!(sort && splitOut > 1),
      s"sort=true is incompatible with split_out=$splitOut > 1 " +
        "(reference core.py:724-731): a keyed sort is one global range " +
        "ordering; a sharded output is hash-partitioned")
    if (sort)
      new GraftFrame(agg(pairs: _*).toDF.orderBy(keys.map(col): _*).coalesce(1))
    else agg(splitOut, pairs: _*)
  }

  def sum(cols: String*): GraftFrame = agg(cols.map(_ -> "sum"): _*)
  def mean(cols: String*): GraftFrame = agg(cols.map(_ -> "mean"): _*)
  def size(): GraftFrame = {
    import org.apache.spark.sql.{functions => F}
    new GraftFrame(grouped.agg(F.count(F.lit(1)).as("count")))
  }

  /** pandas `pivot_table(index=keys, columns=pivotCol, aggfunc="count")`
    * with an EXPLICIT value list — at 100 TB never let Spark scan for
    * distinct pivot values first (that's an extra full pass). Missing
    * cells are 0, matching a count semantics. */
  def pivotCount(pivotCol: String, values: Seq[String]): GraftFrame = {
    import org.apache.spark.sql.{functions => F}
    val counted = grouped.pivot(pivotCol, values).count()
    new GraftFrame(counted.select(
      counted.columns.map { c =>
        if (values.contains(c)) F.coalesce(F.col(s"`$c`"), F.lit(0L)).as(c)
        else F.col(s"`$c`")
      }.toSeq: _*))
  }
}
