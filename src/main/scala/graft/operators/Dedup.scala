package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MinHashSignature.minhash
import graft.functions.SimHash64.simhash

/** Deduplication operators over document tables — exact, MinHash-LSH,
  * SimHash, and exact n-gram-Jaccard.
  *
  * Scale design (the 100 TB contract): nothing here is all-pairs. Exact
  * dedup is one hash shuffle on the key. Near-dup is
  * shingle → signature (row-local) → banded LSH (ONE shuffle on
  * (band, bandHash)) → candidate pairs (bucket-local) → exact verify
  * (join back, row-local compare). The only quadratic work is inside a
  * bucket, which banding keeps tiny; AQE skew-join handles degenerate
  * buckets (e.g. boilerplate-heavy corpora).
  */
object Dedup {

  /** Distinct word n-gram shingles of a text column, lowercased,
    * whitespace-tokenized — one-pass native expression
    * ([[graft.functions.WordNGrams]]; the equivalent
    * transform/slice/concat_ws higher-order pipeline measured 10×+
    * slower). Docs shorter than `n` tokens yield an empty array. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordNGrams.wordNGrams(text, n)

  /** Exact duplicate removal on a subset of columns (hash-partitioned
    * groupBy under the hood — pandas `drop_duplicates`). */
  def exact(df: DataFrame, subset: Seq[String] = Nil): DataFrame =
    if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset)

  /** Conditionally widen AND materialize a multi-consumer input (r20).
    * The near-dup pipelines scan their input several times per call —
    * signature pass, member roster, shingle verify, final anti-join —
    * and each pass repeats the input transform plus its CPU-dense
    * per-row work (minhash banding ~128 mult-adds/shingle) at the
    * SCAN's parallelism. When the input arrives in fewer partitions
    * than the cluster has cores (a single-file batch — or the
    * single-row-group gate fixtures), that is a serial stage repeated
    * per action: r19 measured plain fan() on this family SLOWER
    * because every action re-paid the scan+exchange; the missing half
    * is the eager localCheckpoint, which pays the exchange once and
    * lets every consumer read materialized rows at full width. Inputs
    * already at or above cluster parallelism (any real 100 TB scan)
    * pass through untouched — this can never become a full-table
    * shuffle, and the checkpoint only ever holds a narrower-than-cores
    * input, i.e. batch-sized data. */
  private def widen(df: DataFrame): DataFrame = {
    val fanned = OpUtil.fan(df)
    if (fanned eq df) df else fanned.localCheckpoint(true)
  }

  /** Exact dedup by content hash, windowed formulation. Honest cost
    * note: the window SHUFFLES AND SORTS THE FULL ROW — partitioning by
    * `xxhash64(text)` only cheapens the partition key; the payload
    * still moves and the within-partition sort compares full text.
    * Fine when rows are narrow or no row-id exists; for wide payloads
    * use [[exactByHashById]], whose shuffles carry a slim
    * (fingerprint, id) projection instead. */
  def exactByHash(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(xxhash64(col(textCol))).orderBy(col(textCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup by content fingerprint keeping the minimum-`idCol`
    * row per distinct text — the slim-shuffle plan for wide payloads:
    *
    *   1. project (fingerprint, id) — the ONLY thing the dedup
    *      groupBy shuffles; the payload never enters an exchange;
    *   2. loser ids = every id except the per-fingerprint minimum
    *      (for mostly-unique corpora this set is TINY);
    *   3. `left_anti` join back on id — AQE broadcasts the small
    *      loser set, so the payload is never shuffled at all.
    *
    * Fingerprint = (xxhash64(text), xxhash64(salt, text), length):
    * two INDEPENDENT 64-bit hashes (the salt leads, so the internal
    * states diverge from byte 0 — `xxhash64(text, salt)` would share
    * the text-prefix state and collide together) plus the length. A
    * false merge needs a simultaneous collision in both hashes at
    * equal length (~2⁻¹²⁸) — the standard content-hash dedup contract;
    * resolving byte-exactly would require shuffling the payload, which
    * is exactly what this plan exists to avoid. */
  def exactByHashById(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val slim = df.select(
      xxhash64(col(textCol)).as("__h1"),
      xxhash64(lit("graft-dedup-h2"), col(textCol)).as("__h2"),
      length(col(textCol)).as("__len"),
      col(idCol))
    val keepers = slim.groupBy("__h1", "__h2", "__len")
      .agg(min(col(idCol)).as("__keep"))
    val losers = slim.join(keepers, Seq("__h1", "__h2", "__len"))
      .where(col(idCol) =!= col("__keep"))
      .select(col(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** All (a, b) pairs, a < b, of the sorted `elems` array column —
    * the within-bucket pair expansion for the minhash-LSH bucket table.
    * Quadratic ONLY inside a bucket, and banding keeps minhash buckets
    * tiny (a degenerate mega-bucket means near-identical docs — run
    * exact dedup first). For band schemes with LARGE buckets (e.g.
    * 16-bit simhash chunks) a codegen'd self-join beats this HOF
    * expansion — see [[simHashPairs]]. */
  private def inBucketPairs(elems: Column)(pair: (Column, Column) => Column): Column =
    flatten(transform(elems, (x, i) =>
      transform(slice(elems, i + 2, size(elems)), y => pair(x, y))))

  /** [[inBucketPairs]] with the verify predicate pushed INSIDE the
    * expansion: candidates failing `keep` are filtered before the pair
    * struct is allocated or exploded into a row. For selective
    * verifies (simhash hamming keeps ~1% of candidates) this shrinks
    * the explode output and the downstream distinct shuffle by the
    * same ~100×. */
  private def inBucketPairsWhere(elems: Column)(keep: (Column, Column) => Column)(
      pair: (Column, Column) => Column): Column =
    flatten(transform(elems, (x, i) =>
      transform(
        filter(slice(elems, i + 2, size(elems)), y => keep(x, y)),
        y => pair(x, y))))

  /** Candidate near-duplicate id pairs via banded MinHash-LSH.
    * `threshold`-tuned banding is the caller's job (b·r = numHashes;
    * the s-curve midpoint is (1/b)^(1/r)).
    *
    * Shape: raw text → fused tokenize+shingle+minhash+band hash (ONE
    * native codegen'd pass over the bytes,
    * [[graft.functions.TextMinHashBands]] — no token array, no shingle
    * strings, no signature array; valid because minhash is
    * duplicate-insensitive) → collapse exact-duplicate texts →
    * posexplode of ONE representative per distinct text → ONE grouped
    * shuffle on (band_idx, band_hash) → in-bucket pair expansion —
    * never all-pairs. `collect_list` not `collect_set`: a rep
    * contributes each band index exactly once, so duplicates are
    * impossible and set-dedup hashing is wasted work.
    *
    * Degenerate-class hardening (the [[hammingPairs]] contract): an
    * exact-duplicate class of m rows lands in the SAME bucket in EVERY
    * band, so banding raw rows would build 32 O(m) `collect_list`
    * buffers and expand O(m²) pairs in single tasks. Instead rows
    * collapse on the exact-text key `(xxhash64(text), length(text))`
    * (the [[dedupLines]]-proven slim composite) in the same map-side
    * pass that computes the signature — partial aggregation collapses
    * local duplicates before the shuffle, and min-id-struct selection
    * keeps the result deterministic. Identical-text pairs re-enter
    * through a plain self-equi-join on the slim key (AQE-splittable,
    * output-bound), cross-class pairs by joining the rep-level pair
    * set back to members on each side. The hottest bucket is bounded
    * by DISTINCT texts sharing a band hash, not corpus frequency, and
    * the signature is still computed exactly once per row — duplicate
    * classes band (and pay the explode for) one representative
    * instead of m. A key collision (same 64-bit hash AND length over
    * different text) would merge two classes — the same accepted
    * profile as [[dedupLines]]; downstream exact-Jaccard verification
    * in [[nearDupMinHash]] drops any sub-threshold artifact.
    *
    * API note for DIRECT callers (round 7 behavior change): the
    * identical-text tier emits a candidate pair for every pair of
    * exact-duplicate texts EVEN when the text is too short to produce
    * minhash bands — the pre-round-7 banding-only path never emitted
    * those. CANDIDATES are by contract recall-oriented; route through
    * [[nearDupMinHash]] (whose exact-Jaccard verify scores such pairs
    * 0.0 and drops them at any threshold > 0) or [[lshClusters]] for
    * verified semantics. */
  def lshCandidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleN: Int = 3,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val d = docs
    // heavy pass (signature) — consumed ONCE, by the collapse below
    val sigs = d.select(
      xxhash64(col(textCol)).as("__tk"),
      length(col(textCol)).as("__tl"),
      col(idCol),
      graft.functions.TextMinHashBands.textMinhashBands(
        col(textCol), shingleN, numHashes, bands, seed).as("__bands"))
    // one row per distinct text: min-id representative + its signature
    // (identical texts carry identical signatures, so the struct-min is
    // both deterministic and class-representative)
    val classes = sigs
      .groupBy("__tk", "__tl")
      .agg(min(struct(col(idCol).as("__rep"), col("__bands").as("__bands"))).as("__m"))
      .select(col("__tk"), col("__tl"),
        col("__m.__rep").as("__rep"), col("__m.__bands").as("__bands"))
    // light pass (no shingling) — the member roster. Eagerly
    // checkpointed: it has SIX join appearances below (two identical-
    // tier sides, four cross-tier sides), each of which would
    // otherwise re-scan and re-hash the full text column; the roster
    // itself is a slim 3-column (hash, length, id) frame — the same
    // materialize-the-model-table call as bigramLogProb's uniC.
    val mem = d.select(
      xxhash64(col(textCol)).as("__tk"),
      length(col(textCol)).as("__tl"),
      col(idCol))
      .localCheckpoint(true)
    val identical = mem.select(col("__tk"), col("__tl"), col(idCol).as("id_a"))
      .join(mem.select(col("__tk"), col("__tl"), col(idCol).as("id_b")),
        Seq("__tk", "__tl"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val repPairs = classes
      .select(col("__rep"),
        posexplode(col("__bands")).as(Seq("band_idx", "band_hash")))
      .where(col("band_hash").isNotNull)
      .groupBy("band_idx", "band_hash")
      .agg(array_sort(collect_list(col("__rep"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(inBucketPairs(col("ids"))((a, b) =>
        struct(a.as("__ra"), b.as("__rb")))).as("p"))
      .select(col("p.__ra"), col("p.__rb"))
      .distinct()
    // a representative IS a member, so its class key comes from the
    // LIGHT mem pass — `classes` (the heavy signature subtree) stays
    // single-consumer and the signature is never re-evaluated
    val cross = repPairs
      .join(mem.select(col(idCol).as("__ra"),
        col("__tk").as("__tka"), col("__tl").as("__tla")), "__ra")
      .join(mem.select(col(idCol).as("__rb"),
        col("__tk").as("__tkb"), col("__tl").as("__tlb")), "__rb")
      .join(mem.select(col("__tk").as("__tka"), col("__tl").as("__tla"),
        col(idCol).as("__ia")), Seq("__tka", "__tla"))
      .join(mem.select(col("__tk").as("__tkb"), col("__tl").as("__tlb"),
        col(idCol).as("__ib")), Seq("__tkb", "__tlb"))
      .select(
        least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"))
    // tiers are disjoint (identical = same class, cross = different
    // classes) and each id belongs to exactly one class, so no id-level
    // distinct is needed beyond the rep-level one above.
    identical.unionAll(cross)
  }

  /** Exact word-shingle Jaccard between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(
        size(array_intersect(a, b)).cast(DoubleType) /
          size(array_union(a, b)).cast(DoubleType))

  /** Full MinHash-LSH near-dup pipeline: banded candidates, then exact
    * shingle-Jaccard verification ≥ `threshold`. Output:
    * (id_a, id_b, jaccard), id_a < id_b. */
  def nearDupMinHash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleN: Int = 3,
      seed: Long = 42L,
      verifyOnlyCandidates: Boolean = false): DataFrame = {
    val d = docs
    val cands = lshCandidatePairs(d, idCol, textCol, numHashes, bands, shingleN, seed)
    // verifyOnlyCandidates: shingle only docs that appear in a candidate
    // pair. At 100 TB candidates are a sliver of the corpus, so the
    // semi-join spares the verify scan from re-shingling everything —
    // but deriving the id set re-evaluates the candidate plan, so it
    // only pays when candidates ≪ corpus (persist/checkpoint `cands`
    // in a real deployment). Off by default: on dup-dense data the
    // one-pass plan is faster (measured 1.4× at sf0.1, where nearly
    // every doc IS a candidate).
    val base =
      if (!verifyOnlyCandidates) d
      else d.join(
        cands.select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct(),
        Seq(idCol), "left_semi")
    val sh = base.select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    cands
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Persistable band-hash INDEX of a corpus — `(band_idx, band_hash,
    * id)` rows, one per (doc, band). Write it partitioned/bucketed by
    * `(band_idx, band_hash)` and probe it incrementally with
    * [[nearDupAgainstIndex]]: the daily-ingest dedup shape, where the
    * 100 TB corpus is signatured ONCE and each new batch only pays for
    * itself. Parameters must match between index build and probe
    * (same seed/numHashes/bands/shingleN — the hashes are the contract). */
  def minHashIndex(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleN: Int = 3,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    OpUtil.fan(docs).select(
      col(idCol).as("id"),
      posexplode(
        graft.functions.TextMinHashBands.textMinhashBands(
          col(textCol), shingleN, numHashes, bands, seed))
        .as(Seq("band_idx", "band_hash")))
      .select(col("band_idx"), col("band_hash"), col("id"))
  }

  /** Compact N daily [[minHashIndex]] builds into one (round-17
    * VERDICT item 5 — the maintenance half of the incremental-dedup
    * story): duplicate rows from re-indexed documents collapse, and
    * near-duplicate CLASSES spanning the batches contract to their
    * minimum id — every member's band rows re-point to the class
    * representative, so any probe that would have hit a member still
    * hits the class (no recall loss from compaction). Returns the
    * compacted `(band_idx, band_hash, id)` index.
    *
    * Candidate generation is index-only: exact-duplicate ids (same
    * text) collapse FIRST via a corpus text-hash join (one row per id,
    * never per band), so the bucket self-join expands pairs only
    * between DISTINCT texts — the same degenerate-class bound as the
    * batch dedup paths. The corpus supplies text ONLY for the
    * candidate verify and the exact-class join: cost is
    * O(index + candidates), never O(corpus shingles). */
  def compactMinHashIndexes(indexes: Seq[DataFrame], corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3): DataFrame = {
    require(indexes.nonEmpty, "no indexes to compact")
    // materialize the union ONCE: compaction fires several actions
    // (exact-class checkpoint, contraction rounds, the final write) and
    // the inputs are usually lazy index-build plans — without this the
    // banding of every batch would recompute per action
    val union = indexes.map(_.select("band_idx", "band_hash", "id"))
      .reduce(_ unionByName _).distinct().localCheckpoint(true)
    // exact classes: identical text ⇒ identical signature ⇒ identical
    // band rows; collapse to the min id before any pair expansion
    // (widening the corpus here was A/B-measured SLOWER — the md5 and
    // candidate-pruned shingle passes are cheaper than an extra
    // checkpoint job at gate scale)
    val txtHash = corpus.select(col(idCol).as("id"), md5(col(textCol)).as("__th"))
    val idsInIndex = union.select("id").distinct().join(txtHash, "id")
    val exactRep = idsInIndex.groupBy("__th").agg(min("id").as("__rep"))
    val idToExact = idsInIndex.join(exactRep, "__th").select(col("id"), col("__rep"))
      .localCheckpoint(true)
    // candidates between exact-class reps sharing a band bucket
    val repRows = union.join(idToExact, "id")
      .select(col("band_idx"), col("band_hash"), col("__rep").as("id")).distinct()
    val cands = repRows.as("a").join(repRows.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    // verify ONLY candidate ids: semi-join prunes the corpus before any
    // shingling, so tokenize/shuffle cost is ∝ candidates, and the
    // corpus pays one column scan — never a full-corpus shingle pass
    val candIds = cands.select(col("id_a").as("__vid"))
      .unionByName(cands.select(col("id_b").as("__vid"))).distinct()
    val sh = corpus.select(col(idCol).as("__vid"), col(textCol))
      .join(candIds, Seq("__vid"), "left_semi")
      .select(col("__vid"), shingles(col(textCol), shingleN).as("__sh"))
    val verified = cands
      .join(sh.select(col("__vid").as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(sh.select(col("__vid").as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .where(jaccard(col("__sh_a"), col("__sh_b")) >= threshold)
      .select("id_a", "id_b")
    // contract ONLY the rep-rep pair graph, then compose the exact
    // mapping on top: exact reps are their class minima, so
    // min-over-reps == min-over-members and the result is identical to
    // clustering the full member graph — at a fraction of the rounds'
    // cost when exact classes are large (the viral-page shape)
    val clusters = duplicateClusters(verified)
      .withColumnRenamed("id", "__rid").withColumnRenamed("cluster", "__cluster")
    val mapping = idToExact.join(clusters, col("__rep") === col("__rid"), "left")
      .select(col("id"), coalesce(col("__cluster"), col("__rep")).as("__final"))
    union.join(mapping, Seq("id"), "left")
      .select(col("band_idx"), col("band_hash"),
        coalesce(col("__final"), col("id")).as("id"))
      .distinct()
  }

  /** Incremental near-dup: NEW documents probed against a corpus
    * [[minHashIndex]] — output `(id_new, id_idx, jaccard)` for every
    * new doc within `threshold` of an INDEXED doc (new-vs-new pairs are
    * deliberately out of scope: run [[nearDupMinHash]] on the batch for
    * those). `corpus` supplies the indexed docs' text for the exact
    * verify; id spaces may overlap (the columns keep the sides apart).
    *
    * Scale shape: the new batch's band hashes are row-local; ONE
    * equi-join on `(band_idx, band_hash)` against the index finds
    * candidates — with the index stored bucketed on those keys, only
    * the (small) batch side shuffles. The verify then joins text for
    * the candidate ids only: at 100 TB the index is petabyte-class but
    * the per-batch work is proportional to the BATCH, not the corpus. */
  def nearDupAgainstIndex(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      threshold: Double,
      numHashes: Int = 128, bands: Int = 32, shingleN: Int = 3,
      seed: Long = 42L): DataFrame = {
    val probe = minHashIndex(newDocs, idCol, textCol, numHashes, bands, shingleN, seed)
      .withColumnRenamed("id", "id_new")
    val cands = probe
      .join(index.withColumnRenamed("id", "id_idx"), Seq("band_idx", "band_hash"))
      .select(col("id_new"), col("id_idx"))
      .distinct()
    val shNew = OpUtil.fan(newDocs).select(col(idCol).as("id_new"),
      shingles(col(textCol), shingleN).as("__sh_new"))
    val shIdx = OpUtil.fan(corpus).select(col(corpusIdCol).as("id_idx"),
      shingles(col(corpusTextCol), shingleN).as("__sh_idx"))
    cands
      .join(shNew, "id_new")
      .join(shIdx, "id_idx")
      .select(col("id_new"), col("id_idx"),
        jaccard(col("__sh_new"), col("__sh_idx")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** ONE-CALL incremental ingest dedup — the operational form of the
    * daily-batch story: drop from `newDocs` every document that is
    *   (a) a near-dup of an INDEXED document ([[nearDupAgainstIndex]]
    *       probe against the persisted [[minHashIndex]]),
    *   (b) in a batch-internal duplicate cluster that CONTAINS an
    *       index hit (transitively a dup of the corpus through the
    *       batch graph), or
    *   (c) a non-representative member (not the min id) of a clean
    *       batch-internal cluster ([[lshClusters]] over the batch —
    *       exact-duplicate classes never expand to pairs).
    * Returns the surviving rows of `newDocs`, all columns — the set to
    * append to the corpus (and whose [[minHashIndex]] rows to append
    * to the index).
    *
    * Scale shape: the probe pays ∝ batch (index side pre-bucketed);
    * batch-internal clustering is [[lshClusters]]' collapsed form —
    * exact-duplicate classes never expand to pairs, so a dup-dense
    * batch costs O(batch), and cross-class candidates pay only within
    * shared bands over DISTINCT texts; the corpus is touched ONLY by
    * the probe's verify join on candidate ids. The probe-hit id set is
    * materialized once (it steers both the direct drop and the
    * cluster-hit test). */
  def dedupIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, corpus: DataFrame,
      corpusIdCol: String, corpusTextCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 32,
      shingleN: Int = 3, seed: Long = 42L): DataFrame = {
    OpUtil.requireNoColumns(newDocs, Set("__cl", "__hit_cl"), "dedupIncremental")
    val nd = widen(newDocs)
    val hits = nearDupAgainstIndex(nd, idCol, textCol,
        index, corpus, corpusIdCol, corpusTextCol,
        threshold, numHashes, bands, shingleN, seed)
      .select(col("id_new").as(idCol)).distinct()
      .localCheckpoint(true)
    // Batch-internal clustering on lshClusters' collapsed path
    // (byte-equivalent to duplicateClusters over nearDupMinHash pairs):
    // a batch that is 10⁶ copies of one page costs O(batch), never the
    // ~5·10¹¹-row identical-pair expansion.
    val clusters = lshClusters(nd, idCol, textCol,
        threshold, numHashes, bands, shingleN, seed)
      .select(col("id").as(idCol), col("cluster").as("__cl"))
    val hitClusters = clusters.join(hits, Seq(idCol), "left_semi")
      .select(col("__cl").as("__hit_cl")).distinct()
    nd
      .join(hits, Seq(idCol), "left_anti")
      .join(clusters, Seq(idCol), "left")
      .join(hitClusters, col("__cl") === col("__hit_cl"), "left_anti")
      .where(col("__cl").isNull || col("__cl") === col(idCol))
      .drop("__cl")
  }

  /** Connected components over near-duplicate pairs: (id, cluster)
    * where cluster = the minimum id reachable through the pair graph.
    * This is the step that turns pair OUTPUT into an actual dedup
    * decision — every document in a duplicate cluster maps to one
    * canonical representative.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public). Each round:
    *   - large-star: every node, over its SYMMETRIC neighborhood,
    *     re-attaches each strictly-larger neighbor to the minimum of
    *     the neighborhood (one groupBy + join);
    *   - small-star: over the big→small edge orientation, every node
    *     re-attaches its smaller neighbors (and itself) to the
    *     neighborhood minimum (one groupBy + join).
    * Both steps preserve connectivity, and the edge structure contracts
    * toward per-component STARS rooted at the component minimum.
    * Convergence is O(log² n) rounds proven (in practice ≈ log₂ d:
    * large-star halves every chain each round). Plain min-label
    * propagation needs `diameter` rounds — a legal 100 TB input with
    * one long-chain component would FAIL (throw, or worse, emit split
    * clusters), not just slow down; a naive min-label + one
    * label-jump-per-round scheme was tried and empirically does NOT
    * fix this (a shuffled-id 1000-chain still outran 20 rounds).
    *
    * Convergence detection is EXACT, not a hash fingerprint: the star
    * state is equivalent to "every source appears exactly once AND no
    * node is both a source and a target", checked by ONE node-grouped
    * aggregate per round whose full scan doubles as the lazy
    * checkpoint's materialization job.
    *
    * Checkpointing: the iterated plan must be truncated every round or
    * it grows exponentially. Default is `localCheckpoint` (fast,
    * executor-local blocks — lost executor = recompute impossible,
    * job restarts). When the session has a RELIABLE checkpoint dir
    * configured (`sparkContext.setCheckpointDir`, typically HDFS/S3),
    * rounds checkpoint there instead, so a multi-hour 100 TB dedup
    * survives executor loss at the cost of per-round distributed-FS
    * writes. */
  /** Distinct-pair count at or below which [[duplicateClusters]]
    * contracts the graph on the DRIVER with one min-rooted union-find
    * pass instead of star-contraction rounds. A pair table this small
    * is model-sized state (≤ ~8 MB of longs at the default), and the
    * rounds' FIXED cost — two grouped joins, a checkpoint and a
    * convergence scan per round, ~5 s on a 5k-pair graph regardless of
    * size — dominates wall time on it. Above the bound (or for
    * non-integral id types) the proven distributed contraction runs
    * unchanged; output is identical either way: (id, component
    * minimum) for every id in a pair, self-pair-only ids as singleton
    * clusters. */
  val SmallGraphPairBound: Long = 1L << 19

  def duplicateClusters(
      pairs: DataFrame, maxIters: Int = 20): DataFrame =
    duplicateClusters(pairs, maxIters, SmallGraphPairBound)

  /** [[duplicateClusters]] with an explicit small-graph bound (0 forces
    * the distributed path — the contract tests use it). */
  def duplicateClusters(pairs: DataFrame, maxIters: Int,
      smallGraphBound: Long): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val base = pairBase(pairs)
    val idType = base.schema("u").dataType
    val integral = idType == LongType || idType == IntegerType
    if (!integral) return contractPrepared(base, maxIters)._1
    // ONE bounded collect instead of count-then-collect (r19: two full
    // jobs over the checkpointed pair table → one); a graph over the
    // bound falls through to the distributed contraction, which
    // re-reads the checkpoint blocks, not the pair pipeline.
    val probeRows = OpUtil.collectIfSmall(base, smallGraphBound) match {
      case Some(rows) => rows
      case None => return contractPrepared(base, maxIters)._1
    }
    // driver union-find, min-rooted so every root IS the component min
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    probeRows.foreach { row =>
      val u = if (idType == LongType) row.getLong(0) else row.getInt(0).toLong
      val v = if (idType == LongType) row.getLong(1) else row.getInt(1).toLong
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      if (u != v) {
        val ru = find(u); val rv = find(v)
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
    }
    val labels = parent.keysIterator.map(id => (id, find(id))).toSeq
    val s = pairs.sparkSession
    import s.implicits._
    val parts = math.max(1, math.min(labels.size / 50000 + 1,
      s.sparkContext.defaultParallelism))
    val df = s.sparkContext.parallelize(labels, parts).toDF("id", "cluster")
    if (idType == IntegerType)
      df.select(col("id").cast(IntegerType).as("id"),
        col("cluster").cast(IntegerType).as("cluster"))
    else df
  }

  /** Canonical big→small orientation, distinct, checkpointed ONCE —
    * self-pairs (a, a) ride along and are split off by the consumer
    * (re-scanning `pairs` later would re-run the upstream LSH plan). */
  private def pairBase(pairs: DataFrame): DataFrame = {
    val reliable =
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    val base = pairs.select(
      greatest(col("id_a"), col("id_b")).as("u"),
      least(col("id_a"), col("id_b")).as("v")).distinct()
    if (reliable) base.checkpoint(eager = true)
    else base.localCheckpoint(eager = true)
  }

  /** [[duplicateClusters]] exposing the round count — the convergence
    * contract (≈log₂ d rounds, not O(d)) is asserted by tests, not
    * just claimed. Always the distributed star contraction. */
  private[graft] def duplicateClustersWithRounds(
      pairs: DataFrame, maxIters: Int = 20): (DataFrame, Int) =
    contractPrepared(pairBase(pairs), maxIters)

  private def contractPrepared(
      base: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val reliable =
      base.sparkSession.sparkContext.getCheckpointDir.isDefined
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    var edges = base.where(col("u") =!= col("v"))
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // Large-star: node n, symmetric neighborhood N(n),
      // m = min(N(n) ∪ {n}); emit (v, m) for every neighbor v > n.
      // Output preserves the big→small invariant (v > n ≥ m) and has
      // no self-loops (v > m strictly).
      val sym = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(lsMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // Small-star: over big→small edges, node n's neighbors are all
      // smaller, m = min(N(n)); emit (v, m) for v ∈ N(n) \ {m} plus
      // (n, m). Again v > m strictly, so the invariant holds.
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(ssMin.select(col("u"), col("m").as("v")))
        .distinct()
      val stepped = ckpt(ss, eager = false)
      // Exact star test: the edge set is per-component stars iff every
      // source appears exactly once AND no node is both a source and a
      // target (a twice-source would be rewritten by small-star, a
      // source-and-target is a chain link large-star would shorten;
      // stars themselves are a fixed point of both steps). LAZY
      // checkpoint + this full-scan aggregate fuses materialization
      // and the convergence check into ONE job per round.
      val violations = stepped
        .select(col("u").as("n"), lit(1).as("s"), lit(0).as("t"))
        .unionAll(stepped.select(col("v").as("n"), lit(0).as("s"), lit(1).as("t")))
        .groupBy("n")
        .agg(sum(col("s")).as("srcs"), max(col("t")).as("tgt"))
        .where(col("srcs") > 1 || (col("srcs") > 0 && col("tgt") > 0))
      converged = violations.count() == 0
      edges = stepped
      iters += 1
    }
    // A component that outruns maxIters would return SPLIT clusters
    // (several "representatives" for one duplicate group) — silently
    // wrong for the downstream drop. Fail loudly instead; star
    // contraction converges in O(log² n) rounds, so 20 covers any
    // realistic corpus and hitting the bound means something is
    // pathological, not merely a long chain.
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters rounds of star " +
          "contraction; raise maxIters")
    // At the star fixed point every non-root appears exactly once as a
    // source pointing at its component minimum; roots appear only as
    // targets.
    val labels = edges.select(col("u").as("id"), col("v").as("cluster"))
      .unionAll(
        edges.select(col("v").as("id"), col("v").as("cluster")).distinct())
    // Singleton clusters for ids seen only in self-pairs — parity with
    // the label-propagation formulation, which kept them.
    val selfOnly = base.where(col("u") === col("v"))
      .select(col("u").as("id"), col("u").as("cluster"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
    (labels.unionAll(selfOnly), iters)
  }

  /** Drop near-duplicates: keep every row not in any pair, plus the
    * minimum-id representative of each duplicate cluster. `pairs` is
    * the output of any of the pair generators above. */
  def dropNearDuplicates(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dropClusterLosers(docs, idCol, duplicateClusters(pairs))

  /** The min-id drop rule over an `(id, cluster)` frame: every member
    * that is not its cluster's label leaves `docs` by one anti-join. */
  private def dropClusterLosers(
      docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters.where(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Drop near-duplicates keeping the BEST-scoring member of each
    * duplicate cluster — the quality-aware curation rule (keep the
    * highest-quality copy, not an arbitrary one; Dolma/RefinedWeb both
    * select representatives by quality signals). Ties break to the
    * smaller id, so the result is deterministic. `scoreCol` must be
    * numeric and non-null on every doc that appears in `pairs`; `idCol`
    * must be numeric (the tie-break negates it).
    *
    * Shape on top of [[duplicateClusters]]' log-round contraction: ONE
    * `max_by` aggregate over slim (cluster, score, id) rows picks
    * winners, losers anti-join back — the payload never shuffles. */
  def dropNearDuplicatesBy(
      docs: DataFrame, idCol: String, scoreCol: String, pairs: DataFrame): DataFrame =
    dropClusterLosersBy(docs, idCol, scoreCol, duplicateClusters(pairs))

  /** The best-score drop rule over an `(id, cluster)` frame: one
    * `max_by` picks each cluster's winner, the other members leave
    * `docs` by one anti-join. */
  private def dropClusterLosersBy(docs: DataFrame, idCol: String,
      scoreCol: String, clusters: DataFrame): DataFrame = {
    val member = clusters
      .join(docs.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
    val winners = member.groupBy("cluster")
      .agg(max_by(col("id"), struct(col("__score"), -col("id"))).as("__win"))
    val losers = member.join(winners, Seq("cluster"))
      .where(col("id") =!= col("__win"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicate clusters over MinHash-LSH near-dups WITHOUT
    * materializing the quadratic identical-text pair set — the text
    * analog of [[hammingClusters]], byte-equivalent to
    * `duplicateClusters(nearDupMinHash(docs, …).select("id_a","id_b"))`
    * but a class of m exact-duplicate texts costs O(m), not m(m−1)/2
    * pair rows. This is the 100 TB text-dedup DROP path: when the
    * caller only needs cluster labels (or the drop set), the
    * boilerplate page copied a million times never expands to
    * ~5·10¹¹ pairs.
    *
    * Why lifting the exact-Jaccard verify to representatives is
    * lossless: identical texts have identical shingle sets, so a
    * member pair's jaccard IS its rep pair's jaccard; and a class
    * whose shingle set is EMPTY (doc shorter than `shingleN` tokens —
    * [[graft.functions.TextMinHashBands]] signals this with a null
    * band array) has self-jaccard 0.0 and jaccard 0.0 against
    * everything, so its verify outcome is decided by `threshold`
    * alone, computable from the null signal without shingling.
    *
    * Shape: ONE signature pass fused with the exact-class collapse
    * ([[lshCandidatePairs]]' classes aggregate — map-side partials,
    * never corpus frequency in a shuffle row); banding and the exact
    * verify run over one REPRESENTATIVE per distinct text; the rep
    * pair graph contracts in log rounds ([[duplicateClusters]]);
    * members inherit labels through a hot-key differentiated join on
    * the slim (xxhash64, length) class key (AQE's skew rule cannot
    * split an aggregate-built side — measured, see `labelMembers`).
    * Labels match the pairs path exactly:
    * rep = min id of its class, so min reachable rep = min id of the
    * connected component. Output (id, cluster) for every row in a
    * duplicate relation; docs with unique text and no verified
    * neighbor are absent, as with [[duplicateClusters]] over pairs. */
  def lshClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleN: Int = 3,
      seed: Long = 42L,
      hotK: Int = 1024): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val d = docs
    val sigs = d.select(
      xxhash64(col(textCol)).as("__tk"),
      length(col(textCol)).as("__tl"),
      col(idCol),
      graft.functions.TextMinHashBands.textMinhashBands(
        col(textCol), shingleN, numHashes, bands, seed).as("__bands"))
    // one row per distinct text: min-id rep, its signature, class size.
    // Eagerly checkpointed — THREE consumers below (band explode, rep
    // text semi-join, labels); a distinct-key model table with a
    // 32-int band array per row, the materialize-the-model-table call.
    val classes = sigs
      .groupBy("__tk", "__tl")
      .agg(
        min(struct(col(idCol).as("__rep"), col("__bands").as("__bands"))).as("__m"),
        count(lit(1)).as("__n"))
      .select(col("__tk"), col("__tl"),
        col("__m.__rep").as("__rep"), col("__m.__bands").as("__bands"), col("__n"))
      .localCheckpoint(true)
    val repPairs = classes
      .select(col("__rep"),
        posexplode(col("__bands")).as(Seq("band_idx", "band_hash")))
      .where(col("band_hash").isNotNull)
      .groupBy("band_idx", "band_hash")
      .agg(array_sort(collect_list(col("__rep"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(inBucketPairs(col("ids"))((a, b) =>
        struct(a.as("__ra"), b.as("__rb")))).as("p"))
      .select(col("p.__ra"), col("p.__rb"))
      .distinct()
    // rep-level exact verify — the same shingle + jaccard filter
    // nearDupMinHash applies at member level, on one rep per class.
    // Not checkpointed: two consumers, same profile as nearDupMinHash's
    // own verify joins, and on a mostly-unique corpus this frame is
    // corpus-sized shingle arrays (the do-NOT-materialize class).
    val repSh = d
      .join(classes.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("__rid"), shingles(col(textCol), shingleN).as("__sh"))
    val verified = repPairs
      .join(repSh.select(col("__rid").as("__ra"), col("__sh").as("__sha")), "__ra")
      .join(repSh.select(col("__rid").as("__rb"), col("__sh").as("__shb")), "__rb")
      .where(jaccard(col("__sha"), col("__shb")) >= threshold)
      .select(
        least(col("__ra"), col("__rb")).as("id_a"),
        greatest(col("__ra"), col("__rb")).as("id_b"))
    val repClusters = duplicateClusters(verified)
      .withColumnRenamed("id", "__rep").withColumnRenamed("cluster", "__cl")
    // (class key → cluster label) for every class in a duplicate
    // relation: in a verified cross-class component, OR internally
    // duplicated (__n > 1) with its self-jaccard (1.0 when the class
    // shingles non-empty — null band array ⟺ empty, see above; else
    // 0.0) passing the threshold. A null-text class never reaches the
    // output either way: its __tl key is null and the member equi-join
    // below cannot match it — the same silent exclusion the pairs path
    // gets from its null-key identical join and null-jaccard verify.
    val selfJ = when(col("__bands").isNotNull, lit(1.0)).otherwise(lit(0.0))
    val labels = classes.join(repClusters, Seq("__rep"), "left")
      .where(col("__cl").isNotNull || (col("__n") > 1 && selfJ >= threshold))
      .select(col("__tk"), col("__tl"),
        coalesce(col("__cl"), col("__rep")).as("cluster"), col("__n"))
    // light pass — the member roster (no signature, no shingles).
    val mem = d.select(
      xxhash64(col(textCol)).as("__tk"),
      length(col(textCol)).as("__tl"),
      col(idCol))
    // a boilerplate class IS a hot (__tk,__tl) key: see labelMembers
    labelMembers(mem, labels, Seq("__tk", "__tl"), idCol, hotK)
  }

  /** One-call MinHash-LSH dedup: keep every row outside any duplicate
    * relation plus the minimum-id representative of each cluster —
    * byte-equivalent to `dropNearDuplicates(docs, idCol,
    * nearDupMinHash(docs, …))` at O(corpus) cost for dup-dense data
    * ([[lshClusters]] — the quadratic identical-pair set is never
    * materialized). */
  def dropLshDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 32,
      shingleN: Int = 3, seed: Long = 42L): DataFrame =
    dropClusterLosers(docs, idCol,
      lshClusters(docs, idCol, textCol, threshold, numHashes, bands, shingleN, seed))

  /** One-call MinHash-LSH dedup keeping the BEST-scoring member of
    * each cluster ([[dropNearDuplicatesBy]]'s rule — max score, ties
    * to min id) on [[lshClusters]]' O(corpus) path. */
  def dropLshDuplicatesBy(
      docs: DataFrame, idCol: String, scoreCol: String, textCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 32,
      shingleN: Int = 3, seed: Long = 42L): DataFrame =
    dropClusterLosersBy(docs, idCol, scoreCol,
      lshClusters(docs, idCol, textCol, threshold, numHashes, bands, shingleN, seed))

  /** Exact all-pairs n-gram Jaccard ≥ threshold — the brute-force
    * oracle path. QUADRATIC: for small frames / within-bucket verify
    * only; the scale path is [[nearDupMinHash]]. */
  def nearDupJaccardBrute(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    * Banding by the four 16-bit chunks (pigeonhole: hamming ≤ 3
    * GUARANTEES a matching chunk; larger `maxHamming` keeps recall high
    * but not certain — bits can spread across all 4 chunks), then exact
    * `bit_count(xor)` verify.
    *
    * Shape: fused tokenize+simhash (ONE native pass over the raw bytes
    * for ASCII rows; canonical Unicode tokenization fallback otherwise
    * — see [[graft.functions.SimHash64.computeText]]) → ONE grouped shuffle
    * on (chunk_idx, chunk_val) → in-bucket pair expansion with the
    * hamming verify pushed INSIDE the expansion
    * ([[inBucketPairsWhere]]), so only surviving pairs are ever
    * allocated, exploded, or carried by the distinct shuffle. */
  def simHashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      seed: Long = 42L): DataFrame =
    hammingPairs(
      docs.select(col(idCol), simhash(col(textCol), seed).as("__sh64")),
      idCol, "__sh64", maxHamming)

  /** The slim (id, sh) projection behind the hamming family: the
    * fingerprint cast to long, null fingerprints dropped (they produce
    * no pairs and no cluster membership). */
  private def hammingBase(df: DataFrame, idCol: String, hashCol: String): DataFrame =
    df.select(col(idCol), col(hashCol).cast("long").as("sh"))
      .where(col("sh").isNotNull)

  /** The 16-bit-chunk banding expression — posexplode of the four
    * chunks of `sh` as (chunk_idx, chunk_val). ONE definition: chunk
    * width and count are the pigeonhole recall contract shared by the
    * pair finder, the index writer and the probe; diverging copies
    * would silently break recall parity between index and probe. */
  private def chunkExplode(sh: Column): Column =
    posexplode(
      array((0 until 4).map(j =>
        shiftrightunsigned(sh, j * 16).bitwiseAND(lit(0xffffL))): _*))

  /** Near-collision pairs between DISTINCT 64-bit fingerprints:
    * (sh_a, sh_b, hamming) with sh_a < sh_b (signed order), 1 ≤ hamming
    * ≤ `maxHamming`, found by 16-bit-chunk pigeonhole banding. The
    * input here is the distinct-VALUE set, so a bucket's size is
    * bounded by how many DISTINCT fingerprints share a 16-bit chunk —
    * never by how many corpus rows carry one hot value. The `distinct`
    * dedups at HASH-pair granularity (a pair can share several
    * untouched chunks): orders of magnitude cheaper than deduping the
    * expanded id pairs. */
  private def hammingHashPairs(distinctHashes: DataFrame, maxHamming: Int): DataFrame =
    distinctHashes.select(
        col("sh"),
        chunkExplode(col("sh")).as(Seq("chunk_idx", "chunk_val")))
      .groupBy("chunk_idx", "chunk_val")
      // collect_list, not collect_set: a distinct value contributes each
      // chunk_idx exactly once, so duplicates are impossible. Sorted so
      // pairs emit sh_a < sh_b consistently across buckets — that is
      // what lets the distinct below dedup multi-chunk matches.
      .agg(array_sort(collect_list(col("sh"))).as("hs"))
      .where(size(col("hs")) > 1)
      .select(explode(
        inBucketPairsWhere(col("hs"))((x, y) =>
          bit_count(x.bitwiseXOR(y)) <= maxHamming)(
          (x, y) => struct(
            x.as("sh_a"), y.as("sh_b"),
            bit_count(x.bitwiseXOR(y)).as("hamming"))))
        .as("p"))
      .select(col("p.sh_a"), col("p.sh_b"), col("p.hamming"))
      .distinct()

  /** Generic hamming near-dup over ANY precomputed 64-bit fingerprint
    * column — the banding core behind [[simHashPairs]], usable directly
    * on [[Multimodal.aHashAnyFrame]] output for cross-format IMAGE
    * near-dup (aHash → hammingPairs → [[duplicateClusters]] →
    * [[dropNearDuplicates]] is the full image-dedup pipeline, same
    * shapes as the text one). Pigeonhole contract: 16-bit-chunk banding
    * has FULL recall for `maxHamming` ≤ 3 (4 chunks, ≤ 3 flipped bits
    * leave one chunk untouched); above 3 it is approximate, like any
    * LSH. Null fingerprints produce no pairs. Output (id_a, id_b,
    * hamming) with id_a < id_b.
    *
    * Degenerate-class hardening: perceptual hashes mass-collide BY
    * DESIGN (every solid-color thumbnail, every copy of one viral image
    * shares ONE aHash), so banding raw rows would funnel an entire
    * duplicate class into a single `collect_list` buffer — O(corpus
    * frequency) in one task. Instead the fingerprints are collapsed to
    * DISTINCT values before banding ([[hammingHashPairs]]), and rows
    * re-enter in two bounded tiers:
    *   - radius 0 (identical fingerprints) — a slim self-equi-join on
    *     the value: a plain shuffle join AQE's skew split can cut, and
    *     output-bound anyway (those pairs must be emitted);
    *   - radius ≥ 1 — the distinct-value pair set joins back to the
    *     (id, sh) rows on each side: again plain equi-joins.
    * The hottest banding bucket is thus bounded by distinct
    * near-collisions, not corpus frequency. NOTE the pair OUTPUT for a
    * class of m identical rows is inherently m(m-1)/2 — when the ids
    * are only needed for a drop decision, [[hammingClusters]] /
    * [[dropHammingDuplicates]] skip that expansion entirely. */
  def hammingPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be non-negative, got $maxHamming")
    // widen + materialize the slim (id, sh) projection: four join
    // appearances below, each of which would otherwise re-run the
    // upstream fingerprint pipeline (often a full image decode)
    val hashed = widen(hammingBase(df, idCol, hashCol))
    val identical = hashed.select(col(idCol).as("id_a"), col("sh"))
      .join(hashed.select(col(idCol).as("id_b"), col("sh")), Seq("sh"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    val cross = hammingHashPairs(hashed.select("sh").distinct(), maxHamming)
      .join(hashed.select(col(idCol).as("__ia"), col("sh").as("sh_a")), "sh_a")
      .join(hashed.select(col(idCol).as("__ib"), col("sh").as("sh_b")), "sh_b")
      .select(
        least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("hamming"))
    // No id-level distinct needed: each id carries ONE fingerprint, so
    // an id pair appears in exactly one tier, exactly once (hash pairs
    // are already deduped at value granularity).
    identical.unionAll(cross)
  }

  /** The distinct-fingerprint VALUE table of a slim (id, sh) frame —
    * one row per fingerprint value: `(sh, __rep, __n, __c)` with
    * `__rep` the value's min id, `__n` its row count, and `__c` its
    * cluster label: the component minimum when the value has a near
    * neighbor, `__rep` when it only has identical copies (`__n` > 1),
    * null when it is unrelated to every other value.
    *
    * Shape: fingerprints collapse to (sh, rep, n) — the only aggregate
    * that sees corpus-frequency keys, and its map-side partials mean
    * the shuffle carries ~one 24-byte row per (distinct value, map
    * task), never the raw frequency of a hot value;
    * [[hammingHashPairs]] bands DISTINCT values; the pair graph is
    * contracted between REPRESENTATIVES ([[duplicateClusters]], log
    * rounds). Labels match the pairs path exactly: rep = min id of its
    * value class, so min reachable rep = min id of the whole connected
    * component. */
  private def valueTable(hashed: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val groups = hashed.groupBy("sh")
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n"))
    val repPairs = hammingHashPairs(groups.select("sh"), maxHamming)
      .join(groups.select(col("sh").as("sh_a"), col("__rep").as("id_a")), "sh_a")
      .join(groups.select(col("sh").as("sh_b"), col("__rep").as("id_b")), "sh_b")
      .select("id_a", "id_b")
    val repClusters = duplicateClusters(repPairs)
      .select(col("id").as("__rep"), col("cluster").as("__cl"))
    groups.join(repClusters, Seq("__rep"), "left")
      .select(col("sh"), col("__rep"), col("__n"),
        coalesce(col("__cl"), when(col("__n") > 1, col("__rep"))).as("__c"))
  }

  /** The id-keyed keep set of a [[valueTable]]: `__keep` = the id each
    * surviving value class contributes — the component minimum for a
    * clustered value, the min id of an identical-copies class, the
    * single id of an unrelated value. One row per component, so it is
    * unique by construction; no aggregate. */
  private def keepSet(values: DataFrame): DataFrame =
    values.where(col("__c").isNull || col("__c") === col("__rep"))
      .select(col("__rep").as("__keep"))

  /** The rows of `df` whose id is in `keep`, plus every row whose
    * fingerprint is null (no dedup signal) — ONE left join on the
    * unique id, so a hot fingerprint never becomes a join key. */
  private def keepRows(df: DataFrame, idCol: String, hashCol: String,
      keep: DataFrame): DataFrame =
    df.join(keep, col(idCol) === col("__keep"), "left")
      .where(col("__keep").isNotNull || col(hashCol).cast("long").isNull)
      .drop("__keep")

  /** Duplicate clusters over hamming near-dups WITHOUT materializing
    * the quadratic radius-0 pair set — byte-equivalent to
    * `duplicateClusters(hammingPairs(df, …))` but the only per-row work
    * for a class of m identical fingerprints is ONE groupBy row and one
    * join probe, not m(m-1)/2 pairs. This is the 100 TB image-dedup
    * path: the hottest image on the web costs O(m), not O(m²).
    *
    * Shape: the [[valueTable]] labels every distinct value; members
    * inherit their value's label. Output (id, cluster) for every row in
    * a duplicate relation; rows with unique fingerprints and no near
    * neighbor are absent, as with [[duplicateClusters]] over pair
    * output. */
  def hammingClusters(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      hotK: Int = 1024): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be non-negative, got $maxHamming")
    // widen + materialize the slim projection (see hammingPairs): the
    // groups aggregate AND the member-label join both consume it
    val hashed = widen(hammingBase(df, idCol, hashCol))
    // (sh → cluster label) for every value in a duplicate relation —
    // distinct-value-sized, one row per key. Inner-joining members
    // against it both labels them and drops the non-duplicate rest.
    val labels = valueTable(hashed, idCol, maxHamming)
      .where(col("__c").isNotNull)
      .select(col("sh"), col("__c").as("cluster"), col("__n"))
    // a viral image class IS a hot fingerprint key: see labelMembers
    labelMembers(hashed, labels, Seq("sh"), idCol, hotK)
  }

  /** Members inherit their class's cluster label: `members` carries
    * `idCol` and the class `keys`; `labels` has one row per labelled
    * class (`keys`, `cluster`, class size `__n`). Output `(id, cluster)`
    * for every member of a labelled class.
    *
    * The join is keyed on the class, and a viral class IS a hot key.
    * AQE's OptimizeSkewedJoin cannot rescue it (the label side is
    * aggregate-built — the rule needs Sort directly over both shuffle
    * stages; measured in round 6 on bigramLogProb, see
    * TextOps.bigramLogProb), so the join is hot-key differentiated: the
    * hotK largest classes — by construction the keys carrying the
    * skewed traffic — broadcast and resolve map-side; the residual,
    * whose per-key frequency is capped by the (hotK+1)-th class size,
    * takes the plain shuffle join. Ordering (__n desc, keys asc) is
    * total (the keys are unique per class), so the limit is
    * deterministic across re-evaluations. `hotK <= 0` is the plain
    * join. */
  private def labelMembers(members: DataFrame, labels: DataFrame,
      keys: Seq[String], idCol: String, hotK: Int): DataFrame =
    if (hotK <= 0)
      members.join(labels, keys)
        .select(col(idCol).as("id"), col("cluster"))
    else {
      val hot = broadcast(
        labels.orderBy(col("__n").desc +: keys.map(col(_).asc): _*).limit(hotK)
          .select((keys :+ "cluster").map(col): _*))
      val hotMembers = members.join(hot, keys)
        .select(col(idCol).as("id"), col("cluster"))
      val hotKeys = broadcast(hot.select(keys.map(col): _*))
      val residual = members.join(hotKeys, keys, "left_anti")
        .join(labels.join(hotKeys, keys, "left_anti")
          .select((keys :+ "cluster").map(col): _*), keys)
        .select(col(idCol).as("id"), col("cluster"))
      hotMembers.unionAll(residual)
    }

  /** One-call hamming dedup: keep every row whose fingerprint class is
    * a cluster representative (minimum id of its connected near-dup
    * component) plus every row outside any duplicate relation —
    * byte-equivalent to `dropNearDuplicates(df, idCol,
    * hammingPairs(df, …))`. Rows with a null fingerprint are kept.
    *
    * Scale shape: the decision is made on the [[valueTable]], one row
    * per distinct fingerprint; its [[keepSet]] is id-keyed, and rows
    * are touched once, by a single left join on the id. Every join key
    * on this path is a distinct value or a unique id, so a viral class
    * of m identical images costs O(m) in one partial aggregate and
    * never meets a hot join key. */
  def dropHammingDuplicates(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be non-negative, got $maxHamming")
    OpUtil.requireNoColumns(df, Set("__keep"), "dropHammingDuplicates")
    val values = valueTable(widen(hammingBase(df, idCol, hashCol)), idCol, maxHamming)
    keepRows(df, idCol, hashCol, keepSet(values))
  }

  /** Persistable hamming-chunk INDEX of a fingerprinted corpus —
    * `(chunk_idx, chunk_val, id, sh)` rows, four per fingerprint (one
    * per 16-bit chunk): the image analog of [[minHashIndex]]. Write it
    * partitioned/bucketed by `(chunk_idx, chunk_val)` and probe each
    * ingest batch with [[hammingAgainstIndex]] — the corpus is hashed
    * ONCE and a daily batch pays only for itself. Carrying `sh` in the
    * index row makes the probe self-contained: hamming verification is
    * one xor+popcount, so the probe never joins back to the corpus
    * payload (unlike minhash, whose verify needs the original text).
    * Null fingerprints are not indexed. */
  def hammingIndex(df: DataFrame, idCol: String, hashCol: String): DataFrame =
    hammingBase(df, idCol, hashCol).select(
        col(idCol).as("id"), col("sh"),
        chunkExplode(col("sh")).as(Seq("chunk_idx", "chunk_val")))
      .select(col("chunk_idx"), col("chunk_val"), col("id"), col("sh"))

  /** Index rows within `maxHamming` of each fingerprint VALUE of
    * `values` (a frame with a distinct `sh` column): `(carry…,
    * __sh_new, chunk_idx, chunk_val, id_idx, __sh_idx)` candidate rows
    * that passed the xor+popcount verify, one per matching
    * (value, chunk, indexed row) — not yet deduped. `carry` columns of
    * `values` ride along, so a caller can key the hit on whatever the
    * value stands for without expanding it to batch ids. */
  private def indexMatches(values: DataFrame, carry: Seq[Column],
      index: DataFrame, maxHamming: Int): DataFrame =
    values.select(carry ++ Seq(
        col("sh").as("__sh_new"),
        chunkExplode(col("sh")).as(Seq("chunk_idx", "chunk_val"))): _*)
      .join(index.select(col("chunk_idx"), col("chunk_val"),
        col("id").as("id_idx"), col("sh").as("__sh_idx")),
        Seq("chunk_idx", "chunk_val"))
      .where(bit_count(col("__sh_new").bitwiseXOR(col("__sh_idx"))) <= maxHamming)

  /** Incremental hamming near-dup: NEW fingerprints probed against a
    * corpus [[hammingIndex]] — `(id_new, id_idx, hamming)` for every
    * new row within `maxHamming` of an INDEXED row (new-vs-new pairs
    * are [[hammingPairs]]' job). Same pigeonhole contract as
    * [[hammingPairs]]: full recall for `maxHamming` ≤ 3.
    *
    * Scale shape: the batch collapses to DISTINCT fingerprints before
    * banding (round-7 hardening — a batch full of one viral thumbnail
    * probes once, not once per copy); ONE equi-join on
    * `(chunk_idx, chunk_val)` against the index — stored bucketed on
    * those keys, only the (small) batch side shuffles; candidate dedup
    * happens at (new-value, indexed-id) granularity BEFORE batch
    * membership expands, so the distinct never carries the batch's
    * copy multiplicity. Per-batch cost ∝ batch, not corpus. */
  def hammingAgainstIndex(
      newDf: DataFrame, idCol: String, hashCol: String,
      index: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be non-negative, got $maxHamming")
    val probe = hammingBase(newDf, idCol, hashCol)
    val cands = indexMatches(probe.select("sh").distinct(), Nil, index, maxHamming)
      .select(col("__sh_new"), col("id_idx"),
        bit_count(col("__sh_new").bitwiseXOR(col("__sh_idx"))).as("hamming"))
      .distinct()
    cands.join(probe.select(col(idCol).as("id_new"), col("sh").as("__sh_new")), "__sh_new")
      .select(col("id_new"), col("id_idx"), col("hamming"))
  }

  /** ONE-CALL incremental image-ingest dedup — [[dedupIncremental]]'s
    * hamming analog. Drops from `newDf` every row that is
    *   (a) within `maxHamming` of an INDEXED fingerprint
    *       ([[hammingAgainstIndex]]' probe),
    *   (b) in a batch-internal duplicate cluster containing an index
    *       hit, or
    *   (c) a non-representative (not the min id) of a clean
    *       batch-internal cluster ([[hammingClusters]]' labels).
    * Returns the surviving rows of `newDf`, all columns. Rows with a
    * null fingerprint are never dropped (they carry no dedup signal).
    *
    * Scale shape: the whole decision is made on the batch's
    * [[valueTable]] — one row per DISTINCT fingerprint. The index is
    * probed with those values, and each hit is keyed on its value's
    * cluster (`__keep`), never expanded to batch ids; the hit clusters
    * leave the id-keyed [[keepSet]] by one anti-join; rows are touched
    * once, by a single left join of the batch on its id. Every join
    * key is a distinct value, a cluster label or a unique id, so a
    * batch that is 10⁶ copies of one screenshot costs O(batch) in one
    * partial aggregate and never meets a hot join key. */
  def dedupIncrementalHamming(
      newDf: DataFrame, idCol: String, hashCol: String,
      index: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be non-negative, got $maxHamming")
    OpUtil.requireNoColumns(newDf, Set("__keep"), "dedupIncrementalHamming")
    val nd = widen(newDf)
    val values = valueTable(hammingBase(nd, idCol, hashCol), idCol, maxHamming)
    val hitKeys = indexMatches(values,
        Seq(coalesce(col("__c"), col("__rep")).as("__keep")), index, maxHamming)
      .select("__keep")
    keepRows(nd, idCol, hashCol, keepSet(values).join(hitKeys, Seq("__keep"), "left_anti"))
  }

  /** CCNet-style cross-document LINE deduplication (Wenzek et al. 2020;
    * also the Dolma/RefinedWeb "remove duplicated lines" pass): a line
    * whose normalized form — lowercased, space/tab/CR-trimmed — occurs in at least
    * `minDocs` DISTINCT documents is boilerplate (nav bars, cookie
    * banners, footers) and is removed from EVERY document, first
    * occurrence included. Whitespace-only lines are structural
    * separators: always kept, never counted. Documents keep their
    * remaining lines in original order; a fully-boilerplate doc comes
    * back with empty text rather than disappearing.
    *
    * Output: `df`'s columns with `textCol` rebuilt, plus
    * `n_lines_kept` / `n_lines_dropped` (blank lines count as kept).
    *
    * Line endings: splitting is on `\n`; a CRLF corpus leaves `\r` on
    * the line PAYLOAD (preserved verbatim in the rebuild — this
    * operator dedups, it doesn't reformat) but never on the MATCH KEY
    * (`trim` strips it), so mixed-ending corpora still dedupe
    * correctly (pinned in DedupSpec).
    *
    * Scale shape: the boilerplate-frequency aggregate shuffles only
    * slim `(line_hash, line_len, id)` tuples — 20 bytes/line, never
    * line text. The match key is (xxhash64, normalized length), not
    * the bare 64-bit hash: at the multi-billion-distinct-line scale
    * this targets, a bare-hash collision between a boilerplate line
    * and an unrelated line would silently delete the innocent line
    * from every document; the length qualifier cuts the collision
    * surface to same-length pairs for 4 extra bytes of shuffle key.
    * The surviving-key set is materialized once and broadcast when
    * under `maxBroadcastKeys` (boilerplate vocabularies are small —
    * that's what makes them boilerplate), making the drop a map-side
    * anti-probe; above the gate the planner shuffles the anti-join.
    * Line text enters an exchange exactly once, in the per-document
    * rebuild groupBy — the same volume a plain repartition of the
    * corpus would move. */
  /** The exploded (id, pos, line, key, blank) line table of
    * [[dedupLines]] — row-local (one Generate, no exchange). The match
    * key strips space/tab/CR (Spark's bare `trim` is SPACE-only — it
    * would leave `\r` in the key and mis-split CRLF vs LF corpora, and
    * count a bare `\r` line as content instead of a blank separator). */
  private[graft] def lineTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__norm", lower(trim(col("__line"), " \t\r")))
      .withColumn("__key", xxhash64(col("__norm")))
      .withColumn("__klen", length(col("__norm")))
      .withColumn("__blank", col("__norm") === "")
      .drop("__norm")

  /** [[dedupLines]]' boilerplate-key set, un-materialized: the
    * doc-frequency aggregate shuffles only `(__key, id)` — line text
    * never enters this exchange (pinned in PlanAuditSpec). */
  private[graft] def boilerplateKeys(
      df: DataFrame, idCol: String, textCol: String, minDocs: Int): DataFrame =
    lineTable(df, idCol, textCol).where(!col("__blank"))
      .groupBy("__key", "__klen")
      .agg(count_distinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select("__key", "__klen")

  def dedupLines(
      df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2, maxBroadcastKeys: Long = 10000000L): DataFrame = {
    val lines = lineTable(df, idCol, textCol)
    val dupKeys = boilerplateKeys(df, idCol, textCol, minDocs)
      .localCheckpoint(true)
    val probe = if (dupKeys.count() <= maxBroadcastKeys) broadcast(dupKeys) else dupKeys
    // Blank lines bypass the anti-join entirely (their shared key must
    // not collide a doc's separators away when OTHER docs' blanks made
    // the key frequent — they can't: blanks never reach dupKeys — but
    // routing them around the join also keeps the probe side smaller).
    val kept = lines.where(col("__blank"))
      .unionByName(lines.where(!col("__blank"))
        .join(probe, Seq("__key", "__klen"), "left_anti"))
    rebuildFromUnits(df, idCol, textCol, kept,
      posCol = "__pos", unitCol = "__line", sep = "\n", prefix = "lines")
  }

  /** Shared tail of every unit-level text dedup ([[dedupLines]],
    * [[dedupParagraphs]], [[TextOps.removeDupSpans]]): rebuild
    * `textCol` from the surviving `(pos, unit)` rows in original order
    * and account kept/dropped counts. Subtle semantics live HERE once:
    * a doc whose every unit lost comes back as an empty-text row (not
    * a missing row), and its kept count coalesces to 0. `sep` must be
    * the same separator the caller split on. */
  private[operators] def rebuildFromUnits(
      df: DataFrame, idCol: String, textCol: String, kept: DataFrame,
      posCol: String, unitCol: String, sep: String, prefix: String): DataFrame = {
    val keptCol = s"n_${prefix}_kept"
    val rebuilt = kept
      .groupBy(idCol)
      .agg(
        concat_ws(sep,
          transform(
            array_sort(collect_list(struct(col(posCol), col(unitCol)))),
            e => e.getField(unitCol))).as("__text"),
        count(lit(1)).as(keptCol))
    // coalesce the unit total too: a NULL text has no units (0), and
    // without it n_*_dropped would come back null instead of 0
    df.withColumn("__n_total",
        coalesce(size(split(col(textCol), sep)).cast("long"), lit(0L)))
      .drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__text"), lit("")))
      .withColumn(keptCol, coalesce(col(keptCol), lit(0L)))
      .withColumn(s"n_${prefix}_dropped", col("__n_total") - col(keptCol))
      .drop("__text", "__n_total")
  }

  /** Dolma-style cross-document PARAGRAPH deduplication — the
    * complement of [[dedupLines]]: instead of removing boilerplate from
    * EVERY document, each duplicated paragraph keeps exactly its FIRST
    * occurrence (the minimum `(id, position)` — the deterministic
    * replayable stand-in for Dolma's Bloom-filter "seen before" order)
    * and later occurrences are dropped. Paragraphs split on `\n\n`;
    * the match key is the lowercased, whitespace-trimmed (space/tab/
    * CR/LF) paragraph hashed as the [[dedupLines]]-proven slim
    * `(xxhash64, length)` composite. Whitespace-only paragraphs are
    * structural separators: always kept, never matched. Documents keep
    * surviving paragraphs in original order; a doc whose every
    * paragraph lost comes back with empty text rather than
    * disappearing.
    *
    * Output: `df`'s columns with `textCol` rebuilt, plus
    * `n_paras_kept` / `n_paras_dropped` (blank paragraphs count as
    * kept).
    *
    * Scale shape: the winner aggregate shuffles only slim
    * `(key, klen, id, pos)` tuples — never paragraph text. Only keys
    * occurring ≥2 times survive to the probe side; unique paragraphs
    * (the overwhelming mass of a real corpus) bypass matching
    * entirely. Under `maxBroadcastKeys` the winner table broadcasts
    * and the keep decision is map-side; above it the planner shuffles
    * the join (paragraph text moves once — the same volume the
    * per-document rebuild groupBy moves anyway). */
  def dedupParagraphs(
      df: DataFrame, idCol: String, textCol: String,
      maxBroadcastKeys: Long = 10000000L): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), "\n\n")).as(Seq("__pos", "__para")))
      .withColumn("__norm", lower(trim(col("__para"), " \t\r\n")))
      .withColumn("__key", xxhash64(col("__norm")))
      .withColumn("__klen", length(col("__norm")))
      .withColumn("__blank", col("__norm") === "")
      .drop("__norm")
    val winners = paras.where(!col("__blank"))
      .groupBy("__key", "__klen")
      .agg(min(struct(col(idCol), col("__pos"))).as("__win"),
        count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
      .select(col("__key"), col("__klen"),
        col("__win").getField(idCol).as("__wid"),
        col("__win").getField("__pos").as("__wpos"))
      .localCheckpoint(true)
    val probe =
      if (winners.count() <= maxBroadcastKeys) broadcast(winners) else winners
    val kept = paras
      .join(probe, Seq("__key", "__klen"), "left")
      .where(col("__blank") || col("__wid").isNull ||
        (col(idCol) === col("__wid") && col("__pos") === col("__wpos")))
    rebuildFromUnits(df, idCol, textCol, kept,
      posCol = "__pos", unitCol = "__para", sep = "\n\n", prefix = "paras")
  }
}
