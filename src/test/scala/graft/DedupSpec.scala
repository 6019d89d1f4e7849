package graft

import org.apache.spark.sql.functions._

import graft.functions.MinHashSignature.minhash
import graft.gates.Fixtures
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square tonight"
  // near-dup: last two words changed
  private val near = base.replace("square tonight", "plaza today")
  private val other =
    "completely different content about databases and distributed systems running large scale jobs"

  private def docs = Seq(
    (1L, base), (2L, near), (3L, other), (4L, base)).toDF("id", "text")

  test("shingles: distinct word n-grams, short docs yield empty") {
    val sh = Seq(("a b c d", 1)).toDF("t", "i")
      .select(Dedup.shingles(col("t"), 3)).collect()(0).getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq(("a b", 1)).toDF("t", "i")
      .select(Dedup.shingles(col("t"), 3)).collect()(0).getSeq[String](0)
    assert(short.isEmpty)
  }

  test("minhash signature: identical texts → identical signatures; deterministic") {
    val sigs = docs.select(col("id"), minhash(Dedup.shingles(col("text")), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs(1L) != sigs(3L))
    // near-dup shares most signature positions
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree > 32, s"only $agree/64 positions agree")
  }

  test("minhash of empty shingle set is null (filtered from LSH)") {
    val r = Seq(("ab", 1)).toDF("t", "i")
      .select(minhash(Dedup.shingles(col("t"), 3))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("LSH candidates include exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.lshCandidatePairs(docs, "id", "text", numHashes = 128, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical — must always be candidates
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((3L, 4L)))
  }

  test("nearDupMinHash verifies with exact jaccard") {
    val got = Dedup.nearDupMinHash(docs, "id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 4L)) == 1.0)
    assert(got((1L, 2L)) > 0.5 && got((1L, 2L)) < 1.0)
    assert(!got.contains((1L, 3L)))
    // matches the brute-force oracle exactly
    val brute = Dedup.nearDupJaccardBrute(docs, "id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == brute)
  }

  test("simhash pairs: identical → hamming 0; near-dup small; unrelated absent") {
    val pairs = Dedup.simHashPairs(docs, "id", "text", maxHamming = 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs.get((1L, 2L)).exists(_ <= 12))
    assert(!pairs.contains((1L, 3L)))
  }

  test("non-ASCII case variants still pair: fused paths match Unicode tokenization") {
    val base = "der schnelle braune Fuchs springt über den faulen Hund im alten München heute"
    val docs = Seq(
      (1L, base.toUpperCase),
      (2L, base.toLowerCase),
      (3L, "völlig anderer Text über ganz andere Dinge die irgendwo anders passieren")
    ).toDF("doc_id", "text")
    // minhash-LSH: identical-after-lowercase docs must be candidates
    val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text", 64, 16, 3, 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), cands)
    assert(!cands.contains((1L, 3L)))
    // simhash: identical-after-lowercase → hamming 0
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs)
  }

  test("duplicateClusters: chains collapse to min-id components; drop keeps reps") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // a 5-chain (diameter > 1 round)
      (10L, 11L),                             // a simple pair
      (20L, 22L), (21L, 22L))                 // a star
      .toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(clusters(_) == 1L))
    assert(clusters(10L) == 10L && clusters(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(clusters(_) == 20L))

    val docs = (1L to 30L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs,
      "doc_id", pairs.select(col("id_a").as("id_a"), col("id_b").as("id_b")))
      .collect().map(_.getLong(0)).toSet
    // losers 2..5, 11, 21, 22 dropped; reps and untouched ids kept
    assert(!kept.exists(Set(2L, 3L, 4L, 5L, 11L, 21L, 22L)))
    assert(Set(1L, 10L, 20L, 6L, 30L).subsetOf(kept))
    assert(kept.size == 30 - 7)
  }

  test("duplicateClusters: star contraction collapses long chains in ~log d rounds") {
    // A 64-node path (diameter 63) in worst-case sequential id order:
    // min-label propagation needs 63 rounds and would THROW at the
    // default maxIters=20. Large-star halves every chain per round, so
    // star contraction must finish in ≈ ⌈log₂ 63⌉ + 1 rounds.
    val chain64 = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (c64, rounds64) = Dedup.duplicateClustersWithRounds(chain64)
    val m64 = c64.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 64L).forall(m64(_) == 1L))
    assert(rounds64 <= 8, s"expected <= 8 star-contraction rounds for diameter 63, got $rounds64")

    // Diameter 1000 — far beyond anything propagate-only could finish
    // in 20 rounds — still converges within the DEFAULT maxIters.
    // Shuffle the ids along the path so the minimum isn't conveniently
    // at one end (adversarial id placement).
    val perm = new scala.util.Random(7).shuffle((1L to 1001L).toVector)
    val chain1k = (0 until 1000).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val (c1k, rounds1k) = Dedup.duplicateClustersWithRounds(chain1k)
    val m1k = c1k.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 1001L).forall(m1k(_) == 1L))
    assert(rounds1k <= 13, s"expected <= 13 star-contraction rounds for diameter 1000, got $rounds1k")
  }

  test("duplicateClusters keeps self-pair-only ids as singleton clusters") {
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("id_a", "id_b")
    val m = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("duplicateClusters uses reliable checkpoints when a checkpoint dir is set") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "precondition: no checkpoint dir")
    val dir = Fixtures.scratchDir("ckpt")
    sc.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      val m = Dedup.duplicateClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 3L).forall(m(_) == 1L))
      // the round materializations actually landed in reliable storage
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected checkpoint files under the reliable dir")
    } finally {
      // SparkContext has no un-set API; the shared-session contract for
      // other suites is restored via the private field.
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
    }
  }

  test("duplicateClusters fails loudly when a component outruns maxIters") {
    // a 12-node path has diameter 11 — label propagation cannot finish
    // in 2 rounds, and split clusters must not be returned silently.
    // smallGraphBound = 0 forces the distributed contraction (the
    // driver union-find path has no round bound to outrun).
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(chain, maxIters = 2, smallGraphBound = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain collapses fine
    val ok = Dedup.duplicateClusters(chain, maxIters = 20, smallGraphBound = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(ok(_) == 1L))
  }

  test("small-graph union-find path == distributed star contraction") {
    val rnd = new scala.util.Random(42)
    // random graph with chains, self-pairs, singleton pairs, dup edges
    val pairs = ((1 to 600).map { _ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong)
    } ++ Seq((500L, 500L), (600L, 601L))).toDF("id_a", "id_b")
    val fast = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = Dedup.duplicateClusters(pairs, maxIters = 20, smallGraphBound = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == dist)
    // integer ids keep their type through the fast path
    val intPairs = Seq((1, 2), (2, 3), (7, 7)).toDF("id_a", "id_b")
    val viaInt = Dedup.duplicateClusters(intPairs).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(viaInt == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7))
  }

  test("small-graph bound dispatch: exactly-at-bound stays on the " +
      "driver path, bound+1 falls to distributed, results identical") {
    // r19: the path choice is a single bounded collect (limit bound+1),
    // not count-then-collect — pin both sides of the boundary.
    // 9 distinct undirected pairs after canonicalization: chain 1..10
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val expected = (1L to 10L).map(i => (i, 1L)).toSet
    // bound = 9: exactly at the bound → driver union-find
    val atBound = Dedup.duplicateClusters(chain, maxIters = 20,
      smallGraphBound = 9L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atBound == expected)
    // bound = 8: one over → distributed star contraction, same answer
    val overBound = Dedup.duplicateClusters(chain, maxIters = 20,
      smallGraphBound = 8L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(overBound == expected)
  }

  test("exactByHashById keeps the min-id row per distinct text") {
    val d = Seq(
      (1L, "aaa", "x"), (2L, "aaa", "y"), (3L, "bbb", "z"),
      (4L, "ccc", "w"), (5L, "bbb", "v"))
      .toDF("doc_id", "text", "extra")
    val kept = Dedup.exactByHashById(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(kept == Set((1L, "aaa", "x"), (3L, "bbb", "z"), (4L, "ccc", "w")))
  }

  test("exactByHash keeps one row per distinct text") {
    assert(Dedup.exactByHash(docs, "text").count() == 3)
  }

  test("dedupLines removes cross-doc boilerplate lines, keeps order, blanks, and empty docs") {
    val d = Seq(
      (1L, "unique one\nSubscribe to our newsletter\n\nbody text a"),
      (2L, "unique two\n subscribe to our newsletter \n\nbody text b"),
      (3L, "Subscribe to our newsletter"),        // fully boilerplate after dedup
      (4L, "solo line\nrepeated within doc\nrepeated within doc"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(d, "doc_id", "text", minDocs = 2)
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      // normalized match (trim+lower) removes the banner everywhere
      (1L, "unique one\n\nbody text a", 3L, 1L),
      (2L, "unique two\n\nbody text b", 3L, 1L),
      (3L, "", 0L, 1L),                           // doc survives as an empty row
      // within-doc repetition alone is NOT cross-doc boilerplate
      (4L, "solo line\nrepeated within doc\nrepeated within doc", 3L, 0L)))
  }

  test("dedupParagraphs keeps FIRST occurrence only, ordered rebuild, empty-loss docs") {
    val d = Seq(
      (1L, "alpha para\n\nshared para\n\nomega para"),
      // later doc: loses the shared para, keeps its own
      (2L, "beta para\n\n Shared Para \n\ngamma para"),
      // intra-doc dup: second copy dropped (winner is (2, pos 2)? no —
      // the winner of "gamma para" is doc 2 pos 4; doc 3's copies lose)
      (3L, "gamma para\n\ngamma para"),
      // fully-duplicated doc → empty text, survives as a row
      (4L, "shared para"),
      // blank paragraph (\n\n\n\n) is a separator: kept, never matched
      (5L, "delta para\n\n\n\ndelta para"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(d, "doc_id", "text")
      .select("doc_id", "text", "n_paras_kept", "n_paras_dropped")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "alpha para\n\nshared para\n\nomega para", 3L, 0L),
      (2L, "beta para\n\ngamma para", 2L, 1L),
      (3L, "", 0L, 2L), // both copies lose to doc 2's "gamma para"
      (4L, "", 0L, 1L),
      // first "delta para" wins (pos 0); blank separator kept; dup dropped
      (5L, "delta para\n\n", 2L, 1L)))
  }

  test("dedupParagraphs and dedupLines are idempotent; null text survives as empty") {
    val d = Seq(
      (1L, "alpha\n\nshared"), (2L, "shared\n\nbeta"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // one pass removes every non-first duplicate, so a second pass is a no-op
    val once = Dedup.dedupParagraphs(d, "doc_id", "text")
      .select("doc_id", "text")
    val twice = Dedup.dedupParagraphs(once, "doc_id", "text")
      .select("doc_id", "text")
    assert(once.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      twice.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // null-text doc: empty rebuild, zero counts (not nulls)
    val row3 = Dedup.dedupParagraphs(d, "doc_id", "text")
      .where(col("doc_id") === 3).collect()(0)
    assert(row3.getAs[String]("text") == "" &&
      row3.getAs[Long]("n_paras_kept") == 0L &&
      row3.getAs[Long]("n_paras_dropped") == 0L)
    // same law for line dedup (removal there is every-occurrence, so the
    // surviving lines are all sub-threshold — a second pass drops nothing)
    val l = Seq((1L, "a\nboiler"), (2L, "boiler\nb")).toDF("doc_id", "text")
    val l1 = Dedup.dedupLines(l, "doc_id", "text", minDocs = 2).select("doc_id", "text")
    val l2 = Dedup.dedupLines(l1, "doc_id", "text", minDocs = 2).select("doc_id", "text")
    assert(l1.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      l2.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("dedupParagraphs above the broadcast cap: shuffled join, same result") {
    val d = Seq(
      (1L, "one\n\ntwo"),
      (2L, "two\n\nthree"),
      (3L, "three\n\none")).toDF("doc_id", "text")
    val a = Dedup.dedupParagraphs(d, "doc_id", "text")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Dedup.dedupParagraphs(d, "doc_id", "text", maxBroadcastKeys = 0L)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
    assert(a == Set((1L, "one\n\ntwo"), (2L, "three"), (3L, "")))
  }

  test("nearDupAgainstIndex finds new-vs-indexed pairs only, at matching params") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about database query optimization plans"))
      .toDF("doc_id", "text")
    val news = Seq(
      // near-dup of corpus doc 1 (last word changed)
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      // unrelated new doc
      (11L, "unrelated musings on distributed consensus and failure detectors"),
      // near-dup of ANOTHER NEW doc only — must NOT be reported
      (12L, "unrelated musings on distributed consensus and failure detector"))
      .toDF("doc_id", "text")
    val idx = Dedup.minHashIndex(corpus, "doc_id", "text")
    val got = Dedup.nearDupAgainstIndex(news, "doc_id", "text",
        idx, corpus, "doc_id", "text", threshold = 0.5)
      .select("id_new", "id_idx").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L)))
  }

  test("dedupIncremental: one call drops index dups, hit clusters, and non-reps") {
    // corpus doc X; batch exercises all three drop rules plus survival:
    //  20: near-copy of X                → (a) index hit, drop
    //  21: near-dup of 20 but NOT of X   → (b) member of a hit cluster
    //                                       (transitively a corpus dup), drop
    //  30: fresh content                 → cluster rep, keep
    //  31: near-dup of 30                → (c) non-representative, drop
    //  40: unique fresh doc              → untouched, keep
    val x = (1 to 20).map(i => s"x$i").mkString(" ")
    val tail = (1 to 10).map(i => s"t$i").mkString(" ")
    val corpus = Seq((1L, x)).toDF("doc_id", "text")
    val fresh = (1 to 20).map(i => s"c$i").mkString(" ")
    val batch = Seq(
      (20L, s"$x $tail"),
      // shares x11..x20 + tail with 20 (j≈0.47) but only x11..x20 with
      // X itself (j≈0.21): a hit-cluster member, not a direct hit
      (21L, ((11 to 20).map(i => s"x$i") ++ (1 to 10).map(i => s"t$i")
        ++ (1 to 10).map(i => s"f$i")).mkString(" ")),
      (30L, fresh),
      (31L, (1 to 17).map(i => s"c$i").mkString(" ")),
      (40L, (1 to 20).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    // bands=64 (2 rows/band): candidate recall ≈ 1 at the j≈0.4-0.5
    // pairs this fixture plants; the exact verify then decides
    val idx = Dedup.minHashIndex(corpus, "doc_id", "text", numHashes = 128, bands = 64)
    val kept = Dedup.dedupIncremental(batch, "doc_id", "text",
        idx, corpus, "doc_id", "text",
        threshold = 0.35, numHashes = 128, bands = 64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(30L, 40L), s"kept=$kept")
    // all original columns survive
    assert(Dedup.dedupIncremental(batch, "doc_id", "text",
      idx, corpus, "doc_id", "text",
      threshold = 0.35, numHashes = 128, bands = 64).columns.toSeq
      == Seq("doc_id", "text"))
  }

  test("hammingPairs: generic fingerprint banding — full recall at radius ≤ 3, nulls skipped") {
    val base = 0x0123456789abcdefL
    val df = Seq(
      (1L, Some(base)),
      (2L, Some(base ^ 1L)),                      // hamming 1 (chunk 0)
      (3L, Some(base ^ (1L << 17) ^ (1L << 40) ^ (1L << 63))), // 3 bits, 3 DIFFERENT chunks
      (4L, Some(base ^ 0xffL)),                   // hamming 8 — out of radius
      (5L, None: Option[Long]))
      .toDF("id", "fp")
    val got = Dedup.hammingPairs(df, "id", "fp", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // pigeonhole: even the 3-bit flip spread across 3 chunks shares its
    // 4th chunk with base → must be found; everything beyond radius 3
    // (and the null fingerprint) must not appear
    assert(got == Set((1L, 2L, 1), (1L, 3L, 3)), got.toString)
  }

  test("hammingPairs: identical fingerprints pair at radius 0 through the collapsed tier") {
    val v = 0x0f0f0f0f0f0f0f0fL
    val df = Seq((1L, v), (2L, v), (3L, v), (4L, v ^ 3L), (5L, ~v))
      .toDF("id", "fp")
    val got = Dedup.hammingPairs(df, "id", "fp", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // {1,2,3} all-pairs at 0; each of them to 4 at hamming 2; 5 is far
    assert(got == Set(
      (1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0),
      (1L, 4L, 2), (2L, 4L, 2), (3L, 4L, 2)), got.toString)
    // maxHamming = 0 degenerates to exact-value grouping
    val exact = Dedup.hammingPairs(df, "id", "fp", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)), exact.toString)
  }

  /** 300 rows over 40 fingerprint classes, every 7th row a 1-bit
    * variant of its class value: identical classes, near variants, and
    * whatever cross-class collisions the RNG deals — both paths see
    * the same input, so the comparison is exact regardless. Returns
    * (class values, (id, fingerprint) rows). */
  private def hammingFixture: (Array[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(7)
    val classes = Array.fill(40)(rnd.nextLong())
    val rows = (0 until 300).map(i =>
      (i.toLong, classes(i % 40) ^ (if (i % 7 == 0) 1L << (i % 64) else 0L)))
    (classes, rows)
  }

  test("hammingClusters/dropHammingDuplicates match the pairs path exactly") {
    val df = hammingFixture._2.toDF("id", "fp")
    val viaPairs = Dedup.duplicateClusters(Dedup.hammingPairs(df, "id", "fp", 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (hotK <- Seq(0, 4, 1024)) {
      val direct = Dedup.hammingClusters(df, "id", "fp", 3, hotK)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(direct == viaPairs, s"hotK=$hotK")
    }
    val keptPairs = Dedup.dropNearDuplicates(df, "id", Dedup.hammingPairs(df, "id", "fp", 3))
      .select("id").collect().map(_.getLong(0)).toSet
    val keptDirect = Dedup.dropHammingDuplicates(df, "id", "fp", 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptDirect == keptPairs)
  }

  test("dedupIncrementalHamming/dropHammingDuplicates match the pairs path, nulls included") {
    val (classes, rows) = hammingFixture
    // every 11th row loses its fingerprint: never dropped, never a signal
    val batch = rows.map { case (i, fp) => (i, if (i % 11 == 5) None else Some(fp)) }
      .toDF("id", "fp")
    val nullIds = rows.map(_._1).filter(_ % 11 == 5).toSet
    // index: every 4th class value with (class % 5) flipped bits, so a
    // radius probe hits some classes and misses others
    val idxRows = classes.indices.filter(_ % 4 == 0).map { c =>
      val v = (0 until c % 5).foldLeft(classes(c))((v, b) => v ^ (1L << (b * 13 + c % 13)))
      (1000L + c, v)
    }
    val index = Dedup.hammingIndex(idxRows.toDF("id", "fp"), "id", "fp")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    for (radius <- Seq(0, 3)) {
      // pairs-path reference: drop index hits, drop every member of a
      // batch component holding a hit, keep component minima + the rest
      val hits = Dedup.hammingAgainstIndex(batch, "id", "fp", index, radius)
        .select("id_new").collect().map(_.getLong(0)).toSet
      val comps = Dedup.duplicateClusters(Dedup.hammingPairs(batch, "id", "fp", radius))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hitComps = hits.flatMap(comps.get)
      val expected = rows.map(_._1).filter(id =>
        !hits(id) && comps.get(id).forall(c => !hitComps(c) && c == id)).toSet
      assert(hits.nonEmpty, s"radius=$radius: the index must hit something")
      // at radius 0 a hit component is all hits; above it, the
      // transitive drop must be exercised
      if (radius > 0)
        assert(comps.exists { case (id, c) => hitComps(c) && !hits(id) },
          s"radius=$radius: some component must be dropped through a hit member")
      val got = ids(Dedup.dedupIncrementalHamming(batch, "id", "fp", index, radius))
      assert(got == expected, s"radius=$radius: ${got -- expected} / ${expected -- got}")
      assert(nullIds.subsetOf(got))

      val keptPairs = ids(Dedup.dropNearDuplicates(batch, "id",
        Dedup.hammingPairs(batch, "id", "fp", radius)))
      val keptDirect = ids(Dedup.dropHammingDuplicates(batch, "id", "fp", radius))
      assert(keptDirect == keptPairs, s"radius=$radius")
      assert(nullIds.subsetOf(keptDirect))
    }
  }

  test("hammingIndex/hammingAgainstIndex: new-vs-indexed within radius only; nulls inert") {
    val va = 0x1111111111111111L
    val vb = 0x00ff00ff00ff00ffL // far from va (hamming 32)
    val corpus = Seq((1L, va), (2L, 0x8000000000000000L)).toDF("id", "fp")
    val index = Dedup.hammingIndex(corpus, "id", "fp")
    assert(index.count() == 8) // 4 chunk rows per fingerprint
    assert(index.columns.toSeq == Seq("chunk_idx", "chunk_val", "id", "sh"))
    val batch = Seq(
      (10L, Some(va)),       // exact indexed copy → hit at 0
      (11L, Some(va ^ 7L)),  // hamming 3 from indexed va → hit
      (12L, Some(vb)),       // far from everything indexed
      (13L, None: Option[Long]))
      .toDF("id", "fp")
    val got = Dedup.hammingAgainstIndex(batch, "id", "fp", index, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // new-vs-new (10 vs 11) must NOT appear — probe contract
    assert(got == Set((10L, 1L, 0), (11L, 1L, 3)), got.toString)
  }

  test("dedupIncrementalHamming drops index dups, hit clusters, and non-reps") {
    val va = 0x1111111111111111L
    val vb = 0x00ff00ff00ff00ffL
    val vc = 0xffffffffffffffffL
    val corpus = Seq((1L, va)).toDF("id", "fp")
    val index = Dedup.hammingIndex(corpus, "id", "fp")
    val batch = Seq(
      (10L, Some(va)),                 // direct hit
      (11L, Some(va ^ 7L)),            // direct hit (hamming 3)
      (12L, Some(va ^ 7L ^ 0x38L)),    // hamming 6 from va — no direct hit,
                                       // but clusters with 11 → transitive drop
      (13L, Some(vb)), (14L, Some(vb)), // clean batch cluster → keep 13
      (15L, Some(vc)),                 // unique → keep
      (16L, None: Option[Long]))       // null fingerprint → keep
      .toDF("id", "fp")
    val kept = Dedup.dedupIncrementalHamming(batch, "id", "fp", index, maxHamming = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(13L, 15L, 16L), kept.toString)
    // all original columns survive
    assert(Dedup.dedupIncrementalHamming(batch, "id", "fp", index, maxHamming = 3)
      .columns.toSeq == Seq("id", "fp"))
  }

  /** Max shuffle-partition bytes per shuffle stage of an EXECUTED
    * adaptive plan — TextOpsSpec's funnel measurement, absolute form. */
  private def maxShuffleBytes(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    def walk(p: SparkPlan): Unit = p.foreach {
      case s: ShuffleQueryStageExec =>
        s.mapStats.foreach(ms => out += ((s.id, ms.bytesByPartitionId.max)))
        walk(s.plan)
      case q: QueryStageExec => walk(q.plan)
      case _ => ()
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => walk(other)
    }
    out.toSeq
  }

  /** Total shuffle bytes per shuffle stage of an EXECUTED adaptive
    * plan — the volume companion to [[maxShuffleBytes]] (quadratic
    * pair materialization is a VOLUME pathology: the rows spread
    * evenly over partitions, so the per-partition max alone would
    * understate it). */
  private def totalShuffleBytes(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    def walk(p: SparkPlan): Unit = p.foreach {
      case s: ShuffleQueryStageExec =>
        s.mapStats.foreach(ms => out += ((s.id, ms.bytesByPartitionId.sum)))
        walk(s.plan)
      case q: QueryStageExec => walk(q.plan)
      case _ => ()
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => walk(other)
    }
    out.toSeq
  }

  test("hammingClusters: a 10^5-row degenerate fingerprint class stays bounded per task") {
    // The viral-image shape: 10^5 rows share ONE fingerprint (plus 3
    // one-bit variants and a far 50-row class). Banding raw rows would
    // funnel the whole class into a single collect_list buffer; the
    // collapsed plan's shuffles must stay bounded by DISTINCT values.
    val viral = 0x5a5a5a5a5a5a5a5aL
    val far = ~viral
    val n = 100000L
    val df = spark.range(n).selectExpr("id", s"${viral}L AS fp")
      .unionAll(spark.range(3).selectExpr(
        s"id + ${n} AS id", s"${viral}L ^ CAST(pow(2, id) AS LONG) AS fp"))
      .unionAll(spark.range(50).selectExpr(s"id + ${n + 10} AS id", s"${far}L AS fp"))
      .toDF()
    val clusters = Dedup.hammingClusters(df, "id", "fp", maxHamming = 3)
    val got = clusters.collect().map(r => (r.getLong(0), r.getLong(1)))
    // every row is in a duplicate relation; one component per class pair
    assert(got.length == n + 3 + 50)
    val byCluster = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCluster == Map(0L -> (n + 3).toInt, (n + 10) -> 50), byCluster.toString)
    val prodMax = maxShuffleBytes(clusters).map(_._2).max
    // Contrast: the pre-round-7 shape — banding RAW rows — measured by
    // the same probe. Its hottest bucket carries the full class, so its
    // max partition bytes dwarf the collapsed plan's; this proves the
    // measurement would flag the funnel the production plan avoids.
    val oldShape = df
      .select(col("id"), col("fp").as("sh"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until 4).map(j =>
          shiftrightunsigned(col("sh"), j * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("chunk_idx", "chunk_val")))
      .groupBy("chunk_idx", "chunk_val")
      // collect_list: partial aggregation still ships every element —
      // the funnel the production plan's count/min partials avoid
      .agg(collect_list(struct(col("id"), col("sh"))).as("es"))
      .select(col("chunk_idx"), size(col("es")).as("m"))
    oldShape.collect()
    val contrastMax = maxShuffleBytes(oldShape).map(_._2).max
    assert(prodMax * 4 < contrastMax,
      s"collapsed plan max partition $prodMax B should be far under the raw-banding $contrastMax B")
    assert(prodMax < 512 * 1024, s"per-task shuffle input $prodMax B not bounded")

    // The drop paths decide on the value table and join rows back by
    // id, with no hot/residual split: the same bound must hold there.
    // The index holds a 1-bit variant of the far class only, so the
    // incremental drop keeps the viral class's minimum and nothing else.
    val index = Dedup.hammingIndex(Seq((-1L, far ^ 1L)).toDF("id", "fp"), "id", "fp")
    for ((name, out, kept) <- Seq(
        ("dedupIncrementalHamming",
          Dedup.dedupIncrementalHamming(df, "id", "fp", index, maxHamming = 3), Set(0L)),
        ("dropHammingDuplicates",
          Dedup.dropHammingDuplicates(df, "id", "fp", maxHamming = 3), Set(0L, n + 10)))) {
      // collect `out` itself: the probe reads ITS executed plan
      assert(out.collect().map(_.getLong(0)).toSet == kept, name)
      val max = maxShuffleBytes(out).map(_._2).max
      assert(max * 4 < contrastMax,
        s"$name max partition $max B should be far under the raw-banding $contrastMax B")
      assert(max < 512 * 1024, s"$name per-task shuffle input $max B not bounded")
    }
  }

  test("lshCandidatePairs: a degenerate exact-duplicate text class stays bounded per task") {
    // The boilerplate shape: 2000 rows carry ONE text (plus a 90%-
    // overlapping near-dup and a far 100-row class). Banding raw rows
    // would put all 2000 ids into the same bucket in EVERY band — 32
    // O(m) collect_list buffers and O(m²) in-place pair expansions;
    // the collapsed plan bands one representative per distinct text.
    val textA = (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearA = (1 to 19).map(i => s"tok$i").mkString(" ") + " tokX"
    val textB = (1 to 20).map(i => s"other$i").mkString(" ")
    val m = 2000L
    val df = spark.range(m).selectExpr("id", s"'$textA' AS text")
      .unionAll(spark.range(1).selectExpr(s"id + $m AS id", s"'$nearA' AS text"))
      .unionAll(spark.range(100).selectExpr(s"id + ${m + 10} AS id", s"'$textB' AS text"))
      .toDF()
    val pairs = Dedup.lshCandidatePairs(df, "id", "text")
    // count through ONE executed frame so the partition-bytes probe
    // reads the very plan that ran (a bare .count() builds its own
    // QueryExecution and leaves `pairs`' stages unexecuted)
    val counted = pairs.groupBy()
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("id_b") === m, 1L).otherwise(0L)).as("n_near"),
        sum(when(col("id_a") < m + 1 && col("id_b") >= m + 10, 1L)
          .otherwise(0L)).as("n_contam"))
    val row = counted.collect()(0)
    // full clique of the duplicate class + the far clique + one
    // near-dup rep pair expanded to every member of the class
    assert(row.getLong(0) == m * (m - 1) / 2 + 100L * 99 / 2 + m,
      s"expected exact tiers, got ${row.getLong(0)}")
    // the near-dup reaches the class through the banding tier
    assert(row.getLong(1) == m)
    // no cross-class contamination with the far class
    assert(row.getLong(2) == 0L)
    val prodMax = maxShuffleBytes(counted).map(_._2).max
    // Contrast: the pre-hardening shape — banding RAW rows — measured
    // by the same executed-partition-bytes probe.
    val oldShape = df
      .select(col("id"),
        posexplode(graft.functions.TextMinHashBands.textMinhashBands(
          col("text"), 3, 128, 32, 42L)).as(Seq("band_idx", "band_hash")))
      .groupBy("band_idx", "band_hash")
      .agg(collect_list(col("id")).as("ids"))
      .select(col("band_idx"), size(col("ids")).as("n"))
    oldShape.collect()
    val contrastMax = maxShuffleBytes(oldShape).map(_._2).max
    assert(prodMax * 4 < contrastMax,
      s"collapsed plan max partition $prodMax B should be far under raw-banding $contrastMax B")
    assert(prodMax < 512 * 1024, s"per-task shuffle input $prodMax B not bounded")
  }

  test("hammingAgainstIndex: a degenerate batch (one viral fingerprint) probes once") {
    // 10^4 batch rows share ONE fingerprint: the probe must band a
    // single distinct value, and candidate dedup must happen BEFORE
    // batch-membership expansion multiplies it
    val viral = 0x0123456789abcdeL
    val m = 10000L
    val idx = Dedup.hammingIndex(
      Seq((1L, viral), (2L, viral ^ 1L), (3L, ~viral)).toDF("id", "fp"), "id", "fp")
    val batch = spark.range(m).selectExpr("id + 100000 AS id", s"${viral}L AS fp").toDF()
    val hits = Dedup.hammingAgainstIndex(batch, "id", "fp", idx, maxHamming = 2)
    val agg = hits.groupBy("id_idx").count()
    val got = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every batch row hits indexed ids 1 (hamming 0) and 2 (hamming 1),
    // never the far id 3
    assert(got == Map(1L -> m, 2L -> m), got.toString)
    // executed shuffle partitions stay bounded by DISTINCT values +
    // final expansion keys, not by the batch's copy multiplicity
    // carried through the banding join
    val maxB = maxShuffleBytes(agg).map(_._2).max
    assert(maxB < 512 * 1024, s"probe shuffle input $maxB B not bounded")
  }

  test("dropNearDuplicatesBy keeps the best-scoring member; ties go to min id") {
    val d = Seq(
      (1L, "a", 10.0), (2L, "a2", 50.0), (3L, "a3", 50.0), // cluster {1,2,3}
      (4L, "b", 7.0), (5L, "b2", 3.0),                     // cluster {4,5}
      (6L, "solo", 0.0))                                   // unpaired: always kept
      .toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicatesBy(d, "doc_id", "score", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // {1,2,3}: max score 50 tie between 2 and 3 → min id 2; {4,5}: 4 wins
    assert(kept == Seq(2L, 4L, 6L))
  }

  test("dedupLines matches across CRLF/LF line endings; payload endings preserved") {
    val d = Seq(
      (1L, "unique a\r\nshared banner\r\nkeep a"),   // CRLF doc
      (2L, "unique b\nshared banner\nkeep b"))       // LF doc
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(d, "doc_id", "text", minDocs = 2)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // the banner matched across ending styles (trim strips \r from the
    // key); surviving CRLF lines keep their \r verbatim
    assert(got(1L) == "unique a\r\nkeep a")
    assert(got(2L) == "unique b\nkeep b")
  }

  test("lshClusters/dropLshDuplicates(By) match the pairs path exactly") {
    // Mixed corpus exercising every tier: a near-dup pair, an exact
    // class, SHORT exact dups (< 3 tokens → null bands: candidates in
    // the identical tier, but verify scores them 0.0), empty-string
    // dups, a unique doc, and null texts (inert on both paths).
    val d = Seq(
      (1L, Option(base)), (2L, Option(near)), (3L, Option(other)),
      (4L, Option(base)), (5L, Option(base)),
      (6L, Option("a b")), (7L, Option("a b")),
      (8L, Option("")), (9L, Option("")),
      (10L, None: Option[String]), (11L, None: Option[String]))
      .toDF("id", "text")
    for (t <- Seq(0.5, 0.0)) {
      val viaPairs = Dedup.duplicateClusters(
        Dedup.nearDupMinHash(d, "id", "text", t).select("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (hotK <- Seq(0, 2, 1024)) {
        val direct = Dedup.lshClusters(d, "id", "text", t, hotK = hotK)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(direct == viaPairs, s"threshold=$t hotK=$hotK")
      }
    }
    // pin the two worlds: at 0.5 empty-shingle dup classes verify at
    // 0.0 and stay OUT; at 0.0 they cluster; nulls never appear
    val at05 = Dedup.lshClusters(d, "id", "text", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at05 == Set((1L, 1L), (2L, 1L), (4L, 1L), (5L, 1L)), at05.toString)
    val at00ids = Dedup.lshClusters(d, "id", "text", 0.0).collect()
      .map(_.getLong(0)).toSet
    assert(Set(6L, 7L, 8L, 9L).subsetOf(at00ids) && !at00ids.contains(10L))
    // one-call drop forms vs the explicit pairs route
    val pairs05 = Dedup.nearDupMinHash(d, "id", "text", 0.5).select("id_a", "id_b")
    val keptPairs = Dedup.dropNearDuplicates(d, "id", pairs05)
      .select("id").collect().map(_.getLong(0)).toSet
    val keptDirect = Dedup.dropLshDuplicates(d, "id", "text", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptDirect == keptPairs)
    // score picks a non-min winner in the big cluster (id 5 scores 9)
    val ds = d.withColumn("score", pmod(col("id") * 37L, lit(11L)).cast("double"))
    val keptByPairs = Dedup.dropNearDuplicatesBy(ds, "id", "score", pairs05)
      .select("id").collect().map(_.getLong(0)).toSet
    val keptByDirect = Dedup.dropLshDuplicatesBy(ds, "id", "score", "text", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptByDirect == keptByPairs)
    assert(!keptByDirect.contains(1L) && keptByDirect.contains(5L))
  }

  test("lshClusters: a 10^4-copy boilerplate class costs O(batch), not O(batch²)") {
    // The dup-dense ingest shape: 10^4 rows carry ONE text (plus a
    // 90%-overlap near-dup and a far 100-row class). The pairs path
    // would materialize m(m−1)/2 ≈ 5·10⁷ identical-pair rows before
    // star contraction; the collapsed path never expands the class.
    val textA = (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearA = (1 to 19).map(i => s"tok$i").mkString(" ") + " tokX"
    val textB = (1 to 20).map(i => s"other$i").mkString(" ")
    // Texts must be runtime-equal but NOT statically foldable: a bare
    // literal would let Catalyst constant-fold xxhash64(text) into a
    // literal join/group key and re-plan both routes around broadcast
    // nested loops — nothing like the shapes real (column-sourced)
    // corpora execute. The no-op suffix depends on `id`, defeating the
    // fold while appending "".
    def t(s: String) =
      concat(lit(s), when(col("id") < 0, lit("z")).otherwise(lit("")))
    // repartition: spark.range's known partitioning on id would let
    // the planner elide exchanges (range → id_a → pair-distinct
    // clustering) that a parquet-sourced corpus must pay for — round
    // robin erases it so both routes execute their real shapes.
    val m = 10000L
    val df = spark.range(m).select(col("id"), t(textA).as("text"))
      .unionAll(spark.range(1).select((col("id") + m).as("id"), t(nearA).as("text")))
      .unionAll(spark.range(100).select((col("id") + m + 10).as("id"), t(textB).as("text")))
      .repartition(8)
    val clusters = Dedup.lshClusters(df, "id", "text", threshold = 0.5)
    val got = clusters.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == m + 1 + 100)
    val byCluster = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCluster == Map(0L -> (m + 1).toInt, (m + 10) -> 100), byCluster.toString)
    // Executed-plan probe: every visible shuffle stage stays bounded
    // per task (the signature-collapse aggregate sits behind the
    // eager checkpoint and is invisible here, but ITS boundedness —
    // min-struct partials, never corpus frequency in one buffer — is
    // pinned by the lshCandidatePairs degenerate test on the same
    // subtree shape).
    val prodMax = maxShuffleBytes(clusters).map(_._2).max
    assert(prodMax < 512 * 1024, s"per-task shuffle input $prodMax B not bounded")
    // Contrast at FIVE TIMES FEWER copies: the identical-pair tier the
    // old route fed to duplicateClusters — its very first distinct
    // shuffles the full m²/2 pair volume. Even at m/5 the pair route
    // moves vastly more than the collapsed plan does at m.
    val m2 = 2000L
    val small = spark.range(m2).select(col("id"), t(textA).as("text")).repartition(8)
    val memS = small.select(
      xxhash64(col("text")).as("k"), length(col("text")).as("l"), col("id"))
    val oldShape = memS.select(col("k"), col("l"), col("id").as("id_a"))
      .join(memS.select(col("k"), col("l"), col("id").as("id_b")), Seq("k", "l"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .distinct()
      .groupBy().agg(count(lit(1)).as("n"))
    assert(oldShape.collect()(0).getLong(0) == m2 * (m2 - 1) / 2)
    val prodTotal = totalShuffleBytes(clusters).map(_._2).sum
    val contrastTotal = totalShuffleBytes(oldShape).map(_._2).sum
    assert(prodTotal * 8 < contrastTotal,
      s"collapsed plan moved $prodTotal B at m=$m; pair route moved " +
        s"$contrastTotal B at m=$m2")
  }

  test("dedupLines above the broadcast cap falls back to a shuffled anti-join, same result") {
    val d = Seq(
      (1L, "a\nshared"), (2L, "b\nshared"), (3L, "c"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(d, "doc_id", "text", minDocs = 2, maxBroadcastKeys = 0L)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }
  test("compactMinHashIndexes: classes contract, band rows re-point, probes still hit") {
    val mk = (id: Long, t: String) => (id, t)
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val drop5 = (1 to 35).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val b1 = Seq(mk(1L, words), mk(7L, other)).toDF("doc_id", "text")
    // batch 2: a near-dup of doc 1, an EXACT copy of doc 1, and a solo
    val b2 = Seq(mk(10L, drop5), mk(11L, words), mk(20L, "lone doc body here"))
      .toDF("doc_id", "text")
    val corpus = b1.unionByName(b2)
    val i1 = Dedup.minHashIndex(b1, "doc_id", "text")
    val i2 = Dedup.minHashIndex(b2, "doc_id", "text")
    val compact = Dedup.compactMinHashIndexes(Seq(i1, i2), corpus,
      "doc_id", "text", threshold = 0.5).cache()
    // {1, 10, 11} contract to 1; 7 and 20 stay
    val ids = compact.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 7L, 20L))
    // re-pointing preserved the members' band coverage: the class rows
    // under id 1 are the UNION of the members' band rows
    val before = i1.unionByName(i2).where(col("id").isin(1L, 10L, 11L))
      .select("band_idx", "band_hash").distinct().count()
    val after = compact.where(col("id") === 1L)
      .select("band_idx", "band_hash").distinct().count()
    assert(after == before, s"class band rows $after != member union $before")
    // a probe near the DROPPED member still hits, attributed to the rep
    val probe = Seq((99L, (1 to 33).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val hits = Dedup.nearDupAgainstIndex(probe, "doc_id", "text",
        compact, corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((99L, 1L)))
  }
}
