package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("t")

  test("language ID picks the language whose stopwords dominate") {
    val cases = Seq(
      "The cat and the dog is on a mat of straw" -> "en",
      "Der Hund und die Katze ist da und der Vogel" -> "de",
      "el perro y los gatos es que corren y saltan" -> "es",
      "le chien et les chats est une famille et le chat" -> "fr",
      "xyzzy plugh quux" -> "unknown")
    for ((text, want) <- cases) {
      val got = one(text).select(TextOps.langId(col("t"))).collect()(0).getString(0)
      assert(got == want, s"text='$text' got=$got want=$want")
    }
  }

  test("token counting: whitespace and BPE-ish regex") {
    val t = "Hello, world! x2 = 40 items"
    assert(one(t).select(TextOps.tokenCount(col("t"))).collect()(0).getInt(0) == 6)
    // Hello , world ! x 2 = 40 items  → 9 BPE-ish pieces
    assert(one(t).select(TextOps.bpeishTokenCount(col("t"))).collect()(0).getInt(0) == 9)
  }

  test("quality metrics on a known string") {
    val metrics = TextOps.qualityMetrics(col("t")).map { case (n, c) => c.as(n) }
    val r = one("the cat the cat").select(metrics: _*).collect()(0)
    assert(r.getAs[Int]("n_chars") == 15)
    assert(r.getAs[Int]("n_tokens") == 4)
    assert(r.getAs[Double]("avg_token_chars") == 3.0)
    assert(r.getAs[Double]("stopword_ratio") == 0.5)
    assert(r.getAs[Double]("distinct_ratio") == 0.5)
  }

  test("fingerprint: normalization-invariant equality, content sensitivity") {
    val df = Seq(("  The Quick FOX  ", 1), ("the quick fox", 2), ("other", 3))
      .toDF("t", "i")
    val fps = df.select(TextOps.fingerprint(col("t"))).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("tfIdfTopTerms ranks rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "common rare1"),
      (2L, "common rare2 rare2"),
      (3L, "common other")).toDF("id", "t")
    val top = TextOps.tfIdfTopTerms(docs, "id", "t", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'common' is in every doc (df=3, idf term lowest); the rare term wins
    assert(top(1L) == "rare1")
    assert(top(2L) == "rare2")
    assert(top(3L) == "other")
  }

  test("scrubPii masks emails, urls, and number runs; leaves prose alone") {
    val got = one("mail a.b+c@ex-site.org or https://ex.org/x?y=1 call 0123 456 7890 year 2024 ok")
      .select(TextOps.scrubPii(col("t"))).collect()(0).getString(0)
    assert(got == "mail <EMAIL> or <URL> call <NUMBER> year 2024 ok", got)
  }

  test("repetition metrics: doubled doc scores 0.5 on line and high on n-gram dup") {
    val body = "alpha beta gamma\ndelta epsilon zeta\neta theta iota"
    val doubled = body + "\n" + body
    val m = TextOps.repetitionMetrics(col("t")).map { case (n, c) => c.as(n) }
    val got = Seq(Tuple1(doubled)).toDF("t").select(m: _*).collect()(0)
    // 6 lines, 3 distinct → half are excess occurrences (chars likewise)
    assert(got.getAs[Double]("dup_line_frac") == 0.5)
    assert(got.getAs[Double]("dup_line_char_frac") == 0.5)
    // 17 bigrams, 9 distinct ("gamma delta" repeats via the seam too)
    assert(got.getAs[Double]("dup_2gram_frac") > 0.4)
    val clean = Seq(Tuple1(body)).toDF("t").select(m: _*).collect()(0)
    assert(clean.getAs[Double]("dup_line_frac") == 0.0)
    assert(clean.getAs[Double]("dup_3gram_frac") == 0.0)
  }

  test("repetition metrics: null fractions for empty / sub-n-gram docs") {
    val m = TextOps.repetitionMetrics(col("t")).map { case (n, c) => c.as(n) }
    val empty = one("   \n  ").select(m: _*).collect()(0)
    assert((0 until 4).forall(empty.isNullAt))
    val short = one("word").select(m: _*).collect()(0)
    assert(!short.isNullAt(0) && short.isNullAt(2) && short.isNullAt(3))
  }

  test("unigram log-prob: hand-computed corpus frequencies; null for empty docs") {
    val docs = Seq((1L, "a a b"), (2L, "b"), (3L, "  ")).toDF("id", "t")
    val got = TextOps.unigramLogProb(docs, "id", "t")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // freq: a=2, b=2, total=4 → every token lp = ln(1/2)
    val half = math.log(0.5)
    assert(math.abs(got(1L).get - half) < 1e-12)
    assert(math.abs(got(2L).get - half) < 1e-12)
    assert(got(3L).isEmpty) // token-free doc → null, not 0
  }

  test("gram char-coverage stats: hand-computed top and dup fractions") {
    import graft.functions.GramStats._
    // tokens a,b,a,b,c,d,c,d,e → 2-grams: "a b"×2, "b a", "b c",
    // "c d"×2, "d c", "d e"; text length 17
    val t = "a b a b c d c d e"
    val r = one(t).select(
      topNGramCharFrac(col("t"), 2).as("top"),
      dupNGramCharFrac(col("t"), 2).as("dup")).collect()(0)
    assert(math.abs(r.getDouble(0) - 2.0 * 3 / 17) < 1e-12)
    assert(math.abs(r.getDouble(1) - (6.0 + 6.0) / 17) < 1e-12)
    // fewer than n tokens, or empty text → null (no grams to measure)
    val nulls = one("solo").select(
      topNGramCharFrac(col("t"), 2), dupNGramCharFrac(col("t"), 2)).collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    assert(one("").select(topNGramCharFrac(col("t"), 2)).collect()(0).isNullAt(0))
  }

  test("gopher rules: clean doc kept; spam shapes dropped for the right rule") {
    val good = ((1 to 60).map(i => s"tok$i") ++ Seq("the", "of")).mkString(" ")
    val spam = ((1 to 60).map(_ => "spam") ++ Seq("the", "of")).mkString(" ")
    val symbols = good + " # # # # # # # #"
    val short = "the of"
    val df = Seq((1L, good), (2L, spam), (3L, symbols), (4L, short), (5L, ""))
      .toDF("id", "t")
    val keep = df.select(col("id"), TextOps.gopherKeep(col("t")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep(1L))
    assert(!keep(2L)) // top-2-gram char coverage way past 0.20
    assert(!keep(3L)) // symbol ratio 8/70 > 0.1
    assert(!keep(4L)) // word count < 50
    assert(!keep(5L)) // empty: verdict is false, never null
    val m = df.where(col("id") === 2)
      .select(TextOps.gopherMetrics(col("t")).map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(m.getAs[Double]("top_2gram_char_frac") > 0.2)
    assert(m.getAs[Int]("gopher_stopword_hits") == 2)
  }

  test("c4 cleaning: line rules and document verdict") {
    val page = Seq(
      "This is a good first sentence with plenty of words.",
      "Too short here.",
      "Please enable javascript to continue reading this page.",
      "no terminal punctuation on this line at all",
      "Another proper sentence follows the first one closely.",
      "And a third full sentence completes the cleaned page!").mkString("\n")
    val cols = TextOps.c4Clean(col("t")).map { case (n, c) => c.as(n) }
    val r = one(page).select(cols: _*).collect()(0)
    assert(r.getAs[Int]("n_lines") == 6)
    assert(r.getAs[Int]("n_lines_kept") == 3)
    assert(r.getAs[Int]("n_sentences") == 3)
    assert(r.getAs[Boolean]("keep_doc"))
    assert(!r.getAs[String]("clean_text").toLowerCase.contains("javascript"))
    // lorem ipsum and curly braces kill the whole page
    val lorem = one(page + "\nSome Lorem Ipsum filler appears down here somewhere.")
      .select(cols: _*).collect()(0)
    assert(!lorem.getAs[Boolean]("keep_doc"))
    val code = one(page + "\nfunction f() { return 1; }").select(cols: _*).collect()(0)
    assert(!code.getAs[Boolean]("keep_doc"))
  }

  test("c4/repetition line rules are ending-agnostic: CRLF pages match LF pages") {
    val lf = Seq(
      "This is a good first sentence with plenty of words.",
      "Another proper sentence follows the first one closely.",
      "And a third full sentence completes the cleaned page!").mkString("\n")
    val crlf = lf.replace("\n", "\r\n")
    val cols = TextOps.c4Clean(col("t")).map { case (n, c) => c.as(n) }
    val a = one(lf).select(cols: _*).collect()(0)
    val b = one(crlf).select(cols: _*).collect()(0)
    // terminal-punct rule must not be defeated by the trailing \r
    assert(a.getAs[Int]("n_lines_kept") == 3)
    assert(b.getAs[Int]("n_lines_kept") == 3, b.toString)
    assert(a.getAs[Boolean]("keep_doc") && b.getAs[Boolean]("keep_doc"))
    val m = TextOps.repetitionMetrics(col("t")).map { case (n, c) => c.as(n) }
    val rl = one(lf + "\n" + lf).select(m: _*).collect()(0)
    val rc = one(crlf + "\r\n" + crlf).select(m: _*).collect()(0)
    assert(rl.getAs[Double]("dup_line_frac") == rc.getAs[Double]("dup_line_frac"))
  }

  test("bigram stupid backoff: seen bigrams score ML, unseen back off") {
    val countDocs = Seq(Tuple1("a b a b")).toDF("t").withColumn("id", lit(0L))
    val scoreDocs = Seq((1L, "a b x"), (2L, "a")).toDF("id", "t")
    val got = TextOps.bigramLogProb(scoreDocs, countDocs, "id", "t")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // counts: uni a=2 b=2 (N=4, V=2); bi (a,b)=2 (b,a)=1
    // pair (a,b): seen → ln(2/2) = 0
    // pair (b,x): unseen, x OOV → ln(0.4) + ln(0+1) - ln(4+2)
    val want = (0.0 + (math.log(0.4) - math.log(6.0))) / 2.0
    assert(math.abs(got(1L).get - want) < 1e-12)
    assert(got(2L).isEmpty) // single-token doc: no pairs → null
  }

  test("bm25: hand-computed scores, absent terms contribute zero") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c d")).toDF("id", "t")
    val got = TextOps.bm25Score(docs, "id", "t", Seq("a", "c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgdl=8/3, df(a)=1, df(c)=2
    val n = 3.0; val avgdl = 8.0 / 3
    val idfA = math.log((n - 1 + 0.5) / 1.5 + 1)
    val idfC = math.log((n - 2 + 0.5) / 2.5 + 1)
    def term(idf: Double, f: Double, dl: Double) =
      if (f > 0) idf * f * 2.2 / (f + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) else 0.0
    assert(math.abs(got(1L) - term(idfA, 2, 3)) < 1e-12) // only 'a' hits
    assert(math.abs(got(2L) - term(idfC, 1, 2)) < 1e-12)
    assert(math.abs(got(3L) - term(idfC, 2, 3)) < 1e-12)
  }

  test("min-k fingerprint: near-dup docs share most sketch elements") {
    val a = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    val b = a.replace("today", "tonight")
    val c = "unrelated text about completely different things happening somewhere else entirely now"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "t")
    val sk = df.select(col("id"), TextOps.minKFingerprint(col("t")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((sk(1L) & sk(2L)).size >= 6) // k=8, one changed word
    assert((sk(1L) & sk(3L)).isEmpty)
  }

  test("charEntropy: uniform text maxes, repeated char zeroes, empty is null") {
    val df = Seq(
      (1L, "abcd"),        // 4 distinct chars, uniform → ln 4
      (2L, "aaaa"),        // single char → 0
      (3L, ""),            // no distribution → null
      (4L, "aabb"))        // two chars uniform → ln 2
      .toDF("id", "t")
    val got = df.select(col("id"), TextOps.charEntropy(col("t")).as("h"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(math.abs(got(1L).get - math.log(4)) < 1e-12)
    assert(got(2L).contains(0.0))
    assert(got(3L).isEmpty)
    assert(math.abs(got(4L).get - math.log(2)) < 1e-12)
    // low-entropy spam scores clearly below normal prose
    val spamH = df.sparkSession.createDataFrame(
      Seq(Tuple1("z" * 500 + " normal words here"))).toDF("t")
      .select(TextOps.charEntropy(col("t"))).collect()(0).getDouble(0)
    val proseH = df.sparkSession.createDataFrame(
      Seq(Tuple1("the quick brown fox jumps over the lazy dog")))
      .toDF("t")
      .select(TextOps.charEntropy(col("t"))).collect()(0).getDouble(0)
    assert(spamH < proseH)
  }

  test("nfcNormalize composes decomposed sequences, respects exclusions, ASCII is identity") {
    val df = Seq(
      (1L, "e\u0301"),          // composes to U+00E9
      (2L, "a\u030A"),          // composes to U+00E5
      (3L, "\u1E9B\u0323"),    // composition-excluded: stays decomposed
      (4L, "plain ascii"),       // identity fast path
      (5L, "\u00E9"))           // already NFC
      .toDF("id", "t")
    val got = df.select(col("id"), TextOps.nfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "\u00E9")
    assert(got(2L) == "\u00E5")
    assert(got(3L) == "\u1E9B\u0323")
    assert(got(4L) == "plain ascii")
    assert(got(5L) == "\u00E9")
    // null propagates, not NPEs
    val n = df.select(TextOps.nfcNormalize(lit(null).cast("string"))).collect()(0)
    assert(n.isNullAt(0))
    // the hash-identity motivation: decomposed == composed AFTER normalize
    val pair = Seq(("e\u0301", "\u00E9")).toDF("a", "b")
      .select((TextOps.nfcNormalize(col("a")) === TextOps.nfcNormalize(col("b"))).as("eq"))
      .collect()(0).getBoolean(0)
    assert(pair)
  }

  test("crossDocDupNgramFraction flags shared spans, not unique text") {
    // docs 1 and 2 share a 4-token boilerplate tail; doc 3 is unique;
    // doc 4 is too short for any 3-gram.
    val df = Seq(
      (1L, "alpha beta gamma shared span marker here"),
      (2L, "delta epsilon zeta shared span marker here"),
      (3L, "one two three four five six seven"),
      (4L, "tiny doc")).toDF("id", "t")
    val got = TextOps.crossDocDupNgramFraction(df, "id", "t", n = 3)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // 7 tokens → 5 3-grams; "shared span marker", "span marker here"
    // appear in both docs 1 and 2 → 2/5.
    assert(got(1L).contains(0.4))
    assert(got(2L).contains(0.4))
    assert(got(3L).contains(0.0))
    assert(got(4L).isEmpty) // no grams → undefined, not 0
  }

  test("crossDocDupNgramFraction counts occurrences, and within-doc repeats alone don't flag") {
    // doc 1 repeats its own phrase (within-doc dup, no other doc has
    // it) → fraction 0; docs 2,3 share every gram → fraction 1.
    val df = Seq(
      (1L, "own phrase repeated own phrase repeated"),
      (2L, "the same exact words"),
      (3L, "the same exact words")).toDF("id", "t")
    val got = TextOps.crossDocDupNgramFraction(df, "id", "t", n = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 1.0 && got(3L) == 1.0)
  }

  /** Max/median shuffle-partition byte ratio per shuffle stage of an
    * EXECUTED adaptive plan — the direct measurement of a reducer
    * funnel. */
  private def shuffleStageRatios(df: org.apache.spark.sql.DataFrame): Seq[(Int, Double, Long)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    def walk(p: SparkPlan): Unit = p.foreach {
      case s: ShuffleQueryStageExec =>
        s.mapStats.foreach { ms =>
          val sizes = ms.bytesByPartitionId.sorted
          // a stage with a single ACTIVE reduce partition cannot funnel
          // (nothing to be imbalanced against): that shape is the
          // deliberately driver-bounded hot-slice materialization
          // (limit(hotK) → one partition), not a skew symptom
          if (sizes.length >= 2 && sizes.last > 0 && sizes.count(_ > 0) >= 2) {
            val median = math.max(sizes(sizes.length / 2), 1L)
            out += ((s.id, sizes.last.toDouble / median, sizes.last))
          }
        }
        walk(s.plan)
      case q: QueryStageExec => walk(q.plan)
      case _ => ()
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ => fail("expected an adaptive plan")
    }
    out.toSeq
  }

  test("bigramLogProb: planted stopword skew resolves via the hot broadcast — no funnel partition") {
    // 500 docs are pure hot-bigram runs (one bigram ≈ 90% of all scored
    // pairs — the stopword shape), 2500 docs are unique cold pairs.
    // AQE's skew-join can NOT rescue this operator (its rule requires
    // sort children directly over shuffle stages; every build side here
    // has its final HashAggregate in between — verified empirically),
    // so the operator's own hot-key split must keep every shuffle stage
    // balanced: with hotK on, no stage may show a max/median partition
    // ratio anywhere near a funnel. The hotK=0 contrast run proves this
    // measurement DOES flag the funnel when the split is off.
    val docs = spark.range(3000).selectExpr("id",
      "CASE WHEN id < 500 THEN repeat('of ', 400) " +
        "ELSE concat('unique', id, ' tail', id, ' word', id) END AS t")
    val conf = spark.conf
    val savedBroadcast = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val savedAqeBroadcast = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    // force the residual joins to actually shuffle (size-based
    // broadcast would hide the funnel at test scale)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val hot = TextOps.bigramLogProb(docs.toDF(), docs.toDF(), "id", "t")
      hot.collect()
      val hotRatios = shuffleStageRatios(hot)
      assert(hotRatios.nonEmpty)
      // only stages with real volume can funnel; tiny stages are noise
      val offenders = hotRatios.filter { case (_, ratio, maxB) => maxB > 32768 && ratio > 4.0 }
      assert(offenders.isEmpty, s"funnel stages: $offenders (all: $hotRatios)")

      val funnel = TextOps.bigramLogProb(docs.toDF(), docs.toDF(), "id", "t", hotK = 0)
      funnel.collect()
      val funnelRatios = shuffleStageRatios(funnel)
      assert(funnelRatios.exists { case (_, ratio, maxB) => maxB > 32768 && ratio > 4.0 },
        s"expected the hotK=0 path to show the planted funnel: $funnelRatios")
    } finally {
      savedBroadcast.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      savedAqeBroadcast.fold(conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
    }
  }

  test("bigramLogProb: statistical zipf skew stays balanced with a mid-table hot split") {
    // The skew_zipf_bigram gate's corpus recipe: every token draws
    // zipf(1, N=8) through the integer inverse-CDF, so the hottest
    // token carries ~36.8% of tokens STATISTICALLY (no planted key).
    // hotK=4 splits mid-table — top-4 bigrams broadcast, the residual's
    // hottest surviving key is rank 5 (~3% of pairs) — so no executed
    // shuffle stage may funnel. The hotK=0 contrast proves the
    // statistical skew alone DOES funnel (the cnt_w1/cnt_w2 joins see
    // the 36.8% token head-on).
    val docs = spark.range(6000).select(col("id"),
      concat_ws(" ", transform(sequence(lit(1), lit(12)),
        i => concat(lit("zw"), graft.gates.Fixtures.zipfKey(
          (col("id") * 131 + i) * 48271 % 65536).cast("string")))).as("t"))
      .cache()
    docs.count()
    val conf = spark.conf
    val savedBroadcast = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val savedAqeBroadcast = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    val savedParts = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // 32 reduce partitions: at the suite's 4 the uniform share is
    // already 25% and a funnel ratio would be vacuous
    conf.set("spark.sql.shuffle.partitions", "32")
    // with only ~60 distinct residual bigram keys most of the 32 reduce
    // partitions are EMPTY, so a max/median ratio is vacuous — measure
    // the max partition's FRACTION of the stage total instead (the
    // SkewSpec bound): a funnel concentrates >30% of a real stage in
    // one partition
    def stageFracs(df: org.apache.spark.sql.DataFrame): Seq[(Int, Double, Long)] = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
      def walk(p: SparkPlan): Unit = p.foreach {
        case s: ShuffleQueryStageExec =>
          s.mapStats.foreach { ms =>
            val sizes = ms.bytesByPartitionId
            // single-active-partition stages are the driver-bounded
            // hot-slice materialization, not a distribution
            if (sizes.count(_ > 0) >= 2)
              out += ((s.id, sizes.max.toDouble / sizes.sum, sizes.sum))
          }
          walk(s.plan)
        case q: QueryStageExec => walk(q.plan)
        case _ => ()
      }
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ => fail("expected an adaptive plan")
      }
      out.toSeq
    }
    try {
      val hot = TextOps.bigramLogProb(docs, docs, "id", "t", hotK = 4)
      hot.collect()
      val hotFracs = stageFracs(hot)
      assert(hotFracs.nonEmpty)
      val offenders = hotFracs.filter { case (_, frac, total) => total > 65536 && frac > 0.30 }
      assert(offenders.isEmpty, s"funnel stages: $offenders (all: $hotFracs)")

      val funnel = TextOps.bigramLogProb(docs, docs, "id", "t", hotK = 0)
      funnel.collect()
      val funnelFracs = stageFracs(funnel)
      assert(funnelFracs.exists { case (_, frac, total) => total > 65536 && frac > 0.30 },
        s"expected the statistical zipf skew to funnel at hotK=0: $funnelFracs")
    } finally {
      savedBroadcast.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      savedAqeBroadcast.fold(conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
      conf.set("spark.sql.shuffle.partitions", savedParts)
      docs.unpersist()
    }
  }

  test("bigramLogProb: hot-split and plain paths agree row-for-row") {
    val score = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "dog the quick brown fox"),
      (3L, "zz yy xx"),
      (4L, "solo")).toDF("id", "t")
    val count = Seq(
      (10L, "the cat sat on the mat and the cat ran"),
      (11L, "the quick brown fox jumps")).toDF("id", "t")
    def run(hotK: Int) =
      TextOps.bigramLogProb(score, count, "id", "t", hotK = hotK)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(math.round(r.getDouble(1) * 1e9))))
        .toMap
    // hotK spanning: 0 (plain), 2 (splits mid-table), 1000 (everything hot)
    val plain = run(0)
    assert(run(2) == plain)
    assert(run(1000) == plain)
  }

  test("crossDocDupNgramFraction: hashed and exact key modes agree row-for-row") {
    val df = Seq(
      (1L, "alpha beta gamma shared span marker here"),
      (2L, "delta epsilon zeta shared span marker here"),
      (3L, "one two three four five six seven"),
      (4L, "tiny doc")).toDF("id", "t")
    def run(hashKeys: Boolean) =
      TextOps.crossDocDupNgramFraction(df, "id", "t", n = 3, hashKeys = hashKeys)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    assert(run(hashKeys = true) == run(hashKeys = false))
  }

  test("removeDupSpans cuts losing occurrences only; winner and short docs untouched") {
    import spark.implicits._
    val df = Seq(
      // docs 1 and 2 share the 3-token run "c d e"; doc 1 (min id) wins
      (1L, "a b c d e f g"),
      (2L, "x y c d e z w"),
      // doc 3 shares nothing
      (3L, "p q r s t u v"),
      // shorter than n → no windows → untouched even though it
      // CONTAINS the duplicated trigram's tokens
      (4L, "c d")).toDF("id", "t")
    val got = TextOps.removeDupSpans(df, "id", "t", n = 3)
      .select("id", "t", "n_tokens_kept", "n_tokens_dropped")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "a b c d e f g", 7L, 0L),
      (2L, "x y z w", 4L, 3L),
      (3L, "p q r s t u v", 7L, 0L),
      (4L, "c d", 2L, 0L)))
    // a doc that is ENTIRELY a duplicated window comes back empty
    val full = Seq((1L, "m n o"), (2L, "m n o")).toDF("id", "t")
    val g2 = TextOps.removeDupSpans(full, "id", "t", n = 3)
      .select("id", "t").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(g2 == Set((1L, "m n o"), (2L, "")))
  }

  test("hashedTfidf: tf counts multiplicity, idf follows the pinned formula") {
    import spark.implicits._
    // 4 docs; "alpha" in all 4 (df=4), "bravo" in 1 (df=1), repeated
    // twice in its doc (tf=2)
    val docs = Seq((1L, "alpha bravo bravo"), (2L, "alpha x"),
      (3L, "alpha y"), (4L, "alpha z")).toDF("doc_id", "text")
    val sparse = TextOps.hashedTfidf(docs, "doc_id", "text",
      dim = 1024, seed = 13L)
    val rows = sparse.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // doc 1 has two buckets (alpha, bravo) at dim=1024 (no collision
    // among 5 distinct tokens is overwhelmingly likely; assert it so a
    // collision would fail loudly instead of skewing expectations)
    assert(rows.count(_._1 == 1L) === 2)
    val idf = (df: Long) => math.log((4.0 + 1.0) / (df.toDouble + 1.0)) + 1.0
    // the bucket present in all four docs carries w = 1 * idf(4)
    val shared = rows.groupBy(_._2).filter(_._2.length == 4).head._2
    shared.foreach { case (_, _, w) => assert(w === idf(4L)) }
    // doc 1's other bucket is bravo: tf=2, df=1
    val bravo = rows.filter(r => r._1 == 1L && r._3 != idf(4L))
    assert(bravo.length === 1 && bravo.head._3 === 2.0 * idf(1L))
  }

  test("tfidfNearestNeighbor: rare terms decide, stop-buckets pruned, identical docs cos~1") {
    import spark.implicits._
    // "common" appears everywhere (stop-bucket at maxDf=3); docs 1/2
    // share "zebra", 3/4 are identical
    val docs = Seq(
      (1L, "common zebra quill"), (2L, "common zebra jolt"),
      (3L, "common mirror vex"), (4L, "common mirror vex"))
      .toDF("doc_id", "text")
    val sparse = TextOps.hashedTfidf(docs, "doc_id", "text",
      dim = 1024, seed = 13L)
    val nn = TextOps.tfidfNearestNeighbor(sparse, sparse, "doc_id",
      maxDf = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(nn.map(x => (x._1, x._2)).toSeq ===
      Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)))
    // identical docs: cosine 1 up to the sqrt round-trip
    assert(nn.filter(_._1 >= 3L).forall(_._3 >= 0.999999))
    // pruning removed the shared bucket: doc 1-vs-3 pairs exist only
    // through non-stop terms, of which they share none, so 1's NN
    // similarity comes from "zebra" alone and is below the identical
    // pair's
    assert(nn.find(_._1 == 1L).get._3 < nn.find(_._1 == 3L).get._3)
  }

  test("pmiCollocations: planted exclusive pair wins, minCount prunes hapax pairs") {
    import spark.implicits._
    // "strong pair" always co-occur (3x), each word appears ONLY in
    // the pair; "the" is everywhere so ("the", x) pairs score low;
    // ("rare", "once") occurs once -> killed by minCount=2
    val docs = Seq(
      (1L, "the strong pair the cat"),
      (2L, "the strong pair the dog"),
      (3L, "the strong pair the rare once")
    ).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs, "text", k = 5, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.head._1 === "strong" && got.head._2 === "pair")
    assert(got.forall { case (a, b, _, _) => (a, b) != (("rare", "once")) })
    // hand-check the winner's PMI: N=16 tokens (5+5+6), B is the TOTAL
    // adjacent-pair count (Church-Hanks denominator, UNFILTERED by
    // minCount): (5-1)+(5-1)+(6-1) = 13
    val expected = math.log((3.0 / 13.0) / ((3.0 / 16.0) * (3.0 / 16.0)))
    assert(math.abs(got.head._4 - (math.rint(expected * 1e6) / 1e6)) < 1e-9)
    intercept[IllegalArgumentException] {
      TextOps.pmiCollocations(docs, "text", k = 0)
    }
  }

  test("hashedTfidf loud contract and partition-layout determinism") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      TextOps.hashedTfidf(Seq((1L, "a")).toDF("doc_id", "text"),
        "doc_id", "text", dim = 100)
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) =
      TextOps.hashedTfidf(docs.repartition(parts), "doc_id", "text",
        dim = 256, seed = 13L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(run(1) === run(13))
  }
}
