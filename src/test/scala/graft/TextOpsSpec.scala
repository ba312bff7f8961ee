package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps
import graft.sources.Tables

/** Dedup-operator properties on real testdata. */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("identical texts get identical simhash; distinct texts differ") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val h = TextOps.simhashDocs(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L))
  }

  test("repetition stats: hand-built duplicate-heavy docs count exactly") {
    import spark.implicits._
    val df = Seq((1L, "a b a b c"), (2L, "x x x x")).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: words a,b,a,b,c; 2-grams "a b","b a","a b","b c"
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_words") == 5L)
    assert(r1.getAs[Long]("n_distinct_words") == 3L)
    assert(r1.getAs[Long]("top_word_count") == 2L)
    assert(r1.getAs[Long]("dup_word_instances") == 4L) // a:2 + b:2
    assert(r1.getAs[Long]("n_2grams") == 4L)
    assert(r1.getAs[Long]("dup_2gram_instances") == 2L) // "a b" twice
    assert(r1.getAs[Double]("top_word_frac") == 0.4)
    assert(r1.getAs[Double]("dup_2gram_frac") == 0.5)
    // doc 2: fully degenerate — the filter-signal extreme
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_words") == 4L)
    assert(r2.getAs[Long]("n_distinct_words") == 1L)
    assert(r2.getAs[Long]("top_word_count") == 4L)
    assert(r2.getAs[Long]("dup_word_instances") == 4L)
    assert(r2.getAs[Long]("n_2grams") == 3L)
    assert(r2.getAs[Long]("dup_2gram_instances") == 3L)
    assert(r2.getAs[Double]("dup_2gram_frac") == 1.0)
  }

  test("token-budget selection keeps exactly the best-quality prefix per lang") {
    import org.apache.spark.sql.Row
    val budget = 256L
    val sel = TextOps.selectByTokenBudget(docs, budget).collect()
    assert(sel.nonEmpty)
    val selByLang = sel.groupBy(_.getAs[String]("lang"))
    selByLang.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("n_tokens")).sum <= budget)
    }
    // the filter is a PREFIX cut (cum_tokens is monotone along the order):
    // recompute the greedy prefix independently and require set equality
    val scored = TextOps.qualityScore(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "n_tokens", "quality_score").collect()
    assert(scored.length > sel.length, "budget never cut anything")
    scored.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val order = rows.sortBy(r =>
        (-r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id")))
      var cum = 0L
      val expect = order.takeWhile { r =>
        cum += r.getAs[Long]("n_tokens"); cum <= budget
      }.map(_.getAs[Long]("doc_id")).toSet
      val got = selByLang.getOrElse(lang, Array.empty[Row])
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == expect, s"lang $lang: selection is not the greedy prefix")
    }
  }

  test("sorted-neighborhood simhash recall vs exhaustive banding") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val exhaustive = pairs(TextOps.simhashPairs(docs, maxHamming = 3))
    val sorted = pairs(TextOps.simhashPairsSorted(docs, maxHamming = 3))
    assert(sorted.subsetOf(exhaustive)) // no false positives (exact verify)
    val recall =
      if (exhaustive.isEmpty) 1.0
      else (exhaustive & sorted).size.toDouble / exhaustive.size
    assert(recall >= 0.5, s"recall $recall over ${exhaustive.size} pairs")
  }

  test("minhash and inverted-index near-dup agree on real data") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val a = pairs(TextOps.nearDupPairs(docs, n = 5, threshold = 0.4))
    val b = pairs(TextOps.minhashPairs(docs, n = 5, threshold = 0.4))
    assert(a == b)
    assert(a.nonEmpty) // sf0.001 has planted near-dups
  }

  test("bpe token stats classify letter runs, digit runs, and symbols") {
    import spark.implicits._
    val df = Seq(
      (1L, "hello world42 x-y!", "en", "s", 18L),
      (2L, "", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.bpeTokenStats(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // tokens: hello, world, 42, x, -, y, !
    assert(out(1L).getAs[Long]("n_bpe_tokens") == 7L)
    assert(out(1L).getAs[Long]("n_alpha") == 4L)
    assert(out(1L).getAs[Long]("n_num") == 1L)
    assert(out(1L).getAs[Long]("n_punct") == 2L)
    assert(out(2L).getAs[Long]("n_bpe_tokens") == 0L)
  }

  test("tfidf: all-docs terms score zero; rarer term outranks at equal tf") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare1 rare1", "en", "s", 0L),
      (2L, "common rare2 rare2", "en", "s", 0L),
      (3L, "common other other", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.tfIdfTopTerms(df, k = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rnk")) ->
        (r.getAs[String]("term"), r.getAs[Double]("tfidf"))).toMap
    // tf=2 rare term first; the everywhere-term has idf ln(1)=0
    assert(out((1L, 1L))._1 == "rare1")
    assert(out((1L, 2L)) == (("common", 0.0)))
    assert(out((1L, 1L))._2 > 0.0)
  }

  test("near-dup clusters collapse CHAINED duplicates into one component") {
    import spark.implicits._
    // A≈B (J=0.6) and B≈C (J=0.6) but A̸≈C (J=0.33 < 0.4): pairwise dedup
    // alone would keep A and C; the component labels all three with min id
    val t = (1 to 12).map(i => s"t$i")
    val a = (t.take(10) ++ Seq("u11", "u12")).mkString(" ")
    val b = t.mkString(" ")
    val c = (Seq("v1", "v2") ++ t.drop(2)).mkString(" ")
    val docs = Seq(
      (1L, a, "en", "s", 0L), (2L, b, "en", "s", 0L), (3L, c, "en", "s", 0L),
      (4L, "totally unrelated words over here nothing shared at all", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // precondition: the A–C edge really is absent
    val pairIds = TextOps.nearDupPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairIds == Set((1L, 2L), (2L, 3L)), pairIds.mkString(","))
    val clusters = TextOps.nearDupClusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // doc 4 unclustered
  }

  test("pointer jumping converges a 12-chain in O(log diameter) rounds") {
    import spark.implicits._
    // a path component of diameter 11: doc k = tokens [6k, 6k+20), so
    // adjacent docs share 10 of 22 distinct 5-grams (J ≈ 0.45 ≥ 0.4) and
    // distance-2 docs share 4 of 28 (J ≈ 0.14 < 0.4). Relax-only min-label
    // propagation moves the min one hop per round → needs 11 rounds and
    // must THROW at maxIters = 8; the pointer jump halves the remaining
    // distance per round and converges well inside it.
    val docs = (0 until 12).map { k =>
      (k + 1L, (k * 6 until k * 6 + 20).map(i => s"t$i").mkString(" "),
        "en", "s", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairIds = TextOps.nearDupPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairIds == (1L to 11L).map(k => (k, k + 1)).toSet, pairIds)
    val clusters = TextOps.nearDupClusters(docs, maxIters = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(clusters == (1L to 12L).map(_ -> 1L).toMap)
  }

  test("PII redaction replaces typed placeholders and counts the substitutions performed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jane.doe+spam@example.co.uk or call +1 (415) 555-0101 now",
        "en", "s", 0L),
      (2L, "server 192.168.0.1 charged card 4111111111111111 twice", "en", "s", 0L),
      (3L, "no pii here just words", "en", "s", 0L),
      // precedence: the 16-digit run is consumed by the card pattern, so
      // the phone counter (which would also match it raw) must NOT tick —
      // counters are post-precedence substitution counts (r6 contract)
      (4L, "pay 4111111111111111 today", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.redactPii(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L).getAs[String]("redacted_text")
    assert(r1.contains("<EMAIL>") && r1.contains("<PHONE>"), r1)
    assert(!r1.contains("example.co.uk") && !r1.contains("555"), r1)
    assert(out(1L).getAs[Long]("n_email") == 1L)
    assert(out(1L).getAs[Long]("n_phone") == 1L)
    val r2 = out(2L).getAs[String]("redacted_text")
    assert(r2.contains("<IP>") && r2.contains("<CARD>"), r2)
    assert(out(2L).getAs[Long]("n_ip") == 1L)
    assert(out(2L).getAs[Long]("n_card") == 1L)
    assert(out(3L).getAs[String]("redacted_text") == "no pii here just words")
    assert(out(3L).getAs[Long]("n_email") == 0L)
    assert(out(4L).getAs[String]("redacted_text") == "pay <CARD> today")
    assert(out(4L).getAs[Long]("n_card") == 1L)
    assert(out(4L).getAs[Long]("n_phone") == 0L,
      "phone counter must not tick for digits the card pattern consumed")
  }

  test("unigram logprob: hand-computed means, zero-token doc gets NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b", "en", "s", 5L),
      (2L, "b c", "en", "s", 3L),
      (3L, "", "en", "s", 0L) // zero tokens: n_tokens 0, logprob NULL
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.unigramLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // corpus: tf(a)=2 tf(b)=2 tf(c)=1, T=5 — re-derive with the exact
    // documented arithmetic (1e-6 lp grid, mean, minus lp(T), 1e-4 round)
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val lpT = q6(math.log10(5.0))
    val exp1 = q4((q6(math.log10(2.0)) * 3) / 3 - lpT)
    val exp2 = q4((q6(math.log10(2.0)) + q6(math.log10(1.0))) / 2 - lpT)
    assert(out(1L).getAs[Long]("n_tokens") == 3L)
    assert(out(1L).getAs[Double]("logprob") == exp1)
    assert(out(2L).getAs[Long]("n_tokens") == 2L)
    assert(out(2L).getAs[Double]("logprob") == exp2)
    assert(out(3L).getAs[Long]("n_tokens") == 0L)
    assert(out(3L).isNullAt(out(3L).fieldIndex("logprob")))
    // rarer tokens must score lower: doc2 carries the hapax 'c'
    assert(out(2L).getAs[Double]("logprob") < out(1L).getAs[Double]("logprob"))
  }

  test("mix weights: alpha sampling up-weights the small source, budget splits") {
    import spark.implicits._
    // big: 16 tokens across 2 docs; small: 4 tokens in 1 doc
    val docs = Seq(
      (1L, "t t t t t t t t", "en", "big", 15L),
      (2L, "t t t t t t t t", "en", "big", 15L),
      (3L, "t t t t", "en", "small", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.mixWeights(docs, alpha = 0.5, budgetTokens = 1000L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val aBig = q6(math.sqrt(16.0)); val aSmall = q6(math.sqrt(4.0))
    val aTot = aBig + aSmall // 6.0 exactly — decimal sum is the same
    assert(out("big").getAs[Long]("n_docs") == 2L)
    assert(out("big").getAs[Long]("n_tokens") == 16L)
    assert(out("big").getAs[Double]("token_share") == q6(16.0 / 20.0))
    assert(out("big").getAs[Double]("alpha_share") == q6(aBig / aTot))
    assert(out("small").getAs[Double]("alpha_share") == q6(aSmall / aTot))
    // alpha < 1 pulls shares toward uniform: small gains, big loses
    assert(out("small").getAs[Double]("weight") > 1.0)
    assert(out("big").getAs[Double]("weight") < 1.0)
    assert(out("big").getAs[Long]("budget_tokens") == 666L) // floor(0.666667*1000)
    assert(out("small").getAs[Long]("budget_tokens") == 333L)
  }

  test("dsir weights: hand-replicated bucket llr, target-like docs rank higher") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa aa bb", "en", "s", 8L),
      (2L, "aa bb", "en", "s", 5L),
      (3L, "zz zz zz", "de", "s", 8L),
      (4L, "", "de", "s", 0L) // zero tokens: weight NULL, selected false
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.dsirWeights(docs, targetLang = "en", buckets = 4096)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // re-derive with the exact documented arithmetic: the portable 60-bit
    // sha bucket, add-one smoothing over 4096 buckets, 1e-6 lp grid per
    // DISTINCT bucket, per-doc mean at 1e-4
    def bucket(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      val hex = d.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 4096L
    }
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val toks = Seq("aa", "aa", "bb", "aa", "bb", "zz", "zz", "zz")
    val tgt = Seq("aa", "aa", "bb", "aa", "bb")
    val cRaw = toks.groupBy(bucket).view.mapValues(_.size).toMap
    val cTgt = tgt.groupBy(bucket).view.mapValues(_.size).toMap
    def llr(b: Long): Double =
      q6(math.log10((cTgt.getOrElse(b, 0) + 1.0) / (tgt.size + 4096))) -
        q6(math.log10((cRaw(b) + 1.0) / (toks.size + 4096)))
    val exp1 = q4((llr(bucket("aa")) * 2 + llr(bucket("bb"))) / 3)
    val exp3 = q4(llr(bucket("zz")))
    assert(out(1L).getAs[Long]("n_tokens") == 3L)
    assert(out(1L).getAs[Double]("dsir_weight") == exp1)
    assert(out(3L).getAs[Double]("dsir_weight") == exp3)
    // the en-profile doc must out-rank the de-only doc, and the flags follow
    assert(exp1 > exp3)
    assert(out(1L).getAs[Boolean]("selected") == (exp1 > 0.0))
    assert(out(3L).getAs[Boolean]("selected") == (exp3 > 0.0))
    assert(out(4L).getAs[Long]("n_tokens") == 0L)
    assert(out(4L).isNullAt(out(4L).fieldIndex("dsir_weight")))
    assert(!out(4L).getAs[Boolean]("selected"))
  }

  test("textrank: hub word out-ranks leaves, symmetric leaves tie by term, loner floors") {
    import spark.implicits._
    val docs = Seq(
      // star graph: hub adjacent to a, b, c — hub must rank first, the
      // three structurally identical leaves tie and break by term asc
      (1L, "hub a hub b hub c", "en", "s", 17L),
      (2L, "solo", "en", "s", 4L) // no edges: rank settles at (1-d)/1
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.textrankKeywords(docs).collect()
    val d1 = out.filter(_.getAs[Long]("doc_id") == 1L).sortBy(_.getAs[Int]("kw_rank"))
    assert(d1.map(_.getAs[String]("keyword")).toSeq == Seq("hub", "a", "b"), d1.mkString(";"))
    val scores = d1.map(_.getAs[Double]("score"))
    assert(scores(0) > scores(1), "hub must out-rank a leaf")
    assert(scores(1) == scores(2), "symmetric leaves must score identically")
    val d2 = out.filter(_.getAs[Long]("doc_id") == 2L)
    assert(d2.length == 1 && d2.head.getAs[String]("keyword") == "solo")
    assert(d2.head.getAs[Double]("score") == 0.15, d2.head)
    // ranks within a doc are dense from 1
    assert(d1.map(_.getAs[Int]("kw_rank")).toSeq == Seq(1, 2, 3))
    // NULL text drops like the explode-based siblings do (review finding:
    // the typed flatMap used to NPE on the null Seq)
    val withNull = Seq((9L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(docs)
    val outN = TextOps.textrankKeywords(withNull).collect()
    assert(!outN.exists(_.getAs[Long]("doc_id") == 9L))
    assert(outN.length == out.length)
  }

  test("textrank tie-break follows UTF-8 byte order, not UTF-16 unit order") {
    import spark.implicits._
    // U+1F600 (surrogate pair, UTF-16 units start 0xD83D) vs U+E000
    // (single unit 0xE000): Java compareTo puts the emoji FIRST, UTF-8
    // byte order (both engines' binary collation) puts U+E000 first.
    // Both leaves of the star are structurally symmetric -> exact tie.
    val emoji = new String(Character.toChars(0x1F600))
    val pua = new String(Character.toChars(0xE000))
    val docs = Seq(
      (1L, s"hub $emoji hub $pua", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.textrankKeywords(docs).collect()
      .sortBy(_.getAs[Int]("kw_rank"))
    assert(out.map(_.getAs[String]("keyword")).toSeq == Seq("hub", pua, emoji),
      out.map(r => (r.getAs[String]("keyword").codePoints().toArray.toSeq,
        r.getAs[Int]("kw_rank"))).mkString(";"))
  }

  test("calibration: bin means sit inside their bins, gap is the rounded difference") {
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val w = TextOps.trainedQualityWeights(docs)
    val out = TextOps.qualityCalibration(docs, w).collect()
    assert(out.nonEmpty)
    val totalScored = TextOps.scoreWithQualityModel(docs, w).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == totalScored)
    out.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val ms = r.getAs[Double]("mean_score")
      val pr = r.getAs[Double]("pos_rate")
      assert(bin >= 0 && bin <= 9, r)
      // a bin's mean must lie inside the bin (1e-6 rounding slop; bin 9
      // also holds score == 1.0 exactly)
      assert(ms >= bin * 0.1 - 1e-6 && ms <= (bin + 1) * 0.1 + 1e-6, r)
      assert(pr >= 0.0 && pr <= 1.0, r)
      def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("gap") == q6(math.abs(ms - pr)), r)
    }
  }

  test("collocations: hand-computed PMI, min-count cut, (pmi, bigram) rank") {
    import spark.implicits._
    val docs = Seq(
      (1L, "new york new york new york", "en", "s", 26L),
      (2L, "a b a b", "en", "s", 7L),
      (3L, "c c", "en", "s", 3L) // (c c): 1 occurrence -> cut by minCount
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.collocationsPmi(docs, minCount = 2, k = 10)
      .orderBy("rank").collect()
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // T=12 tokens, B=9 bigrams; survivors: (new york):3, (york new):2, (a b):2
    def pmi(c12: Long, c1: Long, c2: Long) =
      q6(math.log10((c12.toDouble / 9.0) /
        ((c1.toDouble / 12.0) * (c2.toDouble / 12.0))))
    assert(out.map(_.getAs[String]("bigram")).toSeq ==
      Seq("a b", "new york", "york new"), out.mkString(";"))
    assert(out(0).getAs[Double]("pmi") == pmi(2, 2, 2))
    assert(out(1).getAs[Double]("pmi") == pmi(3, 3, 3))
    assert(out(2).getAs[Double]("pmi") == pmi(2, 3, 3))
    assert(out(0).getAs[Long]("n_pair") == 2L)
    assert(out(1).getAs[Long]("n_pair") == 3L)
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("phrase merge: greedy leftmost fuses top collocations, overlaps consumed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b", "en", "s", 11L),
      (2L, "a b c", "en", "s", 5L),
      (3L, "", "en", "s", 0L) // zero tokens: empty merged text, zero counts
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // pairs with count >= 2: (a b):4 and (b a):2 — both become rules, but
    // greedy leftmost consumes every 'b' into (a b) first, so (b a) never
    // fires (overlap consumption)
    val out = TextOps.mergePhrases(docs, minCount = 2, topK = 50)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("merged_text") == "a_b a_b a_b")
    assert(out(1L).getAs[Long]("n_before") == 6L)
    assert(out(1L).getAs[Long]("n_after") == 3L)
    assert(out(1L).getAs[Long]("n_merges") == 3L)
    assert(out(2L).getAs[String]("merged_text") == "a_b c")
    assert(out(2L).getAs[Long]("n_merges") == 1L)
    assert(out(3L).getAs[Long]("n_before") == 0L)
    assert(out(3L).getAs[String]("merged_text") == "")
  }

  test("vocab: deterministic (count desc, term asc) rank, limit respected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b b b a a c", "en", "s", 0L),
      (2L, "a d", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.vocabTopTerms(docs, topN = 3).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("n"), r.getAs[Long]("rnk")))
    // a and b tie at 3 → 'a' wins the tie alphabetically; d (1) is cut.
    // Row ORDER is not part of the contract (the windowless rank ends in an
    // aggregate; the driver gate sorts rows) — compare by rank.
    assert(out.toSeq.sortBy(_._3) ==
      Seq(("a", 3L, 1L), ("b", 3L, 2L), ("c", 1L, 3L)), out.mkString(","))
  }

  test("hybrid near-dup annotates every lexical candidate with the embedding cosine") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val embs = graft.sources.Tables.embeddings(spark, dir)
    val hybrid = TextOps.hybridNearDup(docs, embs, jaccardFloor = 0.2).collect()
    val lexical = TextOps.nearDupPairs(docs, threshold = 0.2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // same pair set (annotation must not change recall), every row scored
    assert(hybrid.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      == lexical)
    assert(hybrid.nonEmpty)
    // every row genuinely scored: NULL would unbox to 0.0 through
    // getAs[Double] and pass the range check silently (review finding)
    assert(hybrid.forall(r => !r.isNullAt(r.fieldIndex("cosine"))))
    assert(hybrid.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-9))
    assert(hybrid.forall(_.getAs[Double]("jaccard") >= 0.2))
  }

  test("holdout sample: exact per-stratum size, order-free, small strata intact") {
    import spark.implicits._
    val docs = ((1L to 100L).map(i => (i, s"t $i", "en", "s", 0L)) ++
      (101L to 110L).map(i => (i, s"t $i", "de", "s", 0L)) ++
      Seq((111L, "t", "fr", "s", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.holdoutSample(docs, perStratum = 10).collect()
    val byLang = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    // exact size where the stratum allows; whole stratum where it doesn't
    assert(byLang == Map("en" -> 10, "de" -> 10, "fr" -> 1))
    // ranks are dense 1..n within each stratum
    assert(out.filter(_.getAs[String]("lang") == "en")
      .map(_.getAs[Int]("sample_rank")).sorted.toSeq == (1 to 10))
    // order-free: the same ids are drawn from a reshuffled input
    val again = TextOps.holdoutSample(
      docs.repartition(7).sortWithinPartitions(col("text")), perStratum = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == out.map(_.getAs[Long]("doc_id")).toSet)
    // the draw is the hash order, not the id order: with 10-of-100 kept,
    // an id-prefix draw (1..10) would be astronomically unlikely
    val en = out.filter(_.getAs[String]("lang") == "en")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(en != (1L to 10L).toSet, "holdout degenerated to an id prefix")
  }

  test("stratified sample is deterministic, per-stratum, and order-independent") {
    import spark.implicits._
    val docs = (1L to 400L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "en" else "de", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rates = Map("en" -> 0.25, "de" -> 0.75)
    def ids(df: org.apache.spark.sql.DataFrame) =
      TextOps.stratifiedSample(df, rates).collect().map(_.getAs[Long]("doc_id")).toSet
    val kept = ids(docs)
    // deterministic: same selection on a reshuffled input
    assert(kept == ids(docs.repartition(7).sortWithinPartitions(col("text"))))
    // per-stratum rates land near their targets (hash-uniform over 200 each)
    val en = kept.count(_ % 2 == 0) / 200.0
    val de = kept.count(_ % 2 == 1) / 200.0
    assert(math.abs(en - 0.25) < 0.1, s"en rate $en")
    assert(math.abs(de - 0.75) < 0.1, s"de rate $de")
  }

  test("sequence packing fills packs in doc order within each lang partition") {
    import spark.implicits._
    // 6 docs of 4 tokens each per lang, context = 8 tokens → packs of 2 docs
    val docs = (for {
      lang <- Seq("en", "de"); k <- 0 until 6
    } yield ((if (lang == "en") 100L else 200L) + k,
      "a b c d", lang, "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val packs = TextOps.packDocuments(docs, contextTokens = 8).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("pack_id")) -> r).toMap
    assert(packs.size == 6) // 3 packs per lang
    packs.foreach { case ((lang, pid), r) =>
      assert(r.getAs[Long]("n_docs") == 2L, s"$lang/$pid")
      assert(r.getAs[Long]("total_tokens") == 8L, s"$lang/$pid")
    }
    // packs are contiguous in doc_id order
    assert(packs(("en", 0L)).getAs[Long]("first_doc_id") == 100L)
    assert(packs(("en", 0L)).getAs[Long]("last_doc_id") == 101L)
    assert(packs(("en", 2L)).getAs[Long]("first_doc_id") == 104L)
  }

  test("exact dedup keeps the minimum doc_id as canonical") {
    import spark.implicits._
    val df = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("doc_id", "text")
    val out = TextOps.exactDedup(df).collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out == Map(2L -> 2L, 9L -> 1L))
  }

  test("dup-span ratio counts cross-doc shared positional grams only") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),       // spans: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),       // spans: "a b c d e", "b c d e x"
      (3L, "z z z z"),           // 4 tokens < 5: zero spans
      (4L, "q w e r t y"),       // 2 spans, none shared
      (5L, "p p p p p p p")      // "p p p p p" x3 WITHIN one doc: not shared
    ).toDF("doc_id", "text")
    val out = TextOps.dupSpanRatio(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Double]("dup_ratio")))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))   // shares "a b c d e" with doc 2
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((0L, 0L, 0.0)))   // short doc survives with zeros
    assert(out(4L) == ((2L, 0L, 0.0)))
    assert(out(5L) == ((3L, 0L, 0.0)))   // within-doc repeats are not dups
  }

  test("bpe merges follow greedy-leftmost semantics on a hand-computed corpus") {
    import spark.implicits._
    // words: aaab ×3, ab ×2. Round 1: (a,a)=6 beats (a,b)=5; applying it
    // greedy-leftmost turns [a,a,a,b] into [aa,a,b] (NOT [aa,aa...]).
    // Round 2: (a,b)=3+2 beats (aa,a)=3. Round 3: only (aa,ab)=3 remains.
    val df = Seq((1L, "aaab aaab ab"), (2L, "aaab ab"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeMerges(df, numMerges = 3).collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSet
    assert(got == Set((1, "a", "a", 6L), (2, "a", "b", 5L),
      (3, "aa", "ab", 3L)), got.toString)
  }

  test("bpe encode applies the learned rules; counts match hand-derived segmentations") {
    import spark.implicits._
    // same corpus as the merges spec; rules: (a,a), (a,b), (aa,ab).
    // aaab: [a,a,a,b] -1-> [aa,a,b] -2-> [aa,ab] -3-> [aaab] = 1 symbol
    // ab:   [a,b]     -2-> [ab]                        = 1 symbol
    // aab (doc 3 only sees rules trained on the SAME corpus incl. itself):
    //   trained rules change — so keep the corpus identical and check the
    //   fixed points above instead.
    val df = Seq((1L, "aaab aaab ab", "en", "s", 12L), (2L, "aaab ab", "en", "s", 7L),
      (3L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.bpeEncode(df, numMerges = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"))).toMap
    assert(out(1L) == ((3L, 3L))) // aaab aaab ab -> 1+1+1 bpe tokens
    assert(out(2L) == ((2L, 2L)))
    assert(out(3L) == ((0L, 0L))) // zero-token doc survives with zeros
  }

  test("decontamination overlap counts equal a brute-force recomputation") {
    val n = 5
    val isBench = pmod(
      TextOps.portableHash64(concat(lit("bench:"), col("doc_id").cast("string"))),
      lit(10L)) === 0L
    val sh = docs.select(col("doc_id"), isBench.as("bench"),
      TextOps.shingles(TextOps.tokens(col("text")), n).as("sh"))
    val benchGrams = sh.filter(col("bench"))
      .select(explode(col("sh")).as("g")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(benchGrams.nonEmpty, "fixture: benchmark split must have grams")
    // independent formulation: intersect each doc's distinct gram set with
    // the collected benchmark set on the driver
    val expected = sh.filter(!col("bench")).collect().map { r =>
      val grams = r.getAs[scala.collection.Seq[String]]("sh")
      r.getAs[Long]("doc_id") -> grams.count(benchGrams.contains).toLong
    }.toMap
    val out = TextOps.decontaminate(docs, n).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hit_grams"), r.getAs[Boolean]("contaminated"))).toMap
    assert(out.keySet == expected.keySet) // exactly the non-benchmark docs
    expected.foreach { case (id, hits) =>
      assert(out(id) == (hits, hits > 0L), s"doc $id")
    }
    // the fixture parameters must keep the query non-vacuous
    assert(out.values.count(_._2) > 0, "fixture: no contaminated docs")
  }

  test("excise: tokens under cross-doc 5-grams are cut; overlaps merge; short docs untouched") {
    import spark.implicits._
    val boiler = "p q r s t u" // 6 tokens: two overlapping shared 5-grams
    val fix = Seq(
      (1L, s"a b $boiler c d", "en", "s", 0L), // covered: positions 2..7
      (2L, s"$boiler x y z", "en", "s", 0L),   // covered: positions 0..5
      (3L, "one two three four", "en", "s", 0L), // < 5 tokens: no grams
      (4L, null.asInstanceOf[String], "en", "s", 0L) // NULL text: 0 tokens
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.exciseDupSpans(fix).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    // "p q r s t" and "q r s t u" both shared -> union covers all 6
    // boilerplate tokens in both docs, once (overlap merged, not doubled)
    assert(out(1L) == ((10L, 6L, "a b c d")))
    assert(out(2L) == ((9L, 6L, "x y z")))
    assert(out(3L) == ((4L, 0L, "one two three four")))
    assert(out(4L) == ((0L, 0L, "")))
  }

  test("bloom decontamination is bit-identical to the exact variant; sketch only prunes") {
    val exact = TextOps.decontaminate(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_hit_grams"), r.getAs[Boolean]("contaminated"))).toSet
    // a deliberately UNDERSIZED sketch (high fpp) must still be exact —
    // false positives are killed by the verify join, and bloom filters
    // have no false negatives at any saturation
    val bloom = TextOps.decontaminateBloom(docs, expectedItems = 16L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_hit_grams"), r.getAs[Boolean]("contaminated"))).toSet
    assert(bloom == exact)
    assert(exact.exists(_._4), "fixture: no contaminated docs") // non-vacuous
  }

  test("bloom decontamination: empty corpus takes the null-sketch path, no NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, Long)]
      .toDF("doc_id", "text", "lang", "n_chars")
    assert(TextOps.decontaminateBloom(empty).collect().isEmpty)
  }

  test("global shuffle order is the exact global rank, bucketed or not") {
    // buckets=4 forces multi-bucket offsets; the result must still be the
    // single global permutation by (shuffle_key, doc_id)
    val out = TextOps.globalShuffleOrder(docs, buckets = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_key"),
        r.getAs[Long]("pos")))
    val n = docs.count()
    assert(out.length == n)
    assert(out.map(_._3).sorted.toSeq == (1L to n).toSeq) // a permutation
    val byKey = out.sortBy(t => (t._2, t._1))
    assert(byKey.map(_._3).toSeq == (1L to n).toSeq) // rank == key order
  }

  test("incremental dedup equals the exact anti join (bloom only prunes)") {
    import spark.implicits._
    val batch = TextOps.plantIngestBatch(docs)
    // fixture shape: both slices non-empty (dups to drop, revisions to keep)
    val nDup = docs.filter(pmod(col("doc_id"), lit(10)) === 0).count()
    val nNew = docs.filter(pmod(col("doc_id"), lit(10)) === 1).count()
    assert(batch.count() == nDup + nNew && nDup > 0 && nNew > 0)
    val got = TextOps.incrementalDedup(batch, docs)
    val exact = batch.join(docs.select(col("text")), Seq("text"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    assert(got.count() == nNew) // every re-ingested dup dropped
    assert(got.exceptAll(exact).count() == 0 && exact.exceptAll(got).count() == 0)
    // tiny expectedItems still exact: saturated bloom = more verify work only
    val tiny = TextOps.incrementalDedup(batch, docs, expectedItems = 8L)
    assert(tiny.exceptAll(exact).count() == 0 && exact.exceptAll(tiny).count() == 0)
  }

  test("bm25 retrieval matches a hand-computed score on a tiny corpus") {
    import spark.implicits._
    // doc 0 is the query source (first 2 tokens: "rare shared"); docs 1-3
    // are candidates with different tf/dl profiles; "common" appears in
    // >50% of docs and must be pruned by the stopword cut
    val df = Seq(
      (0L, "rare shared common"),
      (1L, "rare rare shared common filler filler"),
      (2L, "shared common"),
      (3L, "common filler")).toDF("doc_id", "text")
    val got = TextOps.bm25SearchTopK(df, numQueries = 1, qLen = 2, k = 3,
        maxDfFrac = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("rank"), r.getAs[Double]("score")))
    // brute-force replica of the documented formula
    val corpus = Map(0L -> Seq("rare", "shared", "common"),
      1L -> Seq("rare", "rare", "shared", "common", "filler", "filler"),
      2L -> Seq("shared", "common"), 3L -> Seq("common", "filler"))
    val n = corpus.size
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val dfOf = corpus.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    val qTerms = Seq("rare", "shared").filter(t => dfOf(t) <= n * 0.5)
    def score(d: Long): Double = q4(qTerms.flatMap { t =>
      val tf = corpus(d).count(_ == t)
      if (tf == 0) None else {
        val idf = q6(math.log10((n - dfOf(t) + 0.5) / (dfOf(t) + 0.5) + 1.0))
        Some(q6(idf * (tf * 2.2) /
          (tf + 1.2 * (1.0 - 0.75 + 0.75 * (corpus(d).size / avgdl)))))
      }
    }.map(BigDecimal(_)).sum.toDouble)
    val expect = Seq(1L, 2L, 3L).map(d => d -> score(d))
      .filter(_._2 > 0.0)
      .sortBy { case (d, sc) => (-sc, d) }
      .zipWithIndex.map { case ((d, sc), i) => (d, i + 1L, sc) }
    assert(got.sortBy(_._2).toSeq == expect)
    // doc 3 matches no surviving query term ("common" was pruned)
    assert(!got.exists(_._1 == 3L))
  }

  test("bm25 on real data: k results per query, self excluded, ranks dense") {
    val out = TextOps.bm25SearchTopK(docs).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.nonEmpty)
    for ((q, rows) <- byQ) {
      assert(rows.length <= 5)
      assert(!rows.exists(_.getAs[Long]("doc_id") == q))
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rows.length).toSeq)
      // ranks follow (score desc, doc_id asc)
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
      assert(sorted.toSeq.sliding(2).forall {
        case Seq((s1, d1), (s2, d2)) => s1 > s2 || (s1 == s2 && d1 < d2)
        case _ => true
      })
    }
  }

  test("ppl buckets: tertile thresholds exact, buckets monotone in logprob") {
    val out = TextOps.pplBuckets(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        Option(r.getAs[java.lang.Double]("logprob")).map(_.doubleValue),
        r.getAs[String]("bucket")))
    assert(out.length == docs.count())
    val byLang = out.filter(_._3.isDefined).groupBy(_._2)
    for ((_, rows) <- byLang) {
      val sorted = rows.sortBy(_._3.get)
      val n = sorted.length
      // brute-force percentile_disc thresholds
      val q13 = sorted(math.ceil(n / 3.0).toInt - 1)._3.get
      val q23 = sorted(math.ceil(2 * n / 3.0).toInt - 1)._3.get
      for ((_, _, Some(v), b) <- rows) {
        val expect = if (v <= q13) "tail" else if (v <= q23) "middle" else "head"
        assert(b == expect, s"v=$v q13=$q13 q23=$q23 got=$b")
      }
      // bucketing is a partition: every bucket non-empty when scores spread
      if (sorted.map(_._3.get).distinct.length >= 3)
        assert(Set("tail", "middle", "head").subsetOf(rows.map(_._4).toSet))
    }
    assert(out.filter(_._3.isEmpty).forall(_._4 == "empty"))
  }

  test("weighted sample: selection equals the driver-side A-ES replica exactly") {
    val out = TextOps.weightedSample(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("sample_rank")))
    def q(x: Double, s: Double) = math.floor(x * s + 0.5) / s
    val all = docs.select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hash(id: Long): Long = {
      val hex = md.digest(s"wsamp:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expect = all.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      rows.map { case (id, _, nc) =>
        val u = ((hash(id) % 1000000L).toDouble + 1.0) / 1000000.0
        val key = q((0.0 - q(math.log10(u), 1e6)) / nc.toDouble, 1e9)
        (key, id)
      }.sorted.take(25).zipWithIndex.map { case ((_, id), i) => (lang, id, i + 1L) }
    }.toSet
    assert(out.toSet == expect)
  }

  test("ngram novelty: first copy scores 1, verbatim replay 0, overlap fractional") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),        // grams: abcde, bcdef — all first here
      (2L, "a b c d e f"),        // exact replay -> novelty 0
      (3L, "a b c d e x y z w v"),// shares abcde, adds 5 fresh grams
      (4L, "short text"))         // < 5 tokens -> no grams -> novelty 1.0
      .toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty")))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 0L, 0.0)))
    assert(got(3L)._1 == 6L && got(3L)._2 == 5L)
    assert(got(3L)._3 == math.floor(5.0 / 6.0 * 1e6 + 0.5) / 1e6)
    assert(got(4L) == ((0L, 0L, 1.0)))
  }

  test("block dedup: first occurrence wins corpus-wide and within-doc, text reassembled") {
    import spark.implicits._
    // blockSize 2: doc 1 = [a b][c d][a b] (3rd block repeats its own 1st);
    // doc 2 = [c d][x y] (1st block already seen in doc 1); doc 3 empty
    val df = Seq(
      (1L, "a b c d a b"),
      (2L, "c d x y"),
      (3L, ""))
      .toDF("doc_id", "text")
    val got = TextOps.blockDedup(df, blockSize = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"),
          r.getAs[String]("dedup_text")))).toMap
    assert(got(1L) == ((3L, 2L, "a b c d")))
    assert(got(2L) == ((2L, 1L, "x y")))
    assert(got(3L) == ((0L, 0L, "")))
    // short tail block is its own unit: "a b c" at size 2 -> [a b][c]
    val tail = TextOps.blockDedup(
      Seq((7L, "a b c")).toDF("doc_id", "text"), blockSize = 2).collect().head
    assert(tail.getAs[Long]("n_blocks") == 2L &&
      tail.getAs[String]("dedup_text") == "a b c")
  }

  test("chunking: overlap stride, short docs one chunk, empty docs none, coverage exact") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks, W=4 S=3
      (2L, "a b"),                                    // short: one chunk
      (3L, ""))                                       // empty: no chunks
      .toDF("doc_id", "text")
    val got = TextOps.chunkDocuments(df, window = 4, stride = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        ((r.getAs[Long]("start_tok"), r.getAs[Long]("chunk_tokens"),
          r.getAs[String]("chunk_text")))).toMap
    // doc 1: chunks at 0,3,6 cover w1..w10 (1 + ceil(6/3) = 3 chunks)
    assert(got.keys.count(_._1 == 1L) == 3)
    assert(got((1L, 0L)) == ((0L, 4L, "w1 w2 w3 w4")))
    assert(got((1L, 1L)) == ((3L, 4L, "w4 w5 w6 w7")))
    assert(got((1L, 2L)) == ((6L, 4L, "w7 w8 w9 w10")))
    assert(got((2L, 0L)) == ((0L, 2L, "a b")))
    assert(!got.keys.exists(_._1 == 3L))
    // every token position is covered by some chunk
    val covered = got.keys.filter(_._1 == 1L).map(got).flatMap {
      case (s, n, _) => s until (s + n) }.toSet
    assert(covered == (0L until 10L).toSet)
  }

  test("pagerank: isolated docs at teleport floor, neighbors above, replica exact") {
    val out = TextOps.pagerankNearDup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rank")).toMap
    val n = docs.count()
    assert(out.size == n)
    def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    val floorRank = q9(0.15000000000000002 / n + 0.85 * 0.0)
    // driver-side replica of the 3 sweeps over the same edge set
    val pairs = TextOps.nearDupPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var r = out.keys.map(_ -> q9(1.0 / n)).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
        BigDecimal(q9(r(s) / deg(s)))
      }.sum.toDouble).toMap
      r = r.keys.map(v =>
        v -> q9(0.15000000000000002 / n + 0.85 * in.getOrElse(v, 0.0))).toMap
    }
    assert(out == r)
    val linked = deg.keySet
    assert(linked.nonEmpty && out.filterNot(kv => linked(kv._1))
      .values.forall(_ == floorRank))
    assert(linked.forall(v => out(v) > floorRank))
  }

  test("length quantiles equal the brute-force sorted-rank percentile_disc") {
    val ps = Seq(0.5, 0.9, 0.99)
    val got = TextOps.lengthQuantiles(docs, ps).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("p")) ->
        r.getAs[Long]("q")).toMap
    val byLang = docs.select(col("lang"), col("n_chars")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    for ((lang, vs) <- byLang; p <- ps) {
      // percentile_disc: the value at 1-based rank ceil(p*n) of the sort
      val expect = vs(math.ceil(p * vs.length).toInt - 1)
      assert(got((lang, p)) == expect, s"lang=$lang p=$p")
    }
    assert(got.size == byLang.size * ps.size)
  }

  test("datasheet metrics reconcile with direct computation") {
    val rows = TextOps.corpusDatasheet(docs).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value")).toMap
    val n = docs.count().toDouble
    assert(rows("n_docs") == n)
    assert(rows("exact_dup_docs") ==
      n - docs.select("text").distinct().count())
    assert(rows("total_chars") ==
      docs.agg(sum(col("n_chars"))).head.getLong(0).toDouble)
    // composition rows cover every lang and sum back to n_docs
    val langRows = rows.filter(_._1.startsWith("docs_lang:"))
    assert(langRows.values.sum == n)
    assert(langRows.keySet.map(_.stripPrefix("docs_lang:")) ==
      docs.select("lang").distinct().collect().map(_.getString(0)).toSet)
    // median is the type-1 global median of n_chars
    val chars = docs.select("n_chars").collect().map(_.getLong(0)).sorted
    assert(rows("chars_p50") == chars(math.ceil(0.5 * chars.length).toInt - 1).toDouble)
    assert(rows("chars_min") == chars.head.toDouble &&
      rows("chars_max") == chars.last.toDouble)
  }

  test("bigram LM: hand-computed add-one smoothed scores; short docs null") {
    import TestSpark.spark.implicits._
    val df = Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "a c", "en", "s", 3L),
      (3L, "solo", "en", "s", 4L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus bigrams: "a b"x2, "b a"x1, "a c"x1; contexts a->3, b->1; V=4
    // (terms a,b,c,solo); lp("a b")=log10(3/7), lp("b a")=log10(2/5),
    // lp("a c")=log10(2/7)
    val out = TextOps.bigramLogProb(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), Option(r.getAs[Any]("bigram_logprob"))))).toMap
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val lpAB = q6(math.log10(3.0 / 7)); val lpBA = q6(math.log10(2.0 / 5))
    val lpAC = q6(math.log10(2.0 / 7))
    assert(out(1L) == ((3L, Some(q4((lpAB * 2 + lpBA) / 3)))))
    assert(out(2L) == ((1L, Some(q4(lpAC)))))
    assert(out(3L) == ((0L, None)))
    // every smoothed probability is < 1, so every real score is negative
    val real = TextOps.bigramLogProb(docs).collect()
    assert(real.forall { r =>
      Option(r.getAs[Any]("bigram_logprob")).forall(_.asInstanceOf[Double] < 0) })
    assert(real.length == docs.count())
  }

  test("typo pairs: candidate filtering loses nothing vs brute force, incl. gram-free short pairs") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // "abc"/"xbz" is the short-leg witness: distance 2 but ZERO shared
    // 2-grams — a pure gram-filtered plan would silently drop it
    val df = Seq(
      (1L, "abc xbz transformer transformex pipeline pipelined"),
      (2L, "abc transformer catalog catalogs unrelatedword"),
      (3L, "zzz catalogue onlyhere"))
      .toDF("doc_id", "text")
    val got = TextOps.typoPairs(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val vocab = df.as[(Long, String)].collect()
      .flatMap(_._2.split("\\s+")).filter(_.length >= 3).distinct
    val want = (for {
      a <- vocab; b <- vocab if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d)).toSet
    assert(got == want, s"got ${got -- want} extra, missing ${want -- got}")
    assert(want.contains(("abc", "xbz", 2)), "short-leg witness must be a true pair")
    assert(want.exists(p => p._1 == "transformer"), "long-leg pair must exist")
    // counts ride through: every output row carries both corpus counts
    assert(TextOps.typoPairs(df).columns.toSeq ==
      Seq("w_a", "w_b", "dist", "cnt_a", "cnt_b"))
  }

  test("trained quality model: GD learns the planted concept above the majority baseline") {
    val row = TextOps.trainQualityModel(docs).collect().head
    val scored = TextOps.scoreWithQualityModel(docs).collect()
    assert(row.getAs[Long]("n_docs") == scored.length.toLong)
    val posRate = scored.count(_.getAs[Double]("label") == 1.0).toDouble / scored.length
    val majority = math.max(posRate, 1 - posRate)
    val acc = row.getAs[Double]("accuracy")
    assert(acc > majority + 0.05,
      s"training must beat the majority baseline: acc=$acc majority=$majority")
    // the model actually moved: no weight left at its zero init
    for (w <- Seq("w_bias", "w_len", "w_div", "w_stop"))
      assert(row.getAs[Double](w) != 0.0, s"$w never updated")
    // scores are probabilities; accuracy recomputed from the score table
    // matches the trainer's summary row
    assert(scored.forall { r =>
      val s = r.getAs[Double]("score"); s >= 0.0 && s <= 1.0 })
    val recomputed = scored.count(r =>
      r.getAs[Boolean]("pred") == (r.getAs[Double]("label") == 1.0))
      .toDouble / scored.length
    assert(math.abs(recomputed - acc) < 1e-6)
  }

  test("dedup keep-best: the cluster keeps its HIGHEST-QUALITY member, not the min id") {
    import spark.implicits._
    // base text: 40 distinct tokens (36 distinct shingles — repetition
    // would collapse the shingle SET and break the cluster edges), no
    // stopwords. doc 6 appends 34 diverse tokens plus stopwords: still
    // jaccard ~0.45 with the base (same cluster) but strictly higher
    // quality (longer + stopword signal) than min-id member 5 or copy 7
    val base = (1 to 40).map(i => s"r$i").mkString(" ")
    val rich = base + " " + (1 to 34).map(i => s"d$i").mkString(" ") +
      " the a of the a of"
    val df = Seq(
      (5L, base), (6L, rich), (7L, base + " zz"),
      (100L, (1 to 50).map(i => s"iso$i").mkString(" ")) // no cluster
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val rows = TextOps.dedupKeepBest(df).collect()
    assert(rows.length == 1, rows.toSeq)
    val r = rows.head
    assert(r.getAs[Long]("cluster_id") == 5L)       // min-id LABEL stays
    assert(r.getAs[Long]("kept_doc_id") == 6L,      // ...but 6 is kept
      s"kept ${r.getAs[Long]("kept_doc_id")}")
    assert(r.getAs[Long]("n_members") == 3L)
    // sanity: 6 really does out-score the min-id member
    val q = TextOps.qualityScore(df).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("quality_score")).toMap
    assert(q(6L) > q(5L), q)
  }

  test("triangles: a planted 4-clique and an open wedge count exactly; wedge nodes absent") {
    import spark.implicits._
    // four mutually near-identical docs (a 4-clique: C(4,3)=4 triangles,
    // each node in C(3,2)=3 of them) + an open wedge 10-11-12 with the
    // closing 10-12 edge missing (distinct texts) -> zero triangles there
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val clique = (0L to 3L).map(i => (i, base + s" tail$i"))
    // open wedge: doc 11 = A ++ B, doc 10 = A, doc 12 = B with A, B
    // token-disjoint -> j(10,11) = j(11,12) = 36/76 ~ 0.47 >= 0.4 but
    // j(10,12) = 0: the 10-12 closing edge cannot exist
    val aTxt = (1 to 40).map(i => s"a$i").mkString(" ")
    val bTxt = (1 to 40).map(i => s"b$i").mkString(" ")
    val wedge = Seq(
      (10L, aTxt),
      (11L, aTxt + " " + bTxt),
      (12L, bTxt))
    val df = (clique ++ wedge).toDF("doc_id", "text")
    val pairs = TextOps.nearDupPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture sanity: the clique is complete, the wedge is open
    assert((0L to 3L).combinations(2).forall(c => pairs.contains((c(0), c(1)))),
      pairs)
    assert(pairs.contains((10L, 11L)) && pairs.contains((11L, 12L)) &&
      !pairs.contains((10L, 12L)), pairs)
    val got = TextOps.nearDupTriangles(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 3L).map(_ -> 3L).toMap, got)
  }

  test("contamination: hand-computed overlap ratios; short docs vanish; corpus never shuffles pre-join") {
    import spark.implicits._
    // bench doc 0: 10 tokens -> 3 distinct 8-grams (w1..w8, w2..w9, w3..w10);
    // train doc 100 repeats w2..w9 verbatim -> exactly 1 contaminated gram.
    // bench doc 1: fully unique -> 0. bench doc 2: 5 tokens -> NO grams.
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (0L, w),                                        // bench, 1/3 contaminated
      (1L, (1 to 9).map(i => s"u$i").mkString(" ")),  // bench, clean (2 grams)
      (2L, "a b c d e"),                              // bench, too short
      (100L, "x0 " + (2 to 9).map(i => s"w$i").mkString(" ") + " x1"),
      (101L, (1 to 20).map(i => s"t$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = TextOps.contamination(df, benchCount = 50, n = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got.keySet == Set(0L, 1L), got)
    assert(got(0L) == ((3L, 1L, 0.333333)), got(0L))
    assert(got(1L) == ((2L, 0L, 0.0)), got(1L))
    // scale shape: the training side reaches its semi join via BROADCAST
    // (the corpus never shuffles on the gram key) and nothing is cartesian
    val plan = TextOps.contamination(df).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("trained quality model: published weights reproduce the inline scorer with a training-free pure-map plan") {
    // the train/serve split (r8 verdict #7): publish once...
    val w = TextOps.trainedQualityWeights(docs)
    val published = TextOps.scoreWithQualityModel(docs, w)
    // ...and the serving plan is a pure map: no Exchange, no aggregate —
    // nothing for the 16 GD passes to hide in
    val plan = published.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    // bit-identical to the convenience (train-inline) form
    val inline = TextOps.scoreWithQualityModel(docs)
    assert(published.collect().toSeq.sortBy(_.getLong(0)) ==
      inline.collect().toSeq.sortBy(_.getLong(0)))
    // audit form: feeding the published weights back into the trainer
    // report skips GD and reproduces the trained summary row exactly
    assert(TextOps.trainQualityModel(docs, w).collect().head ==
      TextOps.trainQualityModel(docs).collect().head)
  }

  test("trained quality model: empty corpus degrades to the zero model") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val row = TextOps.trainQualityModel(empty).collect().head
    assert(row.getAs[Long]("n_docs") == 0L)
    for (w <- Seq("w_bias", "w_len", "w_div", "w_stop"))
      assert(row.getAs[Double](w) == 0.0)
    assert(TextOps.scoreWithQualityModel(empty).collect().isEmpty)
  }

  test("CDC chunking: bounds honor min/max and reconstruct the document") {
    val bounds = TextOps.withCdcBounds(docs)
      .select(col("doc_id"), col("text"), col("bounds")).collect()
    assert(bounds.length == docs.filter(col("text").isNotNull &&
      col("text") =!= "").count())
    for (r <- bounds) {
      val t = r.getAs[String]("text")
      val b = r.getSeq[Int](r.fieldIndex("bounds")).toList
      assert(b.nonEmpty && b.last == t.length, s"doc ${r.getLong(0)}: no closing bound")
      assert(b == b.sorted && b.distinct == b, "bounds must be strictly ascending")
      val lens = (0 +: b).sliding(2).map(p => p(1) - p(0)).toSeq
      assert(lens.forall(_ <= 256), s"chunk above cdcMax: $lens")
      // every chunk except the document tail respects the minimum
      assert(lens.dropRight(1).forall(_ >= 16), s"interior chunk below cdcMin: $lens")
    }
  }

  test("CDC chunking is content-defined: a prefix edit leaves suffix chunks intact") {
    import spark.implicits._
    val base = "The quick brown fox jumps over the lazy dog again and again. " * 12
    val edited = "XXXXX-INSERTED-PREFIX-XXXXX " + base
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    def chunksOf(id: Long): Seq[String] = {
      val r = TextOps.withCdcBounds(df.filter(col("doc_id") === id))
        .select(col("text"), col("bounds")).collect().head
      val t = r.getAs[String]("text")
      val b = r.getSeq[Int](r.fieldIndex("bounds")).toList
      (0 +: b).sliding(2).map(p => t.substring(p(0), p(1))).toSeq
    }
    val c1 = chunksOf(1L); val c2 = chunksOf(2L)
    // fixed-size chunking would shift EVERY boundary; content-defined
    // cuts resynchronize within a window, so the tails coincide
    val shared = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.length
    assert(shared >= c1.length - 2,
      s"only $shared/${c1.length} suffix chunks survived a prefix edit")
    assert(c1.length > 3, "test corpus must produce several chunks")
  }

  test("CDC dedup: shared sections across docs surface as duplicate chunks") {
    import spark.implicits._
    val shared = "this long shared passage repeats verbatim across documents " * 8
    val df = Seq(
      (1L, "unique head one. " + shared + " unique tail one."),
      (2L, "a different opening entirely! " + shared + " another ending."),
      (3L, "fully unrelated text with no repetition at all here."))
      .toDF("doc_id", "text")
    val stats = TextOps.cdcDedup(df).collect().head
    assert(stats.getAs[Long]("max_dup") >= 2L,
      s"shared passage produced no duplicate chunk: $stats")
    assert(stats.getAs[Long]("dup_bytes") > 0L)
    assert(stats.getAs[Long]("total_chunks") > stats.getAs[Long]("distinct_chunks"))
    // per-doc stats stay narrow: no Exchange in the chunk-stats plan
    val plan = TextOps.cdcChunkStats(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"cdcChunkStats must not shuffle:\n$plan")
  }

  /** Brute-force suffix ranks: every token suffix of every document,
    * sorted with the engine's sentinel order (the sentinel of a document
    * sorts below every token, and sentinels order by doc_id).
    * Tokens compare as Java strings, which is Spark's binary UTF-8 order
    * on the ASCII texts these specs use. (doc_id, pos) → rank in
    * 1..Ntokens. */
  private def bruteSuffixRanks(docs: Seq[(Long, String)]): Map[(Long, Int), Long] = {
    val toks = docs.map { case (id, t) =>
      id -> (if (t == null) Array.empty[String]
             else t.trim.split("\\s+").filter(_.nonEmpty)) }
    val ids = toks.map(_._1).sorted
    val docOrd = ids.zipWithIndex.toMap // sentinel order = doc order
    // suffix as token seq + sentinel marker; compare lexicographically,
    // sentinel of doc d < every token and sentinels order by doc
    val sufs = for ((id, ts) <- toks; p <- ts.indices)
      yield (id, p, ts.drop(p))
    def cmp(a: (Long, Int, Array[String]), b: (Long, Int, Array[String])): Boolean = {
      val (x, y) = (a._3, b._3)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = x(i) compareTo y(i)
        if (c != 0) return c < 0
        i += 1
      }
      // shorter suffix hits its sentinel first: sentinel < any token,
      // and two sentinels order by doc_id (never equal here since
      // a suffix pair exhausting together implies same doc+pos)
      if (x.length != y.length) x.length < y.length
      else docOrd(a._1) < docOrd(b._1)
    }
    sufs.sortWith(cmp).zipWithIndex
      .map { case ((id, p, _), r) => (id, p) -> (r + 1).toLong }.toMap
  }

  private def suffixRankMap(documents: org.apache.spark.sql.DataFrame): Map[(Long, Int), Long] =
    TextOps.suffixRanks(documents).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("suffix ranks: prefix doubling equals brute-force suffix sort") {
    import spark.implicits._
    // fixture with repeated content, a shared prefix run, an empty doc,
    // and a NULL doc — cross-doc suffix order must resolve via sentinels
    val fix = Seq(
      (10L, "b a n a n a"),
      (20L, "a n a b a n"),
      (30L, ""),
      (40L, null.asInstanceOf[String]),
      (50L, "b a n a n a") // exact duplicate of doc 10
    ).toDF("doc_id", "text")
    val expected = bruteSuffixRanks(Seq(10L -> "b a n a n a", 20L -> "a n a b a n",
      30L -> "", 40L -> null, 50L -> "b a n a n a"))
    val got = suffixRankMap(fix)
    assert(got == expected)
    // empty/null docs contribute no positions
    assert(!got.keys.exists(k => k._1 == 30L || k._1 == 40L))
    // an entirely empty corpus returns the empty relation, not an NPE
    assert(TextOps.suffixRanks(fix.filter(col("doc_id") < 0)).collect().isEmpty)
    // real-data check at sf0.001: the full rank map equals the brute force
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val real = suffixRankMap(docs)
    assert(real.values.toSet == (1L to real.size).toSet, "ranks must be 1..N dense")
    val want = bruteSuffixRanks(texts)
    assert(real.size == want.size)
    val wrong = want.filter { case (k, r) => !real.get(k).contains(r) }
    assert(wrong.isEmpty, s"${wrong.size} ranks differ, e.g. ${wrong.take(3)}")
  }

  test("suffix ranks beyond the seed window: a periodic long doc, duplicates, prefixes, window-boundary lengths") {
    import spark.implicits._
    // k: the token window the rank build seeds its doubling with
    val k = TextOps.seedTokens
    def abDoc(n: Int) = Seq.tabulate(n)(j => if (j % 2 == 0) "a" else "b").mkString(" ")
    val texts = Seq(
      // 34·k + 9 tokens with period 2: tie groups survive the seed window
      // and the doubling rounds at steps k and 2·k (the full resolve
      // needs (maxLen − 1) / step ≤ 16, first true at step 4·k)
      1L -> abDoc(34 * k + 9),
      2L -> "b a n a n a b a n a n a",
      3L -> "b a n a n a b a n a n a", // exact duplicate
      4L -> "b a n a n a",              // a prefix of doc 2
      5L -> abDoc(k - 1),               // the sentinel inside the window,
      6L -> abDoc(k),                   // just past it,
      7L -> abDoc(k + 1),               // and one token further
      8L -> ("b " + abDoc(k)),
      9L -> "",
      11L -> null.asInstanceOf[String])
    val got = suffixRankMap(texts.toDF("doc_id", "text"))
    assert(got == bruteSuffixRanks(texts))
  }

  test("suffix ranks: a document without a doc_id has no suffixes and takes no rank") {
    import spark.implicits._
    // a null doc_id must neither count as a document (its sentinel would
    // shift every rank down and cut the lowest real suffix) nor stand in
    // for a real id such as 0 (its positions would duplicate that doc's)
    val withZero = Seq(0L -> "a c", 1L -> "b a", 2L -> "a b a")
    for (texts <- Seq(withZero.tail, withZero)) {
      val fix = (texts.map { case (id, t) => (Option(id), t) } :+ ((None, "c c")))
        .toDF("doc_id", "text")
      val want = bruteSuffixRanks(texts)
      val got = TextOps.suffixRanks(fix).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      assert(got.length == want.size, got.toSeq)
      assert(got.toMap == want)
    }
  }

  test("suffix ranks: sentinels order by doc_id at the extremes of the id range") {
    import spark.implicits._
    // identical documents tie until their sentinels, so doc_id alone
    // orders them: in the seed key for positions whose window holds the
    // sentinel, in the full resolve for the positions before
    val k = TextOps.seedTokens
    val long = Seq.tabulate(2 * k + 3)(j => if (j % 3 == 0) "a" else "b").mkString(" ")
    val texts = Seq(Long.MaxValue -> long, -5L -> long, Long.MinValue -> long,
      0L -> "b a b")
    assert(suffixRankMap(texts.toDF("doc_id", "text")) == bruteSuffixRanks(texts))
  }

  test("suffix ranks: a bounded construction job chain, and a result that reads only checkpoints") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    // every job runs while the relation is built: a return to per-round
    // chains from single-token ranks (32 jobs at sf0.01) or to a doc-order
    // offset pass ahead of the seed sort (12 jobs here) fails this bound
    var ranks: org.apache.spark.sql.DataFrame = null
    val jobs = JobCount(spark) { ranks = TextOps.suffixRanks(docs) }
    assert(jobs <= 5, s"$jobs construction jobs")
    // the tokenized corpus is released when the build returns, so the
    // result must not reach back to the documents — also when no doubling
    // round runs (every document shorter than the seed window)
    val short = TextOps.suffixRanks(Seq(1L -> "b a", 2L -> "a b a").toDF("doc_id", "text"))
    for (df <- Seq(ranks, short))
      assert(df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LogicalRDD]),
        df.queryExecution.analyzed.treeString)
    assert(short.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap ==
      bruteSuffixRanks(Seq(1L -> "b a", 2L -> "a b a")))
  }

  test("suffix LCP array: matches a brute-force sorted-suffix comparison exactly") {
    import spark.implicits._
    val fix = Seq(10L -> "b a n a n a", 20L -> "a n a b a n",
      50L -> "b a n a n a").toDF("doc_id", "text")
    // brute force: sort all suffixes with the engine's sentinel order,
    // LCP of each adjacent pair = count of equal leading TOKENS
    val sufs = Seq(10L -> "b a n a n a", 20L -> "a n a b a n",
      50L -> "b a n a n a").flatMap { case (id, t) =>
      val toks = t.split(" ").toSeq
      toks.indices.map(p => (id, p, toks.drop(p)))
    }
    val docOrd = Seq(10L, 20L, 50L).sorted.zipWithIndex.toMap
    def cmp(a: (Long, Int, Seq[String]), b: (Long, Int, Seq[String])): Boolean = {
      val (x, y) = (a._3, b._3)
      var i = 0
      while (i < math.min(x.length, y.length)) {
        val c = x(i).compareTo(y(i))
        if (c != 0) return c < 0
        i += 1
      }
      if (x.length != y.length) x.length < y.length
      else docOrd(a._1) < docOrd(b._1)
    }
    val byRank = sufs.sortWith(cmp)
    val expected = byRank.sliding(2).zipWithIndex.map {
      case (Seq(lo, hi), i) =>
        val lcp = lo._3.zip(hi._3).takeWhile(p => p._1 == p._2).length.toLong
        (i + 2).toLong -> ((hi._1, hi._2, lo._1, lo._2, lcp))
    }.toMap
    val got = TextOps.suffixLcp(fix).collect().map { r =>
      r.getAs[Long]("rank") -> ((r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
        r.getAs[Long]("prev_doc_id"), r.getAs[Int]("prev_pos"),
        r.getAs[Long]("lcp")))
    }.toMap
    assert(got == expected)
    // the cap saturates honestly: cap=2 clamps every lcp at 2, nothing else
    val capped = TextOps.suffixLcp(fix, cap = 2).collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("lcp")).toMap
    expected.foreach { case (rank, (_, _, _, _, lcp)) =>
      assert(capped(rank) == math.min(lcp, 2L), s"rank $rank")
    }
  }

  test("lcpMemo is LRU-bounded: a third dir evicts and unpersists the least-recently-used artifact") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // three tiny corpora on disk, shaped like a data dir (round-10
    // verdict #2: the memo caches PERSISTED corpus-scale relations, so
    // it must evict + unpersist past capacity instead of pinning one
    // artifact per dir forever)
    val base = java.nio.file.Files.createTempDirectory("lcp_memo_spec").toString
    val dirs = (0 until 3).map { i =>
      val d = s"$base/d$i"
      Seq((1L, s"a b c d$i"), (2L, s"b c d$i e")).toDF("doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
      d
    }
    // drain, don't just clear: entries left by other suites on this
    // shared SparkSession hold PERSISTED blocks — clearing the map
    // without unpersisting would leak them for the rest of the JVM test
    // run (round-11 advisor)
    SparkEntry.lcpMemo.synchronized {
      SparkEntry.lcpMemo.values.forEach(_.unpersist(blocking = false): Unit)
      SparkEntry.lcpMemo.clear()
    }
    assert(SparkEntry.lcpMemoCapacity == 2)
    val first = SparkEntry.lcpRel(spark, dirs(0))
    val second = SparkEntry.lcpRel(spark, dirs(1))
    assert(first.storageLevel != StorageLevel.NONE)
    // same dir returns the SAME cached relation, no rebuild
    assert(SparkEntry.lcpRel(spark, dirs(0)) eq first)
    // third dir: capacity 2 evicts the least-recently-used (dirs(1) —
    // dirs(0) was touched after it) and RELEASES its cached blocks
    val third = SparkEntry.lcpRel(spark, dirs(2))
    assert(second.storageLevel == StorageLevel.NONE,
      "evicted artifact must be unpersisted")
    assert(first.storageLevel != StorageLevel.NONE)
    assert(third.storageLevel != StorageLevel.NONE)
    assert(SparkEntry.lcpMemo.synchronized(!SparkEntry.lcpMemo.containsKey(dirs(1))))
    assert(SparkEntry.lcpMemo.synchronized(SparkEntry.lcpMemo.size) == 2)
    // an evicted dir just takes the cold path again — correctness never
    // depended on the memo
    val rebuilt = SparkEntry.lcpRel(spark, dirs(1))
    assert(!(rebuilt eq second) && rebuilt.storageLevel != StorageLevel.NONE)
    SparkEntry.lcpMemo.synchronized {
      SparkEntry.lcpMemo.values.forEach(_.unpersist(blocking = false): Unit)
      SparkEntry.lcpMemo.clear()
    }
  }

  test("dupSpans rejects an lcpRel built with a smaller cap than minLen, and any untagged relation") {
    import spark.implicits._
    val fix = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    // cap 4 < minLen 6: saturated LCPs would silently MISS qualifying
    // pairs — the metadata tag on the artifact makes that loud
    val small = TextOps.suffixLcp(fix, cap = 4)
    val e = intercept[IllegalArgumentException] {
      TextOps.dupSpans(fix, minLen = 6, cap = 8, lcpRel = Some(small))
    }
    assert(e.getMessage.contains("cap=4"), e.getMessage)
    // a foreign relation without the tag is rejected too
    val untagged = small.select(col("rank"), col("doc_id"), col("pos"),
      col("prev_doc_id"), col("prev_pos"), col("lcp") + lit(0L) as "lcp")
    val e2 = intercept[IllegalArgumentException] {
      TextOps.dupSpans(fix, minLen = 3, cap = 8, lcpRel = Some(untagged))
    }
    assert(e2.getMessage.contains("graft.lcp.cap"), e2.getMessage)
    // an adequately-capped artifact passes through and the tag survives
    // persist/select (the memoized SparkEntry path)
    val ok = TextOps.suffixLcp(fix, cap = 8).persist()
    try {
      assert(TextOps.dupSpans(fix, minLen = 6, cap = 8,
        lcpRel = Some(ok)).collect().nonEmpty)
    } finally { ok.unpersist(blocking = false): Unit }
  }

  test("dup spans reconcile with the gram-based excision on a planted fixture") {
    import spark.implicits._
    // two docs share one 12-token run; every other token is corpus-unique
    // and nothing repeats within a doc — both pipelines must isolate the
    // identical token intervals
    val run = (0 until 12).map(i => s"dup$i").mkString(" ")
    val fix = Seq(
      (0L, ((0 until 10).map(i => s"a$i").mkString(" ")) + " " + run + " " +
        (0 until 10).map(i => s"b$i").mkString(" ")),
      (1L, ((0 until 5).map(i => s"c$i").mkString(" ")) + " " + run + " " +
        (0 until 8).map(i => s"e$i").mkString(" "))).toDF("doc_id", "text")
    // suffix-LCP pipeline: exact maximal spans, even with a cap BELOW the
    // run length (interval chaining keeps extents exact under saturation)
    val spans = TextOps.dupSpans(fix, minLen = 5, cap = 8).collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Long]("span_end"))
    }.toSet
    assert(spans == Set((0L, 10, 22L), (1L, 5, 17L)), spans)
    // gram-based transform half (Lee et al.): removes exactly the same
    // token count, and the kept text is exactly the tokens OUTSIDE the
    // spans — the two halves of the pipeline agree position by position
    val excised = TextOps.exciseDupSpans(fix, n = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(excised(0L)._1 == 12L && excised(1L)._1 == 12L, excised)
    assert(excised(0L)._2 ==
      ((0 until 10).map(i => s"a$i") ++ (0 until 10).map(i => s"b$i"))
        .mkString(" "))
    assert(excised(1L)._2 ==
      ((0 until 5).map(i => s"c$i") ++ (0 until 8).map(i => s"e$i"))
        .mkString(" "))
  }

  test("unigram segmentation: DP picks the max-likelihood pieces, hand-exact") {
    import spark.implicits._
    // corpus "aa a": piece counts a=3 (2 inside aa + 1 alone), aa=1, total 4
    //   lp(a)  = round6(log10(3/4)) = -0.124939 -> -124939 micro
    //   lp(aa) = round6(log10(1/4)) = -0.602060 -> -602060 micro
    //   "aa" as [a,a] scores -249878 > [aa] -602060 -> the split wins
    val fix = Seq((1L, "aa a")).toDF("doc_id", "text")
    val out = TextOps.unigramSegment(fix).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("aa").getString(2) == "a a")
    assert(out("aa").getLong(3) == 2L)
    assert(out("aa").getLong(4) == -249878L)
    assert(out("a").getString(2) == "a")
    assert(out("a").getLong(4) == -124939L)
    // real-data invariants: one row per distinct word, pieces re-join to
    // the word, every piece within the length bound
    val real = TextOps.unigramSegment(docs).collect()
    val vocab = docs.select(explode(TextOps.tokens(col("text")))).distinct().count()
    assert(real.length == vocab)
    real.foreach { r =>
      val pieces = r.getString(2).split(" ")
      assert(pieces.mkString("") == r.getString(0))
      assert(pieces.forall(_.length <= 4))
      assert(r.getInt(1) == r.getString(0).length)
    }
  }

  test("longest repeated substring: binary search finds the exact planted run") {
    import spark.implicits._
    val shared = "x y z w v u t s" // 8 tokens, repeated across two docs
    val fix = Seq(
      (1L, s"a b $shared c d"),
      (2L, s"e f g $shared h"),
      (3L, "p q r")
    ).toDF("doc_id", "text")
    val out = TextOps.longestRepeatedSubstring(fix).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 8L, out.head.toString)
    assert(out.head.getString(1) == shared)
    assert(out.head.getLong(2) == 2L)
    // within-doc repetition counts too (overlapping positional grams)
    val rep = TextOps.longestRepeatedSubstring(
      Seq((1L, "m n m n m n")).toDF("doc_id", "text")).collect().head
    assert(rep.getLong(0) == 4L && rep.getString(1) == "m n m n" &&
      rep.getLong(2) == 2L)
    // no token ever repeats -> zero rows, not a null row
    val none = TextOps.longestRepeatedSubstring(
      Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")).collect()
    assert(none.isEmpty)
  }

  /** Longest repeated substring by brute force, the oracle's shape: every
    * (start, length) gram of every document, lengths tried from the
    * longest document down, so the first length with a gram seen twice
    * is the answer. The witness is the smallest such gram in UTF-8 byte
    * order (binary collation on both engines), with its positional
    * count. None when no token repeats. */
  private def bruteLrs(texts: Seq[String]): Option[(Long, String, Long)] = {
    val toks = texts.map(t => if (t == null) Array.empty[String]
      else t.trim.split("\\s+").filter(_.nonEmpty))
    def utf8Le(a: String, b: String) = java.util.Arrays.compareUnsigned(
      a.getBytes("UTF-8"), b.getBytes("UTF-8")) <= 0
    (toks.map(_.length).maxOption.getOrElse(0) to 1 by -1).iterator.map { l =>
      l -> toks.flatMap(ts => ts.sliding(l).filter(_.length == l).map(_.mkString(" ")))
        .groupBy(identity).collect { case (g, gs) if gs.size >= 2 => g -> gs.size.toLong }
    }.collectFirst { case (l, dups) if dups.nonEmpty =>
      val g = dups.keys.reduce((a, b) => if (utf8Le(a, b)) a else b)
      (l.toLong, g, dups(g))
    }
  }

  private def lrsOf(texts: Seq[String]): Option[(Long, String, Long)] = {
    import spark.implicits._
    val out = TextOps.longestRepeatedSubstring(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .collect()
    assert(out.length <= 1, out.mkString(";"))
    out.headOption.map(r => (r.getAs[Long]("lrs_len"), r.getAs[String]("gram"),
      r.getAs[Long]("n_occurrences")))
  }

  test("longest repeated substring equals the brute-force all-grams answer") {
    import spark.implicits._
    // real data: the sf0.001 documents
    val texts = docs.select("text").as[String].collect().toSeq
    val want = bruteLrs(texts)
    assert(want.nonEmpty)
    assert(lrsOf(texts) == want)
    // planted runs of `a` unique tokens beside a 99-token document, so the
    // search range is [0, 99] in every corpus; the lengths sit on, one
    // below and one above the lengths a k-ary search over [0, 99] tests
    // first with 4, 10 or 16 candidates per round, and at both ends
    val longest = (0 until 99).map(i => s"u$i").mkString(" ")
    for (a <- Seq(1, 9, 10, 11, 24, 25, 26, 49, 50, 51, 89, 90, 91, 97, 98)) {
      val run = (0 until a).map(i => s"s$i").mkString(" ")
      val corpus = Seq(longest, s"p $run", run, "q r")
      assert(bruteLrs(corpus).map(_._1).contains(a.toLong))
      assert(lrsOf(corpus) == bruteLrs(corpus), s"planted run of $a")
    }
    // the answer at the longest document: an exact duplicate of it
    val dup = Seq(longest, "a b", longest)
    assert(bruteLrs(dup) == Some((99L, longest, 2L)))
    assert(lrsOf(dup) == bruteLrs(dup))
  }

  test("longest repeated substring: binary-collation witness, non-ASCII tokens, null and empty texts") {
    // a tie at the longest length goes to the smallest gram in binary
    // collation ("B" < "a"), and the count is that gram's own
    val tie = Seq("B x c1", "a x c2", "B x c3", "a x c4", "a x c5")
    assert(bruteLrs(tie) == Some((2L, "B x", 2L)))
    assert(lrsOf(tie) == bruteLrs(tie))
    // U+FF21 sorts before U+1F600 in UTF-8 bytes but after it in UTF-16
    // units: the witness follows the bytes
    val (fw, emoji) = ("Ａ", new String(Character.toChars(0x1F600)))
    val wide = Seq(s"$emoji é z", s"$fw é y", s"$emoji é w", s"$fw é v", s"$emoji é")
    assert(bruteLrs(wide) == Some((2L, s"$fw é", 2L)))
    assert(lrsOf(wide) == bruteLrs(wide))
    // null, empty and blank texts add no tokens
    val sparse = Seq(null, "", "   ", "k m k", null)
    assert(bruteLrs(sparse) == Some((1L, "k", 2L)))
    assert(lrsOf(sparse) == bruteLrs(sparse))
    // no token repeats: zero rows, also for a corpus of no tokens at all
    for (none <- Seq(Seq("a b c", null, "d e", ""), Seq(null, ""))) {
      assert(bruteLrs(none).isEmpty)
      assert(lrsOf(none).isEmpty)
    }
  }

  test("lrs search: a fingerprint collision costs a rerun, never a wrong answer") {
    // fakes: the true answer `t` repeats at every length up to t, and the
    // fingerprint probe also reports the lengths in `fake`, which the
    // exact confirm rejects
    def run(maxLen: Int, t: Int, fake: Set[Int]) = {
      var rounds = 0
      var confirms = 0
      val got = TextOps.lrsSearch[String](maxLen,
        ls => { rounds += 1; ls.filter(l => l <= t || fake(l)).maxOption.getOrElse(0) },
        l => { confirms += 1; if (l <= t) Some(s"w$l") else None })
      (got, rounds, confirms)
    }
    // no collision: every answer in [0, 99] closes in at most two rounds
    // and one confirm, and a corpus with no repeat needs no confirm
    for (t <- 0 to 99) {
      val (got, rounds, confirms) = run(99, t, Set.empty)
      assert(got == (if (t == 0) None else Some((t, s"w$t"))), s"t=$t")
      assert(rounds <= 2 && confirms == (if (t == 0) 0 else 1), s"t=$t: $rounds, $confirms")
    }
    // a collision at a first-round length above the answer: the confirm
    // rejects it and the search reruns below it
    val (g1, r1, c1) = run(99, 57, Set(90))
    assert(g1 == Some((57, "w57")) && c1 == 2 && r1 > 2, (g1, r1, c1))
    // ...at a second-round length
    val (g2, _, c2) = run(99, 92, Set(95))
    assert(g2 == Some((92, "w92")) && c2 == 2, (g2, c2))
    // ...and a corpus whose only "repeats" are collisions gives no row
    assert(run(99, 0, Set(40, 99))._1.isEmpty)
    // every answer, under collisions at any lengths above it
    val rnd = new scala.util.Random(7)
    for (maxLen <- Seq(0, 1, 2, 11, 100, 250); t <- 0 to maxLen) {
      val fake = Set.fill(3)(t + 1 + rnd.nextInt(maxLen - t + 1)).filter(_ <= maxLen)
      assert(run(maxLen, t, fake)._1 == (if (t == 0) None else Some((t, s"w$t"))),
        s"maxLen=$maxLen t=$t fake=$fake")
    }
  }

  test("longest repeated substring: a bounded construction job chain, and a result that runs no job") {
    // the spread checkpoint, the max length, two rounds of two jobs and
    // the exact confirm: a return to one probe per binary-search step
    // (16 jobs at sf0.001) fails this bound
    var lrs: org.apache.spark.sql.DataFrame = null
    val jobs = JobCount(spark) { lrs = TextOps.longestRepeatedSubstring(docs) }
    assert(jobs <= 9, s"$jobs construction jobs")
    var rows: Array[org.apache.spark.sql.Row] = null
    assert(JobCount(spark) { rows = lrs.collect() } == 0)
    assert(rows.length == 1)
  }

  test("Kneser-Ney bigram: hand-computed fixture, exact to the 1e-4 grid") {
    import spark.implicits._
    // corpus "a b a b c" + "z": c12 = {ab:2, ba:1, bc:1}
    //   contexts: a -> (c1=2, N1+=1), b -> (c1=2, N1+=2); nbd=3
    //   continuations: b<-1, a<-1, c<-1
    //   P(b|a) = (2-.75)/2 + (.75*1/2)*(1/3) = 0.75
    //   P(a|b) = P(c|b) = (1-.75)/2 + (.75*2/2)*(1/3) = 0.375
    //   doc1 mean = (2*lp(.75) + 2*lp(.375))/4 = -0.2755 on the grid
    val df = Seq((1L, "a b a b c"), (2L, "z")).toDF("doc_id", "text")
    val out = TextOps.knBigramLogProb(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_bigrams") == 4L)
    assert(out(1L).getAs[Double]("kn_logprob") == -0.2755)
    assert(out(2L).getAs[Long]("n_bigrams") == 0L)
    assert(out(2L).isNullAt(out(2L).fieldIndex("kn_logprob")))
    // interpolated-KN sanity on real data: every scored probability < 1,
    // so every doc-level mean log-prob is strictly negative
    val real = TextOps.knBigramLogProb(docs).collect()
    assert(real.nonEmpty)
    real.filter(!_.isNullAt(2)).foreach(r => assert(r.getDouble(2) < 0.0))
  }

  test("blocklist: automaton counts every overlapping/nested occurrence") {
    import spark.implicits._
    val df = Seq(
      (1L, "table table table"),      // self-overlap: "table table" twice
      (2L, "fast table agg row"),     // nested: fast+fast table, agg+agg row
      (3L, "value table here"),       // straddling substring "lue tab"
      (4L, null.asInstanceOf[String]) // NULL text scans as empty
    ).toDF("doc_id", "text")
    val out = TextOps.blocklistHits(df).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out((1L, "table table")) == 2L) // overlapping occurrences
    assert(out((2L, "fast")) == 1L)
    assert(out((2L, "fast table")) == 1L) // the longer pattern too
    assert(out((2L, "agg")) == 1L)
    assert(out((2L, "agg row")) == 1L)
    assert(out((3L, "lue tab")) == 1L)
    assert(!out.keys.exists(_._2 == "quantum"), "no-match pattern leaked")
    assert(!out.keys.exists(_._1 == 4L), "NULL text produced hits")
    // brute-force cross-check on real data: per-pattern total hits equal
    // an independent sliding-window count (the oracle-free exactness probe)
    val real = TextOps.blocklistHits(docs).collect()
      .groupBy(_.getString(1))
      .map { case (p, rs) => p -> rs.map(_.getLong(2)).sum }
    val texts = docs.select("text").na.drop().as[String].collect()
    TextOps.defaultBlocklist.foreach { p =>
      val brute = texts.map { t =>
        (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong
      }.sum
      assert(real.getOrElse(p, 0L) == brute, s"pattern '$p'")
    }
    // zero shuffles: counts complete row-locally
    val plan = TextOps.blocklistHits(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklistHits must not shuffle:\n$plan")
  }

  test("char entropy: closed-form fixtures, repartition-deterministic") {
    import spark.implicits._
    val fix = Seq(
      (0L, "aaaa"),        // one symbol -> 0 bits
      (1L, "ab"),          // two equiprobable -> 1 bit
      (2L, "abcd"),        // four equiprobable -> 2 bits
      (3L, "aab"),         // H(2/3,1/3) = log2(3) - 2/3 = 0.918295...
      (4L, null.asInstanceOf[String]), // excluded
      (5L, ""))            // excluded
      .toDF("doc_id", "text")
    val out = TextOps.charEntropy(fix).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L) == ((1L, 0.0)))
    assert(out(1L) == ((2L, 1.0)))
    assert(out(2L) == ((4L, 2.0)))
    assert(out(3L)._2 == 0.9183, out(3L).toString)
    // the char-sorted fold makes the float result partition-order-proof
    val a = TextOps.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = TextOps.charEntropy(docs.repartition(17)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b)
    // prose sits strictly between degenerate (0) and uniform-noise bounds
    assert(a.values.forall(e => e > 1.0 && e < 6.0))
  }

  test("BLEU-2 pairs: clipping, brevity penalty, brute-force agreement on real pairs") {
    import spark.implicits._
    // clipping fixture: candidate "a a a b" vs reference "a b" — the
    // repeated 'a' must clip to the reference count (p1 = 2/4), and the
    // doubled "a a" bigram to zero (p2 = 1/3); candidate is longer, bp = 1
    val fix = Seq((0L, "a a a b"), (1L, "a b")).toDF("doc_id", "text")
    val r = TextOps.bleuPairs(fix, n = 1, threshold = 0.0).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Double]("p1") == 0.5 &&
      row.getAs[Double]("p2") == 0.333333 &&
      row.getAs[Double]("bp") == 1.0 &&
      row.getAs[Double]("bleu2") == 0.4082, row.toString)
    // every real pair agrees with an independent in-test recompute from
    // the raw texts (clip maps built serially — no Spark machinery)
    val texts = docs.collect().map(d => d.getLong(0) ->
      Option(d.getString(1)).getOrElse("").trim.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    def clipP(a: Seq[String], b: Seq[String], k: Int): Double = {
      def grams(t: Seq[String]) = t.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
      val (ga, gb) = (grams(a), grams(b))
      val cb = gb.groupBy(identity).view.mapValues(_.size).toMap
      val clip = ga.groupBy(identity).map { case (g, os) =>
        math.min(os.size, cb.getOrElse(g, 0)) }.sum
      math.floor(clip.toDouble / ga.size * 1e6 + 0.5) / 1e6
    }
    val out = TextOps.bleuPairs(docs, n = 5, threshold = 0.4).collect()
    assert(out.nonEmpty)
    out.foreach { p =>
      val (a, b) = (texts(p.getAs[Long]("doc_a")), texts(p.getAs[Long]("doc_b")))
      assert(p.getAs[Double]("p1") == clipP(a, b, 1), s"p1 ${p}")
      assert(p.getAs[Double]("p2") == clipP(a, b, 2), s"p2 ${p}")
      val bp = math.floor((if (a.length < b.length)
        math.exp(1.0 - b.length.toDouble / a.length) else 1.0) * 1e6 + 0.5) / 1e6
      assert(p.getAs[Double]("bp") == bp, s"bp ${p}")
    }
  }

  test("phrase search: repeated-word phrases, overlapping occurrences, tie-break") {
    import spark.implicits._
    // "a a a a" makes the top trigram "a a a" (count 2 in doc 0 — the
    // OVERLAPPING occurrences a classic index join must not merge, and a
    // repeated-word phrase where all three posting legs filter the SAME
    // term); doc 1 contributes one more and wins the count; doc 2 has no
    // match and must not appear
    val docs = Seq(
      (0L, "a a a a"),
      (1L, "x a a a y"),
      (2L, "a b a b a"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextOps.phraseSearchTopGram(docs, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out == Map(0L -> ("a a a", 2L), 1L -> ("a a a", 1L)), out.toString)
    // tie-break: equal counts resolve by gram ASC — "a b c" < "b c d"
    val tie = Seq((0L, "a b c"), (1L, "b c d")).toDF("doc_id", "text")
    val t = TextOps.phraseSearchTopGram(tie, n = 3).collect()
    assert(t.map(_.getString(1)).distinct.toSeq == Seq("a b c"))
    // the match path is the index join, not a text rescan: the posting
    // filter (isin over the phrase words) sits in the plan
    val q = TextOps.phraseSearchTopGram(docs, n = 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("posexplode"), s"expected positional postings:\n$plan")
  }

  test("full curation pipeline: each stage drops its target and the " +
    "composition equals the hand-chained stages") {
    import spark.implicits._
    // 30 filler tokens shared ONLY by the near-dup pair (6, 7): one
    // trailing-token difference over 34 tokens → verified jaccard
    // 25/35 ≈ 0.7143 ≥ 0.7, while docs 1/4 carry disjoint tails so no
    // other pair collides
    val tail30 = (1 to 30).map(k => s"s$k").mkString(" ")
    val raw = Seq(
      (1L, "the a of w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12", "en"),
      (2L, "der die und der die und der die und", "en"), // text says de
      (3L, "und und und und", "de"),                     // de, low quality
      (4L, "the a of v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12", "en"),
      (5L, "the a of v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12", "en"),
      (6L, s"the a of $tail30 ten", "en"),
      (7L, s"the a of $tail30 eleven", "en"))
    val docs = raw.map { case (i, t, l) => (i, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.curationPipelineFull(docs, contextTokens = 16)

    // the hand-chained composition of the PUBLIC stage operators — the
    // pipeline's contract is that it equals exactly this
    val d1 = docs.join(TextOps.languageId(docs)
      .filter(col("lang_match")).select("doc_id"), Seq("doc_id"), "left_semi")
    val d2 = d1.join(TextOps.qualityScore(d1)
      .filter(col("quality_score") >= 0.35).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val d3 = d2.join(TextOps.exactDedup(d2)
      .select(col("canonical_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val d4 = d3.join(TextOps.minhashPairs(d3, n = 5, threshold = 0.7)
      .select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val d5 = d4.join(TextOps.decontaminate(d4)
      .filter(!col("contaminated")).select("doc_id"), Seq("doc_id"), "left_semi")
    val manual = TextOps.packDocuments(d5, contextTokens = 16)
      .withColumn("shard", pmod(
        TextOps.portableHash64(col("first_doc_id").cast("string")), lit(64L)))
      .select(out.columns.map(col).toSeq: _*)
    assert(out.except(manual).count() == 0 && manual.except(out).count() == 0)

    // the funnel, stage by stage: 2 lang-dropped (label/text disagree),
    // 3 quality-dropped, 5 exact-dup loser (canonical 4), 7 near-dup
    // loser (keep-first); none of the spec ids is in the bench split
    // (sha-fold mod 10 of 'bench:<id>' is nonzero for ids 1-7), so the
    // decontaminate stage passes 1, 4, 6 through
    val kept = d5.select(col("doc_id")).as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 6L), s"survivors $kept")
    // packing: en docs 1 (15 toks) + 4 (15 toks) fill pack 0 of the
    // 16-token grid (doc 4 STARTS at offset 15 inside pack 0 — the
    // streaming-fill discretization), doc 6 (34 toks) starts pack 1
    val packs = out.collect().map(r =>
      r.getAs[Long]("pack_id") -> r.getAs[Long]("n_docs")).toMap
    assert(packs == Map(0L -> 2L, 1L -> 1L), s"packs $packs")
  }
}
