package graft

import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

/** ANN quality: the approximate paths must actually approximate — recall is
  * measured against the exact brute-force result on real testdata. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

  test("IVF top-k recall vs brute force is >= 0.6 at nprobe=4/16") {
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    val approx = topkSet(Similarity.ivfTopK(emb, numQueries = 10, k = 5, c = 16, nprobe = 4))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }

  test("recall eval: full probing scores exactly 1.0; report matches the set math") {
    // nprobe = c admits every partition, so IVF IS brute force -> recall 1.0
    val full = Similarity.recallEval(emb, numQueries = 10, k = 5,
      c = 16, nprobe = 16).collect()
    assert(full.length == 10)
    assert(full.forall(r => r.getAs[Double]("recall") == 1.0 &&
      r.getAs[Long]("n_hits") == 5L))
    // at nprobe = 4 the report equals the independently computed set overlap
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    val approx = topkSet(Similarity.ivfTopK(emb, numQueries = 10, k = 5,
      c = 16, nprobe = 4))
    val report = Similarity.recallEval(emb, numQueries = 10, k = 5,
      c = 16, nprobe = 4).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    (0L until 10L).foreach { q =>
      val expect = (exact.filter(_._1 == q).map(_._2) &
        approx.filter(_._1 == q).map(_._2)).size.toLong
      assert(report(q) == expect, s"query $q")
    }
  }

  test("hard negatives: no same-label neighbor ever appears; ranks dense; subset of other-label corpus") {
    val labels = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val out = Similarity.hardNegatives(emb, numQueries = 10, k = 5).collect()
    assert(out.length == 10 * 5)
    out.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("neighbor_id")
      assert(labels(q) != labels(n), s"same-label pair ($q, $n)")
      assert(r.getAs[Int]("neg_label") == labels(n))
    }
    // ranks are 1..k per query
    val ranks = out.groupBy(_.getAs[Long]("query_id"))
      .map { case (_, rs) => rs.map(_.getAs[Int]("rank")).sorted.toList }
    assert(ranks.forall(_ == List(1, 2, 3, 4, 5)))
  }

  test("mrl recall: full width scores exactly 1.0; report is per (dims, query)") {
    val out = Similarity.mrlRecallEval(emb, numQueries = 10, k = 5,
      dims = Seq(16, 64)).collect()
    assert(out.length == 2 * 10)
    val byDim = out.groupBy(_.getAs[Int]("dims"))
    // 64 = the table's full width -> truncation is identity -> recall 1.0
    assert(byDim(64).forall(_.getAs[Double]("recall") == 1.0))
    assert(byDim(16).forall { r =>
      val rec = r.getAs[Double]("recall")
      rec >= 0.0 && rec <= 1.0 &&
        rec == r.getAs[Long]("n_hits").toDouble / 5.0
    })
  }

  test("brute-force plan broadcasts the query side (no corpus shuffle)") {
    val plan = Similarity.bruteForceTopK(emb, 10, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("mmr: redundant twin loses to the diverse pick; greedy invariants hold") {
    import spark.implicits._
    // query 0 = e1 axis. A (id 1) and its twin A' (id 2) are near-identical
    // (pairwise cosine ~0.9998); B (id 3) mirrors A across the query axis,
    // so it matches A's ~0.8 relevance while overlapping A at only ~0.28.
    // Pure relevance ranks A, A', B — MMR at lambda 0.7 must pick A then B
    // (the twin's ~0.3 redundancy penalty sinks it to third).
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.81f, 0.59f, 0.0f), 0),
      (2L, Array(0.8f, 0.601f, 0.0f), 0),
      (3L, Array(0.8f, -0.6f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrSelect(rows, numQueries = 1, candidates = 3, k = 3)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 3L, 2L), out.mkString("; "))
    assert(out.map(_.getAs[Int]("mmr_rank")).toSeq == Seq(1, 2, 3))
    // greedy marginal scores never increase (penalties only grow)
    val scores = out.map(_.getAs[Double]("mmr_score")).toSeq
    assert(scores == scores.sorted.reverse, scores)
    // first pick is the pure-relevance argmax
    assert(out.head.getAs[Double]("relevance") ==
      out.map(_.getAs[Double]("relevance")).max)
  }

  test("mmr on real data: k distinct picks per query, rank-1 equals exact top-1") {
    val out = Similarity.mmrSelect(emb, numQueries = 5, candidates = 10, k = 4).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 4, s"query $q")
      assert(rows.map(_.getAs[Long]("neighbor_id")).distinct.length == 4)
      assert(rows.map(_.getAs[Int]("mmr_rank")).sorted.toSeq == Seq(1, 2, 3, 4))
    }
    val exact = Similarity.bruteForceTopK(emb, numQueries = 5, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    byQ.foreach { case (q, rows) =>
      val first = rows.minBy(_.getAs[Int]("mmr_rank")).getAs[Long]("neighbor_id")
      assert(first == exact(q), s"query $q rank-1 must be the exact top-1")
    }
  }

  test("covariance + jacobi: hand-computed 2-d eigensystem recovered exactly") {
    import spark.implicits._
    // mean-zero points: C = [[5,4],[4,5]], eigenpairs (9, (1,1)/sqrt2) and
    // (1, (1,-1)/sqrt2) — integer covariance, so the 1e-6 grid is exact
    val emb = Seq(
      (0L, Array(3.0f, 3.0f), 0), (1L, Array(-3.0f, -3.0f), 0),
      (2L, Array(1.0f, -1.0f), 0), (3L, Array(-1.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val cov = Array.ofDim[Double](2, 2)
    Similarity.covarianceMatrix(emb).collect().foreach { r =>
      cov(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Double]("cov")
    }
    assert(cov(0)(0) == 5.0 && cov(1)(1) == 5.0 && cov(0)(1) == 4.0 && cov(1)(0) == 4.0,
      cov.map(_.mkString(",")).mkString(";"))
    val (ev, vecs) = Similarity.jacobiEigen(cov)
    assert(math.abs(ev(0) - 9.0) < 1e-9 && math.abs(ev(1) - 1.0) < 1e-9, ev.toSeq)
    val s = 1.0 / math.sqrt(2.0)
    assert(math.abs(vecs(0)(0) - s) < 1e-9 && math.abs(vecs(0)(1) - s) < 1e-9, vecs(0).toSeq)
    assert(math.abs(vecs(1)(0) - s) < 1e-9 && math.abs(vecs(1)(1) + s) < 1e-9, vecs(1).toSeq)
    // projections onto the leading axis: (3,3) -> 6/sqrt2, (1,-1) -> 0
    val p = Similarity.pcaProject(emb, k = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("component")) -> r).toMap
    def q4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    assert(p((0L, 0)).getAs[Double]("score") == q4(6.0 * s))
    assert(p((2L, 0)).getAs[Double]("score") == 0.0)
    assert(p((2L, 1)).getAs[Double]("score") == q4(2.0 * s))
    // whitening: score / sqrt(eigenvalue)
    assert(p((0L, 0)).getAs[Double]("white_score") == q4(6.0 * s / 3.0))
  }

  test("covariance moment kernel: bit-identical to the explode-agg reference on ragged/edge corpora") {
    // The r16 per-partition kernel replaced a chained posexplode + decimal
    // hash agg; this pins the two shapes to the SAME decimals on exactly
    // the inputs where they could drift: ragged vector lengths (per-cell
    // counts differ by cell), negative and sub-1e-10 values (decimal
    // quantization edges), a null embedding row (contributes nothing), an
    // empty array, and a multi-partition layout (partial-merge order).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.DeterministicAgg.exactSum
    def reference(embeddings: org.apache.spark.sql.DataFrame) = {
      // the pre-r16 shape, verbatim (minus the spread, irrelevant to values)
      val base = embeddings.select(
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val xi = base.select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
      val pairs = xi.select(col("i"), col("xi"),
        posexplode(col("v")).as(Seq("j", "xj")))
      val cells = pairs.groupBy("i", "j").agg(
        count(lit(1)).as("n_vectors"),
        exactSum(col("xi") * col("xj")).as("sij"))
      val sums = base.select(posexplode(col("v")).as(Seq("i", "xi")))
        .groupBy("i").agg(exactSum(col("xi")).as("si"))
      cells.as("c")
        .join(broadcast(sums.as("mi")), col("c.i") === col("mi.i"))
        .join(broadcast(sums.as("mj")), col("c.j") === col("mj.i"))
        .select(col("c.i").as("i"), col("c.j").as("j"), col("n_vectors"),
          graft.functions.DeterministicAgg.roundFixed(
            (col("sij") - col("mi.si") * col("mj.si") / col("n_vectors"))
              / col("n_vectors"), 6).as("cov"))
    }
    val rng = new scala.util.Random(421)
    val rows: Seq[(Long, Array[Float], Int)] =
      (0L until 37L).map { id =>
        val len = Seq(1, 2, 3, 5)(rng.nextInt(4))
        val v = Array.fill(len)(
          (rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 5)).toFloat)
        (id, v, 0)
      } ++ Seq((90L, null.asInstanceOf[Array[Float]], 0),
               (91L, Array.empty[Float], 0))
    val emb = rows.toDF("vec_id", "embedding", "label").repartition(7)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
        (r.getAs[Long]("n_vectors"), r.getAs[Double]("cov"))).toMap
    val got = keyed(Similarity.covarianceMatrix(emb))
    val want = keyed(reference(emb))
    assert(got == want,
      s"kernel/reference drift: ${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
  }

  test("variance diagonal kernel: bit-identical to covarianceMatrix's i==j cells on ragged/edge corpora") {
    // r17: opqPermutation consumes only the diagonal, so it rides an O(d)
    // per-row kernel instead of the O(d²) moment grid — this pins the two
    // paths to the SAME doubles on the same hostile fixture as the full
    // kernel's reference test (ragged lengths, sub-1e-10 values, null and
    // empty embeddings, multi-partition partial merge order).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(421)
    val rows: Seq[(Long, Array[Float], Int)] =
      (0L until 37L).map { id =>
        val len = Seq(1, 2, 3, 5)(rng.nextInt(4))
        val v = Array.fill(len)(
          (rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 5)).toFloat)
        (id, v, 0)
      } ++ Seq((90L, null.asInstanceOf[Array[Float]], 0),
               (91L, Array.empty[Float], 0))
    val embFix = rows.toDF("vec_id", "embedding", "label").repartition(7)
    val want = Similarity.covarianceMatrix(embFix)
      .filter(col("i") === col("j"))
      .collect().map(r => r.getAs[Int]("i") -> r.getAs[Double]("cov")).toMap
    val got = Similarity.varianceDiagonal(embFix)
      .collect().map(r => r.getAs[Int]("i") -> r.getAs[Double]("cov")).toMap
    assert(got == want,
      s"diagonal/full drift: ${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
  }

  test("pca on real data: orthonormal components, small residual, unit whitened variance") {
    val d = 64
    val cov = Array.ofDim[Double](d, d)
    Similarity.covarianceMatrix(emb).collect().foreach { r =>
      cov(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Double]("cov")
    }
    val (ev, vecs) = Similarity.jacobiEigen(cov)
    // eigenvalues sorted non-increasing, PSD up to numerical noise
    assert(ev.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(ev.forall(_ > -1e-9), ev.min)
    // orthonormality of the top-8 used by the projection
    for (a <- 0 until 8; b <- 0 until 8) {
      val dp = (0 until d).map(i => vecs(a)(i) * vecs(b)(i)).sum
      assert(math.abs(dp - (if (a == b) 1.0 else 0.0)) < 1e-8, s"($a,$b) $dp")
    }
    // eigen residual ||Cv - ev*v||_inf on the leading component
    val r0 = (0 until d).map { i =>
      math.abs((0 until d).map(j => cov(i)(j) * vecs(0)(j)).sum - ev(0) * vecs(0)(i))
    }.max
    assert(r0 < 1e-7, r0)
    // whitened scores have ~unit variance per component (rounding-limited)
    val rows = Similarity.pcaProject(emb, k = 4).collect()
    val byC = rows.groupBy(_.getAs[Int]("component"))
    byC.foreach { case (c, rs) =>
      val ws = rs.map(_.getAs[Double]("white_score"))
      val m = ws.sum / ws.length
      val varW = ws.map(x => (x - m) * (x - m)).sum / ws.length
      assert(math.abs(varW - 1.0) < 0.05, s"component $c variance $varW")
    }
  }

  test("LSH pair finding reports only pairs above threshold, verified exactly") {
    val pairs = Similarity.lshNearDupPairs(emb, threshold = 0.4).collect()
    assert(pairs.forall(_.getAs[Double]("cosine") >= 0.4))
    // candidates come from bucket equi-joins, not a cross join
    val plan = Similarity.lshNearDupPairs(emb, threshold = 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("auto mode REFUSES a threshold its tables cannot serve; expert mode bypasses") {
    // 16 tables at 4 bits give recall 0.886 at cosine 0.3 — just under the
    // 0.9 honesty bar: the build must throw, not silently under-recall
    val e = intercept[IllegalArgumentException](
      Similarity.lshNearDupPairs(emb, threshold = 0.3))
    assert(e.getMessage.contains("cannot serve threshold"))
    // explicit bitsPerTable is expert mode: the caller owns recall
    assert(Similarity.lshNearDupPairs(emb, threshold = 0.3, bitsPerTable = 4)
      .columns.contains("cosine"))
  }

  test("IVF assignment is shuffle-free: only the final ranking exchanges/windows") {
    val plan = Similarity.ivfTopK(emb, 10, 5).queryExecution.executedPlan.toString
    // the old join+row_number assignment added 2 extra Windows and their
    // Exchanges; now the ONLY window is the final top-k ranking and the only
    // hash exchange is the one feeding it ("Window \[" does not match the
    // WindowGroupLimit top-k pushdown nodes, which are welcome)
    assert("Window \\[".r.findAllIn(plan).size == 1, s"extra Window in:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"extra Exchange in:\n$plan")
  }

  test("LSH bucket cap bounds candidates on a pathologically clustered corpus") {
    import spark.implicits._
    // 100 identical vectors: every table puts them all in ONE bucket — an
    // uncapped join would verify 4950 pairs; the rank-cap keeps cap members
    // per bucket so at most cap*(cap-1)/2 pairs can ever emerge
    val dim = 8
    val v = Seq.tabulate(dim)(i => 0.1f * (i + 1))
    val clustered = (0L until 100L).map(i => (i, v)).toDF("vec_id", "embedding")
    val cap = 16
    val pairs = Similarity.lshNearDupPairs(clustered, threshold = 0.9,
      numTables = 4, bitsPerTable = 4, dim = dim, bucketCap = cap).collect()
    assert(pairs.nonEmpty)
    assert(pairs.length <= cap * (cap - 1) / 2, s"${pairs.length} pairs exceed cap bound")
  }

  test("LSH auto-bits keeps recall on true near-duplicates") {
    import spark.implicits._
    // 40 random-ish base vectors plus 10 planted near-duplicates (tiny
    // perturbation → cosine ~1): auto-bits bucketing must recover the
    // planted pairs via some table
    val dim = 16
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val dups = base.take(10).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val found = Similarity.lshNearDupPairs(df, threshold = 0.95, dim = dim)
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val recall = (0L until 10L).count(i => found.contains((i, i + 1000L))) / 10.0
    assert(recall >= 0.9, s"planted near-dup recall $recall, found=$found")
  }

  test("quoted LSH threshold is honest: s-curve recall >= 0.9 at the driver parameterization") {
    // recall(c) = 1 − (1 − p^bits)^tables, p = 1 − arccos(c)/π — the
    // standard random-hyperplane s-curve. The driver quotes threshold 0.85
    // at 16 tables with auto-bits; this pins the bound AT THE QUOTED
    // THRESHOLD for the bit counts the auto rule actually picks at the
    // driver's correctness (sf0.01, N=500) and bench (sf0.1, N=5000) scales
    // (round-3 verdict #1 — no more quoting thresholds the parameterization
    // cannot serve).
    val quotedThreshold = 0.85
    val numTables = 16
    def recallAt(c: Double, tables: Int, bits: Int): Double =
      Similarity.sCurveRecall(c, tables, bits)
    // the bit counts the driver ACTUALLY runs with: read the real corpus
    // sizes (a fictional pinned N let the invariant hold by accident —
    // round-4 review finding)
    val driverNs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").map(d => Tables.embeddings(spark, d).count())
    val clamp = Similarity.maxBitsForRecall(quotedThreshold, numTables)
    // the recall clamp makes the bound hold at EVERY corpus size, not just
    // the current testdata: effective bits = min(autoBits(n), clamp)
    (driverNs ++ Seq(20000L, 1000000L, Long.MaxValue)).foreach { n =>
      val bits = math.min(Similarity.autoBits(n), clamp)
      val r = recallAt(quotedThreshold, numTables, bits)
      assert(r >= 0.9, s"recall $r at n=$n (bits $bits) — quoted threshold dishonest")
    }
    // the clamp binds where unclamped auto-bits would break the rule
    assert(clamp == 10)
    assert(recallAt(quotedThreshold, numTables, 11) < 0.9)
    // and the converse that motivated the rule: 0.4 at 9 bits is a ~22% sample
    assert(recallAt(0.4, numTables, 9) < 0.3)
  }

  test("planted near-dup gate is NON-VACUOUS: >= 20 pairs found, all planted, spanning the threshold") {
    // round-4 verdict #3: the real corpus's max pairwise cosine (~0.51) is
    // below the honest 0.85 quote, so emb_lsh_pairs' oracled output is 0
    // rows and its full-pipeline hash-match proves nothing about
    // buckets/cap/verify. The planted twin must produce a non-trivial pair
    // set — this pins that on the same corpus the driver gate reads.
    val union = Similarity.plantNearDups(emb)
    val pairs = Similarity.lshNearDupPairs(union, threshold = 0.85).collect()
    assert(pairs.length >= 20, s"only ${pairs.length} planted pairs surfaced")
    // every surviving pair is an (original, its planted copy) pair — real
    // corpus pairs stay below threshold — and the verify filter held.
    // The auto id offset is max(vec_id) + 1 (collision-free at any scale).
    val offset = emb.agg(max(col("vec_id"))).first().getLong(0) + 1L
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(b == a + offset, s"unexpected pair ($a, $b)")
      assert(r.getAs[Double]("cosine") >= 0.85)
    }
    // ...and the threshold DISCRIMINATES on this fixture: some planted
    // copies (large sign-flipped dims) fall under 0.85 and must be absent,
    // so the gate exercises the reject path on non-empty candidates too
    assert(pairs.length < 40,
      "all 40 planted pairs passed — fixture no longer spans the threshold")
  }

  test("integer auto-bits matches the ceil-log2 intent and clamps to [4, 16]") {
    assert(Similarity.autoBits(0L) == 4)
    assert(Similarity.autoBits(16L) == 4)
    assert(Similarity.autoBits(257L) == 5) // 16·2^4 = 256 < 257
    assert(Similarity.autoBits(256L) == 4) // exact boundary: 16·2^4 ≥ 256
    assert(Similarity.autoBits(Long.MaxValue) == 16)
  }

  test("int8 quantization: zero vector hits the scale=0 branch; round-trip error is small") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f), "z"),
      (2L, Seq(1.0f, -0.5f, 0.25f, -1.0f), "v")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.quantizeInt8(df).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out(1L).getAs[Double]("scale") == 0.0)
    assert(out(1L).getAs[String]("q") == "0,0,0,0")
    assert(out(1L).getAs[Double]("mean_abs_err") == 0.0)
    // |x|max = 1.0 → scale 127; ±1 map to ±127 exactly
    assert(out(2L).getAs[Double]("scale") == 127.0)
    assert(out(2L).getAs[String]("q").split(",").head == "127")
    assert(out(2L).getAs[Double]("mean_abs_err") <= 0.5 / 127.0 + 1e-9)
  }

  test("IVF with the k-means-trained codebook meets the recall bound") {
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    val trained = topkSet(Similarity.ivfTopKTrained(emb, numQueries = 10, k = 5,
      c = 8, iters = 3, nprobe = 4))
    val recall = (exact & trained).size.toDouble / exact.size
    assert(recall >= 0.6, s"trained-IVF recall $recall")
  }

  test("precomputed codebook reproduces the trained-IVF result without retraining") {
    val cb = Similarity.trainedCodebook(emb, k = 8, iters = 3)
    assert(cb.nonEmpty)
    // building N plans from the cached codebook reruns NO Lloyd loop (the
    // advisor's eager-construction point); results are identical
    val fromCache = topkSet(Similarity.ivfTopKPrecomputed(emb, cb,
      numQueries = 10, k = 5, nprobe = 4))
    val trained = topkSet(Similarity.ivfTopKTrained(emb, numQueries = 10, k = 5,
      c = 8, iters = 3, nprobe = 4))
    assert(fromCache == trained)
    // the codebook IS the published centroids: assigning against it can be
    // reproduced from the kmeansCentroids rows alone
    val published = Similarity.kmeansCentroids(emb, k = 8, iters = 3).collect()
      .groupBy(_.getAs[Long]("cluster_id"))
      .map { case (cid, rs) =>
        cid -> rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid_val")).toSeq
      }
    assert(cb.map { case (cid, v, _) => cid -> v.toSeq }.toMap ==
      published.filter { case (_, v) => v.exists(_ != 0.0) })
  }

  test("kmeans: more Lloyd iterations do not worsen the clustering objective") {
    def codebook(iters: Int): Map[Long, Array[Double]] =
      Similarity.kmeansCentroids(emb, k = 8, iters = iters).collect()
        .groupBy(_.getAs[Long]("cluster_id"))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid_val"))
        }
    val vectors = emb.collect().map(
      _.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    def cosDist(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      1.0 - dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def objective(cb: Map[Long, Array[Double]]): Double =
      vectors.map(v => cb.values.map(c => cosDist(v, c)).min).sum
    val sse1 = objective(codebook(1))
    val sse3 = objective(codebook(3))
    // NOT a strict Lloyd guarantee: assignment is by cosine but the update
    // is the unnormalized mean (spherical k-means would use the normalized
    // mean), so the objective can wobble slightly on heterogeneous-norm
    // data — assert it does not materially WORSEN rather than strict
    // monotone descent
    assert(sse3 <= sse1 * 1.05 + 1e-9, s"objective rose >5%: iter1=$sse1 iter3=$sse3")
  }

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val v = transform(col("embedding"), x => x.cast("double"))
    val c = df.select(Similarity.cosine(v, v).as("c")).collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("pq codes: every vector gets one code per subspace, from the trained codebook") {
    import org.apache.spark.sql.functions._
    val codes = Similarity.pqAssignCodes(emb, numSubspaces = 4, k = 4, iters = 1)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("subspace"),
        r.getAs[Long]("code")))
    val n = emb.count()
    assert(codes.length == 4 * n) // one code per (vector, subspace)
    assert(codes.map(c => (c._1, c._2)).distinct.length == codes.length)
    // codes come from the subspace's trained cluster-id domain
    val cbIds = Similarity.pqCodebooks(emb, numSubspaces = 4, k = 4, iters = 1)
      .select(col("subspace"), col("cluster_id")).distinct().collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Long]("cluster_id"))).toSet
    assert(codes.forall(c => cbIds.contains((c._2, c._3))),
      "a code fell outside the trained codebook")
  }

  test("lsh auto-bits from parquet footers: zero jobs at build, bits value unchanged") {
    val dir = "/root/testdata/sf0.001"
    // footer sweep must agree exactly with a full count (bits parity)
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    assert(n == Tables.embeddings(spark, dir).count(), "footer count diverged")
    assert(Similarity.autoBits(n) > 0) // same N -> same autoBits, trivially
    @volatile var jobs = 0
    val descs = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1
        descs += Option(js.properties.getProperty("spark.job.description"))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // building the driver query twice must launch no Spark job (r5
      // verdict #6: the auto-bits count() used to fire per construction)
      SparkEntry.queries("emb_lsh_pairs")(spark, dir)
      SparkEntry.queries("emb_lsh_pairs")(spark, dir)
      Thread.sleep(500) // listener bus is async; give events time to land
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 0,
      s"plan construction launched $jobs Spark job(s): ${descs.mkString("; ")}")
  }

  test("semanticK keeps expected cluster size constant: floor at kMin, then ceil(N/target)") {
    // below the floor the minimum wins (500 + 50 planted at sf0.01 → 8) …
    assert(Similarity.semanticK(550L) == 8)
    assert(Similarity.semanticK(1L) == 8)
    // … and past it k tracks N so |cluster| ≈ target stays constant:
    // candidates ≈ N·target/2 (linear), never N²/2k (fixed-k quadratic)
    assert(Similarity.semanticK(2040L) == 9)
    assert(Similarity.semanticK(20040L) == 81)
    assert(Similarity.semanticK(2040L, targetClusterSize = 100) == 21)
  }

  test("semantic dedup: greedy keep-first-id contract holds exactly; planted dups drop") {
    val planted = Similarity.plantNearDups(emb)
    val out = Similarity.semanticDedup(planted, k = 8, iters = 2,
      threshold = 0.85).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("kept")))).toMap
    assert(out.size == planted.count(), "one row per input vector")
    // non-vacuity: the raw corpus max cosine sits ~0.5, so every drop is a
    // planted near-dup — and some planted pairs must actually co-cluster
    val dropped = out.collect { case (id, (_, false)) => id }
    assert(dropped.nonEmpty, "no drops: the planted fixture went vacuous")
    val maxRealId = emb.agg(max(col("vec_id"))).first().getLong(0)
    assert(dropped.forall(_ > maxRealId), "a raw-corpus vector was dropped")
    // the full contract, re-derived locally from the output's OWN cluster
    // assignment: kept(x) == no same-cluster earlier-id y with cos > t
    val vecs = planted.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    out.foreach { case (id, (cl, kept)) =>
      val expectDrop = out.exists { case (id2, (cl2, _)) =>
        id2 < id && cl2 == cl && cos(vecs(id2), vecs(id)) > 0.85
      }
      assert(kept == !expectDrop, s"vec $id: kept=$kept, contract says ${!expectDrop}")
    }
  }

  test("pq ADC search: recall vs brute force, codes-only scoring, shuffle-free encode") {
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    // This fixture is a HARD ANN instance: top-5 cosines sit ~0.27-0.39
    // against a 0.125-σ random background, so PQ reconstruction error blurs
    // genuinely small margins. A float64 numpy replica of ADC measures the
    // honest ceiling: ~0.12 recall at 4×8, ~0.2 at 8×16, ~0.4 at 16×16,
    // ~0.68 at 32×16 — and this engine lands ON that curve (0.22 at 8×16),
    // which is itself evidence the estimator is right. Measure at 16×16
    // (16 bytes/vector) with slack for the 2-iteration trainer; the driver
    // query's 4×8 is the compression-ratio showcase end of the dial.
    val adc = Similarity.pqSearchTopK(emb, numQueries = 10, k = 5,
      numSubspaces = 16, codewords = 16)
    val recall = (exact & topkSet(adc)).size.toDouble / exact.size
    // ≫ random (k/N = 5/200 ≈ 0.025); numpy ceiling at this budget ≈ 0.4
    assert(recall >= 0.3, s"ADC recall $recall")
    // the serving plan never joins corpus VECTORS against queries: after
    // encoding, scoring flows through the 4 code columns only, and the one
    // join is the broadcast of the 10-row query-table relation
    val plan = adc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // encode stage is shuffle-free: the only exchange is the rank window's
    // (count within the final plan only — AQE's toString repeats the tree
    // under "== Initial Plan ==")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.split("Exchange hashpartitioning").length - 1 == 1, plan)
  }

  test("rq codebooks: additive stages strictly reduce aggregate reconstruction error") {
    // the POINT of residual quantization: stage s+1 quantizes what stage
    // s left over, so ‖x − x̂‖² summed over the corpus must shrink when
    // the stage-1 codeword is added to the reconstruction. Replicate the
    // encode in plain Scala against the published (rounded) codebooks.
    val cb = Similarity.rqCodebooks(emb, numStages = 2, k = 8, iters = 2)
      .collect()
      .groupBy(r => (r.getAs[Int]("stage"), r.getAs[Long]("cluster_id")))
      .map { case (key, rs) =>
        key -> rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid_val"))
      }
    val vecs = emb.collect().map(r =>
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    def argmin(v: Array[Double], stage: Int): Array[Double] = {
      val cands = cb.collect { case ((s, _), cw) if s == stage => cw }
        .filter(cw => cw.map(x => x * x).sum > 0)
      cands.minBy(cw => cw.zip(v).map { case (c, x) => (x - c) * (x - c) }.sum)
    }
    def err(rs: Seq[Array[Double]]): Double =
      rs.map(_.map(x => x * x).sum).sum
    val r1 = vecs.toSeq.map { v =>
      val c = argmin(v, 0); v.zip(c).map { case (x, cc) => x - cc }
    }
    val r2 = r1.map { r =>
      val c = argmin(r, 1); r.zip(c).map { case (x, cc) => x - cc }
    }
    assert(err(r2) < err(r1) * 0.95,
      s"stage 1 must materially reduce residual energy: ${err(r1)} -> ${err(r2)}")
  }

  test("rq ADC search: one stage degenerates to flat PQ exactly; plan shape matches the ADC discipline") {
    // RQ with a single stage IS flat one-subspace PQ (no cross terms, the
    // same rounded codebook, the same ADC estimator) — row-identical
    val rq1 = Similarity.rqSearchTopK(emb, numQueries = 10, k = 5,
      numStages = 1, codewords = 8, iters = 2)
    val pq1 = Similarity.pqSearchTopK(emb, numQueries = 10, k = 5,
      numSubspaces = 1, codewords = 8, iters = 2)
    assert(rq1.collect().map(_.toSeq).toSet == pq1.collect().map(_.toSeq).toSet)
    // the 2-stage serving plan: corpus vectors never join queries — one
    // broadcast of the 10-row query tables, shuffle-free encode, single
    // window exchange
    val rq2 = Similarity.rqSearchTopK(emb, numQueries = 10, k = 5)
    val plan = rq2.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.split("Exchange hashpartitioning").length - 1 == 1, plan)
    // determinism + shape invariants
    val rows = rq2.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length), q)
      assert(rs.forall(_.getAs[Long]("neighbor_id") != q), q)
    }
    assert(rows.map(_.toSeq).toSet ==
      Similarity.rqSearchTopK(emb, numQueries = 10, k = 5)
        .collect().map(_.toSeq).toSet)
  }

  test("opq: orthonormal rotation, rotation-invariant exact top-k, materially lower PQ distortion on anisotropic data") {
    import spark.implicits._
    // anisotropic fixture — the case OPQ exists for: the first 16 of 64
    // dims carry 8x the per-dim energy, so plain PQ's contiguous slices
    // concentrate the corpus variance into ONE subspace's 8 codewords
    // while three subspaces quantize noise
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 120L).map { i =>
      i -> (0 until 64).map(j =>
        (rnd.nextGaussian() * (if (j < 16) 8.0 else 1.0)).toFloat)
    }
    val fix = vecs.toDF("vec_id", "embedding")
    val r = Similarity.opqRotation(fix, numSubspaces = 4)
    // orthonormal by construction: R rows are covariance eigenvectors
    for (i <- r.indices; j <- r.indices) {
      val d = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-8, s"RR^T($i,$j)=$d")
    }
    // rotation preserves inner products and norms -> the EXACT top-k is
    // invariant (pair sets compared; rounded cosines can move an ulp)
    val rotated = Similarity.rotateVectors(fix, r)
    assert(topkSet(Similarity.bruteForceTopK(fix, numQueries = 8, k = 5)) ==
      topkSet(Similarity.bruteForceTopK(rotated, numQueries = 8, k = 5)))
    // PQ reconstruction distortion: sum over vectors/subspaces of
    // ||slice - codeword||^2, computed from the published artifacts.
    // Total energy is rotation-invariant, so the comparison is fair.
    def distortion(df: org.apache.spark.sql.DataFrame): Double = {
      val cb = Similarity.pqCodebooks(df, 4, 8, 2, 64).collect()
        .groupBy(rr => (rr.getAs[Int]("subspace"), rr.getAs[Long]("cluster_id")))
        .map { case (key, rs) =>
          key -> rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid_val"))
        }
      val codes = Similarity.pqAssignCodes(df, 4, 8, 2, 64).collect()
        .map(rr => (rr.getAs[Long]("vec_id"), rr.getAs[Int]("subspace")) ->
          rr.getAs[Long]("code")).toMap
      val vs = df.collect().map(rr => rr.getAs[Long]("vec_id") ->
        rr.getAs[scala.collection.Seq[AnyVal]]("embedding").map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray).toMap
      vs.iterator.map { case (id, v) =>
        (0 until 4).map { s =>
          val slice = v.slice(s * 16, (s + 1) * 16)
          val cw = cb((s, codes((id, s))))
          slice.zip(cw).map { case (x, c) => (x - c) * (x - c) }.sum
        }.sum
      }.sum
    }
    val plain = distortion(fix)
    val opq = distortion(rotated)
    assert(opq < plain * 0.8,
      s"OPQ must materially cut distortion on anisotropic data: $opq vs $plain")
    // end-to-end serving path is deterministic with the standard shape
    val res = Similarity.opqSearchTopK(fix, numQueries = 8, k = 5)
    val rows = res.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length), q)
      assert(rs.forall(_.getAs[Long]("neighbor_id") != q), q)
    }
    assert(rows.map(_.toSeq).toSet ==
      Similarity.opqSearchTopK(fix, numQueries = 8, k = 5)
        .collect().map(_.toSeq).toSet)
  }

  test("opq serpentine permutation: valid, spreads the hot block evenly, and cuts distortion vs contiguous slices") {
    import spark.implicits._
    // the rotation spec's anisotropic fixture: dims 0..15 carry 8x the
    // energy, so contiguous-slice PQ concentrates the corpus variance
    // into ONE subspace's 8 codewords
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 120L).map { i =>
      i -> (0 until 64).map(j =>
        (rnd.nextGaussian() * (if (j < 16) 8.0 else 1.0)).toFloat)
    }
    val fix = vecs.toDF("vec_id", "embedding")
    val perm = Similarity.opqPermutation(fix, numSubspaces = 4)
    // a genuine permutation of 0..63, w dims per subspace
    assert(perm.sorted.toSeq == (0 until 64), perm.mkString(","))
    // the serpentine deal gives each subspace exactly 4 of the 16
    // high-variance dims — the balancing OPQ's allocation exists for
    (0 until 4).foreach { s =>
      val hot = perm.slice(s * 16, (s + 1) * 16).count(_ < 16)
      assert(hot == 4, s"subspace $s got $hot hot dims: ${perm.mkString(",")}")
    }
    // deterministic artifact, and materially lower total quantization
    // error than the identity permutation (= plain contiguous PQ)
    def total(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(_.getAs[Double]("distortion")).sum
    val opq = total(Similarity.opqDistortion(fix))
    assert(opq == total(Similarity.opqDistortion(fix)), "non-deterministic")
    val plain = total(Similarity.pqDistortionUnder(
      fix, (0 until 64).toArray, numSubspaces = 4))
    assert(opq < plain * 0.8,
      s"variance-balanced allocation must cut distortion: $opq vs $plain")
  }

  test("power iteration converges to Jacobi's dominant eigenpair on gapped data, unit norm, deterministic") {
    import spark.implicits._
    // ONE dominant direction (a spike-plus-noise model): every vector is
    // a ±20-scaled copy of a fixed direction plus small isotropic noise,
    // so lambda1/lambda2 ~ 400/0.25 and 10 iterations converge many
    // orders past the 1e-6 grid (a merely anisotropic 16-hot-dim fixture
    // has NEAR-TIED top eigenvalues — power iteration's rate is
    // (lambda2/lambda1)^t, so it was still 1.3% off after 10 rounds)
    val rnd = new scala.util.Random(21)
    val u = Array.tabulate(64)(j => math.sin(j + 1.0))
    val fix = (0L until 150L).map { i =>
      val a = rnd.nextGaussian() * 20.0
      i -> (0 until 64).map(j =>
        (a * u(j) + rnd.nextGaussian() * 0.5).toFloat)
    }.toDF("vec_id", "embedding")
    val rows = Similarity.powerIteration(fix).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val v = rows.map(_._2)
    val lam = rows.head._3
    assert(rows.length == 64 && rows.forall(_._3 == lam))
    // unit vector (1e-6 rounding slack) and positive dominant eigenvalue
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
    assert(lam > 0.0)
    // agrees with the full Jacobi solve's dominant pair: same eigenvalue
    // and |cosine(v, v_jacobi)| ~ 1 (signs are independently fixed)
    val covRows = Similarity.covarianceMatrix(fix).collect()
    val d = 64
    val cov = Array.ofDim[Double](d, d)
    covRows.foreach(r =>
      cov(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Double]("cov"))
    val (eigvals, eigvecs) = Similarity.jacobiEigen(cov)
    assert(math.abs(lam - eigvals.max) < 1e-3 * math.abs(eigvals.max),
      s"power $lam vs jacobi ${eigvals.max}")
    val vj = eigvecs(eigvals.indexOf(eigvals.max))
    val cos = v.zip(vj).map { case (a, b) => a * b }.sum
    assert(math.abs(math.abs(cos) - 1.0) < 1e-4, s"cos=$cos")
    // residual: ||C v - lambda v|| small relative to lambda
    val res = (0 until d).map { i =>
      val cvi = (0 until d).map(j => cov(i)(j) * v(j)).sum
      val r = cvi - lam * v(i); r * r
    }.sum
    assert(math.sqrt(res) < 1e-3 * lam, s"residual ${math.sqrt(res)}")
    // deterministic artifact
    assert(Similarity.powerIteration(fix).collect().map(_.toSeq).toSeq ==
      Similarity.powerIteration(fix).collect().map(_.toSeq).toSeq)
  }

  test("fixed-sweep Jacobi matches the convergence-gated solver on the same block, certificate tiny, deterministic") {
    // the driver query's 4x4 leading block on the real test corpus: the
    // FIXED 3-sweep chain must land on the production jacobiEigen's
    // eigenvalues (which iterates to 1e-18 off-diagonal) — 3 sweeps on a
    // 4x4 converge quadratically far past the 1e-6 output grid
    val rows = Similarity.jacobiFixedEigvals(emb).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("eig_val"),
        r.getAs[Double]("off2"))).sortBy(_._1)
    assert(rows.length == 4)
    // the hashed convergence certificate: off-diagonal mass after the
    // fixed sweeps rounds to zero even at the 1e-9 grid
    assert(rows.forall(_._3 == 0.0), rows.mkString(", "))
    // eigenvalues descending
    assert(rows.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    // equal to the production solver on the identical rounded block
    import org.apache.spark.sql.functions.{col, slice}
    val covRows = Similarity.covarianceMatrix(
      emb.select(col("vec_id"), slice(col("embedding"), 1, 4).as("embedding")))
      .collect()
    val cov = Array.ofDim[Double](4, 4)
    covRows.foreach(r =>
      cov(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Double]("cov"))
    val (eigvals, _) = Similarity.jacobiEigen(cov)
    rows.map(_._2).zip(eigvals).foreach { case (fixed, full) =>
      assert(math.abs(fixed - full) < 1e-5, s"fixed $fixed vs full $full")
    }
    // deterministic artifact
    assert(Similarity.jacobiFixedEigvals(emb).collect().map(_.toSeq).toSeq ==
      Similarity.jacobiFixedEigvals(emb).collect().map(_.toSeq).toSeq)
  }

  test("power scores match pcaProject's top-two centered projections on gapped data") {
    import spark.implicits._
    // TWO well-separated spikes (scales 20 and 8 on near-orthogonal fixed
    // directions) + small noise: lambda1/lambda2 ~ 400/64 and
    // lambda2/lambda3 ~ 64/0.25, so both the dominant chain and the
    // deflated chain converge many orders past the 1e-4 score grid
    val rnd = new scala.util.Random(22)
    val u1 = Array.tabulate(64)(j => math.sin(j + 1.0))
    val u2 = Array.tabulate(64)(j => math.cos(j + 1.0))
    val fix = (0L until 200L).map { i =>
      val a = rnd.nextGaussian() * 20.0
      val b = rnd.nextGaussian() * 8.0
      i -> (0 until 64).map(j =>
        (a * u1(j) + b * u2(j) + rnd.nextGaussian() * 0.3).toFloat)
    }.toDF("vec_id", "embedding")
    def scoreMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s1 = scoreMap(Similarity.powerScores(fix, component = 1))
    val s2 = scoreMap(Similarity.powerScores(fix, component = 2))
    assert(s1.size == 200 && s2.size == 200)
    // the Jacobi reference: pcaProject's (vec_id, component, score) rows
    val pca = Similarity.pcaProject(fix, k = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("component")) ->
        r.getAs[Double]("score")).toMap
    val scale1 = s1.values.map(math.abs).max
    val scale2 = s2.values.map(math.abs).max
    assert(scale1 > 1.0 && scale2 > 1.0, s"degenerate fixture $scale1 $scale2")
    // power component k projects onto (approximately) the same sign-fixed
    // basis vector Jacobi finds — agreement within a relative whisker
    // (both artifacts independently round at 1e-4; convergence leaves
    // ~(lambda2/lambda1)^10 relative direction error)
    s1.foreach { case (id, s) =>
      assert(math.abs(s - pca((id, 0))) < 1e-3 * scale1,
        s"component-1 score for $id: $s vs ${pca((id, 0))}")
    }
    s2.foreach { case (id, s) =>
      assert(math.abs(s - pca((id, 1))) < 1e-3 * scale2,
        s"component-2 score for $id: $s vs ${pca((id, 1))}")
    }
    // empirical orthogonality of the two score columns (centered data):
    // |corr| should be noise-level
    val n = s1.size.toDouble
    val xy = s1.keys.map(id => s1(id) * s2(id)).sum / n
    val v1 = s1.values.map(x => x * x).sum / n
    val v2 = s2.values.map(x => x * x).sum / n
    assert(math.abs(xy) / math.sqrt(v1 * v2) < 0.05,
      s"score columns not orthogonal: corr=${xy / math.sqrt(v1 * v2)}")
    // deterministic artifact
    assert(scoreMap(Similarity.powerScores(fix, component = 2)) == s2)
  }

  test("k-means seeds fail fast on a non-dense-id corpus instead of training an empty codebook") {
    import spark.implicits._
    // ids offset by 1000: zero rows satisfy vec_id < k, yet the corpus
    // is non-empty — the old behavior trained an EMPTY codebook and
    // every downstream artifact degenerated gate-consistently (the
    // oracle replays the same seed rule); now it refuses loudly
    val offset = (0L until 30L).map { i =>
      (i + 1000L) -> Seq.fill(64)(0.1f * (i % 7))
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(offset, k = 8, iters = 1).collect()
    }
    assert(e.getMessage.contains("dense from 0"), e.getMessage)
    // a corpus SMALLER than k with dense ids stays legal (every row
    // seeds — the established small-corpus behavior)
    val rnd = new scala.util.Random(3)
    val tiny = (0L until 3L).map { i =>
      i -> Seq.fill(64)(rnd.nextGaussian().toFloat)
    }.toDF("vec_id", "embedding")
    assert(Similarity.kmeansCentroids(tiny, k = 8, iters = 1)
      .select(col("cluster_id")).distinct().count() == 3)
  }

  test("rq ADC search: degenerate inputs degrade to empty, not to a crash") {
    val empty = emb.filter(org.apache.spark.sql.functions.lit(false))
    assert(Similarity.rqSearchTopK(empty, numQueries = 10, k = 5).count() == 0)
  }

  test("pq ADC search: degenerate inputs degrade to empty, not to a crash") {
    val empty = emb.filter(org.apache.spark.sql.functions.lit(false))
    assert(Similarity.pqSearchTopK(empty, numQueries = 10, k = 5).count() == 0)
  }

  test("ivfpq: probing EVERY partition reproduces flat PQ exactly") {
    // with nprobe = c the probe gate admits every (query, neighbor) pair,
    // so the composed index must return row-for-row what flat ADC returns —
    // the contract that the IVF stage only PRUNES, never rescores
    val flat = Similarity.pqSearchTopK(emb, numQueries = 10, k = 5)
      .collect().map(_.toSeq).toSet
    val full = Similarity.ivfpqSearchTopK(emb, numQueries = 10, k = 5,
      c = 8, nprobe = 8).collect().map(_.toSeq).toSet
    assert(full == flat)
  }

  test("ivfpq recall vs flat PQ; one scan, no exchange before the window") {
    val flat = topkSet(Similarity.pqSearchTopK(emb, numQueries = 10, k = 5))
    val ivfpq = topkSet(Similarity.ivfpqSearchTopK(emb, numQueries = 10,
      k = 5, c = 8, nprobe = 4))
    val recall = (flat & ivfpq).size.toDouble / flat.size
    assert(recall >= 0.5, s"ivfpq recall vs flat PQ $recall")
    // partition assignment + PQ encode + probe gate are all map-side: the
    // only Exchange in the plan feeds the final per-query ranking window
    val plan = Similarity.ivfpqSearchTopK(emb, numQueries = 10, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected at most the window Exchange, got $exchanges")
  }

  test("binary quantize: hand-computed sign codes, strict >0 rule, popcount") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(0.5f, -1f, 0f, 2f), 0),  // bits 0,3 -> 9 (0.0 is NOT set)
      (1L, Seq(-1f, 1f, 1f, -1f), 0),   // bits 1,2 -> 6
      (2L, Seq(0f, 0f, 0f, 0f), 0)      // all zero -> 0
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.binaryQuantize(df, dims = 4).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("code"), r.getAs[Long]("n_positive")))).toMap
    assert(out == Map(0L -> ((9L, 2L)), 1L -> ((6L, 2L)), 2L -> ((0L, 0L))))
  }

  test("sign code uses all 64 bits: bit 63 lands on Long.MinValue cleanly") {
    import spark.implicits._
    val v = Seq.tabulate(64)(i => if (i == 63) 1f else -1f)
    val df = Seq((0L, v, 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.binaryQuantize(df).collect().head
    assert(out.getAs[Long]("code") == Long.MinValue)
    assert(out.getAs[Long]("n_positive") == 1L)
  }

  test("hamming top-k: hand-computed ranks; ties break on neighbor_id") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(0.5f, -1f, 0f, 2f), 0),  // code 9
      (1L, Seq(-1f, 1f, 1f, -1f), 0),   // code 6
      (2L, Seq(0f, 0f, 0f, 0f), 0)      // code 0
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hammingTopK(df, numQueries = 2, k = 2, dims = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("hamming")))).toMap
    // q0 (code 9): ham(9,0)=2 beats ham(9,6)=4; q1 (code 6): ham(6,0)=2
    assert(out == Map(
      (0L, 1) -> ((2L, 2L)), (0L, 2) -> ((1L, 4L)),
      (1L, 1) -> ((2L, 2L)), (1L, 2) -> ((0L, 4L))))
  }

  test("hamming plans: codes-only scored join, no cartesian, no corpus shuffle") {
    val plan = Similarity.hammingTopK(emb, 10, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("Join BuildRight"))
    // the code projections sit BELOW the join (in the scan stages); every
    // operator downstream of it — window, rank filter, output project —
    // touches only (id, code, hamming) longs, never the float arrays
    val aboveJoin = plan.substring(0, plan.indexOf("Join"))
    assert(!aboveJoin.contains("embedding#"),
      "float arrays leaked above the scored join")
  }

  test("hamming rerank recall vs brute force; shortlist depth is the dial") {
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    val rerank20 = topkSet(
      Similarity.hammingRerankTopK(emb, numQueries = 10, k = 5, shortlist = 20))
    val rerank50 = topkSet(
      Similarity.hammingRerankTopK(emb, numQueries = 10, k = 5, shortlist = 50))
    val pure = topkSet(Similarity.hammingTopK(emb, numQueries = 10, k = 5))
    val r20 = (exact & rerank20).size.toDouble / exact.size
    val r50 = (exact & rerank50).size.toDouble / exact.size
    val rPure = (exact & pure).size.toDouble / exact.size
    // 1-bit codes on raw (non-centered) vectors rank COARSELY — measured
    // 0.4 at shortlist 20 on this corpus, vs 0.2 for the codes alone. The
    // honest contract is not high absolute recall at a fixed depth; it is
    // (a) the exact rerank recovers at least what the codes alone rank,
    // and (b) recall is monotone in shortlist depth (the serving dial a
    // production config turns, exactly like nprobe for IVF).
    assert(r20 >= rPure, s"rerank@20 $r20 < pure $rPure")
    assert(r50 >= r20, s"recall not monotone in depth: @50 $r50 < @20 $r20")
    assert(r20 >= 0.3, s"rerank@20 recall $r20 under the measured floor")
    assert(r50 >= 0.5, s"rerank@50 recall $r50 under the measured floor")
  }

  test("rrf fusion: exact recompute from the two legs; one-leg ranks coalesce to 0") {
    val dense = Similarity.bruteForceTopK(emb, numQueries = 10, k = 20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Int]("rank")).toMap
    val ham = Similarity.hammingTopK(emb, numQueries = 10, k = 20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Int]("rank")).toMap
    // driver-side reference fusion: identical formula, identical doubles
    val rrf = (dense.keySet ++ ham.keySet).map { key =>
      key -> (dense.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        ham.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0))
    }.toMap
    val expectedRank = rrf.groupBy(_._1._1).flatMap { case (_, perQ) =>
      perQ.toSeq.sortBy { case ((_, n), s) => (-s, n) }.take(5).zipWithIndex
        .map { case ((key, _), i) => key -> (i + 1) }
    }
    val got = Similarity.rrfFusion(emb).collect()
    assert(got.length == 10 * 5)
    got.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Int]("rank") == expectedRank(key), s"rank mismatch $key")
      assert(r.getAs[Long]("rank_dense") == dense.getOrElse(key, 0).toLong)
      assert(r.getAs[Long]("rank_hamming") == ham.getOrElse(key, 0).toLong)
      // a neighbor must come from at least one leg
      assert(r.getAs[Long]("rank_dense") > 0 || r.getAs[Long]("rank_hamming") > 0)
    }
  }

  test("pq codebooks: each subspace equals a standalone k-means on its slice") {
    import org.apache.spark.sql.functions._
    val pq = Similarity.pqCodebooks(emb, numSubspaces = 4, k = 4, iters = 2)
      .collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Long]("cluster_id"),
        r.getAs[Int]("dim")) -> r.getAs[Double]("centroid_val")).toMap
    // 4 subspaces × ≤4 clusters × 16 dims, every dim in [0, 16)
    assert(pq.keys.map(_._1).toSet == Set(0, 1, 2, 3))
    assert(pq.keys.forall { case (_, _, d) => d >= 0 && d < 16 })
    // subspace independence: subspace 2 must be bit-identical to running
    // the shared Lloyd trainer directly on that slice
    val solo = Similarity.kmeansCentroids(
      emb.select(col("vec_id"), slice(col("embedding"), 33, 16).as("embedding")),
      k = 4, iters = 2).collect()
      .map(r => (2, r.getAs[Long]("cluster_id"), r.getAs[Int]("dim")) ->
        r.getAs[Double]("centroid_val")).toMap
    assert(solo == pq.filter(_._1._1 == 2), "subspace 2 diverged from solo run")
    // a PERMUTED group — the OPQ-distortion path — equals a standalone
    // k-means on the same dims gathered into a vector
    val perm = Similarity.opqPermutation(emb, numSubspaces = 4)
    val groups = (0 until 4).map(s => perm.slice(s * 16, (s + 1) * 16).toSeq)
    val trained = Similarity.lloyd(emb, k = 4, iters = 2)(_ => groups)
    val permSolo = Similarity.kmeansCentroids(
      emb.select(col("vec_id"),
        array(groups(1).map(p => col("embedding").getItem(p)): _*).as("embedding")),
      k = 4, iters = 2).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Int]("dim"),
        r.getAs[Double]("centroid_val"))).toSet
    assert(groups(1) != (groups(1).head until groups(1).head + 16), "not permuted")
    assert(permSolo.nonEmpty && permSolo == trained(1).rows.toSet,
      "permuted group diverged from solo run")
  }

  test("pq codebooks: the training job count does not grow with the subspace count") {
    // jobs launched while the codebooks train: the seed collect and the
    // corpus spread once, then one job per Lloyd iteration
    def trainingJobs(numSubspaces: Int, iters: Int): Int = JobCount(spark) {
      Similarity.pqCodebooks(emb, numSubspaces = numSubspaces, k = 4, iters = iters)
    }
    val (two, four, threeIters) = (trainingJobs(2, 2), trainingJobs(4, 2), trainingJobs(4, 3))
    val setUp = two - 2
    assert(two == four && threeIters == four + 1 && setUp >= 0 && setUp <= 2,
      s"training jobs: $two with 2 subspaces, $four with 4, $threeIters with 3 iterations")
  }

  test("hnsw build: geometric layers, rank-capped out-degree, edges stay within layer membership") {
    val edges = Similarity.hnswBuild(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(4)))
    assert(edges.nonEmpty)
    // deterministic rebuild: identical edge set
    val again = Similarity.hnswBuild(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(4)))
    assert(edges.toSet == again.toSet)
    // out-degree <= m per (level, src); ranks dense from 1
    edges.groupBy(e => (e._1, e._2)).foreach { case (k, es) =>
      assert(es.length <= 8, s"$k out-degree ${es.length}")
      assert(es.map(_._4).sorted.toSeq == (1 to es.length), k)
    }
    // layer populations decay ~4x: level-(l+1) nodes are a strict subset
    // of level-l nodes, and each layer above 0 is much smaller
    val perLayer = (0 to 3).map(l =>
      l -> edges.filter(_._1 == l).flatMap(e => Seq(e._2, e._3)).toSet).toMap
    (1 to 3).foreach { l =>
      assert(perLayer(l).subsetOf(perLayer(l - 1)),
        s"layer $l not nested in ${l - 1}")
    }
    assert(perLayer(1).size < perLayer(0).size / 2,
      s"layer 1 ${perLayer(1).size} vs layer 0 ${perLayer(0).size}")
    // no self-loops
    assert(edges.forall(e => e._2 != e._3))
  }

  test("hnsw published index: the serving plan is a pure walk — zero build work, identical rows") {
    val idx = Similarity.hnswIndex(emb)
    val served = Similarity.hnswSearchWithIndex(emb, idx, numQueries = 10, k = 5)
    // no banding, no candidate join, no window — nothing of the BUILD
    // survives into a plan that consumes the published artifact
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("HashAggregate") && !p.contains("Window"), p)
    // bit-identical to the build-inline convenience form
    assert(served.collect().map(_.toSeq).toSet ==
      Similarity.hnswSearchTopK(emb, numQueries = 10, k = 5)
        .collect().map(_.toSeq).toSet)
  }

  test("hnsw sharded serving: per-shard top-k merge never loses recall vs the monolithic graph") {
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
      val approx = topkSet(df)
      (exact & approx).size.toDouble / exact.size
    }
    val mono = recall(Similarity.hnswSearchTopK(emb, numQueries = 10, k = 5))
    val sharded = Similarity.hnswSearchShardedTopK(emb, shards = 4,
      numQueries = 10, k = 5)
    val rows = sharded.collect()
    // schema + dense ranks + no self-matches, like every retriever here
    assert(sharded.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cosine", "rank"))
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length), q)
      assert(rs.forall(_.getAs[Long]("neighbor_id") != q), q)
    }
    // every global winner found BY ITS HOME SHARD survives the merge
    // (depth pad + residence filter), and smaller subgraphs route
    // better in practice — but each walk is still an ef-bounded
    // approximation, so >= monolithic is an empirical tendency, not an
    // invariant: assert the absolute quality bar, record the comparison
    // with slack for routing luck on future fixtures
    val sr = recall(sharded)
    assert(sr >= 0.9, s"sharded recall $sr")
    assert(sr >= mono - 0.1,
      s"sharded $sr far below monolithic $mono — merge likely broken")
    // deterministic run to run
    assert(rows.map(_.toSeq).toSet ==
      Similarity.hnswSearchShardedTopK(emb, shards = 4, numQueries = 10,
        k = 5).collect().map(_.toSeq).toSet)
  }

  test("hnsw distributed serving: identical rows to the collected shard indexes, walk inside typed groups") {
    // the 100 TB path (no collect anywhere) must agree ROW FOR ROW with
    // the collected-artifact path over the same shard count: same
    // per-shard graphs (hnswBuild is deterministic), same walk, same
    // merge — so the convenience artifacts are safe to keep for small
    // corpora
    val dist = Similarity.hnswSearchDistributed(emb, shards = 4,
      numQueries = 10, k = 5)
    val collected = Similarity.hnswSearchShardedWithIndexes(emb,
      Similarity.hnswShardIndexes(emb, shards = 4, numQueries = 10),
      numQueries = 10, k = 5)
    assert(dist.collect().map(_.toSeq).toSet ==
      collected.collect().map(_.toSeq).toSet)
    // the per-process bound: the index is materialized ONLY inside the
    // shard-keyed typed group (a MapGroups node over the shard key —
    // Spark plans flatMapGroups as MapGroups). Build-leg joins may
    // stats-broadcast small relations at this SF — that's Spark's gate,
    // fine — but the walk stage itself must be the typed group, not a
    // broadcast of a collected index artifact.
    val p = dist.queryExecution.executedPlan.toString
    assert(p.contains("MapGroups"), p)
    // quality bar identical to the collected sharded path
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    val approx = topkSet(dist)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"distributed sharded recall $recall")
  }

  test("hnswIndex refuses a corpus beyond its collect bound and points at the distributed path") {
    val e = intercept[IllegalArgumentException] {
      Similarity.hnswIndex(emb, maxCollect = 10L)
    }
    assert(e.getMessage.contains("hnswSearchDistributed"), e.getMessage)
  }

  test("hnsw search: deterministic, self-excluded, recall vs brute force >= 0.9") {
    val res = Similarity.hnswSearchTopK(emb, numQueries = 10, k = 5)
    val rows = res.collect()
    assert(rows.nonEmpty)
    // schema and ranks like every other retriever here
    assert(res.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cosine", "rank"))
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length), q)
      assert(rs.forall(_.getAs[Long]("neighbor_id") != q), s"self in top-k of $q")
    }
    // run-to-run determinism (the argmax walk + id-sorted adjacency)
    val again = Similarity.hnswSearchTopK(emb, numQueries = 10, k = 5).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    // graph traversal must actually approximate the exact answer
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    val approx = topkSet(res)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"hnsw recall $recall")
  }

  test("fixed-step walk: deterministic, self-excluded, and a real approximation of brute force") {
    val res = Similarity.hnswWalkFixedTopK(emb, numQueries = 10, k = 5)
    val rows = res.collect()
    assert(rows.nonEmpty)
    assert(res.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cosine", "rank"))
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length), q)
      assert(rs.forall(_.getAs[Long]("neighbor_id") != q), s"self in top-k of $q")
    }
    // run-to-run determinism — the whole point of fixing the step count
    val again = Similarity.hnswWalkFixedTopK(emb, numQueries = 10, k = 5)
      .collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    // the round-synchronous beam is a genuine serving strategy, not a
    // hash stunt: it must approximate the exact answer about as well as
    // the best-first walk (same graph, same ef-bounded frontier class)
    val exact = topkSet(Similarity.bruteForceTopK(emb, numQueries = 10, k = 5))
    val approx = topkSet(res)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"fixed-step walk recall $recall")
    // and it should mostly agree with the production best-first walk
    val prod = topkSet(Similarity.hnswSearchTopK(emb, numQueries = 10, k = 5))
    val agree = (prod & approx).size.toDouble / prod.size
    assert(agree >= 0.7, s"fixed-step vs best-first agreement $agree")
  }
}
