package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.sources.Tables

class RelationalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("nation_trade_volume: both directions present, no same-nation rows, revenue matches a direct recompute") {
    val out = Relational.nationTradeVolume(Tables.lineitem(spark, dir),
      Tables.orders(spark, dir), Tables.customer(spark, dir),
      Tables.supplier(spark, dir), Tables.nation(spark, dir)).collect()
    val pairs = out.map(r => (r.getAs[String]("supp_nation"),
      r.getAs[String]("cust_nation"))).toSet
    // the symmetric OR admits exactly the two cross directions — a
    // same-nation pair surviving means the residual was dropped
    assert(pairs.subsetOf(Set(("NATION_12", "NATION_13"),
      ("NATION_13", "NATION_12"))), pairs.toString)
    assert(pairs.size == 2, s"one direction missing: $pairs")
    // spot-check one cell against an independent two-filter recompute
    val (sn, cn, yr) = ("NATION_12", "NATION_13", 1997)
    val nat = Tables.nation(spark, dir)
    val sk = Tables.supplier(spark, dir)
      .join(nat.filter(col("n_name") === sn), col("n_nationkey") === col("s_nationkey"))
      .select(col("s_suppkey"))
    val ck = Tables.customer(spark, dir)
      .join(nat.filter(col("n_name") === cn), col("n_nationkey") === col("c_nationkey"))
      .select(col("c_custkey"))
    val expected = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "2000-01-01" &&
        year(col("l_shipdate")) === yr)
      .join(sk, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .join(Tables.orders(spark, dir).join(ck,
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .count()
    val cell = out.find(r => r.getAs[String]("supp_nation") == sn &&
      r.getAs[String]("cust_nation") == cn && r.getAs[Int]("l_year") == yr)
    assert(cell.map(_.getAs[Long]("n_lines")) == Some(expected), cell.toString)
  }

  test("important_parts: every surviving part exceeds twice the independently computed average stock value") {
    val li = Tables.lineitem(spark, dir)
    val restricted = li
      .join(Tables.supplier(spark, dir)
          .join(Tables.nation(spark, dir).filter(col("n_name") === "NATION_12"),
            col("n_nationkey") === col("s_nationkey"))
          .select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(38,10)")).as("val"))
    val decVals = restricted.collect()
      .map(r => r.getAs[Long]("l_partkey") ->
        r.getAs[java.math.BigDecimal]("val")).toMap
    val vals = decVals.map { case (k, v) => k -> v.doubleValue() }
    // threshold via a DECIMAL-exact total cast to double ONCE — matching
    // the engine's exact-sum-then-cast order; an unordered double fold
    // over per-part values carries enough noise to flip a part sitting
    // within ulps of the threshold (round-12 advisor)
    val total = decVals.values
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
    val threshold = 2.0 * total / vals.size
    val survivors = Relational.importantParts(li,
      Tables.supplier(spark, dir), Tables.nation(spark, dir))
      .collect().map(_.getAs[Long]("l_partkey")).toSet
    val expected = vals.filter(_._2 > threshold).keySet
    assert(survivors == expected,
      s"diff: ${(survivors diff expected) ++ (expected diff survivors)}")
  }

  test("approx_count_distinct stays within 5% of the exact distinct count") {
    val events = Tables.events(spark, dir)
    val approx = Relational.eventTypeApproxUsers(events)
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_users")).toMap
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("u")).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e <= 0.05, s"$k approx=${approx(k)} exact=$e")
    }
  }

  test("KMV sketch: exact below k, within ~2sigma of exact above k, deterministic") {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val est = Relational.eventTypeKmvUsers(events, k = 64)
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Double]("approx_users")).toMap
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("u")).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      // KMV sigma ~ 1/sqrt(64) = 12.5%; allow ~2.5 sigma
      assert(math.abs(est(k) - e) / e <= 0.32, s"$k kmv=${est(k)} exact=$e")
    }
    // below k the sketch IS the exact count
    val small = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 7L))
      .toDF("event_type", "user_id")
    val smallEst = Relational.eventTypeKmvUsers(small, k = 64).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("approx_users")).toMap
    assert(smallEst == Map("a" -> 2.0, "b" -> 1.0))
    // the ESTIMATOR branch needs a group with > k distinct users — the real
    // events table at this sf stays below k, which made the accuracy bound
    // vacuous (round-4 review finding): 400 distinct at k=64, sigma ~12.5%
    val big = (1L to 400L).map(u => ("t", u)).toDF("event_type", "user_id")
    val bigEst = Relational.eventTypeKmvUsers(big, k = 64).collect()
      .head.getAs[Double]("approx_users")
    assert(bigEst != 400.0, "estimator branch did not run")
    assert(math.abs(bigEst - 400.0) / 400.0 <= 0.32, s"kmv=$bigEst exact=400")
    // and NULL user_ids are ignored, not hashed (Spark sorts NULL first,
    // DuckDB last — a surviving null would shift the k-th minimum)
    val withNulls = Seq(("a", java.lang.Long.valueOf(1L)), ("a", null.asInstanceOf[java.lang.Long]))
      .toDF("event_type", "user_id")
    assert(Relational.eventTypeKmvUsers(withNulls, k = 64).collect()
      .head.getAs[Double]("approx_users") == 1.0)
    // deterministic under reshuffling (the property HLL cannot oracle)
    val re = Relational.eventTypeKmvUsers(events.repartition(13), k = 64)
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Double]("approx_users")).toMap
    assert(re == est)
    // the O(k)-state Aggregator form computes the IDENTICAL sketch (same
    // distinct-hash set -> same k-th minimum -> same estimate) on both the
    // real corpus and the estimator-branch synthetic
    val bounded = Relational.eventTypeKmvUsersBounded(events, k = 64)
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Double]("approx_users")).toMap
    assert(bounded == est, s"bounded=$bounded window=$est")
    assert(Relational.eventTypeKmvUsersBounded(big, k = 64).collect()
      .head.getAs[Double]("approx_users") ==
      Relational.eventTypeKmvUsers(big, k = 64).collect()
        .head.getAs[Double]("approx_users"))
  }

  test("declarative HLL: both estimator branches within ~3 sigma, deterministic") {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val est = Relational.eventTypeHllUsers(events)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("hll_users"), r.getAs[Long]("v_empty"))).toMap
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("u")).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      // HLL sigma ~ 1.04/sqrt(256) = 6.5%; allow ~3 sigma
      assert(math.abs(est(k)._1 - e) / e <= 0.20, s"$k hll=${est(k)._1} exact=$e")
    }
    // the real corpus at this sf stays small — it exercises the LINEAR
    // COUNTING branch (empty registers remain); the raw-HLL branch needs
    // > 2.5m = 640 distincts, so drive it with a 5000-user synthetic
    val small = est.values.map(_._2)
    assert(small.forall(_ > 0), "expected empty registers on the small corpus")
    val big = (1L to 5000L).map(u => ("t", u)).toDF("event_type", "user_id")
    val bigRow = Relational.eventTypeHllUsers(big).collect().head
    val bigEst = bigRow.getAs[Double]("hll_users")
    assert(math.abs(bigEst - 5000.0) / 5000.0 <= 0.20, s"hll=$bigEst exact=5000")
    // every register occupied at 5000 >> m=256 -> raw branch, not linear
    assert(bigRow.getAs[Long]("v_empty") == 0L, "raw-estimator branch did not run")
    // NULL user_ids are ignored, not hashed (cardinality of non-null values)
    val withNulls = Seq(("a", java.lang.Long.valueOf(1L)),
      ("a", null.asInstanceOf[java.lang.Long])).toDF("event_type", "user_id")
    assert(Relational.eventTypeHllUsers(withNulls).collect()
      .head.getAs[Long]("v_empty") == 255L)
    // register max() is order-insensitive AND duplicate-insensitive, so the
    // result is deterministic under reshuffling WITHOUT a distinct pass —
    // the property that lets HLL skip KMV's distinct shuffle entirely
    val re = Relational.eventTypeHllUsers(events.repartition(13))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("hll_users"), r.getAs[Long]("v_empty"))).toMap
    assert(re == est)
  }

  test("TWAP: hold weights are next-sample gaps, last sample holds nothing") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def t(s: Long) = new java.sql.Timestamp(base + s * 1000L)
    // user 1: value 10 held 60s, then 40 held 540s, then a last sample
    // (dropped): twap = (10*60 + 40*540) / 600 = 37.0 — a plain mean of
    // (10, 40, 7) would say 19, which is the error TWAP exists to fix
    val ev = Seq(
      (1L, 100L, t(0), 10.0),
      (1L, 101L, t(60), 40.0),
      (1L, 102L, t(600), 7.0),
      // user 2: single sample -> no measurable hold -> excluded
      (2L, 200L, t(0), 99.0),
      // user 3: same-second tie broken by event_id -> dt 0 then 30:
      // twap = (5*0 + 8*30)/30 = 8.0
      (3L, 300L, t(0), 5.0),
      (3L, 301L, t(0), 8.0),
      (3L, 302L, t(30), 1.0))
      .toDF("user_id", "event_id", "ts", "value")
    val out = Relational.eventTwap(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(1L, 3L), out.toString)
    assert(out(1L) == ((2L, 600L, 37.0)), out(1L).toString)
    assert(out(3L) == ((2L, 30L, 8.0)), out(3L).toString)
  }

  test("HLL rollup: union-of-sketches equals sketch-of-union, exactly") {
    import spark.implicits._
    // disjoint user sets per type: the merged __all__ estimate must be
    // IDENTICAL to hashing the union directly (same hash -> same
    // register/rho -> same max), not merely close
    val ev = ((1L to 300L).map(u => ("a", u)) ++
      (301L to 700L).map(u => ("b", u))).toDF("event_type", "user_id")
    val rollup = Relational.eventTypeHllRollup(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = Relational.eventTypeHllUsers(
      ev.withColumn("event_type", lit("x"))).collect()
      .head.getDouble(1)
    assert(rollup("__all__") == direct,
      s"merge=${rollup("__all__")} direct=$direct")
    // per-type rows match the non-rollup query too
    val single = Relational.eventTypeHllUsers(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rollup("a") == single("a") && rollup("b") == single("b"))
    // estimates track the disjoint-union arithmetic within sketch error
    assert(math.abs(rollup("__all__") - 700.0) / 700.0 <= 0.20)
  }

  test("hopping windows: 4x row expansion, [start,end) boundaries, one shuffle") {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val out = Relational.hoppingCounts(events, widthMinutes = 360, slideMinutes = 90)
    // every non-null-ts event lands in exactly width/slide = 4 windows
    val total = out.agg(sum($"n_events")).head().getLong(0)
    val n = events.filter($"ts".isNotNull).count()
    assert(total == 4 * n, s"expected ${4 * n} window memberships, got $total")
    // boundary semantics: an event AT a window start belongs to that window
    // and not to the one ending there ([start, end) — Spark contract)
    val one = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 06:00:00"), 1.0))
      .toDF("event_type", "ts", "value")
    val rows = Relational.hoppingCounts(one, 360, 90).collect()
    assert(rows.length == 4)
    val starts = rows.map(_.getTimestamp(0).toString).sorted
    assert(starts.head == "2024-01-01 01:30:00.0" &&
      starts.last == "2024-01-01 06:00:00.0", starts.mkString(", "))
    // one Exchange: the Expand happens below the single hash-agg shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected the window Expand:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"hopping agg should shuffle once:\n$plan")
  }

  test("autocorrelation: alternating series closed form, gap hours count as zero") {
    import spark.implicits._
    // counts [3,1,3,1,...] over 10 hours: mean 2, d_t = 10*c_t - 20 = ±10
    // r1 = 9*(-100)/1000 = -0.9, r2 = 8*100/1000 = 0.8, r3 = -0.7
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 10).flatMap { h =>
      val k = if (h % 2 == 0) 3 else 1
      (0 until k).map(i =>
        ("x", new java.sql.Timestamp(base + h * 3600000L + i * 1000L), 1.0))
    }
    val df = rows.toDF("event_type", "ts", "value")
    val r = Relational.eventAutocorr(df).collect().head
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == -0.9 && r.getDouble(3) == 0.8 &&
      r.getDouble(4) == -0.7, r.toString)
    // a missing hour is a ZERO observation, not a skipped row: two events
    // 2 hours apart -> series [1,0,1], d = [1,-2,1] scaled by 3 -> r1 =
    // (d0*d1 + d1*d2)/sum d^2 = (-2 + -2)/6 = -0.666667 (scale cancels)
    val gap = Seq(
      ("g", new java.sql.Timestamp(base), 1.0),
      ("g", new java.sql.Timestamp(base + 2 * 3600000L), 1.0))
      .toDF("event_type", "ts", "value")
    val g = Relational.eventAutocorr(gap).collect().head
    assert(g.getLong(1) == 3L && g.getDouble(2) == -0.666667, g.toString)
  }

  test("unpivot: long rows equal the wide columns, melt adds no shuffle") {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val long = Relational.eventMetricsLong(events)
    val rows = long.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("value")).toMap
    // 4 metrics per type, no row loss in the melt
    val types = events.select("event_type").distinct().as[String].collect()
    assert(rows.size == 4 * types.length)
    // spot-check one metric column against its direct aggregate
    val nE = events.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    types.foreach(t => assert(rows((t, "n_events")) == nE(t), t))
    // the reshape itself is an Expand on the aggregated side: the long
    // plan carries EXACTLY the wide aggregation's shuffles, none added.
    // Fresh (unexecuted) DataFrame: an executed AQE plan prints Initial
    // AND Final plans, double-counting every Exchange
    val plan = Relational.eventMetricsLong(events)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
    val wide = events.groupBy($"event_type").agg(
      count(lit(1)).cast("double").as("n_events"),
      countDistinct($"user_id").cast("double").as("n_users"),
      graft.functions.DeterministicAgg.sumRounded($"value", 2).as("sum_value"),
      graft.functions.DeterministicAgg.avgRounded($"value", 4).as("avg_value"))
    val widePlan = wide.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length ==
      "Exchange".r.findAllIn(widePlan).length,
      s"unpivot must not add shuffles:\n$plan\n--- wide:\n$widePlan")
  }

  test("count-min sketch: never under-counts, over-counts within eps*N") {
    val events = Tables.events(spark, dir)
    val exact = events.groupBy(col("event_type"), col("user_id"))
      .count().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id")) ->
        r.getAs[Long]("count")).toMap
    val n = events.count()
    val eps = 0.001
    val sketches = Relational.eventTypeCmsUsers(events, eps).collect()
      .map(r => r.getAs[String]("event_type") ->
        org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("cms")))).toMap
    assert(sketches.nonEmpty)
    exact.foreach { case ((typ, uid), cnt) =>
      val est = sketches(typ).estimateCount(uid)
      assert(est >= cnt, s"CMS under-counted $typ/$uid: $est < $cnt")
      assert(est <= cnt + (eps * n).ceil.toLong,
        s"CMS over-counted $typ/$uid beyond eps*N: $est vs $cnt (N=$n)")
    }
  }

  test("rollup emits leaf, subtotal, and grand-total rows") {
    val out = Relational.pricingRollup(Tables.lineitem(spark, dir)).collect()
    val grand = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val subtotals = out.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    val leaves = out.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(grand.length == 1)
    assert(subtotals.nonEmpty && leaves.nonEmpty)
    // subtotals reconcile with leaves
    assert(grand.head.getAs[Long]("n_items") ==
      leaves.map(_.getAs[Long]("n_items")).sum)
  }

  test("as-of join: later errors don't count, same-instant errors do, no-error is null") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      // user 1: error before purchase -> matched
      (1L, ts("2024-01-01 09:00:00"), 1L, "error", 0.0, "{}"),
      (2L, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0, "{}"),
      // user 1: error AFTER the purchase must not affect it
      (3L, ts("2024-01-01 11:00:00"), 1L, "error", 0.0, "{}"),
      (4L, ts("2024-01-01 12:00:00"), 1L, "purchase", 1.0, "{}"),
      // user 2: error at the IDENTICAL instant counts as preceding
      (5L, ts("2024-01-02 10:00:00"), 2L, "error", 0.0, "{}"),
      (6L, ts("2024-01-02 10:00:00"), 2L, "purchase", 1.0, "{}"),
      // user 3: no error at all -> null
      (7L, ts("2024-01-03 10:00:00"), 3L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Relational.lastErrorBeforePurchase(events).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.sql.Timestamp]("last_error_ts"))).toMap
    assert(out(2L).contains(ts("2024-01-01 09:00:00")))
    assert(out(4L).contains(ts("2024-01-01 11:00:00"))) // the 11:00 error precedes 12:00
    assert(out(6L).contains(ts("2024-01-02 10:00:00"))) // tie counts
    assert(out(7L).isEmpty)
  }

  test("operators tolerate empty inputs") {
    import spark.implicits._
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(Relational.lastErrorBeforePurchase(emptyEvents).count() == 0)
    assert(Relational.userActivity(emptyEvents).count() == 0)
    val emptyDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(graft.operators.TextOps.nearDupPairs(emptyDocs).count() == 0)
    assert(graft.operators.TextOps.curationPipeline(emptyDocs).count() == 0)
    assert(graft.operators.TextOps.fingerprints(emptyDocs).count() == 0)
    assert(Relational.scd2UserState(emptyEvents).count() == 0)
    assert(graft.operators.Incremental.scd2Incremental(emptyEvents).count() == 0)
    assert(Relational.valueHistQuantiles(emptyEvents).count() == 0)
    assert(graft.operators.TextOps.corpusDatasheet(emptyDocs)
      .filter(col("metric") === "n_docs").head.getAs[Double]("value") == 0.0)
  }

  test("sessionize: boundary gap stays in-session, strict exceed splits, singleton has zero duration") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      // user 1: 10:00 → 10:30 is EXACTLY the 30-min gap (not >) → same
      // session; 11:30 is 60 min after 10:30 → new session
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:30:00"), 1L, "view", 0.0, "{}"),
      (3L, ts("2024-01-01 11:30:00"), 1L, "view", 0.0, "{}"),
      // user 2: singleton
      (4L, ts("2024-01-02 09:00:00"), 2L, "view", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Relational.sessionize(events, gapMinutes = 30).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("duration_us"))).toMap
    assert(out((1L, 1L)) == ((2L, 1800000000L))) // 10:00+10:30 merged, 30 min span
    assert(out((1L, 2L)) == ((1L, 0L)))
    assert(out((2L, 1L)) == ((1L, 0L)))
    assert(out.size == 3)
  }

  test("scd2: runs collapse, intervals chain with no gaps, current row open-ended") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      // user 1: view view click view -> 3 runs (the second view run is NEW)
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "view", 0.0, "{}"),
      (3L, ts("2024-01-01 10:10:00"), 1L, "click", 0.0, "{}"),
      (4L, ts("2024-01-01 10:20:00"), 1L, "view", 0.0, "{}"),
      // user 2: singleton -> one current row
      (5L, ts("2024-01-02 09:00:00"), 2L, "purchase", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Relational.scd2UserState(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("valid_from")) ->
        ((r.getAs[String]("event_type"), r.getAs[Timestamp]("valid_to"),
          r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current"))))
      .toMap
    assert(out.size == 4)
    assert(out((1L, ts("2024-01-01 10:00:00"))) ==
      (("view", ts("2024-01-01 10:10:00"), 2L, false)))
    assert(out((1L, ts("2024-01-01 10:10:00"))) ==
      (("click", ts("2024-01-01 10:20:00"), 1L, false)))
    assert(out((1L, ts("2024-01-01 10:20:00"))) == (("view", null, 1L, true)))
    assert(out((2L, ts("2024-01-02 09:00:00"))) ==
      (("purchase", null, 1L, true)))
    // intervals chain: every non-current valid_to is some run's valid_from
    val u1 = out.keys.filter(_._1 == 1L).map(_._2).toSet
    out.filter(_._1._1 == 1L).values.filter(!_._4).foreach { v =>
      assert(u1.contains(v._2))
    }
  }

  test("scd2Incremental sliced streaming-fold replay equals the one-shot build") {
    val events = Tables.events(spark, dir)
    val oneShot = Relational.scd2UserState(events)
    // slice counts bracketing the micro-batch granularity: 1 (degenerate —
    // single batch), 3 (the driver query), 7 (runs split mid-interval)
    Seq(1, 3, 7).foreach { k =>
      val inc = graft.operators.Incremental.scd2Incremental(events, k)
      assert(inc.exceptAll(oneShot).count() == 0 &&
        oneShot.exceptAll(inc).count() == 0, s"slices=$k")
    }
  }

  test("scd2Incremental edge rows: null ts dropped, null event_type runs, null user_id, ts ties") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq[(Long, Timestamp, Option[Long], String)](
      // user 1: a null continues the view run; the view after it opens a
      // new run; the row without a ts belongs to no slice
      (1L, ts("2024-01-01 10:00:00"), Some(1L), "view"),
      (2L, ts("2024-01-01 10:05:00"), Some(1L), null),
      (3L, ts("2024-01-01 10:10:00"), Some(1L), "view"),
      (4L, null, Some(1L), "click"),
      // user 2: equal ts, event_id orders view before click
      (6L, ts("2024-01-01 11:00:00"), Some(2L), "click"),
      (5L, ts("2024-01-01 11:00:00"), Some(2L), "view"),
      // user 3: a null after a null starts a new run
      (9L, ts("2024-01-01 10:20:00"), Some(3L), null),
      (10L, ts("2024-01-01 10:25:00"), Some(3L), null),
      // no user_id: one group
      (7L, ts("2024-01-01 12:00:00"), None, "view"),
      (8L, ts("2024-01-01 12:30:00"), None, "view")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.operators.Incremental.scd2Incremental(events).collect()
      .map(r => (Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue),
        r.getAs[String]("event_type"), r.getAs[Timestamp]("valid_from"),
        r.getAs[Timestamp]("valid_to"), r.getAs[Long]("n_events"),
        r.getAs[Boolean]("is_current")))
    assert(got.sortBy(r => (r._1.getOrElse(Long.MinValue), r._3.getTime)).toSeq == Seq(
      (None, "view", ts("2024-01-01 12:00:00"), null, 2L, true),
      (Some(1L), "view", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L, false),
      (Some(1L), "view", ts("2024-01-01 10:10:00"), null, 1L, true),
      (Some(2L), "view", ts("2024-01-01 11:00:00"), ts("2024-01-01 11:00:00"), 1L, false),
      (Some(2L), "click", ts("2024-01-01 11:00:00"), null, 1L, true),
      (Some(3L), null, ts("2024-01-01 10:20:00"), ts("2024-01-01 10:25:00"), 1L, false),
      (Some(3L), null, ts("2024-01-01 10:25:00"), null, 1L, true)))
  }

  test("scd2Incremental: a null that ends a slice still opens a new run after it") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // two slices of 10 minutes: the null is slice 0's last row, so the
    // open run carries it into slice 1
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 10:09:00"), 1L, null),
      (3L, ts("2024-01-01 10:20:00"), 1L, "view"),
      (4L, ts("2024-01-01 10:01:00"), 2L, "click"),
      (5L, ts("2024-01-01 10:08:00"), 2L, null),
      (6L, ts("2024-01-01 10:15:00"), 2L, null)
    ).toDF("event_id", "ts", "user_id", "event_type")
    val inc = graft.operators.Incremental.scd2Incremental(events, 2)
    val oneShot = Relational.scd2UserState(events)
    assert(inc.exceptAll(oneShot).count() == 0 && oneShot.exceptAll(inc).count() == 0,
      inc.collect().mkString("\n"))
    assert(oneShot.count() == 4)
  }

  test("scd2Incremental builds with at most two Spark jobs") {
    // the slice bounds are the only collect: the fold over the slices is
    // one lazy plan, not a job per slice
    var inc: org.apache.spark.sql.DataFrame = null
    val jobs = JobCount(spark) {
      inc = graft.operators.Incremental.scd2Incremental(Tables.events(spark, dir))
    }
    assert(jobs <= 2, s"$jobs construction jobs")
    assert(inc.count() > 0)
  }

  test("histogram-sketch quantiles land within one bucket width of exact") {
    val events = Tables.events(spark, dir)
    val buckets = 256
    // ground truth: the DISCRETE type-1 quantile (value at rank ceil(p·n))
    // — the statistic the sketch's cumulative pick approximates; the picked
    // bucket provably CONTAINS it, so the reported upper boundary brackets
    // it from above within one bucket width
    val byType = events.filter(col("value").isNotNull)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.map(_.getAs[Double]("value")).sorted }
    val est = Relational.valueHistQuantiles(events, buckets).collect()
    assert(est.length == byType.size * 2)
    for (r <- est) {
      val typ = r.getAs[String]("event_type")
      val vs = byType(typ)
      val w = (vs.last - vs.head) / buckets
      val p = r.getAs[Double]("p")
      val truth = vs(math.ceil(p * vs.length).toInt - 1)
      val qUp = r.getAs[Double]("q_upper")
      assert(qUp >= truth - 1e-6 && qUp - truth <= w + 1e-6,
        s"$typ p=$p: est $qUp vs discrete-exact $truth (width $w)")
    }
  }

  test("property: scd2Incremental equals one-shot on random streams with ties") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import java.sql.Timestamp
    import spark.implicits._
    // tiny domains force same-user runs, same-instant ties (resolved by
    // event_id), and users whose events all land in one slice
    val evGen = for {
      user <- Gen.choose(1L, 3L)
      minute <- Gen.choose(0L, 30L)
      typ <- Gen.oneOf("view", "click", "purchase")
    } yield (user, minute, typ)
    val prop = Prop.forAll(Gen.listOfN(25, evGen)) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, m, t), i) =>
        (i.toLong, new Timestamp(1704067200000L + m * 60000L), u, t, 0.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val oneShot = Relational.scd2UserState(rows)
      Seq(2, 4).forall { k =>
        val inc = graft.operators.Incremental.scd2Incremental(rows, k)
        inc.exceptAll(oneShot).count() == 0 && oneShot.exceptAll(inc).count() == 0
      }
    }
    val res = check(Parameters.default
        .withInitialSeed(org.scalacheck.rng.Seed(42L))
        .withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: histQuantiles picks the smallest value at cumulative >= ceil(p*n)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import spark.implicits._
    val rowGen = for {
      lang <- Gen.oneOf("en", "de")
      v <- Gen.choose(0L, 12L)
    } yield (lang, v)
    val ps = Seq(0.1, 0.5, 0.9, 1.0)
    val prop = Prop.forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val df = rows.toDF("lang", "n_chars")
      val got = graft.operators.TextOps.histQuantiles(df, "lang", "n_chars", ps)
        .collect().map(r => (r.getAs[String]("lang"), r.getAs[Double]("p")) ->
          r.getAs[Long]("q")).toMap
      rows.groupBy(_._1).forall { case (lang, g) =>
        val sorted = g.map(_._2).sorted
        ps.forall { p =>
          val rank = math.ceil(p * sorted.length).toInt
          got((lang, p)) == sorted(math.max(rank, 1) - 1)
        }
      }
    }
    val res = check(Parameters.default
        .withInitialSeed(org.scalacheck.rng.Seed(42L))
        .withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("cube gid distinguishes subtotal NULLs; groups reconcile") {
    val out = Relational.pricingCube(Tables.lineitem(spark, dir)).collect()
    val byGid = out.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet == Set(0L, 1L, 2L, 3L)) // leaf, by-flag, by-status, grand
    assert(byGid(3L).length == 1)
    assert(byGid(3L).head.getAs[Long]("n_items") ==
      byGid(0L).map(_.getAs[Long]("n_items")).sum)
  }

  test("window-rank percentiles match the builtin buffering percentile function") {
    val events = Tables.events(spark, dir)
    val ours = Relational.valuePercentiles(events).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"))).toMap
    val builtin = events.filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"))).toMap
    assert(ours.keySet == builtin.keySet)
    ours.foreach { case (k, (p50, p90)) =>
      assert(math.abs(p50 - builtin(k)._1) < 1e-5, s"$k p50")
      assert(math.abs(p90 - builtin(k)._2) < 1e-5, s"$k p90")
    }
  }

  test("purchasers_without_errors plans exactly one shuffle") {
    val plan = Relational.purchasersWithoutErrors(Tables.events(spark, dir))
      .queryExecution.executedPlan.toString
    // one Exchange for the groupBy; the orderBy adds a range exchange —
    // but NOT the three shuffles of distinct+distinct+except
    assert("Exchange".r.findAllIn(plan).length <= 2, plan)
  }

  test("Misra-Gries keeps the superset guarantee under adversarial merge order") {
    val mg = new graft.functions.MisraGries(5)
    // stream: item 1 appears 40 times out of N=100 — far above N/k=20 —
    // among 60 singletons designed to force constant evictions
    val stream = Seq.fill(40)(1L) ++ (100L until 160L)
    // reduce in three chunks, then merge pairwise in both associations
    val chunks = stream.grouped(34).toSeq
      .map(c => c.foldLeft(mg.zero)(mg.reduce))
    val left = mg.merge(mg.merge(chunks(0), chunks(1)), chunks(2))
    val right = mg.merge(chunks(0), mg.merge(chunks(1), chunks(2)))
    assert(mg.finish(left).contains(1L), left.toString)
    assert(mg.finish(right).contains(1L), right.toString)
    // the bound holds at every stage
    (chunks :+ left :+ right).foreach(b => assert(b.size <= 4, b.toString))
  }

  test("heavy users: exact result on planted skew, equal to the plain groupBy") {
    val events = Relational.plantHeavyUsers(Tables.events(spark, dir))
    val got = Relational.heavyUsers(events).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    val n = events.count()
    val threshold = math.ceil(n * 0.01).toLong
    val exact = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= threshold).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    assert(got == exact)
    // at sf0.001 N is small enough that some natural users cross 1% too —
    // the planted user must be among the hitters; exactness above is the
    // real contract (at sf0.01+ ONLY planted users cross, per the oracle)
    assert(got.keySet.exists(_ % 500 == 7), s"planted user missing: $got")
  }

  test("pivot equals conditional aggregation and declares its values (no distinct scan)") {
    val events = Tables.events(spark, dir)
    val got = Relational.eventTypePivot(events)
    val manual = events.groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
      sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"))
    assert(got.exceptAll(manual).count() == 0 && manual.exceptAll(got).count() == 0)
    // cell sums reconcile with the raw event count
    val total = got.select((col("n_click") + col("n_error") + col("n_purchase")
      + col("n_signup") + col("n_view")).as("s"))
      .agg(sum(col("s"))).first().getLong(0)
    assert(total == events.count())
  }

  test("gap fill densifies each user's span with zeros and keeps real counts") {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val out = Relational.userDailyGapfill(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n_events")))
    val byUser = out.groupBy(_._1)
    val daily = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id", "day").count().collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString) ->
        r.getAs[Long]("count")).toMap
    for ((u, rows) <- byUser) {
      val days = rows.map(_._2).sorted
      // contiguous calendar: day count == span length
      val span = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(days.head), java.time.LocalDate.parse(days.last))
      assert(rows.length == span + 1, s"user $u not dense")
      for ((_, d, n) <- rows)
        assert(n == daily.getOrElse((u, d), 0L), s"user $u day $d")
    }
    // fixture non-vacuous: at least one zero-filled day exists
    assert(out.exists(_._3 == 0L))
  }

  test("funnel respects stage order: a purchase before the first view never converts") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      // user 1: clean view -> click -> purchase
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase"),
      // user 2: purchase BEFORE the click-after-view chain completes
      (2L, ts("2024-01-01 09:00:00"), "purchase"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 11:00:00"), "click"),
      // user 3: click precedes the first view -> funnel stalls at view
      (3L, ts("2024-01-01 08:00:00"), "click"),
      (3L, ts("2024-01-01 10:00:00"), "view"),
      // user 4: never viewed -> not in the funnel at all
      (4L, ts("2024-01-01 10:00:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = Relational.funnelStages(df).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((Option(r.getAs[java.sql.Timestamp]("t_click")),
          Option(r.getAs[java.sql.Timestamp]("t_purchase")),
          r.getAs[Boolean]("converted")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((Some(ts("2024-01-01 11:00:00")),
      Some(ts("2024-01-01 12:00:00")), true)))
    assert(got(2L)._1.contains(ts("2024-01-01 11:00:00")) && got(2L)._2.isEmpty
      && !got(2L)._3)
    assert(got(3L)._1.isEmpty && !got(3L)._3)
  }

  test("merge upsert: update row wins wholesale (even nulls), inserts land, rest survive") {
    import spark.implicits._
    val target = Seq((1L, "a", Some(1.0)), (2L, "b", Some(2.0)),
      (3L, "c", Some(3.0))).toDF("id", "name", "v")
    // id 2: matched update with a NULL v — must overwrite 2.0 with null;
    // id 9: pure insert
    val updates = Seq((2L, "B", None: Option[Double]), (9L, "z", Some(9.0)))
      .toDF("id", "name", "v")
    val got = Relational.mergeUpsert(target, updates, key = "id").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("name"), Option(r.getAs[java.lang.Double]("v"))))).toMap
    assert(got == Map(
      1L -> (("a", Some(1.0))), 2L -> (("B", None)),
      3L -> (("c", Some(3.0))), 9L -> (("z", Some(9.0)))))
  }

  test("merge upsert on planted events: overwrites bumped, inserts added, keys unique") {
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val upd = Relational.plantEventUpdates(ev)
    val out = Relational.mergeUpsert(ev, upd)
    val n = ev.count()
    val nIns = ev.filter(pmod(col("event_id"), lit(17)) === 3).count()
    assert(out.count() == n + nIns)
    assert(out.select("event_id").distinct().count() == n + nIns)
    // every %10 row carries the bumped value
    val bumped = out.join(ev.withColumnRenamed("value", "old_v")
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select("event_id", "old_v"), Seq("event_id"))
    assert(bumped.filter(col("value") =!= col("old_v") + 100.0).count() == 0)
    assert(bumped.count() == ev.filter(pmod(col("event_id"), lit(10)) === 0).count())
  }

  test("kmv overlap: exact when k covers the population, estimate within 30% otherwise") {
    val events = Tables.events(spark, dir)
    // k = 4096 >> distinct users: sketch is the full set -> exact answers
    val exactRow = Relational.kmvUserOverlap(events, k = 4096).first()
    val viewers = events.filter(col("event_type") === "view")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val buyers = events.filter(col("event_type") === "purchase")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(exactRow.getAs[Double]("est_union") == (viewers ++ buyers).size.toDouble)
    assert(exactRow.getAs[Double]("est_intersection") ==
      (viewers & buyers).size.toDouble)
    // k = 64 on ~150 users: a real estimate, sanity-banded
    val est = Relational.kmvUserOverlap(events, k = 64).first()
    val u = (viewers ++ buyers).size.toDouble
    val i = (viewers & buyers).size.toDouble
    assert(math.abs(est.getAs[Double]("est_union") - u) / u <= 0.3)
    assert(math.abs(est.getAs[Double]("est_intersection") - i) / math.max(i, 1.0) <= 0.3)
  }

  test("quality report: profiles reconcile with direct counts; planted violations surface") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (Some(ts("2024-01-01 10:00:00")), Some(5L), Some("view"), Some(10.0)),
      (None, Some(-3L), Some("bogus"), Some(2000.0)),
      (Some(ts("2024-01-02 10:00:00")), None, None, None))
      .toDF("ts", "user_id", "event_type", "value")
    val got = Relational.dataQualityReport(df).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    assert(got.keySet == Set("ts", "user_id", "event_type", "value"))
    got.values.foreach(r => assert(r.getAs[Long]("n_rows") == 3L))
    assert(got("ts").getAs[Long]("n_null") == 1L &&
      got("ts").getAs[Long]("n_violations") == 1L)
    assert(got("user_id").getAs[Long]("n_violations") == 2L) // null + negative
    assert(got("event_type").getAs[Long]("n_violations") == 2L) // null + unknown
    assert(got("value").getAs[Long]("n_violations") == 1L) // 2000.0; null is OK
    assert(got("user_id").getAs[String]("min_str") == "-3" &&
      got("user_id").getAs[String]("max_str") == "5")
    assert(got("value").getAs[Long]("n_distinct") == 2L)
    // clean real data: zero violations anywhere
    val real = Relational.dataQualityReport(Tables.events(spark, dir)).collect()
    assert(real.forall(_.getAs[Long]("n_violations") == 0L))
  }

  test("binned interval join equals the naive theta join and never plans a cartesian") {
    val events = Tables.events(spark, dir)
    val got = Relational.eventsInIncidentWindows(events)
    // the naive range join it must equal (crossJoin + residual — the plan
    // shape the binned form exists to avoid)
    val iv = events
      .filter(col("event_type") === "error" && pmod(col("user_id"), lit(50L)) === 0)
      .select(col("event_id").as("interval_id"), col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
    val naive = events.crossJoin(iv)
      .filter(col("ts") >= col("win_start") && col("ts") < col("win_end"))
      .groupBy(col("interval_id"), col("win_start"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
    assert(iv.count() > 0) // fixture non-vacuous at sf0.001
    assert(got.exceptAll(naive).count() == 0 && naive.exceptAll(got).count() == 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(30).mkString("\n"))
  }

  test("point-in-time SCD2 lookup: probe state varies, pre-history purchases null-extend") {
    val events = graft.sources.Tables.events(spark, dir)
    val pit = Relational.purchaseStateBefore(events).collect()
    assert(pit.length == events.filter(col("event_type") === "purchase").count())
    // the 1-hour offset makes the lookup non-vacuous: states other than
    // 'purchase' (and misses) must both occur on real data
    val states = pit.map(r => Option(r.getAs[String]("state_type"))).toSet
    assert(states.exists(_.exists(_ != "purchase")), s"only: $states")
    // a purchase whose probe time precedes the user's first event has no
    // containing interval -> null-extended, never dropped
    val firstTs = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[java.sql.Timestamp]("first_ts")).toMap
    pit.foreach { r =>
      // Instant math keeps the sub-millisecond digits Timestamp.getTime drops
      val probe = r.getAs[java.sql.Timestamp]("ts").toInstant.minusSeconds(3600L)
      val preHistory = probe.isBefore(firstTs(r.getAs[Long]("user_id")).toInstant)
      assert(preHistory == (r.getAs[String]("state_type") == null),
        s"null-extension contract broken for ${r}")
    }
  }

  test("ranked incident-window counts equal the pair-enumerating form, with no pair join") {
    val events = graft.sources.Tables.events(spark, dir)
    val pairForm = Relational.eventsInIncidentWindows(events)
      .select(col("interval_id"), col("win_start"), col("n_events"), col("n_errors"))
    val ranked = Relational.eventsInIncidentWindowsRanked(events)
    // exact multiset equality on the count metrics (the ones rank
    // differences can compute without enumerating event-interval pairs)
    assert(ranked.count() == pairForm.count() && ranked.count() > 0)
    assert(ranked.exceptAll(pairForm).count() == 0 &&
      pairForm.exceptAll(ranked).count() == 0)
    // the scale claim: the ONLY join is the broadcast of the metadata-scale
    // bin-prefix relation — no event-x-interval equi/theta join anywhere,
    // so join output is linear in the corpus instead of TH(N^2/T)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.linesIterator.take(40).mkString("\n"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("join-view maintenance: delta rules equal full recompute, legs disjoint") {
    val orders = graft.sources.Tables.orders(spark, dir)
    val customer = graft.sources.Tables.customer(spark, dir)
    val maintained = graft.operators.Incremental.maintainOrdersView(orders, customer)
    // full recompute over the post-upsert dimension (the oracle's shape)
    val dimNew = customer
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 20 === 0, concat(lit("REV-"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 20 === 0, col("c_acctbal") + lit(100.0))
          .otherwise(col("c_acctbal")))
    val full = orders.join(dimNew, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    assert(maintained.count() == orders.count(),
      "every order appears exactly once in the maintained view")
    assert(maintained.exceptAll(full).count() == 0 &&
      full.exceptAll(maintained).count() == 0)
    // revised customers really flow through the re-derive leg
    val revised = maintained.filter(col("c_mktsegment").startsWith("REV-"))
    assert(revised.count() > 0)
    assert(revised.filter(col("o_custkey") % 20 =!= 0).count() == 0)
  }

  test("Q17 correlated scalar subquery decorrelates into one per-part aggregate + join") {
    val lineitem = graft.sources.Tables.lineitem(spark, dir)
    val part = graft.sources.Tables.part(spark, dir)
    val q = Relational.smallQuantityRevenue(lineitem, part)
    // semantics: identical to the hand-decorrelated DataFrame form
    val avgQ = lineitem.groupBy(col("l_partkey").as("pk"))
      .agg((sum(col("l_quantity").cast("decimal(38,10)")).cast("double") /
        count(col("l_quantity"))).as("avg_qty"))
    val byHand = lineitem
      .join(avgQ, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .join(part, col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        graft.functions.DeterministicAgg.roundFixed(
          sum(col("l_extendedprice").cast("decimal(38,10)")).cast("double") /
            lit(7.0), 4).as("avg_yearly"),
        count(lit(1)).as("n_small"))
    assert(q.count() > 0)
    assert(q.exceptAll(byHand).count() == 0 && byHand.exceptAll(q).count() == 0)
    // the plan claim: NO per-row subquery survives — the correlated scalar
    // subquery is rewritten into a per-part aggregate joined back
    // (RewriteCorrelatedScalarSubquery), so the plan is joins + aggregates
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("subquery"), plan.take(2000))
    assert(plan.contains("HashAggregate"))
  }

  test("retention cohorts: staggered signups and churn produce the hand-computed matrix") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // 2024-01-01 is a Monday. u1 joins week 1, active weeks 1,2,4 (skips
    // 3 — a gap must NOT create a row); u2 joins week 2, active 2 only
    // (churned); u3 joins week 2, active 2 and 3; two events in one week
    // count once (distinct users per cell)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-03 10:00:00")),
      (1L, ts("2024-01-10 10:00:00")), (1L, ts("2024-01-22 10:00:00")),
      (2L, ts("2024-01-08 09:00:00")),
      (3L, ts("2024-01-09 09:00:00")), (3L, ts("2024-01-17 09:00:00"))
    ).toDF("user_id", "ts")
    val got = Relational.retentionCohorts(ev).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2024-01-01", 0) -> 1L, ("2024-01-01", 1) -> 1L,
      ("2024-01-01", 3) -> 1L,
      ("2024-01-08", 0) -> 2L, ("2024-01-08", 1) -> 1L), got)
    // one user_id shuffle feeds both the window and nothing else rescans
    val p = Relational.retentionCohorts(ev).queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
  }

  test("markov: hand-computed transition matrix, absorbing self-loop, mass flows to the sink") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // u1: A->B->A->C, u2: A->B->C. counts: A->B 2, B->A 1, A->C 1, B->C 1.
    // C never transitions out -> absorbing self-loop with p=1, n=0.
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "B"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "A"),
      (4L, ts("2024-01-01 10:03:00"), 1L, "C"),
      (5L, ts("2024-01-01 10:00:00"), 2L, "A"),
      (6L, ts("2024-01-01 10:01:00"), 2L, "B"),
      (7L, ts("2024-01-01 10:02:00"), 2L, "C")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Relational.eventMarkov(ev).collect()
      .map(r => (r.getAs[String]("cur_type"), r.getAs[String]("next_type")) -> r).toMap
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out(("A", "B")).getAs[Long]("n_transitions") == 2L)
    assert(out(("A", "B")).getAs[Double]("p") == q6(2.0 / 3.0))
    assert(out(("A", "C")).getAs[Double]("p") == q6(1.0 / 3.0))
    assert(out(("B", "A")).getAs[Double]("p") == 0.5)
    assert(out(("B", "C")).getAs[Double]("p") == 0.5)
    assert(out(("C", "C")).getAs[Long]("n_transitions") == 0L)
    assert(out(("C", "C")).getAs[Double]("p") == 1.0, "absorbing self-loop")
    // per-row-state probabilities sum to 1
    out.values.groupBy(_.getAs[String]("cur_type")).foreach { case (s, rows) =>
      val sum = rows.map(_.getAs[Double]("p")).sum
      assert(math.abs(sum - 1.0) < 2e-6, s"state $s rows sum to $sum")
    }
    // after 8 sweeps nearly all stationary mass sits in the absorber
    val piC = out(("C", "C")).getAs[Double]("pi_cur")
    assert(piC > 0.9, s"pi(C)=$piC")
    assert(piC > out(("A", "B")).getAs[Double]("pi_cur"))
    assert(piC > out(("B", "A")).getAs[Double]("pi_cur"))
    // no user has 2+ events -> empty matrix must be the empty RELATION
    // (the oracle's behavior), not a driver crash (review finding)
    val loners = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A"),
      (2L, ts("2024-01-01 10:00:00"), 2L, "B")
    ).toDF("event_id", "ts", "user_id", "event_type")
    assert(Relational.eventMarkov(loners).collect().isEmpty)
  }

  test("EWMA: dyadic weights renormalize over present lags; all-null is NULL") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A", Some(1.0)),
      (2L, ts("2024-01-01 10:01:00"), 1L, "A", Some(2.0)),
      (3L, ts("2024-01-01 10:02:00"), 1L, "A", Some(4.0)),
      (4L, ts("2024-01-01 10:00:00"), 2L, "A", None) // lone null value
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Relational.eventEwma(ev).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(out(1L).contains(1.0))              // 0.5*1 / 0.5
    assert(out(2L).contains(1.666667))         // (0.5*2 + 0.25*1) / 0.75
    assert(out(3L).contains(3.0))              // (2 + 0.5 + 0.125) / 0.875
    assert(out(4L).isEmpty)                    // no usable lag -> NULL
    // a null mid-series drops out of numerator AND denominator
    val ev2 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A", Some(8.0)),
      (2L, ts("2024-01-01 10:01:00"), 1L, "A", None),
      (3L, ts("2024-01-01 10:02:00"), 1L, "A", Some(2.0))
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val o2 = Relational.eventEwma(ev2).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(o2(3L).contains((0.5 * 2.0 + 0.125 * 8.0) / 0.625)) // lag1 null skipped
  }

  test("k-anonymity: every published group is >= k, counted over the remainder") {
    import spark.implicits._
    // 5 rows share a 100-bucket (publish at level 0); 4 stragglers in
    // DIFFERENT 100-buckets of one 1000-bucket publish at level 1 ONLY
    // if the remainder count (4) reaches k — with k=4 they do; one
    // outlier nation never reaches k and is suppressed
    val rows =
      (1 to 5).map(i => (i.toLong, "SEG", 1, 150.0 + i)) ++
      Seq((6L, "SEG", 1, 910.0), (7L, "SEG", 1, 820.0),
        (8L, "SEG", 1, 730.0), (9L, "SEG", 1, 640.0)) ++
      Seq((10L, "SEG", 9, 150.0))
    val df = rows.toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    val out = Relational.kAnonymize(df, k = 4).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2), r.getLong(3)))
      .toMap
    assert(out.size == 10, "every customer appears exactly once")
    (1 to 5).foreach(i => assert(out(i.toLong)._1 == 0))
    assert(out(1L)._3 == 5L)
    (6 to 9).foreach(i => assert(out(i.toLong)._1 == 1))
    assert(out(6L)._3 == 4L)
    assert(out(6L)._2 == "SEG|1|[0,1000)")
    assert(out(10L) == ((3, "*", 1L)))
    // the k-anonymity PROPERTY on real data: every published group's
    // actual row count >= k and equals its class_size claim
    val real = Relational.kAnonymize(
      graft.sources.Tables.customer(spark, dir)).collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
    real.groupBy(t => (t._1, t._2)).foreach { case ((lvl, label), g) =>
      assert(g.map(_._3).distinct.length == 1, s"inconsistent size at $label")
      assert(g.length == g.head._3, s"claimed size wrong at $label")
      if (lvl < 3) assert(g.length >= 5, s"group below k at $lvl/$label")
    }
  }

  test("interval join: grid cells find every overlap exactly once, as an equi-join") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one event per minute keeps each user's run a single session
    def run(user: Long, from: String, minutes: Int, base: Long) =
      (0 until minutes).map(i => (base + i,
        new java.sql.Timestamp(ts(from).getTime + i * 60000L), user, "A", 1.0))
    val ev = (
      run(1L, "2024-01-01 10:00:00", 150, 1000) ++ // 10:00-12:29 spans 3 hour-cells
      run(2L, "2024-01-01 11:00:00", 60, 2000) ++  // 11:00-11:59 overlaps u1
      run(3L, "2024-01-01 12:29:00", 2, 3000) ++   // touches u1's last minute
      run(4L, "2024-01-01 20:00:00", 10, 4000)     // disjoint
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Relational.sessionOverlaps(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(6)).toMap
    // exactly the two overlapping pairs, each found ONCE despite the
    // multi-cell span (first-shared-cell dedup)
    assert(out.keySet == Set((1L, 2L), (1L, 3L)))
    assert(out((1L, 2L)) == 59L * 60000000L) // 11:00:00..11:59:00
    assert(out((1L, 3L)) == 0L)              // touching endpoints overlap
    // the plan is an equi-join on the grid cell, never a cartesian or
    // broadcast nested loop (that would be the non-equi fallback)
    val plan = Relational.sessionOverlaps(ev).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("DP noisy counts: Laplace-calibrated, reproducible, clamped at zero") {
    val cust = Tables.customer(spark, dir)
    val out = Relational.dpNoisyCounts(cust).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val truth = cust.groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1))).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.keySet == truth.keySet)
    // the release is noisy (not the true counts), non-negative, and the
    // noise magnitudes look Laplace(1): median |noise| within loose
    // bounds of ln(2) (the Laplace median absolute deviation at b=1)
    val devs = out.map { case (k, v) => math.abs(v - truth(k)) }.toSeq.sorted
    assert(devs.count(_ > 0.0) >= devs.length - 1, "noise must perturb")
    assert(out.values.forall(_ >= 0.0))
    val median = devs(devs.length / 2)
    assert(median > 0.05 && median < 5.0, s"implausible noise median $median")
    // deterministic: the same release twice
    val again = Relational.dpNoisyCounts(cust).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again == out)
    // epsilon scales the noise: eps=0.1 spreads ~10x wider than eps=10
    def mad(eps: Double) = {
      val o = Relational.dpNoisyCounts(cust, eps).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val d = o.map { case (k, v) => math.abs(v - truth(k)) }.toSeq.sorted
      d(d.length / 2)
    }
    assert(mad(0.1) > mad(10.0) * 3, "epsilon must govern the spread")
  }

  test("count-min: estimate upper-bounds the exact count, exact at generous width, grid broadcasts") {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val out = Relational.countMinCounts(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 20)
    // the CM guarantee: min-over-rows never undercounts
    out.foreach { case (u, est, exact) =>
      assert(est >= exact, s"user $u: est $est < exact $exact")
    }
    // deterministic sketch
    assert(Relational.countMinCounts(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      out.toSeq)
    // with width >> distinct keys, collisions vanish and est == exact on
    // a planted fixture whose key set is known
    val planted = (0L until 50L).flatMap(u =>
      Seq.fill((u % 5).toInt + 1)(u)).toDF("user_id")
    Relational.countMinCounts(planted, depth = 4, width = 1 << 16,
        probeLo = 0L, probeHi = 49L)
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"user ${r.getLong(0)}: width 2^16 over 50 keys should be exact")
      }
    // plan shape: the bounded grid broadcasts; the probe side never
    // shuffles the corpus, and the exact side's range filter reaches
    // the scan
    val p = Relational.countMinCounts(ev).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("GreaterThanOrEqual(user_id,0)") ||
      p.contains("In(user_id"), s"probe range not pushed:\n$p")
  }

  test("pareto skyline: dominance filter equals brute force, ties survive") {
    import spark.implicits._
    // (id, x maximize, y maximize): c dominated by a; d/e tie — both stay;
    // b is incomparable to a (better y, worse x)
    val df = Seq(
      (1L, 5.0, 1L), // a
      (2L, 3.0, 4L), // b
      (3L, 4.0, 1L), // c: dominated by a
      (4L, 2.0, 2L), // d: ties e on both dims -> mutually non-dominating
      (5L, 2.0, 2L), // e (but both dominated by b)
      (6L, 5.0, 4L)  // f: dominates everything except nothing dominates it
    ).toDF("id", "x", "y").repartition(3) // force multi-partition phase 1
    val got = Relational.paretoSkyline(df, Seq("x" -> true, "y" -> true))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(6L)) // f dominates a,b,c,d,e
    // drop f: frontier is {a, b} plus the d/e tie pair is dominated by b
    val got2 = Relational.paretoSkyline(df.filter(col("id") =!= 6L),
      Seq("x" -> true, "y" -> true)).collect().map(_.getLong(0)).toSet
    assert(got2 == Set(1L, 2L))
    // tie pair survives together when nothing dominates it
    val got3 = Relational.paretoSkyline(
      Seq((4L, 2.0, 2L), (5L, 2.0, 2L)).toDF("id", "x", "y"),
      Seq("x" -> true, "y" -> true)).collect().map(_.getLong(0)).toSet
    assert(got3 == Set(4L, 5L))
    // minimize direction flips the frontier
    // minimize direction flips the frontier: d/e=(2,2) dominate b and f,
    // c=(4,1) dominates a and is itself undominated (nothing has y < 1)
    val gotMin = Relational.paretoSkyline(df, Seq("x" -> false, "y" -> false))
      .collect().map(_.getLong(0)).toSet
    assert(gotMin == Set(3L, 4L, 5L))
    // brute-force cross-check on real data at sf0.001
    val cust = Tables.customer(spark, dir)
    val ords = Tables.orders(spark, dir)
    val sky = Relational.customerPareto(cust, ords).collect()
    val all = cust.join(ords.groupBy(col("o_custkey"))
        .agg(graft.functions.DeterministicAgg.sumRounded(col("o_totalprice"), 2).as("ts"),
          count(lit(1)).as("no")), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_acctbal").cast("double"), col("ts"), col("no"))
      .as[(Long, Double, Double, Long)].collect()
    val brute = all.filter { c =>
      !all.exists(d => (d._2 >= c._2 && d._3 >= c._3 && d._4 >= c._4) &&
        (d._2 > c._2 || d._3 > c._3 || d._4 > c._4))
    }.map(_._1).toSet
    assert(sky.map(_.getLong(0)).toSet == brute)
    assert(sky.nonEmpty && sky.length < all.length,
      s"skyline ${sky.length} of ${all.length} must be a proper frontier")
  }
}
