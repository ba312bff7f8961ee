package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards for the headline queries: the properties
  * that make them 100 TB-safe (broadcast discipline, single-shuffle shapes,
  * column pruning reaching the scan) are asserted here so a future refactor
  * that silently degrades a plan fails in CI, not in the bench. */
class PlanRegressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllIn(hay).size

  test("driver contract: every query has an oracle and every oracle has a query") {
    // a typo'd or forgotten oracleSql key silently downgrades that query
    // to a rows-only check in the driver's gate — the exact weakening the
    // all-hash-oracled guarantee (zero rows-only entries since round 10)
    // exists to prevent; pin the correspondence both ways
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o,
      s"queries without oracle: ${(q diff o).toSeq.sorted}; " +
        s"oracles without query: ${(o diff q).toSeq.sorted}")
  }

  test("doc_dsir_weights: bounded llr table broadcasts, no cartesian, one materialized corpus pre-agg") {
    val p = plan("doc_dsir_weights")
    // the ≤4096-row llr table broadcasts into the pre-agg join, and the
    // final doc join broadcasts at this SF (stats-gated, no hint)
    assert(count(p, "BroadcastHashJoin") == 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // round-17 one-pass shape: the corpus explodes into ONE materialized
    // (doc, lang, bucket, cnt) pre-aggregation (runtime exchange reuse
    // measurably did not fire for the duplicated-subtree form, so the
    // checkpoint is what makes one-pass REAL); both consumers scan the
    // checkpoint, leaving only the bucket agg and the per-doc agg over
    // already-collapsed rows
    assert(count(p, "Scan ExistingRDD") == 2, p)
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    // the totals window moves only the ≤4096-row counts relation
    assert(count(p, "Exchange SinglePartition") == 1, p)
    // exactly one parquet scan in the final plan (the doc spine); the
    // corpus-explode subtree lives once, inside the checkpoint job
    assert(count(p, "FileScan parquet") == 1, p)
  }

  test("emb_mmr_select: broadcast query stage, bounded typed groups, single corpus pass") {
    val p = plan("emb_mmr_select")
    // query side broadcasts; the corpus is never cartesian-joined
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // top-candidates cut runs map-side (Partial) BEFORE the exchange, so
    // only <= candidates*partitions rows ever shuffle
    assert(count(p, "WindowGroupLimit") == 2 && p.contains(", Partial"), p)
    // both exchanges (window + typed-group key) move the bounded candidate
    // relation only, and the greedy walk is a typed MapGroups, no collect
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(p.contains("MapGroups"), p)
    // column pruning reaches both scans (vec_id + embedding, nothing else)
    assert(count(p, "ReadSchema: struct<vec_id:bigint,embedding:array<float>>") == 2, p)
  }

  test("emb_covariance: one kernel pass, fixed d2-cell agg, window-attached sums, no join") {
    val p = plan("emb_covariance")
    // the corpus scans ONCE into ONE moment kernel — the r16 rewrite's
    // whole point (the old self-join assembly re-planned the kernel
    // subtree per sums leg: 3x the CPU, measured)
    assert(count(p, "FileScan parquet") == 1, p)
    assert(count(p, "MapPartitions") == 1, p)
    // grid agg exchange + the two window exchanges that attach the
    // per-dim sums; all three move only the d² + d grid rows
    assert(count(p, "Exchange hashpartitioning") == 3, p)
    assert(count(p, "Window") == 2, p)
    // no join operator at all, and never a cartesian
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("station_day_agg: one broadcast join, one partial+final agg exchange, no sort-merge") {
    val p = plan("station_day_agg")
    assert(count(p, "BroadcastHashJoin") == 1, p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("region_revenue: the three dimension joins all broadcast, zero fact shuffles before the agg") {
    val p = plan("region_revenue")
    assert(count(p, "BroadcastHashJoin") == 3, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("shipping_priority: all three filters reach their scans, top-k is TakeOrderedAndProject") {
    val p = plan("shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // segment filter pushed to the customer scan; both date filters
    // pushed to their fact scans
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
  }

  test("late_priority_orders: the EXISTS plans as one LEFT SEMI hash join, no row multiplication") {
    // coarse invariants only (round-10 advisor: exact operator counts
    // and toString shapes are brittle across Spark/AQE upgrades): the
    // semi join IS the per-order dedup — so it must be present and no
    // Distinct-style second aggregation pass may appear
    val p = plan("late_priority_orders")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortAggregate") && !p.contains("Expand"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("disjunctive_revenue: the part-only halves of the OR branches reach the part scan") {
    // Catalyst factors the single-side halves out of the mixed
    // disjunction and pushes a disjunctive filter into BOTH scans.
    // Asserted coarsely (round-10 advisor: the exact Or(Or(And(...
    // nesting is a toString artifact): each scan's PushedFilters must
    // contain SOME disjunction over that side's columns.
    val p = plan("disjunctive_revenue")
    // per-line match: the toString TRUNCATES long PushedFilters lists
    // (trailing "..." with no closing bracket)
    val pushed = "PushedFilters: \\[[^\\n]*".r.findAllIn(p).toSeq
    assert(pushed.exists(f => f.contains("Or(") && f.contains("p_brand")),
      s"no disjunction reached the part scan:\n$p")
    assert(pushed.exists(f => f.contains("Or(") && f.contains("l_quantity")),
      s"no disjunction reached the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("waiting_suppliers: the EXISTS/NOT EXISTS pair is one semi + one anti hash join, filters reach the scans") {
    val p = plan("waiting_suppliers")
    // EXISTS(other supplier) → LeftSemi, NOT EXISTS(other LATE supplier)
    // → LeftAnti, both against lineitem with the suppkey disequality as
    // the join residual — never a nested-loop or cartesian expansion
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the late-line and finished-order markers prune at the scans
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
  }

  test("nation_market_share: both sums ride ONE aggregate over ONE lineitem scan; memberships are semi joins") {
    val p = plan("nation_market_share")
    // the share/total ratio must come from one aggregate pass — the
    // aggregate-twice-and-self-join alternative scans lineitem twice
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("l_orderkey")) == 1,
      s"lineitem scanned more than once:\n$p")
    // the three memberships (part type, region→customer, customer→
    // orders) all stay semi joins — no row multiplication anywhere
    assert(count(p, "LeftSemi") == 3, p)
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_zipf_salted: phase-1 partitioning includes the salt; no single-partition stage") {
    val p = plan("events_zipf_salted")
    // the straggler insurance: the first exchange hash-partitions on
    // (skew_key, __salt), so the hot key's rows spread over `salt`
    // reducers instead of serializing into one task — and nothing in
    // the plan funnels to a single partition
    assert("hashpartitioning\\(skew_key[^)]*__salt".r.findFirstIn(p).isDefined,
      s"partial agg does not partition on the salt:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    // two-phase shape: per-(key,salt) partials, per-key merge
    assert(count(p, "Exchange hashpartitioning") == 2, p)
  }

  test("events_zipf_salted_join: fact shuffles on (key, salt); dim replicates ×16; shuffled hash join, no hot-key funnel") {
    val p = plan("events_zipf_salted_join")
    // the fact side's join exchange must include the salt — that is the
    // whole insurance: the hot key's ~half-of-all-rows spread over 16
    // reducers instead of landing on the one skew_key=0 partition
    assert("hashpartitioning\\(skew_key[^)]*__salt".r.findFirstIn(p).isDefined,
      s"fact join exchange does not partition on the salt:\n$p")
    // the dimension replicates once per salt value (explode of the
    // 16-element literal array), and the join is the pinned shuffled
    // hash join — broadcast would hide the salting at test scale
    assert(p.contains("explode([0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15])"),
      s"dim salt replication missing:\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pricing_summary: column pruning reaches the parquet scan (5 columns, not 16)") {
    // the toString format elides ReadSchema; the scan's OUTPUT column list
    // carries the same pruning evidence (the 2 group keys + 3 agg inputs)
    val p = plan("pricing_summary")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
      .map(_.group(1))
      .getOrElse(fail(s"no FileScan in:\n$p"))
    assert(scanCols.split(",").length == 5, scanCols)
  }

  test("asof_last_error: single window over a single exchange, no join operator at all") {
    val p = plan("asof_last_error")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("events_last_hour: the range frame runs on one exchange, no self-join") {
    val p = plan("events_last_hour")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("user_sessions: both windows and the session agg reuse ONE shuffle on user_id") {
    val p = plan("user_sessions")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("window_anomalies: the list-free base — no collect_list in the plan") {
    val p = plan("window_anomalies")
    assert(!p.contains("collect_list"), p)
  }

  test("no pair-finder plans a cartesian product") {
    Seq("doc_near_dup_pairs", "doc_minhash_pairs", "doc_simhash_pairs",
      "emb_lsh_pairs", "emb_lsh_pairs_planted", "doc_hybrid_near_dup",
      "emb_hnsw_build").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("events_zorder and mm_ppm_decode are shuffle-free narrow plans") {
    Seq("events_zorder", "mm_ppm_decode").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), q)
    }
  }

  test("mm_mjpeg_decode: narrow video pipeline behind one doc_id spread exchange") {
    // generate -> AVI encode -> container walk -> per-frame JPEG decode:
    // all per-row byte work, narrow EXCEPT the r16 kernel spread — a
    // single-split scan must fan out before a frames× JPEG chain (3.15 s
    // -> 0.38 s at sf0.1), and that spread must stay the ONLY exchange
    Seq("mm_mjpeg_decode", "mm_mjpeg_sample").foreach { q =>
      val p = plan(q)
      assert(count(p, "Exchange") == 1 && p.contains("REPARTITION_BY_NUM"),
        s"$q must have exactly the spread exchange:\n$p")
      assert(!p.contains("Join"), q)
    }
  }

  test("events_in_windows_ranked: two window exchanges + final agg, broadcast-only join") {
    val p = plan("events_in_windows_ranked")
    // per-bin rank exchange + final agg on interval_id (row-scale), and the
    // bin-count agg exchange inside the broadcast side (metadata-scale:
    // one row per 30-min bin) — nothing else, and no pair join anywhere
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
    assert(count(p, "BroadcastHashJoin") == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("doc_repetition: exactly the two hash-agg exchanges, no join or window") {
    val p = plan("doc_repetition")
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("doc_shard_manifest: one partial+final agg exchange, no join") {
    val p = plan("doc_shard_manifest")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("doc_budget_select: one lang-window exchange, NO self-join back to documents") {
    val p = plan("doc_budget_select")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), s"budget selection re-joined documents:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"global sort funnel:\n$p")
  }

  test("doc_pii_redact and doc_sample are shuffle-free per-row plans") {
    Seq("doc_pii_redact", "doc_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), q)
    }
  }

  test("doc_pack: window AND pack agg share ONE exchange on lang") {
    val p = plan("doc_pack")
    // hashpartitioning(lang) from the running-sum window satisfies the
    // (lang, pack_id) agg's clustered distribution — the whole pipeline is
    // one shuffle, and the sort is partition-parallel, never global
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Exchange SinglePartition"), s"global sort funnel:\n$p")
  }

  test("doc_decontaminate: benchmark gram set broadcasts; corpus never cartesians") {
    val p = plan("doc_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("doc_bloom_decontaminate: sketch probe filters the corpus BEFORE the verify join; no forced broadcast hint, no cartesian") {
    val p = plan("doc_bloom_decontaminate")
    // the map-side bloom probe is in the plan (pretty name of
    // BloomFilterMightContain), and the verify semi join survives
    assert(p.contains("might_contain"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("doc_global_shuffle: NO single-partition sort; offsets broadcast; rank is bucket-parallel") {
    val p = plan("doc_global_shuffle")
    assert(!p.contains("Exchange SinglePartition"), s"global sort funnel:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("doc_incremental_dedup: the bloom prefilter is in the plan; no cartesian") {
    val p = plan("doc_incremental_dedup")
    assert(p.contains("might_contain"), s"bloom prefilter missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("event_heavy_users: verify pass is a joinless scan with the candidate In-filter pushed down") {
    // the MG sketch runs in its own single fused job at construction (r5
    // advice: sketch + count in ONE pass); the returned plan is only the
    // exact re-count, with the ≤k−1 candidate ids as a pushed-down In filter
    val p = plan("event_heavy_users")
    assert(p.contains("INSET") || p.contains("In(user_id"), s"candidate In-filter missing:\n$p")
    assert(p.contains("PushedFilters: [In(user_id"), s"In not pushed to parquet:\n$p")
    assert(!p.contains("Join"), s"verify pass should be joinless:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("station_day_agg_incremental: merge agg reuses the slice partials' partitioning") {
    val p = plan("station_day_agg_incremental")
    // one exchange per slice partial; both sides arrive hash-partitioned
    // on the merge keys, so the merge agg adds NO third exchange
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("event_type_kmv_users: the rank window bounds state; no cartesian, no global sort") {
    val p = plan("event_type_kmv_users")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("event_value_hist_quantiles: sketch path — no row-scale window, bounds broadcast") {
    val p = plan("event_value_hist_quantiles")
    // the whole point vs the exact percentiles: NO Window over raw rows —
    // ranking happens on histogram rows only (post-shuffle ≤ groups·256)
    assert(!p.contains("RunningWindowFunction") && count(p, "Window") <= 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // per-type bounds and the threshold table ride broadcasts, never a
    // shuffled join against the fact
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("mm_png_decode (spread) and mm_gif_decode (bare) narrow codec plans") {
    // png carries the r16 kernel spread (zlib deflate/inflate per row is
    // heavy enough to fan out); plain gif stays bare — its LZW kernel
    // measured cheaper than the exchange it would buy
    val png = plan("mm_png_decode")
    assert(count(png, "Exchange") == 1 && png.contains("REPARTITION_BY_NUM"), png)
    assert(!png.contains("Join"), png)
    val gif = plan("mm_gif_decode")
    assert(!gif.contains("Exchange"), s"mm_gif_decode shuffles:\n$gif")
    assert(!gif.contains("Join"), gif)
  }

  test("doc_datasheet: scalar metrics come from ONE corpus pass, no per-metric rescans") {
    val p = plan("doc_datasheet")
    // scalar agg + median histogram (whose hist subtree feeds both the
    // cumulative window and the totals -> 2 single-column scans) + lang +
    // source breakdowns = at most 5 scans; a stack-less implementation
    // would rescan the FULL width once per scalar metric (9+)
    assert(count(p, "Scan parquet") <= 5, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("user_scd2_incremental: each slice reuses ONE user exchange; no cartesian") {
    val p = plan("user_scd2_incremental")
    // every slice is folded in the same sorted pass: one hash exchange on
    // user_id, and no slice is materialized ahead of the fold
    assert(count(p, "Exchange hashpartitioning\\(user_id") == 1, p)
    assert(count(p, "Exchange") == 1, p)
    assert(!p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("large_orders: the HAVING-filtered order set and customer both broadcast") {
    // customer carries NO broadcast() hint (r8 verdict #3: it grows with
    // SF, so a forced hint is an OOM at 100x) — the BHJ here is Spark's
    // own stats gate choosing it, which is the property under test
    val p = plan("large_orders")
    assert(count(p, "BroadcastHashJoin") == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // lineitem's agg leg reads exactly (l_orderkey, l_quantity)
    assert(p.contains("[l_orderkey#") && !p.contains("l_extendedprice"), p)
  }

  test("top_revenue_suppliers: date filter reaches the scan; max folds back as a broadcast") {
    // supplier is unhinted (stats-gated, r8 verdict #3); the 1-row max
    // keeps its hint — 2 BHJs means the gate still picks broadcast here
    val p = plan("top_revenue_suppliers")
    assert(count(p, "BroadcastHashJoin") == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val scan = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(
      SparkEntry.queries("top_revenue_suppliers")(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    assert(scan.exists(_.contains("GreaterThanOrEqual(l_shipdate")), scan)
  }

  test("part_cheapest_supplier: per-part min joins back as an equi-join, supplier stats-gates to BHJ") {
    val p = plan("part_cheapest_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // the correlated scalar min decorrelates to joins, never a subquery
    assert(!p.contains("Subquery"), p)
    assert(count(p, "BroadcastHashJoin") == 2, p)
  }

  test("part_small_qty_revenue: the correlated scalar decorrelates — agg joined back once, no subquery re-execution") {
    val p = plan("part_small_qty_revenue")
    // Catalyst's RewriteCorrelatedScalarSubquery must leave NO subquery
    // node in the physical plan: the per-part 0.2×avg threshold runs as
    // ONE aggregate whose result joins back by partkey, with the
    // quantity comparison as the join residual — never a per-outer-row
    // re-execution of the inner query
    assert(!p.contains("Subquery"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("HashJoin") && l.contains("0.2 *")),
      s"threshold comparison not a join residual:\n$p")
    // equi hash joins only; the threshold relation is per-part-small
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly two aggregates (threshold avg + final revenue), each
    // partial+final — a third would mean the rewrite re-aggregated
    assert(count(p, "HashAggregate") == 4, p)
  }

  test("excess_shippers: same-relation correlated scalar collapses to ONE conditional agg over ONE lineitem scan") {
    val p = plan("excess_shippers")
    // the year-share vs all-time threshold needs no self-join: both sums
    // ride one (suppkey, partkey) aggregate — one lineitem scan total
    assert(p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem")) == 1,
      s"lineitem scanned more than once:\n$p")
    assert(p.contains("(2 * qty_year"), s"exact decimal threshold gone:\n$p")
    // part name prune reaches the part scan and gates lineitem as a semi
    assert(p.contains("StringStartsWith(p_name,small)"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("EqualTo(n_name,NATION_7)"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("forecast_revenue: all three range predicates reach the scan, no join, one global agg pair") {
    val p = plan("forecast_revenue")
    // the whole query is a scan + global aggregate: its 100 TB cost is
    // decided entirely by pushdown and pruning
    assert(count(p, "FileScan parquet") == 1, p)
    assert(!p.contains("Join"), p)
    assert(count(p, "HashAggregate") == 2, p)
    assert(count(p, "Exchange") == 1, p)
    // date window, discount band, and quantity cap all present in the
    // scan-adjacent Filter (compact-form Filter lines are untruncated)
    val f = p.linesIterator.find(l => l.contains("Filter (")).getOrElse("")
    Seq(">= 1996-01-01", "< 1997-01-01", ">= 0.05", "<= 0.07", "< 24.0")
      .foreach(b => assert(f.contains(b), s"bound $b missing from: $f"))
  }

  test("shipmode_priority: mode IN-list + dates prune the fact before the join, one conditional-split aggregate") {
    val p = plan("shipmode_priority")
    // the priority split is conditional sums over ONE aggregate — a
    // second agg pair would mean an aggregate-per-branch rewrite
    assert(count(p, "HashAggregate") == 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the fact's IN-list and date window sit scan-adjacent, shrinking
    // the big side before the (stats-gated) join
    assert(p.linesIterator.exists(l => l.contains("Filter (") &&
      l.contains("IN (R,A)") && l.contains(">= 1996-01-01")), p)
  }

  test("nation_trade_volume: pair membership pushes into BOTH nation roles, the OR pair predicate survives as a join residual") {
    val p = plan("nation_trade_volume")
    // each role's scan gets the two-name membership (independently
    // pushable), so both dimension joins prune ~2/25 of their fact rows
    assert(p.linesIterator.count(l => l.contains("Filter (") &&
      l.contains("IN (NATION_12,NATION_13)")) == 2, p)
    // the symmetric (A→B) OR (B→A) predicate references both roles at
    // once — it can only evaluate ABOVE both joins, and the right plan
    // carries it as the final join's residual condition, not a scan
    // filter and not a cartesian
    assert(p.linesIterator.exists(l => l.contains("HashJoin") &&
      l.contains("supp_nation") && l.contains("cust_nation") &&
      l.contains(" OR ")),
      s"OR pair predicate not a join residual:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the date window reaches the lineitem scan (compact-form Filter
    // lines are untruncated; the PushedFilters rendering is not)
    assert(p.contains(">= 1996-01-01") && p.contains("< 2000-01-01"), p)
  }

  test("important_parts: the UNcorrelated HAVING scalar stays ONE independent subquery, never a per-group re-execution") {
    val p = plan("important_parts")
    // Q17's pin is "no Subquery node" (correlated → rewritten to a join);
    // this shape is the dual: the uncorrelated threshold is ONE scalar
    // job whose result enters the HAVING filter as a literal
    assert(count(p, "\\+- Subquery subquery") == 1,
      s"expected exactly one scalar subquery:\n$p")
    assert(p.contains("> Subquery subquery"),
      s"HAVING threshold not fed by the scalar subquery:\n$p")
    // aggregate census: outer partial+final grouped pair (2) + the
    // subquery's per-part merge pair (2) + its distinct-count global
    // pair (2) — a 7th would mean a re-aggregation crept in
    assert(count(p, "HashAggregate") == 6, p)
    assert(p.linesIterator.count(l => l.contains("Filter (") &&
      l.contains("= NATION_12")) == 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("part_dominant_suppliers: ONE lineitem scan — part totals are a window over the agg, not a rescan") {
    val p = plan("part_dominant_suppliers")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // one lineitem scan + one supplier scan; the aggregate-twice-and-join
    // alternative scans lineitem twice (its subtrees prune differently,
    // so exchange reuse can't save it — measured)
    assert(count(p, "Scan parquet") == 2, p)
    assert(count(p, "Window \\[") == 1, p)
  }

  test("supplier_wait_blame: EXISTS is a semi join, NOT EXISTS an anti join, no cartesian") {
    val p = plan("supplier_wait_blame")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rich_idle_customers: scalar gate is a 1-row broadcast; recent orders anti-join") {
    val p = plan("rich_idle_customers")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // the only nested-loop join is the single-row scalar-average gate
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p)
  }

  test("wds queries: shard scans aggregate on ONE exchange, no joins") {
    Seq("wds_roundtrip", "wds_fsck").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), q)
      assert(count(p, "Exchange hashpartitioning") <= 1, s"$q:\n$p")
    }
    // sample reassembly: one key agg; still join-free
    val p = plan("wds_samples")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // shard stats: the aggregation is PUSHED INTO the scan — readers
    // emit pre-aggregated header stats, payloads are never read
    val ps = plan("wds_stats")
    assert(ps.contains("pushedAggregation=[group=shard,count,sum,min,max]"), ps)
    assert(!ps.contains("Join"), ps)
  }

  test("mm_resize_stats, mm_audio_features narrow; mm_mc spread + narrow") {
    Seq("mm_resize_stats", "mm_audio_features").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), q)
    }
    // the motion-compensated codec chain carries the r16 kernel spread
    // (full-search motion estimation per row); still join-free, and the
    // spread must stay the only exchange
    Seq("mm_mc_video_decode", "mm_mc_gop_sample").foreach { q =>
      val p = plan(q)
      assert(count(p, "Exchange") == 1 && p.contains("REPARTITION_BY_NUM"),
        s"$q must have exactly the spread exchange:\n$p")
      assert(!p.contains("Join"), q)
    }
  }

  test("mm_image_near_dup: band-bucket join, never a cartesian product") {
    val p = plan("mm_image_near_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), "the candidate join must exist")
  }

  test("nation_profit: part filter pushed to the scan, no pre-agg fact shuffle") {
    val p = plan("nation_profit")
    // the selective p_name predicate reaches the parquet scan
    assert(p.contains("StringContains(p_name,bolt)"), p)
    // at test SF every dim side broadcasts (stats-gated, no hints in the
    // operator), so lineitem streams through the joins and the ONLY hash
    // exchange is the (nation, year) aggregate's
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("customer_pareto: refine is a broadcast anti join over checkpointed candidates") {
    val p = plan("customer_pareto")
    // phase 2 must be BNLJ LeftAnti against the broadcast candidate set
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("LeftAnti"), p)
    // both join inputs read the SAME localCheckpoint RDD — the upstream
    // aggregation runs once, not once per side
    assert(count(p, "Scan ExistingRDD") == 2 && !p.contains("FileScan"), p)
  }

  test("doc_kn_logprob: one bigram subtree feeds all four model statistics") {
    val p = plan("doc_kn_logprob")
    assert(!p.contains("CartesianProduct"), p)
    // exactly 3 corpus scans (final doc left side + 2 tokenize sides:
    // the bigram relation and the per-doc re-join) — the four KN model
    // tables all derive from the c12 aggregate, never a corpus rescan
    assert(count(p, "FileScan parquet") == 3, p)
  }

  test("global-window audit: the set of queries planning an un-partitioned Window is pinned") {
    // The bench harness silences org.apache.spark.sql.execution.window
    // at ERROR (the known-bounded warning storm), so the LOG can no
    // longer catch a new genuinely-unbounded global window — this audit
    // can (round-10 advisor): every registered query's optimized plan is
    // swept for Window nodes with an EMPTY partitionSpec, and the
    // offender set must equal the reviewed allowlist below. Each entry
    // is bounded by construction: the windowed relation is
    // vocabulary/group/k-scale, never corpus rows.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, WindowGroupLimit => LWindowGroupLimit}
    val allow = Set(
      // final presentation rank over the already-aggregated, minCount-
      // filtered collocation relation (vocab-scale, not corpus rows)
      "doc_collocations",
      // rank over the bounded 30-min-bin count relation (one row per bin)
      "events_in_windows_ranked",
      // whole-relation model statistics over the BOUNDED bigram vocab
      // (knBigramLogProb's wAll — the dsir-totals argument)
      "doc_kn_logprob",
      // corpus-total window over the bounded token-bucket counts relation
      "doc_dsir_weights",
      // median-by-histogram cumulative window over ≤256 hist-bin rows
      "doc_datasheet")
    // the *_stream_* snapshot queries are EXCLUDED from the sweep: their
    // construction runs a complete Structured Streaming pipeline (stage,
    // drain, stop) just to hand back a plan, which would add three real
    // stream executions to every spec run; their batch twins — whose
    // aggregation plans are the same shapes — ARE swept above, and the
    // streaming aggregates cannot plan a Window at all
    val skipStreaming = Set("emb_cov_stream_snapshot",
      "emb_hnsw_stream_edges", "event_cm_stream_counts",
      "doc_minhash_stream_pairs", "event_hll_stream_users",
      // round-13 promotions — same rationale; user_sessions_stream's
      // snapshot tail DOES plan a Window, partitioned by user_id (the
      // batch twin user_sessions is swept above and pins the same shape)
      "asof_stream_last_error", "asof_stream_next_purchase",
      "user_sessions_stream",
      "doc_dedup_stream_docs", "event_heavy_stream_users",
      "wds_reshard_dedup",
      // round-14 promotions (reference etl/anomaly topics) — same rationale
      "station_day_agg_stream", "station_day_agg_stream_tws",
      "window_anomalies_stream",
      // round-15 restart gates (T6) — same rationale; each runs TWO real
      // stream executions (stop + recover) just to hand back a plan
      "station_day_agg_stream_restart", "asof_stream_last_error_restart",
      "emb_hnsw_stream_restart")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skipStreaming)
      .filter { q =>
        // name the offender on construction failure: some constructors
        // (emb_power_eigvec, the PQ family) run real driver-side jobs, so
        // an unrelated breakage would otherwise surface as an anonymous
        // stack out of a 200-query fold (round-11 advisor)
        val lp = try {
          SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
        } catch {
          case e: Throwable =>
            fail(s"query '$q' failed during construction: $e", e)
        }
        lp.collectWithSubqueries {
          case w: LWindow if w.partitionSpec.isEmpty => w
          case w: LWindowGroupLimit if w.partitionSpec.isEmpty => w
        }.nonEmpty
      }
    assert(offenders.toSet == allow,
      s"un-partitioned-window set drifted:\n  new: ${
        (offenders.toSet -- allow).toSeq.sorted.mkString(", ")}\n  gone: ${
        (allow -- offenders.toSet).toSeq.sorted.mkString(", ")}")
  }

  test("customer_k_anon / customer_dp_counts: class-scale aggs, no cartesian") {
    val pk = plan("customer_k_anon")
    // three cascade levels = three class aggregations joined back; the
    // only BNLJ is the 1-row suppressed-class count broadcast
    assert(!pk.contains("CartesianProduct"), pk)
    val pd = plan("customer_dp_counts")
    // the DP release is ONE aggregate; noise adds no joins at all
    assert(!pd.contains("Join"), pd)
    assert(count(pd, "Exchange hashpartitioning") == 1, pd)
  }
}
