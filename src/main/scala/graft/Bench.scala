package graft

/** Benchmark main — one JSON line on stdout per the driver contract.
  *
  * Honesty rules (round-1 verdict): a failing query is recorded as an error
  * and fails the whole run (nonzero exit); evaluation forces the full plan
  * through the `noop` sink (a `count()` would let column pruning delete most
  * of the measured work, e.g. JSON parsing).
  *
  * Load robustness (round-5 verdict): the query list runs ROUND-ROBIN — one
  * warmup pass over all queries, then timed pass 1 over all, then timed pass
  * 2 over all, then a retry pass for any query whose two samples disagree by
  * >2x. Per-query minima are reported, so a transient load window has to
  * span the entire run to corrupt a query's floor.
  *
  * SELF-DIAGNOSIS (round-13 verdict #1): pass disagreement cannot see
  * SUSTAINED contention — a load window spanning the whole run slows both
  * round-robin passes equally and the flag stays false (exactly BENCH_r13:
  * CPU-bound kernel queries at 6-14x their committed minima, load_suspect
  * false). The record must let a reader attribute a driver-vs-committed
  * delta to load vs code from the bench.json alone, so every sample now
  * carries three channels, none of which an external hog can fake
  * consistently:
  *   - wall seconds (what the total reports);
  *   - THIS PROCESS's CPU seconds over the sample
  *     (OperatingSystemMXBean.getProcessCpuTime bracketing the run) — under
  *     external contention a CPU-bound query's wall stretches while its cpu
  *     stays ~flat (same work, fewer cores), where a real regression grows
  *     cpu WITH wall;
  *   - the MACHINE's external-busy fraction over the sample (/proc/stat
  *     total busy minus this process's share, normalized by wall x cores) —
  *     a direct reading of "someone else is eating the cores".
  * `load_suspect` is set EITHER by widespread pass disagreement (the old
  * rule, catches transients) OR by a sustained external-CPU median above
  * 20% of the machine (catches exactly the r13 signature). bench.json keeps
  * ALL samples per query (wall + cpu + ext), not just the min.
  */
object Bench {

  /** (user+nice+system+irq+softirq+steal, idle+iowait) jiffies from the
    * aggregate cpu line of /proc/stat — USER_HZ (100 on every Linux this
    * runs on) jiffy units; only deltas are used, so the base is free. */
  private def procStatBusy(): Option[Long] =
    try {
      val line = {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next() finally src.close()
      }
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // busy = everything but idle (3) and iowait (4) — and but guest (8)
      // and guest_nice (9), which the kernel already folds into user/nice:
      // summing them double-counts VM time and can false-trip the
      // sustained load_suspect on a VM host (round-15 advisor)
      Some(f.zipWithIndex.collect {
        case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
      }.sum)
    } catch { case _: Throwable => None }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def processCpuNs(): Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** One timed sample: wall seconds, this-process CPU seconds, the
    * external-busy fraction of the whole machine over the interval
    * (0 when unreadable — never poisons the load signal upward), and the
    * JVM GC pause seconds accrued during the sample (round-16 variance
    * work: a sample whose wall outlier coincides with a gc spike is a
    * heap event, not a plan regression — the retained samples make that
    * distinction mechanical instead of guessed). */
  final case class Sample(wall: Double, cpu: Double, ext: Double,
                          gc: Double = 0.0)

  private def gcPauseMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => if (b.getCollectionTime > 0) t += b.getCollectionTime)
    t
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-only subsetting (e.g. the scale-slope tool benches just the
    // documents/embeddings queries), parsed before the session starts; the
    // driver leaves it unset and always benches everything
    val names = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_QUERIES"))
    val spark = SparkEntry.devSession(defaultCpus = 32)
    val cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("WARN")
    // The known-bounded global windows (doc_collocations' final rank runs
    // over a TakeOrderedAndProject of k rows; the incident-bin windows are
    // calendar-bounded — all plan-audited metadata-scale, see the PLANS.md
    // appendix) emit a "No Partition Defined" WARN per execution, which
    // buried the whole bench tail in spam (round-9 verdict #4) and would
    // hide any REAL warning from the driver. Silence that one category in
    // the bench harness only — library code never touches log config, so
    // a user's session still sees the warning on genuinely global windows.
    // The regression guard this suppression could have hidden lives in
    // PlanRegressionSpec's "global-window audit" (round-10 advisor): the
    // exact set of queries planning an un-partitioned Window is pinned,
    // so a NEW global window fails CI whether or not anyone reads logs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

    val nCores = Runtime.getRuntime.availableProcessors()
    def runOnce(name: String): Sample = {
      val busy0 = procStatBusy()
      val cpu0 = processCpuNs()
      val gc0 = gcPauseMs()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcPauseMs() - gc0) / 1e3
      val cpu = if (cpu0 >= 0) (processCpuNs() - cpu0) / 1e9 else -1.0
      // external busy = machine busy minus this process's share, as a
      // fraction of the machine's total capacity over the interval. When
      // this process's CPU is UNREADABLE (cpu<0: no com.sun.management
      // bean) the subtraction cannot be done — record ext as unreadable
      // (0, like the procStatBusy fallback) instead of attributing our own
      // CPU to "external" and biasing load_suspect upward (round-15 advisor)
      val ext = (for (b0 <- busy0; b1 <- procStatBusy() if cpu >= 0) yield {
        val busySec = (b1 - b0) / 100.0 // USER_HZ=100 jiffies
        // the MACHINE's processors, not the session's: busy jiffies count
        // every core
        math.max(0.0, (busySec - cpu) / (wall * nCores))
      }).getOrElse(0.0)
      Sample(wall, cpu, ext, gcSec)
    }

    val samples = scala.collection.mutable.LinkedHashMap[String, List[Sample]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def live = names.filterNot(errors.contains)
    def pass(record: Boolean, only: Set[String] = Set.empty): Unit =
      live.filter(n => only.isEmpty || only(n)).foreach { name =>
        try {
          val s = runOnce(name)
          if (record) samples(name) = s :: samples.getOrElse(name, Nil)
        } catch {
          case e: Throwable =>
            samples.remove(name)
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
        }
      }
    def disagreeing = samples.collect {
      case (n, ss) if ss.size >= 2 && {
        val ts = ss.map(_.wall)
        ts.max / math.max(ts.min, 1e-9) > 2.0
      } => n
    }.toSet

    pass(record = false)          // warmup: JVM/codegen/parquet footers
    pass(record = true)           // timed pass 1, all queries
    pass(record = true)           // timed pass 2, all queries (round-robin)
    pass(record = true, only = disagreeing) // targeted retry of noisy ones

    val transientSuspect = names.nonEmpty &&
      disagreeing.size.toDouble / math.max(samples.size, 1) > 0.25
    // sustained-contention signal: the median per-sample external-busy
    // fraction across the whole run — a hog must eat >20% of the machine
    // for more than half the samples to trip it, and nothing this process
    // does (GC, shuffle, spill) can, because its own CPU is subtracted
    val extAll = samples.values.flatten.map(_.ext).toSeq.sorted
    val extMedian = if (extAll.isEmpty) 0.0 else extAll(extAll.size / 2)
    val sustainedSuspect = extMedian > 0.20
    val loadSuspect = transientSuspect || sustainedSuspect
    // when process CPU is unreadable (no com.sun.management bean) every
    // ext sample is forced to 0 and the sustained channel is BLIND — say
    // so in load_reason instead of reporting a confident "none" (the
    // r13 silent-blindness failure mode, round-15 review)
    val cpuUnreadable = samples.values.flatten.nonEmpty &&
      samples.values.flatten.forall(_.cpu < 0)
    val loadReason =
      if (transientSuspect && sustainedSuspect) "transient+sustained"
      else if (transientSuspect) "transient_disagreement"
      else if (sustainedSuspect) "sustained_external_cpu"
      else if (cpuUnreadable) "none_but_external_channel_unreadable"
      else "none"

    // headline per query: the min-wall sample (its cpu rides along, so a
    // future reader can compare cpu at the floor, not a mixed pair)
    val timed = samples.toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> ss.minBy(_.wall)
    }
    def f3(v: Double) = "%.3f".format(v)
    val qs = timed.map { case (k, s) => s""""$k":${f3(s.wall)}""" }
      .mkString("{", ",", "}")
    // the full sample record: wall/cpu/ext per sample, oldest last (the
    // list is built head-prepend) — this is what makes the run
    // self-diagnosing: driver wall >> committed wall with cpu ~equal and
    // ext high reads as starvation; cpu growing with wall reads as code
    val sampleRec = samples.toSeq.sortBy(_._1).map { case (k, ss) =>
      val arr = ss.reverse.map(s =>
        s"""[${f3(s.wall)},${f3(s.cpu)},${f3(s.ext)},${f3(s.gc)}]""")
        .mkString(",")
      s""""$k":[$arr]"""
    }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val total = timed.map(_._2.wall).sum
    // -1.0 cpu sentinels (bean unavailable) must not sum into a
    // negative-biased total (round-15 advisor)
    val cpuTotal = timed.map(_._2.cpu).filter(_ >= 0).sum
    // machine-level utilization summary of the timed floor: this process's
    // parallelism (cpu/wall) and the external-busy median
    val cpuPerWall = if (total > 0) cpuTotal / total else 0.0
    val diag =
      s""""cpu_sec_total":${f3(cpuTotal)},"cpu_per_wall":${f3(cpuPerWall)},""" +
        s""""ext_busy_median":${f3(extMedian)},"cores":$cpus,""" +
        s""""load_reason":"$loadReason""""
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"samples":$sampleRec,"errors":$errs,"load_suspect":$loadSuspect,$diag,"sf":"$sfDir"}"""
    // The driver's scraper keeps only a ~2000-char TAIL of stdout, so the
    // final line must be short or its head (where the totals live) is cut
    // off. Stdout therefore carries a totals-only record as the LAST line;
    // the full per-query map and samples live in bench.json (the file
    // channel) and nowhere else on stdout.
    val shortLine =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${timed.size},"n_errors":${errors.size},"load_suspect":$loadSuspect,$diag,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), line)
    println(shortLine)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
