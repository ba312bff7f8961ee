package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Plans
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The batch workloads: a pinned list of `SparkEntry.queries`, in an
  * order drawn from the seed.
  *
  * Set-up is one untimed cold pass, which also checks every query's
  * output (row count and an order-independent hash), and one untimed
  * warm-up pass. The timed part runs whole passes until `seconds` have
  * elapsed, with a sample of the reference job (`Calibration`) before
  * the first pass and after each query. Each query is split into build
  * (the registry call), plan (forcing `executedPlan`) and exec (a complete
  * run through the `noop` sink). A traced run times a pass with the
  * listener between two without it, and keeps its spans. */
final class BatchBench(spark: SparkSession, args: Map[String, String], trace: Boolean) {
  private val dataDir = args("data")
  private val seconds = args("seconds").toDouble
  private val cores = args("cores").toInt
  private val pinned = args("queries").split(',').toSeq
  private val order = new scala.util.Random(args("seed").toLong).shuffle(pinned)

  /** A query run: its wall, timed around the whole call, and each phase,
    * timed around its own call into graft or Spark. A phase that threw
    * ends when it threw; the phases after it are missing. Times are
    * epoch ms. */
  private final case class Run(name: String, start: Double, end: Double,
                               phases: Seq[(String, Double, Double)], exchanges: Int,
                               codegenNs: Long, error: Option[String]) {
    def phaseS(p: String): Double =
      phases.collectFirst { case (`p`, a, b) => (b - a) / 1e3 }.getOrElse(0.0)
  }

  private def runQuery(name: String): Run = {
    val start = Clock.nowMs()
    val cg0 = WholeStageCodegenExec.codeGenTime
    val phases = mutable.ArrayBuffer[(String, Double, Double)]()
    def timed[T](phase: String)(body: => T): T = {
      val a = Clock.nowMs()
      try body finally phases += ((phase, a, Clock.nowMs()))
    }
    var exchanges = 0
    val error = try {
      val df = timed("build")(SparkEntry.queries(name)(spark, dataDir))
      exchanges = Plans.exchanges(timed("plan")(df.queryExecution.executedPlan))
      timed("exec")(df.write.format("noop").mode("overwrite").save())
      None
    } catch { case e: Throwable => Some(message(e)) }
    val codegenNs = WholeStageCodegenExec.codeGenTime - cg0
    Run(name, start, Clock.nowMs(), phases.toSeq, exchanges, codegenNs, error)
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(1).mkString.take(300)

  /** Runs every query once. With `calibrate`, the reference job runs
    * after each query: its samples are returned, and its CPU and wall are
    * left out of the pass's. */
  private def pass(calibrate: Boolean = false)
      : (Seq[Run], Map[String, Double], Seq[(Double, Double)]) = {
    val a = Proc.mark()
    val samples = mutable.ArrayBuffer[(Double, Double)]()
    val runs = order.map { name =>
      val r = runQuery(name)
      if (calibrate) samples += Calibration.measure(spark.sparkContext, cores)
      r
    }
    val iv = Proc.interval(a, Proc.mark(), (samples.map(_._1).sum, samples.map(_._2).sum))
    (runs, iv, samples.toSeq)
  }

  /** Row count, an order-independent hash of the rows, and the schema,
    * with columns taken in name order. Map columns are hashed through
    * their JSON form, since Spark refuses to hash maps. */
  def digest(df: DataFrame): Map[String, Any] = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols: Seq[Column] = fields.toSeq.map { case (f, i) =>
      if (hasMap(f.dataType)) to_json(struct(col(s"c$i"))) else col(s"c$i")
    }
    val row = byPos.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    Map(
      "rows" -> row.getLong(0),
      "hash" -> Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"),
      "schema" -> fields.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }
        .mkString(","))
  }

  /** Set-up pass: build and digest each query once. */
  private def coldPass(): Map[String, Any] = order.map { name =>
    name -> (try digest(SparkEntry.queries(name)(spark, dataDir))
             catch { case e: Throwable => Map("error" -> message(e)) })
  }.toMap

  def run(): Map[String, Any] = {
    val coldStart = System.currentTimeMillis()
    val digests = coldPass()
    pass() // untimed warm-up: the first passes after the cold one still speed up
    Calibration.measure(spark.sparkContext, cores) // untimed: compiles the reference job
    val reference = mutable.ArrayBuffer(Calibration.measure(spark.sparkContext, cores))
    val firstTimedMs = System.currentTimeMillis()

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var spans: Seq[Map[String, Any]] = Nil
    if (trace) {
      // untraced passes before and after the traced one, so that the
      // overhead does not include the passes' warming trend
      val (plain, plainIv, _) = pass()
      passes += passRecord(plain, plainIv, traced = false)
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      rec.resetStorePeak()
      val (traced, tracedIv, _) = pass()
      Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
      passes += passRecord(traced, tracedIv, traced = true) ++
        Map("store_peak_bytes" -> rec.storePeakBytes)
      spans = traced.zipWithIndex.flatMap { case (r, i) => querySpans(r, i, rec) }
      val (after, afterIv, _) = pass()
      passes += passRecord(after, afterIv, traced = false)
    } else {
      val t0 = System.nanoTime()
      do {
        val (runs, iv, samples) = pass(calibrate = true)
        passes += passRecord(runs, iv, traced = false)
        reference ++= samples
      } while ((System.nanoTime() - t0) / 1e9 < seconds)
    }
    Map(
      "workload" -> args("workload"), "seed" -> args("seed").toLong,
      "order" -> order, "cold_start_ms" -> coldStart,
      "first_timed_ms" -> firstTimedMs, "digests" -> digests,
      "passes" -> passes, "spans" -> spans, "reference" -> reference)
  }

  private def passRecord(runs: Seq[Run], iv: Map[String, Double],
                         traced: Boolean): Map[String, Any] =
    iv ++ Map("traced" -> traced, "queries" -> runs.map { r =>
      Map("name" -> r.name, "build_s" -> r.phaseS("build"),
        "plan_s" -> r.phaseS("plan"), "exec_s" -> r.phaseS("exec"),
        "wall_s" -> (r.end - r.start) / 1e3, "exchanges" -> r.exchanges,
        "codegen_s" -> r.codegenNs / 1e9, "error" -> r.error)
    })

  /** One query's trace: a root span, its build/plan/exec children, and
    * each Spark job as a child of the phase it started in. */
  private def querySpans(r: Run, i: Int, rec: Recorder): Seq[Map[String, Any]] = {
    val traceId = s"${args("workload")}-${args("seed")}-$i-${r.name}"
    def span(id: String, parent: Option[String], name: String, start: Double,
             end: Double, extra: Map[String, Any] = Map.empty) =
      Map("trace" -> traceId, "id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> start, "end_ms" -> end) ++ extra
    val root = span("q", None, r.name, r.start, r.end, Map("exchanges" -> r.exchanges))
    root +: r.phases.flatMap { case (p, a, b) =>
      // the listener stamps whole milliseconds, so compare floors
      val lo = math.floor(a)
      val hi = if (p == "exec") math.floor(b) + 1 else math.floor(b)
      val jobs = rec.jobs(lo, hi).map { j =>
        span(s"job${j.id}", Some(p), "job", j.startMs.toDouble,
          (if (j.endMs >= 0) j.endMs else j.startMs).toDouble, j.fields)
      }
      val scans = rec.executions(lo, hi)
      span(p, Some("q"), p, a, b, Map(
        "scan_ms" -> scans.map(_.scanMs).sum,
        "scan_rows" -> scans.map(_.rows).sum)) +: jobs
    }
  }

  /** Oracle support: write each pinned query's output as parquet, plus
    * the oracle SQL of each, for a one-off DuckDB comparison. */
  def dump(): Map[String, Any] = {
    val out = args("dump_dir")
    val oracle = pinned.map { name =>
      SparkEntry.queries(name)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      name -> SparkEntry.oracleSql.getOrElse(name, "")
    }.toMap
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), Json.write(oracle))
    Map("workload" -> args("workload"), "digests" -> coldPass())
  }
}
