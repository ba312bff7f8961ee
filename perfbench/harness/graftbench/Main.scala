package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. It drives graft only through its public entry points
  * and writes one raw JSON record (timings, counts, spans, output
  * digests) for `run.py`, which checks outputs and derives the metrics.
  *
  * Arguments are `--key value` pairs: workload, seed, seconds, trace
  * (0|1), data (input table dir), work (scratch dir inside the
  * checkout), out (raw record path), cores, mode (bench|dump) and the
  * workload's own settings (queries, dump_dir; stage, schedule). */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = arg("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${arg("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${arg("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val trace = arg("trace") == "1"
    val result: Map[String, Any] = try {
      arg("workload") match {
        case "station_stream" =>
          new StreamBench(spark, args, trace).run()
        case _ if arg("mode") == "dump" =>
          new BatchBench(spark, args, trace = false).dump()
        case _ =>
          new BatchBench(spark, args, trace).run()
      }
    } finally spark.stop()

    val rt = ManagementFactory.getRuntimeMXBean
    val record = result ++ Map(
      "jvm_start_ms" -> rt.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "cores" -> cores,
      "xmx" -> rt.getInputArguments.toArray.map(_.toString)
        .find(_.startsWith("-Xmx")).getOrElse(s"${Runtime.getRuntime.maxMemory}"),
      "rss_peak_mb" -> Proc.vmHwmMb())
    Files.writeString(Paths.get(arg("out")), Json.write(record))
  }
}

/** JSON for the raw record: Jackson and its Scala module, from Spark's jars.
  * `parse` embeds JSON that Spark already produced (streaming progress). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def parse(json: String): JsonNode = mapper.readTree(json)
}

/** Process and machine readings: this JVM's CPU, its peak RSS, and the
  * machine's busy jiffies, read the same way as `graft.Bench`. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** Busy jiffies (USER_HZ) from the aggregate cpu line of /proc/stat:
    * everything but idle, iowait, and the guest fields already folded
    * into user and nice. */
  def busyJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    line.trim.split("\\s+").drop(1).map(_.toLong).zipWithIndex.collect {
      case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
    }.sum
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  /** A reading of CPU and wall clocks, so that an interval yields this
    * process's CPU seconds and the machine's external-busy fraction. */
  final case class Mark(wallNs: Long, cpuNs: Long, busy: Long)
  def mark(): Mark = Mark(System.nanoTime(), cpuNs(), busyJiffies())

  /** `less` is CPU and wall seconds, spent on other work inside the
    * interval, to leave out of its CPU and wall. */
  def interval(a: Mark, b: Mark, less: (Double, Double) = (0.0, 0.0)): Map[String, Double] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val cpu = (b.cpuNs - a.cpuNs) / 1e9
    val machine = Runtime.getRuntime.availableProcessors()
    val busy = (b.busy - a.busy) / 100.0
    Map("wall_s" -> (wall - less._2), "cpu_s" -> (cpu - less._1),
      "ext_busy" -> math.max(0.0, (busy - cpu) / (wall * machine)))
  }
}

/** Wall-clock reading in epoch milliseconds with sub-millisecond
  * resolution, comparable with the listener's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
