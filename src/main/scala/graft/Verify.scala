package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    // dev-only subsetting (same contract as Bench), parsed before the
    // session starts; the driver leaves it unset and always dumps everything
    val names = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_QUERIES")).toSet
    val spark = SparkEntry.devSession(defaultCpus = 4)
    spark.sparkContext.setLogLevel("WARN")
    // Testdata-drift gate (r6 post-mortem): the driver regenerates the
    // parquet between rounds; if the read path misdecodes ts, every
    // event-time query silently produces plausible-but-wrong rows. Fail the
    // WHOLE run loudly instead — the driver then records err, not bad hashes.
    locally {
      import org.apache.spark.sql.functions.{col, max, min, year}
      val b = sources.Tables.events(spark, sfDir)
        .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi")).head()
      // an empty or all-null events table leaves min/max NULL — that is
      // also a refuse-to-run condition, and must surface as this FATAL
      // diagnostic, not as an opaque NPE from getInt on a null cell
      if (b.isNullAt(0) || b.isNullAt(1)) {
        System.err.println(
          "[verify] FATAL: events.ts min/max(year) is NULL — events table is " +
            "empty or all-null ts; testdata is unusable, refusing to run")
        spark.stop()
        sys.exit(1)
      }
      val (lo, hi) = (b.getInt(0), b.getInt(1))
      if (lo < 2000 || hi > 2100) {
        System.err.println(
          s"[verify] FATAL: events.ts year range [$lo,$hi] is outside [2000,2100] — " +
            "testdata encoding drifted; refusing to emit wrong answers")
        spark.stop()
        sys.exit(1)
      }
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => names(n) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
