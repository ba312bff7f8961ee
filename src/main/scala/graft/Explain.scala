package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of one or all queries —
  * the evidence that filters/pruning reach the scans and the
  * joins broadcast. Usage: runMain graft.Explain [prefix,prefix,...] [sfDir]
  * (the prefixes select queries as [[SparkEntry.selectQueries]] does). */
object Explain {
  def main(args: Array[String]): Unit = {
    // parsed before the session starts: a typo fails in milliseconds
    val names = SparkEntry.selectQueries(args.headOption)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
