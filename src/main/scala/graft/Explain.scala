package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of one or all queries —
  * the evidence that filters/pruning reach the scans and the
  * joins broadcast. Usage: runMain graft.Explain [name,name,...] [sfDir] */
object Explain {
  /** Query names from a comma-separated list: spaces around a name and
    * empty names are ignored, and every unknown name is reported in one
    * error. No list means every query. */
  def targets(arg: Option[String]): Seq[String] = arg match {
    case None => SparkEntry.queries.keys.toSeq.sorted
    case Some(list) =>
      val names = list.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
      require(names.nonEmpty, s"no query name in '$list'")
      names
  }

  def main(args: Array[String]): Unit = {
    // parsed before the session starts: a typo fails in milliseconds
    val names = targets(args.headOption)
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
