package graft

/** Dev tool: print the formatted physical plan of one or all queries —
  * the evidence that filters/pruning reach the scans and the
  * joins broadcast. Usage: runMain graft.Explain [prefix,prefix,...] [sfDir]
  * (the prefixes select queries as [[SparkEntry.selectQueries]] does),
  * in a [[SparkEntry.devSession]] of `SPARK_GRAFT_CPUS` cores (default 4). */
object Explain {
  def main(args: Array[String]): Unit = {
    // parsed before the session starts: a typo fails in milliseconds
    val names = SparkEntry.selectQueries(args.headOption)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.devSession(defaultCpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
