package graft

import org.scalatest.funsuite.AnyFunSuite

/** The argument parsers Bench, Verify and Explain share: the query-subset
  * prefixes ([[SparkEntry.selectQueries]]) and `SPARK_GRAFT_CPUS`
  * ([[SparkEntry.graftCpus]]). */
class ExplainSpec extends AnyFunSuite {
  test("Explain's name list ignores spaces and blank names") {
    assert(SparkEntry.selectQueries(Some(" station_day_agg , ,window_anomalies,")) ==
      Seq("station_day_agg", "station_day_agg_incremental",
        "station_day_agg_salted", "station_day_agg_stream",
        "station_day_agg_stream_restart", "station_day_agg_stream_tws",
        "window_anomalies", "window_anomalies_p60d10", "window_anomalies_stream"))
    assert(SparkEntry.selectQueries(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("Explain reports every unknown name in one error") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries(Some("nope, station_day_agg,also_nope"))
    }
    assert(e.getMessage.contains("nope, also_nope"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(" , ")))
  }

  test("query prefixes: a blank entry selects nothing, a spaced one still counts") {
    val pq = SparkEntry.queries.keys.filter(_.startsWith("emb_pq")).toSeq.sorted
    assert(pq.nonEmpty)
    // an empty prefix between two commas used to match every query
    assert(SparkEntry.selectQueries(Some("emb_pq,,doc_lrs")) ==
      (pq :+ "doc_lrs").sorted)
    // a space after the comma used to drop doc_lrs silently
    assert(SparkEntry.selectQueries(Some("emb_pq, doc_lrs")) ==
      (pq :+ "doc_lrs").sorted)
    // a prefix that matches nothing used to bench nothing
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries(Some("emb_pq,emb_nosuch"))
    }
    assert(e.getMessage.contains("emb_nosuch"), e.getMessage)
  }

  test("SPARK_GRAFT_CPUS: unset takes the caller's default, a positive integer wins") {
    assert(SparkEntry.graftCpus(None, 32) == 32)
    assert(SparkEntry.graftCpus(None, 4) == 4)
    assert(SparkEntry.graftCpus(Some("8"), 32) == 8)
    assert(SparkEntry.graftCpus(Some("1"), 4) == 1)
  }

  test("SPARK_GRAFT_CPUS: anything but a positive integer fails, naming the variable") {
    for (bad <- Seq("0", "-2", "", " 8", "8 ", "four", "4.5", "+4", "99999999999")) {
      val e = intercept[IllegalArgumentException](SparkEntry.graftCpus(Some(bad), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
