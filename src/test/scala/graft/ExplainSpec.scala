package graft

import org.scalatest.funsuite.AnyFunSuite

class ExplainSpec extends AnyFunSuite {
  test("Explain's name list ignores spaces and blank names") {
    assert(Explain.targets(Some(" station_day_agg , ,window_anomalies,")) ==
      Seq("station_day_agg", "window_anomalies"))
    assert(Explain.targets(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("Explain reports every unknown name in one error") {
    val e = intercept[IllegalArgumentException] {
      Explain.targets(Some("nope, station_day_agg,also_nope"))
    }
    assert(e.getMessage.contains("nope, also_nope"), e.getMessage)
    intercept[IllegalArgumentException](Explain.targets(Some(" , ")))
  }
}
