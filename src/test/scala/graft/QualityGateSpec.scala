package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps
import graft.streaming.Sinks

/** Boundary semantics of the shared quality gate and the bounded alert
  * sink — each rule exercised at its threshold on synthetic rows (the
  * corpus oracle pins aggregate values; these pin WHICH rule fired).
  */
class QualityGateSpec extends SparkSuite {
  import spark.implicits._

  private def keeps(text: String): Boolean =
    Seq(text).toDF("text").filter(CorpusOps.qualityKeep).count() == 1

  test("token-count bounds are inclusive at 20 and 1000") {
    // 20 distinct 3-char words, one stopword -> every other rule passes
    val words20 = (1 to 19).map(i => f"w$i%02d") :+ "the"
    assert(keeps(words20.mkString(" ")), "exactly 20 tokens is kept")
    assert(!keeps(words20.take(19).mkString(" ")), "19 tokens fails the lower bound")
  }

  test("type-token ratio rejects heavy repetition") {
    val repeated = Seq.fill(20)("the").mkString(" ") // ttr = 1/20
    assert(!keeps(repeated), "20 identical stopwords fail TTR >= 0.2")
  }

  test("mean word length rejects symbol runs") {
    val longWords = ((1 to 19).map(i => f"verylongtok$i%02d") :+ "the").mkString(" ")
    assert(!keeps(longWords), "mean word length > 12 fails")
    val okWords = ((1 to 19).map(i => f"tok$i%02d") :+ "the").mkString(" ")
    assert(keeps(okWords), "5-char mean with a stopword passes every rule")
  }

  test("stopword ratio floor requires some fluency signal") {
    val noStops = (1 to 20).map(i => f"tok$i%02d").mkString(" ")
    assert(!keeps(noStops), "zero stopwords fails the 0.03 floor")
  }

  test("alert sink caps the driver-side collect at maxAlerts") {
    var got = 0
    val df = (1 to 20).map(i => (s"e$i", 200.0)).toDF("id", "moving_average")
    Sinks.fanOut(Seq(Sinks.alerts(Sinks.Config(alertThreshold = 108.0), rs => got = rs.length,
      maxAlerts = 5)))(df, 0L)
    assert(got == 5, s"collect must be bounded, got $got rows")
  }
}
