package perfbench

import graft.SparkEntry
import graft.tools.PlanMetrics

/** The listener attributes side jobs: a query that builds its index
  * eagerly inside the builder shuffles more under its span than the
  * returned frame's own plan reports.
  */
class ListenerSpec extends BenchSpec {

  test("span shuffle covers eager side jobs beyond the returned plan") {
    val corpus = tmpDir("corpus")
    Curation.writeCorpus(spark, corpus, 5, Gen.Tiny)
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val tr = new Trace(spark, listener)
    tr.traced = true
    tr.runId = "t"
    val q = "dedup_simhash_incremental"
    val df = tr.span(s"functions.$q") {
      val d = SparkEntry.queries(q)(spark, corpus.toString)
      PlanMetrics.runAndCount(d)
      d
    }
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val span = tr.recorded.find(_.name == s"functions.$q").get
    val spanShuffle = listener.totals(s"t/${span.id}").shuffleBytes
    val planShuffle = PlanMetrics.shuffleBytesWritten(df)
    info(s"$q: span shuffle $spanShuffle B, returned plan shuffle $planShuffle B")
    assert(spanShuffle >= planShuffle)
    assert(spanShuffle > planShuffle, "the eager index build shuffles outside the returned plan")
    spark.catalog.clearCache()
  }
}
