package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the count-min-sketch term-frequency estimator to its guarantees
  * against q61's exact counts. Everything here is deterministic: the
  * sketch is seeded, so these are hard assertions, not probabilistic
  * ones — if they pass once on this corpus they always pass.
  */
class HeavyHittersSpec extends SparkTestBase {

  test("CMS: totalCount equals the exact corpus token count") {
    val cms = TextOps.termFrequencySketch(spark, sfDir)
    val exact = graft.Tables.documents(spark, sfDir)
      .select(explode(Dedup.tokens(col("text"))).as("t"))
      .count()
    assert(cms.totalCount() == exact,
      s"sketch saw ${cms.totalCount()} tokens, corpus has $exact")
  }

  test("CMS estimates dominate exact counts within the eps*N bound on the top-20 terms") {
    val exact = TextOps.q61.fn(spark, sfDir).collect()
      .map(r => r.getString(1) -> r.getLong(2))
    assert(exact.length == 20)
    val cms = TextOps.termFrequencySketch(spark, sfDir)
    val bound = math.max(1L, math.ceil(cms.relativeError() * cms.totalCount()).toLong)
    exact.foreach { case (term, cnt) =>
      val est = cms.estimateCount(term)
      assert(est >= cnt, s"CMS must never underestimate: '$term' est $est < exact $cnt")
      assert(est - cnt <= bound,
        s"'$term' overestimate ${est - cnt} exceeds eps*N bound $bound")
    }
  }

  test("CMS: a term absent from the corpus estimates at most eps*N") {
    val cms = TextOps.termFrequencySketch(spark, sfDir)
    val bound = math.max(1L, math.ceil(cms.relativeError() * cms.totalCount()).toLong)
    val ghost = cms.estimateCount("graft-term-that-cannot-occur-7f3a9")
    assert(ghost >= 0 && ghost <= bound, s"ghost term estimate $ghost vs bound $bound")
  }
}
