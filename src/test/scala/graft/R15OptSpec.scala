package graft

import org.apache.spark.sql.functions._

/** Round-15 optimization equivalence specs: each internal rewrite that
  * changed an operator's execution shape is pinned against the formulation
  * it replaced (same inputs, byte-equal outputs).
  */
class R15OptSpec extends SparkSpec {

  test("BPE driver fast path learns exactly the distributed loop's merges") {
    // driverVocabCap = -1 forces the distributed round loop; the default
    // cap takes the driver path at this scale — both must produce the
    // SAME merges table, row for row
    val driver = operators.TextAnalysis
      .bpeTrain(spark, sf, maxMerges = 40, minFreq = 2L)
      .collect().map(_.toString).toSeq
    val distributed = operators.TextAnalysis
      .bpeTrain(spark, sf, maxMerges = 40, minFreq = 2L, driverVocabCap = -1L)
      .collect().map(_.toString).toSeq
    assert(driver.nonEmpty, "degenerate corpus: no merges learned")
    assert(driver == distributed,
      "driver-side BPE diverged from the distributed loop")
  }

  test("fanOut is the identity when the scan is already parallel enough") {
    val docs = Tables.documents(spark, sf)
    val fanned = Tables.fanOut(docs)
    // a 4-core test session over a 1-row-group file: fanned out
    assert(fanned.rdd.getNumPartitions >=
      spark.sparkContext.defaultParallelism)
    // an already-parallel frame passes through untouched
    val wide = docs.repartition(spark.sparkContext.defaultParallelism * 2)
    assert(Tables.fanOut(wide) eq wide)
    // values unchanged, only placement
    assert(fanned.count() == docs.count())
  }
}
