package graft.ingest

import graft.StageStore
import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q149 WET framing: the sentinel-delimited read must reproduce every
  * payload byte-for-byte, doc for doc. */
class WetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("round trip is lossless per document; lengths validate") {
    val out = StageStore.scratch(spark, "wet_spec")
    try {
      val agg = Wet.wetAgg(spark, sf, out).collect()
      val docs = graft.Tables.documents(spark, sf)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("len"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      assert(agg.length == docs.size, "one audit row per source")
      agg.foreach { r =>
        val src = r.getString(0)
        assert(r.getLong(1) == docs(src)._1, s"$src record count")
        assert(r.getLong(2) == docs(src)._2, s"$src declared length sum")
        assert(r.getLong(3) == docs(src)._2, s"$src measured length sum")
        assert(r.getLong(4) == 0L, s"$src must have no length mismatches")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(out))
  }
}
