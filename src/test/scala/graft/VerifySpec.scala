package graft

import java.nio.file.Files

/** A query whose builder throws leaves no result in Verify's dump, so
  * the comparator can never pass it on an earlier run's parquet. */
class VerifySpec extends SparkSpec {

  test("a throwing builder leaves no stale result behind") {
    val out = Files.createTempDirectory("graft_verify").toString
    spark.range(3).toDF().write.parquet(s"$out/q2_boom") // an earlier run's
    Verify.dump(spark, Map(
      "q1_ok" -> ((s, _) => s.range(5).toDF()),
      "q2_boom" -> ((_, _) => throw new IllegalStateException("boom"))),
      "unused", out)
    assert(!new java.io.File(s"$out/q2_boom").exists())
    assert(spark.read.parquet(s"$out/q1_ok").count() == 5)
  }
}
