package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ShingleSet must be bit-identical to the interpreted HOF chain it
  * replaces — `array_distinct(when(size >= n, transform(sequence,
  * slice-join)).otherwise(array(joined)))` — on the real corpus and on
  * the short/empty edges, element ORDER included (first occurrence).
  */
class ShingleSetSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def hof(toks: org.apache.spark.sql.Column, n: Int) =
    array_distinct(when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks))))

  test("matches the HOF formulation on the corpus, order included") {
    val toks = split(lower(trim(col("text"))), " ")
    val both = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        ShingleSet.shingle_set(toks, 3).as("fast"), hof(toks, 3).as("slow"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)} diverged")
    }
  }

  test("short and empty token arrays fall back to the joined text") {
    val rows = Seq("", "a", "a b", "a b c", "a b c d", "x x x x x")
    val df = spark.createDataFrame(rows.map(Tuple1(_))).toDF("text")
      .select(col("text"), ShingleSet.shingle_set(split(col("text"), " "), 3).as("s"),
        hof(split(col("text"), " "), 3).as("h"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"'${r.getString(0)}' diverged: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
    }
    // the repeated-shingle row actually deduplicates
    val dup = df.filter(col("text") === "x x x x x").collect()(0).getSeq[String](1)
    assert(dup == Seq("x x x"))
  }

  test("is SQL-registered via GraftExtensions") {
    val out = spark.sql(
      "SELECT shingle_set(array('a','b','c','d'), 3) AS s").collect()(0)
      .getSeq[String](0)
    assert(out == Seq("a b c", "b c d"))
  }
}
