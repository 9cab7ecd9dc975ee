package graft

/** A query whose timed pass throws is reported as failed, never as a
  * time: it is absent from the per-query times and the total, and the
  * compact line marks it -1 and lists it in `failed`.
  */
class BenchSpec extends SparkSpec {

  test("a throwing query is in failed and absent from the total") {
    val board = Bench.runBoard(spark, Map(
      "q1_ok" -> ((s, _) => s.range(10).toDF()),
      "q2_boom" -> ((_, _) => throw new IllegalStateException("boom"))),
      "unused")
    assert(board.failed == Seq(2))
    assert(board.times.map(_._1) == Seq("q1_ok"))
    assert(board.total == board.times.head._2)
    val full = Bench.fullLine(board, "unused")
    assert(full.contains("\"failed\":[2]") && !full.contains("q2_boom"))
    val compact = Bench.compactLine(board, "unused")
    assert(compact.length <= 1900)
    assert(compact.contains("\"failed\":[2]"))
    assert(compact.contains(
      s""""queries_cs":[${math.round(board.times.head._2 * 100)},-1]"""))
  }
}
