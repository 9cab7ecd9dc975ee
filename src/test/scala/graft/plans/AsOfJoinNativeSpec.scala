package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AsOfJoin

/** The native physical as-of join must agree with the composed
  * union+window form on real data and on the edge cases, and its plan
  * must contain the custom exec with no nested-loop join.
  */
class AsOfJoinNativeSpec extends SparkSpec {

  import spark.implicits._

  lazy val events = Seq(
    (1L, 100L, "e1"), (1L, 205L, "e2"), (1L, 300L, "e3"),
    (2L, 50L, "e4"), (2L, 400L, "e5"))
    .toDF("user_id", "ts", "name")

  lazy val state = Seq(
    (1L, 100L, "cfgA", 1), (1L, 200L, "cfgB", 2), (2L, 399L, "cfgC", 3))
    .toDF("user_id", "ts", "config", "version")

  test("native as-of equals the composed form on the fixture") {
    val native = AsOfJoinNative.asOf(events, state, "user_id", "ts", "ts",
      Seq("config", "version"))
    val composed = AsOfJoin.asOf(events, state, "user_id", "ts", "ts",
      Seq("config", "version"))
    assert(native.columns.toSeq == composed.columns.toSeq)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("native as-of equals the composed form on orders-scale data") {
    val o = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
    val left = o.select(col("o_orderkey"), col("o_custkey").as("cliente"),
      col("o_orderdate").cast("date").as("fecha"))
    val right = o.filter(col("o_orderkey") % 3 === 0)
      .groupBy(col("o_custkey").as("cliente"),
        col("o_orderdate").cast("date").as("fecha_estado"))
      .agg(sum(col("o_totalprice")).as("saldo"))
    val native = AsOfJoinNative.asOf(left, right, "cliente", "fecha", "fecha_estado", Seq("saldo"))
    val composed = AsOfJoin.asOf(left, right, "cliente", "fecha", "fecha_estado", Seq("saldo"))
    assert(native.count() == left.count())
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("plan uses AsOfJoinExec, one shuffle per side, no nested loop") {
    val native = AsOfJoinNative.asOf(events, state, "user_id", "ts", "ts", Seq("config"))
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin")) // SparkPlan nodeName strips "Exec"
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  // The property that makes the native operator worth having at 100x:
  // it declares requirements (ClusteredDistribution + (key, ts) order)
  // instead of forcing its own exchanges, so pre-partitioned /
  // pre-sorted inputs are reused — e.g. a bucketed table or an earlier
  // stage's shuffle feeds it with ZERO added exchanges or sorts.
  test("pre-partitioned and pre-sorted inputs add no exchange and no sort") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def counts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val p: SparkPlan = df.queryExecution.executedPlan
      (p.collect { case e: ShuffleExchangeExec => e }.size,
        p.collect { case s: SortExec => s }.size)
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // raw inputs: EnsureRequirements inserts one exchange + one sort
      // per side — exactly two of each, never more
      val raw = AsOfJoinNative.asOf(events, state, "user_id", "ts", "ts", Seq("config"))
      assert(counts(raw) == ((2, 2)), s"raw plan: ${raw.queryExecution.executedPlan}")

      // co-partitioned + sorted inputs: the ONLY exchanges/sorts in the
      // plan are the explicit upstream ones; the operator adds none
      val lp = events.repartition(4, col("user_id")).sortWithinPartitions("user_id", "ts")
      val rp = state.repartition(4, col("user_id")).sortWithinPartitions("user_id", "ts")
      val reused = AsOfJoinNative.asOf(lp, rp, "user_id", "ts", "ts", Seq("config"))
      assert(counts(reused) == ((2, 2)), s"reused plan: ${reused.queryExecution.executedPlan}")

      // and the reused plan still computes the same rows
      val plain = AsOfJoinNative.asOf(events, state, "user_id", "ts", "ts", Seq("config"))
      assert(reused.exceptAll(plain).isEmpty && plain.exceptAll(reused).isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("null keys and timestamps never match") {
    val l = Seq((Some(1L), Some(10L), "a"), (None, Some(10L), "b"), (Some(1L), None, "c"))
      .toDF("k", "t", "name")
    val r = Seq((Some(1L), Some(5L), "p1"), (None, Some(1L), "pNull"), (Some(1L), None, "pNoTs"))
      .toDF("k", "t", "payload")
    val got = AsOfJoinNative.asOf(l, r, "k", "t", "t", Seq("payload"))
      .collect().map(x => x.getAs[String]("name") -> x.getAs[String]("asof_payload")).toMap
    assert(got("a") == "p1")
    assert(got("b") == null)
    assert(got("c") == null)
  }
}
