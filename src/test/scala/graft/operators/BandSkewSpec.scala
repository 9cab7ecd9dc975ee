package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The q77/q79 band join's residual scale risk is a HOT BUCKET: a
  * pathological corpus where most vectors share one sign pattern puts
  * most rows under a single band key per band, and one task would eat
  * the whole bucket. This spec builds exactly that corpus and proves
  * AQE's skew-join handling splits the hot partitions: the executed
  * plan marks the join skew=true, and the measured per-task shuffle
  * read shrinks versus the same query with skew handling off.
  */
class BandSkewSpec extends SparkSpec {

  /** 500 vectors, 400 of which share one sign pattern (scaled copies
    * with sign-preserving jitter, so every band key agrees) and 100
    * with per-vector mixed patterns.
    */
  private def skewedEmbeddings: DataFrame = {
    import spark.implicits._
    val dim = Similarity.Dim
    def sign(j: Int): Float =
      if (((j * 2654435761L) >>> 16 & 1L) == 1L) 1.0f else -1.0f
    val rows = (0 until 500).map { i =>
      val emb = Array.tabulate(dim) { j =>
        if (i < 400) sign(j) * (1.0f + ((i * 31 + j) % 7) * 0.01f)
        else (if (((i * 131 + j * 17) & 1) == 1) 1.0f else -1.0f) *
          (1.0f + ((i + j) % 5) * 0.02f)
      }
      (i.toLong, s"l${i % 4}", emb)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  /** The largest single band-bucket's share of one band's rows: how
    * hard the fixture concentrates a band's rows under one key. */
  private def bandedTopBucketShare(raw: DataFrame): Double = {
    val all = Similarity.withScaledNorm(raw)
      .withColumn("bkeys", Similarity.bandKeysCol)
    val top = all.select(explode(col("bkeys")).as("bkey"))
      .groupBy(col("bkey")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).cast("double").as("mx")).collect()(0).getDouble(0)
    top / raw.count()
  }

  /** Runs `f` while recording per-task shuffle-read record counts. */
  private def withTaskReads[A](f: => A): (A, Seq[Long]) = {
    val reads = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          reads.put(t.taskInfo.taskId, m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      // the listener bus is async: poll until the metrics stop arriving
      var settled = false
      var waited = 0
      while (!settled && waited < 10000) {
        val before = reads.size
        Thread.sleep(300); waited += 300
        settled = reads.size == before && before > 0
      }
      (a, reads.values.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withConfs[A](confs: Map[String, String])(f: => A): A = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the hot band bucket and bounds per-task input") {
    val emb = skewedEmbeddings.cache()
    // fixture sanity: the cluster really is one bucket per band —
    // the top band key holds >= 400 of the 500 rows in its band
    val hot = bandedTopBucketShare(emb)
    assert(hot >= 0.8, f"fixture not skewed: top bucket share $hot%.2f")

    // thresholds scaled to the fixture (the hot partitions are a few
    // hundred KB); broadcast disabled so the join actually shuffles —
    // at 100 TB neither side fits a broadcast, which is the real shape
    val base = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8k")

    def run(): (String, Seq[Long]) = {
      val df = Similarity.bandedPairScanOf(emb, None)
      // collect() drives df's OWN QueryExecution, so the adaptive plan
      // below is the executed one (a count() would build a fresh plan
      // and leave this one un-finalized)
      val (_, reads) = withTaskReads { df.collect() }
      val plan = df.queryExecution.executedPlan.toString
      (plan, reads)
    }

    val (skewPlan, skewReads) = withConfs(base +
      ("spark.sql.adaptive.skewJoin.enabled" -> "true"))(run())
    val (plainPlan, plainReads) = withConfs(base +
      ("spark.sql.adaptive.skewJoin.enabled" -> "false"))(run())

    assert(skewPlan.contains("skew=true"),
      "AQE did not mark the band join as skew-handled")
    assert(!plainPlan.contains("skew=true"))
    val (skewMax, plainMax) = (skewReads.max, plainReads.max)
    assert(skewMax < plainMax,
      s"skew handling did not shrink the max per-task shuffle read: " +
        s"$skewMax >= $plainMax")
    emb.unpersist()
  }
}
