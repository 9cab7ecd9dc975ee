package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  test("RegionSource serves the snapshot as a DataSource V2 table") {
    val df = spark.read.format("graft.sources.RegionSource").load()
    assert(df.count() == RegionSource.rows.size.toLong)
    assert(df.columns.toSeq == Seq("municipio", "departamento", "region"))
    // mojibake-repaired spellings join directly
    val medellin = df.filter(col("municipio") === "Medellín").collect()
    assert(medellin.head.getAs[String]("region") == "Andina")
  }

  test("RegionSource prunes columns at the scan") {
    val df = spark.read.format("graft.sources.RegionSource").load()
      .select("municipio")
    val plan = df.queryExecution.executedPlan.toString
    assert(df.distinct().count() == RegionSource.rows.size.toLong)
    // V2 scan output should carry only the pruned column
    assert(plan.contains("municipio") && !plan.contains("departamento"))
  }

  test("native functions are SQL-callable after registration") {
    val r = spark.sql(
      "SELECT dot_product_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect().head.getLong(0)
    assert(r == 32L)
    val m = spark.sql(
      "SELECT min_shingle_md5(array('a', 'b', 'c', 'd'), 3) AS m")
      .collect().head.getString(0)
    val expected = Seq("a b c", "b c d")
      .map(org.apache.commons.codec.digest.DigestUtils.md5Hex).min
    assert(m == expected)
    val t = spark.sql(
      """SELECT topk_by(s, p, 2) AS top FROM
        |VALUES (1.0D, 10L), (3.0D, 30L), (2.0D, 20L) AS v(s, p)""".stripMargin)
      .collect().head.getSeq[Long](0)
    assert(t == Seq(30L, 20L))
  }

  test("warehouse dim_region builds from the V2 snapshot source") {
    import graft.etl.{Dimensions, SurrogateKeys}
    val snap = spark.read.format("graft.sources.RegionSource").load()
    val dim = SurrogateKeys.assign(Dimensions.dimRegion(snap), "region_id", col("municipio"))
    assert(dim.count() == RegionSource.rows.size.toLong)
    assert(dim.select("region_id").distinct().count() == RegionSource.rows.size.toLong)
  }
}
