package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SyntheticSourcesSpec extends SparkSpec {

  lazy val sources = SyntheticSources.generate(
    spark, SyntheticSources.Sizes().scaled(0.05))
  lazy val wh = new Warehouse(spark, sources)

  test("generated sources have reference shapes and the warehouse builds") {
    // the generator must produce every relation the warehouse consumes
    val facts = wh.allFacts.map { case (n, df) => n -> df.count() }
    assert(facts.values.forall(_ > 0L), s"empty fact: $facts")
  }

  test("explode grain: medical-formula fact rows = total prescribed codes") {
    val expected = sources("formulas_medicas")
      .join(wh.dimUsuario.select(col("identificacion")),
        col("id_usuario") === col("identificacion"), "left_semi")
      .select(size(split(col("medicamentos_recetados"), ";")).as("n"))
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(wh.factMedicalFormula.count() == expected)
  }

  test("mojibake municipios from the generator all repair into the snapshot") {
    val repaired = sources("ips")
      .select(Mojibake.repairMunicipio.as("m")).distinct()
      .collect().map(_.getString(0)).toSet
    val snapshot = graft.sources.RegionSource.rows.map(_._1).toSet
    assert(repaired.subsetOf(snapshot), s"unjoinable: ${repaired -- snapshot}")
  }

  test("at factor 1 every generated source is one partition") {
    val factor1 = SyntheticSources.generate(spark, SyntheticSources.Sizes())
    val split = factor1.keys.toSeq.sorted
      .map(n => n -> factor1(n).rdd.getNumPartitions).filter(_._2 != 1)
    assert(split.isEmpty, s"sources split beyond one partition: $split")
  }

  test("a 10^9-row source still splits at least once per core") {
    val cores = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    val huge = SyntheticSources.rows(spark, 1000000000L)(
      col("id"), concat(lit("C"), col("id")).as("cedula"))
    assert(huge.rdd.getNumPartitions >= cores)
  }

  test("the factor-1 warehouse writes one non-empty data file per table") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh_files").toString
    val factor1 = new Warehouse(spark,
      SyntheticSources.generate(spark, SyntheticSources.Sizes()))
    factor1.writeAll(out)
    val tables = (factor1.allDims ++ factor1.allFacts).keys.toSeq.sorted
    val files = tables.map { t =>
      t -> new java.io.File(s"$out/$t").list().count(_.endsWith(".parquet"))
    }
    assert(files.forall(_._2 == 1), s"data files per table: $files")
    val empty = tables.filter(t => spark.read.parquet(s"$out/$t").count() == 0L)
    assert(empty.isEmpty, s"tables with no rows: $empty")
  }
}
