package graft.etl

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSpec

class Scd2Spec extends SparkSpec {

  def d(s: String): Date = Date.valueOf(s)

  lazy val snapshots = {
    import spark.implicits._
    Seq(
      // C1 moves city once; the middle snapshot repeats unchanged
      ("C1", d("2006-01-01"), "Bogotá D.C.", 3),
      ("C1", d("2006-06-01"), "Bogotá D.C.", 3),
      ("C1", d("2007-01-01"), "Medellín", 3),
      // C2 changes estracto twice
      ("C2", d("2006-01-01"), "Cali", 2),
      ("C2", d("2006-03-01"), "Cali", 4),
      ("C2", d("2006-09-01"), "Cali", 5))
      .toDF("cedula", "snapshot_date", "municipio", "estracto")
  }

  lazy val dim = Scd2.versions(snapshots, "cedula", "snapshot_date",
    Seq("municipio", "estracto"))

  test("consecutive identical snapshots collapse into one version") {
    val c1 = dim.filter(col("cedula") === "C1").orderBy("version").collect()
    assert(c1.length == 2)
    assert(c1.map(_.getAs[String]("municipio")).toSeq == Seq("Bogotá D.C.", "Medellín"))
    assert(c1.head.getAs[Date]("valid_to") == d("2007-01-01"))
    assert(c1.last.getAs[Boolean]("is_current") && c1.last.getAs[Date]("valid_to") == null)
  }
}
