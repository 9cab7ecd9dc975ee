package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** ScalaCheck invariants from SURVEY §5.3. Spark actions per trial are
  * expensive, so minSuccessfulTests is kept small — the generators
  * still cover empty/edge shapes.
  */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, trials: Int = 8): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), prop)
    assert(res.passed, res.status.toString)
  }

  private val code: Gen[String] = Gen.choose(0, 50).map(n => s"M$n")
  private val codeList: Gen[List[String]] = Gen.nonEmptyListOf(code)

  test("explode preserves total split length") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(codeList)) { rows =>
      val df = rows.map(_.mkString(";")).toDF("meds")
      val exploded = df.withColumn("m", explode(split(col("meds"), ";")))
      exploded.count() == rows.map(_.size).sum.toLong
    })
  }

  test("positional union row counts add") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOf(Gen.alphaStr), Gen.listOf(Gen.alphaStr)) { (a, b) =>
      val da = a.toDF("v"); val db = b.toDF("v")
      da.union(db).count() == (a.size + b.size).toLong
    }, trials = 5)
  }

  test("dropDuplicates is contracting and idempotent") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOf(Gen.choose(0, 10))) { xs =>
      val df = xs.toDF("v")
      val d1 = df.dropDuplicates()
      val n1 = d1.count()
      n1 <= xs.size.toLong && d1.dropDuplicates().count() == n1 &&
        n1 == xs.distinct.size.toLong
    }, trials = 5)
  }

  test("surrogate keys are dense 1..n over distinct natural keys") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0, 1000))) { xs =>
      val df = xs.distinct.toDF("k")
      val ids = SurrogateKeys.assign(df, "id", col("k"))
        .select("id").collect().map(_.getInt(0)).sorted
      ids.toSeq == (1 to xs.distinct.size)
    }, trials = 5)
  }

  test("surrogate keys are invariant to input partitioning (global rank)") {
    import spark.implicits._
    val wide = (1 to 500).map(i => (i * 37 % 1000).toString).distinct.toDF("k")
    // five rows: with AQE on the range exchange coalesces to ONE partition
    val tiny = Seq("d", "b", "e", "a", "c").toDF("k")
    def ids(df: DataFrame, parts: Int): Map[String, Int] =
      SurrogateKeys.assign(df.repartition(parts), "id", col("k"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try for (aqe <- Seq("true", "false"); df <- Seq(wide, tiny)) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      // the rank follows the key order, whatever the input partitioning
      val keys = df.collect().map(_.getString(0)).sorted.toSeq
      val want = keys.zip(1 to keys.size).toMap
      Seq(1, 7, 32).foreach { p =>
        assert(ids(df, p) == want, s"aqe=$aqe partitions=$p rows=${keys.size}")
      }
      if (aqe == "true" && (df eq tiny))
        assert(SurrogateKeys.assign(tiny.repartition(7), "id", col("k"))
          .rdd.getNumPartitions == 1, "the tiny case no longer coalesces")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("surrogate keys stay dense 1..n in key order when the natural key repeats") {
    import spark.implicits._
    // AQE off: the range exchange keeps several partitions even for a
    // handful of rows, so ids must carry across partition edges
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try check(Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.alphaStr))) { rows =>
      val got = SurrogateKeys.assign(rows.toDF("k", "v"), "id", col("k"))
        .collect().map(r => (r.getInt(2), (r.getInt(0), r.getString(1)))).sortBy(_._1)
      got.map(_._1).toSeq == (1 to rows.size) &&
        got.map(_._2).toSeq == rows.sorted
    }, trials = 5)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("calendar fecha_id equals the dense rank of the date") {
    val dim = Calendar.withFechaId(
      Calendar.dimFecha(spark, "1992-01-01", "1992-03-01"), "1992-01-01")
    val got = dim.select("fecha", "fecha_id").collect()
      .map(r => r.getDate(0).toString -> r.getInt(1)).toMap
    assert(got("1992-01-01") == 1 && got("1992-01-02") == 2 &&
      got("1992-03-01") == 61 && got.size == 61)
  }

  test("na.fill leaves no nulls in the filled column") {
    import spark.implicits._
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.option(Gen.choose(0, 5)))) { xs =>
      val df = xs.map(o => Tuple1(o.map(_.toString).orNull)).toDF("empresa")
        .withColumn("empresa_id", col("empresa").cast("int"))
      df.na.fill(0, Seq("empresa_id"))
        .filter(col("empresa_id").isNull).count() == 0L
    }, trials = 5)
  }

  test("every medical-formula fact FK resolves to exactly one dim row") {
    val wh = new Warehouse(spark, EtlFixtures.sources(spark))
    val fact = wh.factMedicalFormula
    Seq(("fecha_id", wh.dimFecha), ("usuario_id", wh.dimUsuario),
      ("medico_id", wh.dimMedico), ("medicamento_id", wh.dimMedicamento))
      .foreach { case (k, dim) =>
        assert(fact.join(dim.select(k), Seq(k), "left_anti").count() == 0L, s"dangling $k")
        assert(dim.select(k).distinct().count() == dim.select(k).count(), s"dup $k in dim")
      }
  }
}
