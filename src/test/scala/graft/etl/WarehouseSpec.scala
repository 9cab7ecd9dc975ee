package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class WarehouseSpec extends SparkSpec {

  lazy val wh = new Warehouse(spark, EtlFixtures.sources(spark))

  test("dim_usuario unions contributors and beneficiaries with dedup") {
    val rows = wh.dimUsuario.orderBy("identificacion").collect()
    assert(rows.map(_.getAs[String]("identificacion")).toSeq == Seq("B1", "C1", "C2"))
    // surrogate keys are dense 1..n over the canonical order
    assert(rows.map(_.getAs[Int]("usuario_id")).toSeq == Seq(1, 2, 3))
  }

  test("dim_fecha has reference shape: Spanish names, weekend flag, 1826 rows") {
    assert(wh.dimFecha.count() == 1826L) // 2006-01-01..2010-12-31
    val d0 = wh.dimFecha.filter(col("fecha") === lit("2006-01-01").cast("date")).collect().head
    assert(d0.getAs[String]("dia_semana") == "Domingo")
    assert(d0.getAs[String]("mes") == "enero")
    assert(d0.getAs[Boolean]("es_fin_de_semana"))
    assert(d0.getAs[Int]("fecha_id") == 1)
    val d1 = wh.dimFecha.filter(col("fecha") === lit("2006-01-02").cast("date")).collect().head
    assert(d1.getAs[String]("dia_semana") == "Lunes")
    assert(!d1.getAs[Boolean]("es_fin_de_semana"))
  }

  test("dim_hora is the full 24x60 grid with HH:mm:00 labels") {
    assert(wh.dimHora.count() == 1440L)
    val labels = wh.dimHora.select("hora_label").collect().map(_.getString(0))
    assert(labels.contains("00:00:00") && labels.contains("23:59:00"))
    assert(labels.forall(_.matches("\\d{2}:\\d{2}:00")))
  }

  test("dim_medicamento renames the Spanish price-list headers") {
    val cols = wh.dimMedicamento.columns.toSet
    assert(cols == Set("codigo", "nombre", "presentacion", "laboratorio_registro",
      "precio", "tipo_medicamento", "medicamento_id"))
  }

  test("dim_cotizante natural-key demographic lookup attaches demografica_id") {
    val rows = wh.dimCotizante().orderBy("cedula").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[Int]("demografica_id") > 0))
    val retreat = wh.dimCotizante(keepProvieneOtraEps = true).orderBy("cedula").collect()
    assert(retreat.map(_.getAs[Boolean]("proviene_otra_eps")).toSeq == Seq(true, false))
  }

  test("payment and retreat dim_cotizante carry the same cotizante_id per cedula") {
    def ids(df: DataFrame): Map[String, Int] = df.collect()
      .map(r => r.getAs[String]("cedula") -> r.getAs[Int]("cotizante_id")).toMap
    val payment = wh.dimCotizante()
    assert(!payment.columns.contains("proviene_otra_eps"))
    val retreat = ids(wh.dimCotizante(keepProvieneOtraEps = true))
    assert(ids(payment) == retreat && retreat.size == 2)
    // and they are the ids the payment variant gets when keyed on its own
    val alone = SurrogateKeys.assign(Dimensions.dimCotizanteEnriched(
      EtlFixtures.sources(spark)("cotizante"), wh.dimDemografica,
      keepProvieneOtraEps = false), "cotizante_id", col("cedula"))
    assert(ids(alone) == retreat)
  }

  test("fact_medical_formula has explode grain: one row per medicine code") {
    val rows = wh.factMedicalFormula.collect()
    assert(rows.length == 4) // F1 has A;B;C, F2 has A
    val byFormula = rows.groupBy(_.getAs[String]("Codigo_Formula")).view.mapValues(_.length).toMap
    assert(byFormula == Map("F1" -> 3, "F2" -> 1))
    // every FK resolves
    assert(rows.forall(r => r.getAs[Int]("usuario_id") > 0 && r.getAs[Int]("medico_id") > 0 &&
      r.getAs[Int]("medicamento_id") > 0 && r.getAs[Int]("fecha_id") > 0))
  }

  test("fact_medical_formula keys resolve to January 2006 and the medicine types") {
    val rows = wh.factMedicalFormula
      .join(wh.dimFecha, Seq("fecha_id"))
      .join(wh.dimMedicamento, Seq("medicamento_id"))
      .collect()
    assert(rows.forall(r => r.getAs[Int]("anio") == 2006 && r.getAs[Int]("mes_numero") == 1))
    // A,B,C (F1) + A (F2); A,C generic, B comercial
    val byTipo = rows.groupBy(_.getAs[String]("tipo_medicamento")).view.mapValues(_.length).toMap
    assert(byTipo == Map("Genérico" -> 3, "Comercial" -> 1))
  }

  test("fact_facturacion drops payments without preexistences (J7→J12) and fills empresa_id 0") {
    val rows = wh.factFacturacion.orderBy("valor_pagado").collect()
    assert(rows.length == 2) // C2's payment silently dropped
    val byValor = rows.map(r => r.getAs[Double]("valor_pagado") -> r.getAs[Int]("empresa_id")).toMap
    assert(byValor(100.0) == 1) // N1 resolves to key 1
    assert(byValor(75.0) == 0) // dangling NX FK → filled 0
  }

  test("fact_retiro repairs mojibake municipio before the region join") {
    val rows = wh.factRetiro.collect()
    assert(rows.length == 1) // C1 @ I1 'Medellin' → 'Medellín' → region joins
    assert(rows.head.getAs[String]("cambio_a_eps") == "EPS Rival")
    assert(rows.head.getAs[Int]("region_id") > 0)
  }

  test("fact_retiro keys resolve to region Andina and a member from another EPS") {
    val rows = wh.factRetiro
      .join(wh.dimRegion, Seq("region_id"))
      .join(wh.dimCotizante(keepProvieneOtraEps = true)
        .select("cotizante_id", "proviene_otra_eps"), Seq("cotizante_id"))
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("region") == "Andina")
    assert(rows.head.getAs[Boolean]("proviene_otra_eps"))
  }

  test("fact_servicio: positional union, role-playing dims, J27→J28 drop") {
    val rows = wh.factServicio.collect()
    // CG1 + U1 + R1 survive; H1 (doctor M2, unknown IPS) is dropped
    assert(rows.length == 3)
    val tipos = rows.map(_.getAs[String]("tipo_servicio")).sorted.toSeq
    assert(tipos == Seq("Cita General", "Remision", "Urgencia"))
    // remission inherits servicios_pos.descripcion as diagnostico
    val rem = rows.find(_.getAs[String]("tipo_servicio") == "Remision").get
    assert(rem.getAs[String]("diagnostico") == "Consulta especializada")
    // role-playing: request/attention hour ids differ where labels differ
    val cita = rows.find(_.getAs[String]("tipo_servicio") == "Cita General").get
    assert(cita.getAs[Int]("hora_solicitud_id") != cita.getAs[Int]("hora_atencion_id"))
    assert(cita.getAs[Int]("fecha_solicitud_id") + 1 == cita.getAs[Int]("fecha_atencion_id"))
  }

  test("mojibake repair covers all 9 reference patterns byte-for-byte") {
    import spark.implicits._
    val in = (Mojibake.Repairs.map(_._1) :+ "Cali").toDF("municipio")
    val out = in.select(Mojibake.repairMunicipio.as("m")).collect().map(_.getString(0)).toSeq
    assert(out == (Mojibake.Repairs.map(_._2) :+ "Cali"))
  }

  test("warehouse writes all dims and facts as parquet") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    wh.writeAll(outDir, stringifyDates = true)
    val fact = spark.read.parquet(s"$outDir/fact_medical_formula")
    assert(fact.count() == 4)
    val dimF = spark.read.parquet(s"$outDir/dim_fecha")
    // dates stringified at the sink only (reference F10 normalization)
    assert(dimF.schema("fecha").dataType == org.apache.spark.sql.types.StringType)
  }
}
