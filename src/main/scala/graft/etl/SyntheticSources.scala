package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Distributed generator of reference-shaped source relations
  * (FIXTURES.md §A) at any scale: every table is a range of row ids
  * plus deterministic per-row derivations (hash-mod, no driver loops,
  * no RNG), so a 10^9-row cotizante table generates in parallel exactly
  * like a 10^2-row one. The range splits the way Spark splits a file
  * scan of the same bytes ([[rows]]): a factor-1 table is one
  * partition, a large one about one split per core or per
  * `maxPartitionBytes`. Used by [[graft.Runner]] to exercise the whole
  * warehouse build at configurable scale.
  */
object SyntheticSources {

  /** Row ids `0 until n` projected through `cols`, split like a file
    * scan of `n` rows of the projection's `defaultSize` bytes: Spark's
    * `FilePartition.maxSplitBytes` rule over the session's
    * `files.maxPartitionBytes`, `files.openCostInBytes` and
    * `files.minPartitionNum` (else the leaf-node default parallelism).
    * A table far smaller than the open cost is one slice instead of one
    * mostly empty slice per core.
    */
  def rows(spark: SparkSession, n: Long)(cols: Column*): DataFrame = {
    val conf = spark.sessionState.conf
    val bytes = n * spark.range(0).select(cols: _*).schema.defaultSize
    val minPartitions = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val openCost = conf.filesOpenCostInBytes
    val split = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, (bytes + openCost) / minPartitions))
    val slices = math.max(1L, (bytes + split - 1) / split)
    spark.range(0, n, 1, slices.toInt).select(cols: _*)
  }

  private def pick(id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), pmod(id, lit(values.size)).cast("int") + 1)

  private def dateFrom(base: String, id: Column, spanDays: Int): Column =
    date_add(lit(base).cast("date"), pmod(id * 2654435761L, lit(spanDays)).cast("int"))

  private def hora(id: Column, salt: Int): Column = concat(
    lpad(pmod(id * (salt + 7), lit(24)).cast("string"), 2, "0"), lit(":"),
    lpad(pmod(id * (salt + 13), lit(60)).cast("string"), 2, "0"), lit(":00"))

  /** Raw municipio values: mojibake forms (exercising the repair CASE)
    * plus already-clean names; all repair to members of the
    * RegionSource snapshot. */
  private val RawMunicipios = Seq(
    "Bogota", "Medellin", "Jamund�", "Monter�a", "Quibd�", "Cali",
    "Barranquilla", "Cartagena", "Bucaramanga", "Pereira")

  case class Sizes(cotizantes: Long = 1000, beneficiarios: Long = 500,
      ips: Long = 50, medicos: Long = 100, empresas: Long = 40,
      medicamentos: Long = 200, formulas: Long = 2000, pagos: Long = 3000,
      retiros: Long = 300, servicios: Long = 1000, serviciosPos: Long = 20) {
    def scaled(f: Double): Sizes = Sizes(
      (cotizantes * f).toLong max 10, (beneficiarios * f).toLong max 5,
      (ips * f).toLong max 5, (medicos * f).toLong max 5,
      (empresas * f).toLong max 3, (medicamentos * f).toLong max 10,
      (formulas * f).toLong max 10, (pagos * f).toLong max 10,
      (retiros * f).toLong max 5, (servicios * f).toLong max 10,
      (serviciosPos * f).toLong max 3)
  }

  def generate(spark: SparkSession, sz: Sizes): Map[String, DataFrame] = {
    val id = col("id")
    def key(prefix: String, n: Long): Column = concat(lit(prefix), pmod(id, lit(n)))

    val cotizante = rows(spark, sz.cotizantes)(
      concat(lit("C"), id).as("cedula"),
      concat(lit("Nombre"), id).as("nombre"),
      dateFrom("1950-01-01", id, 18000).as("fecha_nacimiento"),
      pick(id, Seq("F", "M")).as("sexo"),
      pick(id, Seq("dependiente", "independiente", "pensionado")).as("tipo_cotizante"),
      pick(id, Seq("primaria", "secundaria", "universitaria", "posgrado")).as("nivel_escolaridad"),
      dateFrom("2000-01-01", id, 2000).as("fecha_afiliacion"),
      pmod(id, lit(2)).cast("int").as("proviene_otra_eps"),
      key("I", sz.ips).as("id_ips"),
      concat(lit("Calle "), pmod(id * 31, lit(500))).as("direccion"),
      pick(id * 3, Seq("soltero", "casado", "union libre", "viudo")).as("estado_civil"),
      (pmod(id, lit(6)).cast("int") + 1).as("estracto"),
      pick(id * 5, Seq("ninguna", "motriz", "visual")).as("tipo_discapacidad"),
      (lit(1000.0) + pmod(id, lit(50)).cast("double") * 100.0).as("salario_base"))

    val beneficiario = rows(spark, sz.beneficiarios)(
      concat(lit("B"), id).as("id_beneficiario"),
      concat(lit("Benef"), id).as("nombre"),
      dateFrom("1990-01-01", id, 10000).as("fecha_nacimiento"),
      pick(id, Seq("F", "M")).as("sexo"))

    val ips = rows(spark, sz.ips)(
      concat(lit("I"), id).as("id_ips"),
      concat(lit("IPS "), id).as("nombre"),
      concat(lit("Cra "), pmod(id, lit(200))).as("direccion"),
      pick(id, Seq("clinica", "hospital", "centro de salud")).as("tipo_ips"),
      pick(id * 7, RawMunicipios).as("municipio"))

    val medico = rows(spark, sz.medicos)(
      concat(lit("M"), id).as("cedula"),
      concat(lit("Dr "), id).as("nombre"),
      pick(id, Seq("general", "cardiologia", "pediatria", "ortopedia")).as("especialidad"),
      pick(id * 3, Seq("a", "b", "c")).as("subespecialidad"),
      key("I", sz.ips).as("id_ips"),
      concat(lit("Cll "), pmod(id, lit(90))).as("Direccion_Consultorio"))

    val enfermedades = Seq("Diabetes", "Hipertensión", "Asma", "Artritis",
      "Migraña", "Epilepsia", "Gastritis", "Anemia")
    // a condition for every 2nd cotizante, then a second one for every
    // 10th: one range whose ids run through both groups in turn
    val (everySecond, everyTenth) = (sz.cotizantes / 2, sz.cotizantes / 10)
    val second = id < everySecond
    val j = id - everySecond
    val preexistencias = rows(spark, everySecond + everyTenth)(
      concat(lit("C"), when(second, id * 2).otherwise(j * 10)).as("id_usuario"),
      pick(when(second, id).otherwise(j * 11 + 3), enfermedades).as("enfermedad"))

    val empresa = rows(spark, sz.empresas)(
      concat(lit("N"), id).as("nit"),
      concat(lit("Empresa "), id).as("nombre"))

    val empresaCotizante = rows(spark, sz.cotizantes / 3)(
      concat(lit("C"), id * 3).as("cotizante"),
      dateFrom("2001-01-01", id, 1500).as("fecha_vinculacion"))

    // 1-5 medicine codes per prescription, ';'-joined (the explode grain)
    val formulas = rows(spark, sz.formulas)(
      concat(lit("F"), id).as("Codigo_Formula"),
      when(pmod(id, lit(4)) === 0, concat(lit("B"), pmod(id, lit(sz.beneficiarios))))
        .otherwise(concat(lit("C"), pmod(id, lit(sz.cotizantes)))).as("id_usuario"),
      key("M", sz.medicos).as("id_medico"),
      dateFrom("2006-01-01", id, 1826).as("fecha"),
      concat_ws(";", transform(sequence(lit(0), pmod(id, lit(5)).cast("int")),
        j => concat(lit("A"), pmod(id * 13 + j, lit(sz.medicamentos)))))
        .as("medicamentos_recetados"))

    val medicamentos = rows(spark, sz.medicamentos)(
      concat(lit("A"), id).as("Código"),
      concat(lit("Generico "), id).as("Nombre Genérico"),
      pick(id, Seq("tableta", "capsula", "jarabe")).as("Forma Farmacéutica"),
      concat(lit("x"), pmod(id, lit(30)) + 1).as("Presentación"),
      concat(lit("Lab"), pmod(id, lit(12))).as("Laboratorio y Registro"),
      (lit(5.0) + pmod(id, lit(200)).cast("double") / 2.0).as("Precio"),
      pick(id, Seq("Genérico", "Comercial")).as("Tipo Medicamento"))

    val pagos = rows(spark, sz.pagos)(
      key("C", sz.cotizantes).as("id_usuario"),
      when(pmod(id, lit(5)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("N"), pmod(id, lit(sz.empresas + 5)))).as("empresa"),
      dateFrom("2006-01-01", id, 1826).as("fecha_pago"),
      (pmod(id * 97, lit(100000)).cast("double") / 100.0).as("valor_pagado"))

    val retiros = rows(spark, sz.retiros)(
      key("C", sz.cotizantes).as("id_usuario"),
      dateFrom("2006-01-01", id, 1826).as("fecha_retiro"),
      pick(id, Seq("EPS Alfa", "EPS Beta", "Ninguna")).as("cambio_a_eps"))

    def service(codigoCol: String, extra: Boolean = false): DataFrame = {
      val cols = Seq(
        concat(lit(codigoCol.take(2).toUpperCase), id).as(codigoCol),
        when(pmod(id, lit(3)) === 0, concat(lit("B"), pmod(id, lit(sz.beneficiarios))))
          .otherwise(concat(lit("C"), pmod(id, lit(sz.cotizantes)))).as("id_usuario"),
        key("M", sz.medicos).as("id_medico"),
        dateFrom("2006-01-01", id, 1825).as("fecha_solicitud"),
        hora(id, 1).as("hora_solicitud"),
        dateFrom("2006-01-02", id, 1825).as("fecha_atencion"),
        hora(id, 2).as("hora_atencion"),
        pick(id, enfermedades).as("diagnostico")) ++
        (if (extra) Seq(pmod(id, lit(15)).cast("int").as("duracion_hospitalizacion"))
         else Seq.empty)
      rows(spark, sz.servicios)(cols: _*)
    }
    val citas = service("codigo_cita")
    val urgencias = service("codigo_urgencia")
    val hospitalizaciones = service("codigo_hospitalizacion", extra = true)
    val remisiones = rows(spark, sz.servicios / 4)(
      concat(lit("R"), id).as("codigo_remision"),
      key("C", sz.cotizantes).as("id_usuario"),
      key("M", sz.medicos).as("id_medico"),
      concat(lit("M"), pmod(id + 1, lit(sz.medicos))).as("id_medico_remite"),
      pick(id, enfermedades).as("diagnostico"),
      dateFrom("2006-01-01", id, 1825).as("fecha_remision"),
      hora(id, 3).as("hora_remision"),
      dateFrom("2006-01-02", id, 1825).as("fecha_atencion"),
      hora(id, 4).as("hora_atencion"),
      key("SP", sz.serviciosPos).as("servicio_pos"))
    val serviciosPos = rows(spark, sz.serviciosPos)(
      concat(lit("SP"), id).as("id_servicio_pos"),
      concat(lit("Servicio POS "), id).as("descripcion"),
      (lit(10.0) + pmod(id, lit(90)).cast("double")).as("costo"))

    val regions = graft.sources.RegionSource.rows
    val regionSnapshot = rows(spark, regions.size)(
      pick(id, regions.map(_._1)).as("municipio"),
      pick(id, regions.map(_._2)).as("departamento"),
      pick(id, regions.map(_._3)).as("region"))

    Map(
      "cotizante" -> cotizante, "beneficiario" -> beneficiario, "ips" -> ips,
      "medico" -> medico, "preexistencias" -> preexistencias, "empresa" -> empresa,
      "empresa_cotizante" -> empresaCotizante, "formulas_medicas" -> formulas,
      "medicamentos" -> medicamentos, "pagos" -> pagos, "retiros" -> retiros,
      "region_snapshot" -> regionSnapshot, "servicios_pos" -> serviciosPos,
      "citas_generales" -> citas, "urgencias" -> urgencias,
      "hospitalizaciones" -> hospitalizaciones, "remisiones" -> remisiones)
  }
}
