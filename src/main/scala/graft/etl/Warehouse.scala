package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end warehouse build: the `process.py` equivalent
  * (`/root/reference/process.py:8-11`), collapsed into one SparkSession
  * and one pass.
  *
  * Differences from the reference, by design (SURVEY §3, §4):
  *   - dimensions are built ONCE and cached, not rebuilt per mart;
  *   - surrogate keys are assigned in-engine ([[SurrogateKeys]]), not
  *     via a warehouse write → JDBC read-back round-trip;
  *   - no driver-side collect: facts are written distributed.
  */
class Warehouse(spark: SparkSession, sources: String => DataFrame) {

  /** Calendar span matching the reference's hard-coded build args
    * (`/root/reference/processing/medical_formula_process.py:40`). */
  val calendarStart = "2006-01-01"
  val calendarEnd = "2010-12-31"

  import SurrogateKeys.assign

  // ---- conformed dimensions, keyed and cached -----------------------
  lazy val dimFecha: DataFrame = Calendar.withFechaId(
    Calendar.dimFecha(spark, calendarStart, calendarEnd), calendarStart).cache()

  lazy val dimHora: DataFrame =
    Calendar.withHoraId(Calendar.dimHora(spark)).cache()

  lazy val dimUsuario: DataFrame = assign(
    Dimensions.dimUsuario(sources("cotizante"), sources("beneficiario")),
    "usuario_id", col("identificacion")).cache()

  lazy val dimMedico: DataFrame = assign(
    Dimensions.dimMedico(sources("medico")), "medico_id", col("cedula")).cache()

  lazy val dimMedicamento: DataFrame = assign(
    Dimensions.dimMedicamento(sources("medicamentos")), "medicamento_id", col("codigo")).cache()

  lazy val dimCentroMedico: DataFrame = assign(
    Dimensions.dimCentroMedico(sources("ips")), "centro_medico_id", col("id_ips")).cache()

  lazy val dimRegion: DataFrame = assign(
    Dimensions.dimRegion(sources("region_snapshot")), "region_id", col("municipio")).cache()

  lazy val dimEnfermedad: DataFrame = assign(
    Dimensions.dimEnfermedad(sources("preexistencias")), "enfermedad_id", col("nombre")).cache()

  lazy val dimEmpresa: DataFrame = assign(
    Dimensions.dimEmpresa(sources("empresa")), "empresa_id", col("nit")).cache()

  lazy val dimDemografica: DataFrame = assign(
    Dimensions.dimDemografica(sources("cotizante")), "demografica_id",
    col("direccion"), col("estado_civil"), col("estracto"),
    col("tipo_discapacidad"), col("salario_base")).cache()

  /** dim_cotizante enriched with demografica_id by natural-key lookup,
    * built and keyed ONCE in the retreat variant (with the booleanized
    * proviene_otra_eps) and cached. The payment variant is that frame
    * minus proviene_otra_eps: it is the last tie-breaker of the key
    * order, so dropping it keeps every row's cotizante_id.
    */
  private lazy val dimCotizanteRetiro: DataFrame = assign(
    Dimensions.dimCotizanteEnriched(sources("cotizante"), dimDemografica,
      keepProvieneOtraEps = true), "cotizante_id", col("cedula")).cache()

  def dimCotizante(keepProvieneOtraEps: Boolean = false): DataFrame =
    if (keepProvieneOtraEps) dimCotizanteRetiro
    else dimCotizanteRetiro.drop("proviene_otra_eps")

  // ---- facts ---------------------------------------------------------
  lazy val factMedicalFormula: DataFrame = Facts.factMedicalFormula(
    sources("formulas_medicas"), dimUsuario, dimMedico, dimMedicamento, dimFecha)

  lazy val factFacturacion: DataFrame = Facts.factFacturacion(
    sources("pagos"), sources("empresa_cotizante"), sources("preexistencias"),
    sources("cotizante"), dimCotizante(), dimCentroMedico, dimEmpresa,
    dimEnfermedad, dimFecha)

  lazy val factRetiro: DataFrame = Facts.factRetiro(
    sources("retiros"), sources("cotizante"), dimCentroMedico, dimRegion,
    dimCotizante(keepProvieneOtraEps = true), dimFecha)

  lazy val factServicio: DataFrame = Facts.factServicio(
    sources("citas_generales"), sources("urgencias"), sources("hospitalizaciones"),
    sources("remisiones"), sources("servicios_pos"), sources("medico"),
    sources("ips"), dimMedico, dimUsuario, dimRegion, dimHora, dimFecha)

  def allDims: Map[String, DataFrame] = Map(
    "dim_fecha" -> dimFecha, "dim_hora" -> dimHora, "dim_usuario" -> dimUsuario,
    "dim_medico" -> dimMedico, "dim_medicamento" -> dimMedicamento,
    "dim_centro_medico" -> dimCentroMedico, "dim_region" -> dimRegion,
    "dim_enfermedad" -> dimEnfermedad, "dim_empresa" -> dimEmpresa,
    "dim_demografica" -> dimDemografica,
    // persist the richer retreat variant: the reference's retreat mart
    // loads dim_cotizante WITH proviene_otra_eps, and churn analysis
    // over the written warehouse needs it
    "dim_cotizante" -> dimCotizante(keepProvieneOtraEps = true))

  def allFacts: Map[String, DataFrame] = Map(
    "fact_medical_formula" -> factMedicalFormula,
    "fact_facturacion" -> factFacturacion,
    "fact_retiro" -> factRetiro,
    "fact_servicio" -> factServicio)

  /** Write every dim and fact as parquet under `outDir`. Dates are
    * normalized to 'yyyy-MM-dd' strings at the sink only, matching the
    * reference's pre-load strftime (SURVEY §1.3 F10).
    */
  def writeAll(outDir: String, stringifyDates: Boolean = false): Unit =
    (allDims ++ allFacts).foreach { case (name, df) =>
      val out = if (stringifyDates) Sinks.stringifyDateColumns(df) else df
      Sinks.parquet(out, s"$outDir/$name")
    }
}

/** Sinks (SURVEY §2.2): distributed writes replace the reference's
  * collect-to-driver + REST/SQLAlchemy loads (K1/K2/K4).
  */
object Sinks {
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def csv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode("overwrite").csv(path)

  /** date → 'yyyy-MM-dd' string, the reference's pre-load normalization
    * (`/root/reference/processing/medical_formula_process.py:53-54`). */
  def stringifyDateColumns(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.DateType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd")))
}
