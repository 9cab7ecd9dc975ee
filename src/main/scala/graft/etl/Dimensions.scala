package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The 10 conformed dimension builders, as pure `DataFrame => DataFrame`
  * transforms over reference-shaped source relations (FIXTURES.md §A).
  * Semantics mirror `/root/reference/dimension.py`; every builder ends
  * in `dropDuplicates()` like the reference (SURVEY §2.7 A1).
  *
  * Unlike the reference — which rebuilds each dimension once per mart
  * and round-trips it through the warehouse for keys (SURVEY §3) — these
  * are built once, cached by [[Warehouse]], and keyed in-engine via
  * [[SurrogateKeys]].
  */
object Dimensions {

  /** dim_usuario: contributors ∪ beneficiaries by name after aligning
    * `cedula`/`id_beneficiario` → `identificacion`
    * (`/root/reference/dimension.py:31-41`).
    */
  def dimUsuario(cotizante: DataFrame, beneficiario: DataFrame): DataFrame = {
    val contrib = cotizante
      .select("cedula", "nombre", "fecha_nacimiento", "sexo")
      .withColumnRenamed("cedula", "identificacion")
    val benef = beneficiario
      .select("id_beneficiario", "nombre", "fecha_nacimiento", "sexo")
      .withColumnRenamed("id_beneficiario", "identificacion")
    contrib.unionByName(benef).dropDuplicates()
  }

  /** dim_cotizante as loaded by the payment mart: demographic lookup by
    * 5-column natural key attaches demografica_id
    * (`/root/reference/processing/payment_process.py:136-138`); the
    * retreat mart keeps + booleanizes proviene_otra_eps
    * (`/root/reference/processing/retreat_process.py:148-153`).
    */
  def dimCotizanteEnriched(cotizante: DataFrame, dimDemografica: DataFrame,
      keepProvieneOtraEps: Boolean): DataFrame = {
    val joined = dimDemografica.join(cotizante,
      Seq("direccion", "estado_civil", "estracto", "tipo_discapacidad", "salario_base"))
    val base = Seq("cedula", "nombre", "tipo_cotizante", "sexo", "fecha_nacimiento",
      "nivel_escolaridad", "fecha_afiliacion", "demografica_id")
    if (keepProvieneOtraEps)
      joined.select(base.head, (base.tail :+ "proviene_otra_eps"): _*)
        .withColumn("proviene_otra_eps",
          when(col("proviene_otra_eps") === 1, true).otherwise(false))
    else joined.select(base.head, base.tail: _*)
  }

  /** dim_centro_medico (`/root/reference/dimension.py:44-50`). */
  def dimCentroMedico(ips: DataFrame): DataFrame =
    ips.select("id_ips", "nombre", "direccion", "tipo_ips", "municipio")
      .withColumnRenamed("tipo_ips", "tipo_centro_medico")
      .withColumn("activo", lit(true))
      .dropDuplicates()

  /** dim_medico (`/root/reference/dimension.py:53-58`). */
  def dimMedico(medico: DataFrame): DataFrame =
    medico.drop("subespecialidad", "id_ips", "Direccion_Consultorio",
      "direccion_consultorio").dropDuplicates()

  /** dim_medicamento from the 7-column price list; the Excel read
    * becomes a plain tabular source (SURVEY §2.1 S5). Renames per
    * `/root/reference/dimension.py:65-71`.
    */
  def dimMedicamento(priceList: DataFrame): DataFrame = {
    val renames = Seq(
      "Código" -> "codigo", "Nombre Genérico" -> "nombre",
      "Presentación" -> "presentacion",
      "Laboratorio y Registro" -> "laboratorio_registro",
      "Precio" -> "precio", "Tipo Medicamento" -> "tipo_medicamento")
    renames.foldLeft(priceList.drop("Forma Farmacéutica")) {
      case (df, (from, to)) => df.withColumnRenamed(from, to)
    }.dropDuplicates()
  }

  /** dim_region from a static snapshot of the Socrata
    * municipality→department→region dataset (SURVEY §2.1 S6): the REST
    * fetch is a driver-side source concern; semantically the dim is a
    * 3-column projection + dedup (`/root/reference/dimension.py:121-133`).
    */
  def dimRegion(regionSnapshot: DataFrame): DataFrame =
    regionSnapshot.select("municipio", "departamento", "region").dropDuplicates()

  /** dim_enfermedad (`/root/reference/dimension.py:136-140`); renamed to
    * `nombre` at load (`/root/reference/processing/payment_process.py:63`). */
  def dimEnfermedad(preexistencias: DataFrame): DataFrame =
    preexistencias.select("enfermedad").dropDuplicates()
      .withColumnRenamed("enfermedad", "nombre")

  /** dim_empresa (`/root/reference/dimension.py:143-146`). */
  def dimEmpresa(empresa: DataFrame): DataFrame = empresa.dropDuplicates()

  /** dim_demografica (`/root/reference/dimension.py:149-154`). */
  def dimDemografica(cotizante: DataFrame): DataFrame =
    cotizante.select("direccion", "estado_civil", "estracto",
      "tipo_discapacidad", "salario_base").dropDuplicates()
}
