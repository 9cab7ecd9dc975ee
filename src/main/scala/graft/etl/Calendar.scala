package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated date / hour dimensions.
  *
  * The reference builds its calendar driver-side with pandas
  * `date_range` plus Spanish weekday/month lookup dicts
  * (`/root/reference/dimension.py:76-118`); `dim_hora` is read but never
  * built (`/root/reference/processing/service_process.py:104`), so we
  * define it as the full 24h x 60m grid. Both are generated inside the
  * engine — `dim_fecha` by `sequence` + `explode` over a one-row seed,
  * `dim_hora` as a sized range of minute ids ([[SyntheticSources.rows]])
  * — no driver-side loop, so the same code works at any scale and the
  * dimension stays broadcastable.
  */
object Calendar {

  /** Spark `dayofweek` is 1=Sunday..7=Saturday. */
  def spanishDayName(dow: Column): Column =
    when(dow === 1, "Domingo")
      .when(dow === 2, "Lunes")
      .when(dow === 3, "Martes")
      .when(dow === 4, "Miércoles")
      .when(dow === 5, "Jueves")
      .when(dow === 6, "Viernes")
      .when(dow === 7, "Sábado")

  def spanishMonthName(m: Column): Column =
    when(m === 1, "enero").when(m === 2, "febrero").when(m === 3, "marzo")
      .when(m === 4, "abril").when(m === 5, "mayo").when(m === 6, "junio")
      .when(m === 7, "julio").when(m === 8, "agosto").when(m === 9, "septiembre")
      .when(m === 10, "octubre").when(m === 11, "noviembre").when(m === 12, "diciembre")

  /** dim_fecha with the reference's output shape
    * (`/root/reference/dimension.py:116`): fecha, anio, mes_numero, mes,
    * dia_numero, dia_semana, es_fin_de_semana. Weekend = Saturday or
    * Sunday (pandas weekday 5/6, `/root/reference/dimension.py:112`).
    */
  def dimFecha(spark: SparkSession, start: String, end: String): DataFrame = {
    // one slice: a seed split per core would write empty partitions
    val days = spark.range(0, 1, 1, 1).select(
      explode(sequence(
        to_date(lit(start)), to_date(lit(end)),
        expr("interval 1 day"))).as("fecha"))
    val dow = dayofweek(col("fecha"))
    days.select(
      col("fecha"),
      year(col("fecha")).as("anio"),
      month(col("fecha")).as("mes_numero"),
      spanishMonthName(month(col("fecha"))).as("mes"),
      dayofmonth(col("fecha")).as("dia_numero"),
      spanishDayName(dow).as("dia_semana"),
      dow.isin(1, 7).as("es_fin_de_semana"))
  }

  /** Attach `fecha_id` = 1-based day offset from `start`. For a daily
    * calendar this equals `row_number() OVER (ORDER BY fecha)` but is a
    * pure per-row projection — no window, no shuffle, works at any span.
    */
  def withFechaId(dim: DataFrame, start: String): DataFrame =
    dim.withColumn("fecha_id",
      (datediff(col("fecha"), to_date(lit(start))) + 1).cast("int"))

  /** Attach `hora_id` = 1-based minute-of-day. For the 24x60 grid this
    * equals `row_number() OVER (ORDER BY hora, minuto)` as a pure
    * projection — the dim_hora analogue of [[withFechaId]].
    */
  def withHoraId(dim: DataFrame): DataFrame =
    dim.withColumn("hora_id",
      (col("hora") * 60 + col("minuto") + 1).cast("int"))

  /** dim_hora: 24x60 minute grid with an 'HH:mm:00' label, the join key
    * the service fact uses (`/root/reference/processing/service_process.py:148-149`).
    */
  def dimHora(spark: SparkSession): DataFrame = {
    val hora = (col("id") / 60).cast("int")
    val minuto = (col("id") % 60).cast("int")
    SyntheticSources.rows(spark, 24 * 60)(
      hora.as("hora"), minuto.as("minuto"),
      concat(
        lpad(hora.cast("string"), 2, "0"), lit(":"),
        lpad(minuto.cast("string"), 2, "0"), lit(":00")).as("hora_label"))
  }
}
