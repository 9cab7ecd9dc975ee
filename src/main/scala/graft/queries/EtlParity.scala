package graft.queries

import graft.SparkEntry.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Calendar, Facts, SurrogateKeys}
import graft.sources.Tables

/** End-to-end ETL parity check runnable against the DuckDB oracle: maps
  * the TPC-H-ish testdata into reference-shaped sources, then runs the
  * REAL fact builder (graft.etl.Facts) — prescriptions become orders
  * whose `;`-joined medicine list is the order's lineitem part keys.
  * This drives the same code path the warehouse uses
  * (split+explode grain, 4 broadcast dim joins, surrogate keys) on data
  * the oracle can reproduce in SQL.
  */
object EtlParity {

  def q26EtlMedicalFormula(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)

    // formulas_medicas: one prescription per order; medicine codes are
    // the order's part keys in line order. The explicit repartition on
    // the group key replaces (not adds to) the aggregation's exchange —
    // partial collect_list state is as big as its input, so there is no
    // map-side combine to lose, and the list building runs at full
    // parallelism however few input splits the scan produced.
    val meds = li.repartition(col("l_orderkey")).groupBy(col("l_orderkey")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
        x => x.getField("l_partkey").cast("string")), ";").as("medicamentos_recetados"),
      min(col("l_suppkey")).cast("string").as("id_medico"))
    val formulas = o.join(meds, o("o_orderkey") === meds("l_orderkey"))
      .select(col("o_orderkey").cast("string").as("Codigo_Formula"),
        col("o_custkey").cast("string").as("id_usuario"),
        col("id_medico"),
        col("o_orderdate").cast("date").as("fecha"),
        col("medicamentos_recetados"))

    val dimUsuario = SurrogateKeys.assign(
      Tables.customer(spark, dir).select(col("c_custkey").cast("string").as("identificacion")),
      "usuario_id", col("identificacion"))
    val dimMedico = SurrogateKeys.assign(
      Tables.supplier(spark, dir).select(col("s_suppkey").cast("string").as("cedula")),
      "medico_id", col("cedula"))
    val dimMedicamento = SurrogateKeys.assign(
      Tables.part(spark, dir).select(col("p_partkey").cast("string").as("codigo")),
      "medicamento_id", col("codigo"))
    val dimFecha = Calendar.withFechaId(
      Calendar.dimFecha(spark, "1992-01-01", "1998-12-31"), "1992-01-01")

    Facts.factMedicalFormula(formulas, dimUsuario, dimMedico, dimMedicamento, dimFecha)
      .orderBy(col("Codigo_Formula"), col("medicamento_id"), col("fecha_id"),
        col("usuario_id"), col("medico_id"))
  }

  val q26Oracle: String =
    """WITH formulas AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS codigo_formula,
      |    CAST(o_custkey AS VARCHAR) AS id_usuario,
      |    CAST(MIN(l_suppkey) AS VARCHAR) AS id_medico,
      |    CAST(o_orderdate AS DATE) AS fecha,
      |    string_agg(CAST(l_partkey AS VARCHAR), ';' ORDER BY l_linenumber) AS meds
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2, 4),
      |exploded AS (
      |  SELECT codigo_formula, id_usuario, id_medico, fecha,
      |    unnest(string_split(meds, ';')) AS medicamento_idx
      |  FROM formulas),
      |dim_usuario AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS identificacion,
      |    CAST(ROW_NUMBER() OVER (ORDER BY CAST(c_custkey AS VARCHAR)) AS INTEGER) AS usuario_id
      |  FROM customer),
      |dim_medico AS (
      |  SELECT CAST(s_suppkey AS VARCHAR) AS cedula,
      |    CAST(ROW_NUMBER() OVER (ORDER BY CAST(s_suppkey AS VARCHAR)) AS INTEGER) AS medico_id
      |  FROM supplier),
      |dim_medicamento AS (
      |  SELECT CAST(p_partkey AS VARCHAR) AS codigo,
      |    CAST(ROW_NUMBER() OVER (ORDER BY CAST(p_partkey AS VARCHAR)) AS INTEGER) AS medicamento_id
      |  FROM part),
      |dim_fecha AS (
      |  SELECT fecha, CAST(ROW_NUMBER() OVER (ORDER BY fecha) AS INTEGER) AS fecha_id
      |  FROM (SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-12-31', INTERVAL 1 DAY)) AS DATE) AS fecha))
      |SELECT f.fecha_id, u.usuario_id, m.medico_id, md.medicamento_id,
      |  e.codigo_formula AS "Codigo_Formula"
      |FROM exploded e
      |JOIN dim_usuario u ON e.id_usuario = u.identificacion
      |JOIN dim_medico m ON e.id_medico = m.cedula
      |JOIN dim_medicamento md ON e.medicamento_idx = md.codigo
      |JOIN dim_fecha f ON e.fecha = f.fecha
      |ORDER BY "Codigo_Formula", medicamento_id, fecha_id, usuario_id, medico_id""".stripMargin

  // --------------------------------------------------------------------
  // q41 — the billing mart end-to-end through Facts.factFacturacion:
  // payments (orders) × synthesized preexistences, exercising J6-J13 on
  // oracle-reproducible data — the left-join chain, the J7→J12 silent
  // drop (odd customers have no preexistence), the dangling/null
  // empresa FK → fill(0), and the payment×preexistence grain expansion
  // (every 10th customer carries two diseases).
  def q41EtlFacturacion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val o = Tables.orders(spark, dir)
    val cedula = col("c_custkey").cast("string")

    val cotizante = c.select(cedula.as("cedula"), col("c_nationkey").cast("string").as("id_ips"))
    val pagos = o.select(
      col("o_custkey").cast("string").as("id_usuario"),
      when(col("o_custkey") % 5 === 0, lit(null).cast("string"))
        .otherwise((col("o_custkey") % 30).cast("string")).as("empresa"),
      col("o_orderdate").cast("date").as("fecha_pago"),
      col("o_totalprice").as("valor_pagado"))
    val preexistencias = c.filter(col("c_custkey") % 2 === 0)
      .select(cedula.as("id_usuario"), col("c_mktsegment").as("enfermedad"))
      .union(c.filter(col("c_custkey") % 10 === 0)
        .select(cedula.as("id_usuario"), concat(col("c_mktsegment"), lit("-2")).as("enfermedad")))
    val empresaCotizante = c.filter(col("c_custkey") % 7 === 0)
      .select(cedula.as("cotizante"), col("c_name").as("contacto"))

    val dimCotizante = SurrogateKeys.assign(
      c.select(cedula.as("cedula")), "cotizante_id", col("cedula"))
    val dimCentroMedico = SurrogateKeys.assign(
      n.select(col("n_nationkey").cast("string").as("id_ips")), "centro_medico_id", col("id_ips"))
    val dimEmpresa = SurrogateKeys.assign(
      n.select(col("n_nationkey").cast("string").as("nit")), "empresa_id", col("nit"))
    val dimEnfermedad = SurrogateKeys.assign(
      graft.etl.Dimensions.dimEnfermedad(preexistencias), "enfermedad_id", col("nombre"))
    val dimFecha = Calendar.withFechaId(
      Calendar.dimFecha(spark, "1992-01-01", "1998-12-31"), "1992-01-01")

    Facts.factFacturacion(pagos, empresaCotizante, preexistencias, cotizante,
      dimCotizante, dimCentroMedico, dimEmpresa, dimEnfermedad, dimFecha)
      .orderBy(col("fecha_id"), col("centro_medico_id"), col("enfermedad_id"),
        col("empresa_id"), col("cotizante_id"), col("valor_pagado"))
  }

  val q41Oracle: String =
    """WITH cot AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS cedula,
      |    CAST(c_nationkey AS VARCHAR) AS id_ips FROM customer),
      |pagos AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS id_usuario,
      |    CASE WHEN o_custkey % 5 = 0 THEN NULL
      |         ELSE CAST(o_custkey % 30 AS VARCHAR) END AS empresa,
      |    CAST(o_orderdate AS DATE) AS fecha_pago,
      |    o_totalprice AS valor_pagado
      |  FROM orders),
      |preex AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS id_usuario, c_mktsegment AS enfermedad
      |  FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT CAST(c_custkey AS VARCHAR), c_mktsegment || '-2'
      |  FROM customer WHERE c_custkey % 10 = 0),
      |ec AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS cotizante, c_name AS contacto
      |  FROM customer WHERE c_custkey % 7 = 0),
      |dim_cot AS (
      |  SELECT cedula, CAST(ROW_NUMBER() OVER (ORDER BY cedula) AS INTEGER) AS cotizante_id
      |  FROM (SELECT CAST(c_custkey AS VARCHAR) AS cedula FROM customer)),
      |dim_cm AS (
      |  SELECT id_ips, CAST(ROW_NUMBER() OVER (ORDER BY id_ips) AS INTEGER) AS centro_medico_id
      |  FROM (SELECT CAST(n_nationkey AS VARCHAR) AS id_ips FROM nation)),
      |dim_emp AS (
      |  SELECT nit, CAST(ROW_NUMBER() OVER (ORDER BY nit) AS INTEGER) AS empresa_id
      |  FROM (SELECT CAST(n_nationkey AS VARCHAR) AS nit FROM nation)),
      |dim_enf AS (
      |  SELECT nombre, CAST(ROW_NUMBER() OVER (ORDER BY nombre) AS INTEGER) AS enfermedad_id
      |  FROM (SELECT DISTINCT enfermedad AS nombre FROM preex)),
      |dim_fecha AS (
      |  SELECT fecha, CAST(ROW_NUMBER() OVER (ORDER BY fecha) AS INTEGER) AS fecha_id
      |  FROM (SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-12-31', INTERVAL 1 DAY)) AS DATE) AS fecha))
      |SELECT f.fecha_id, cm.centro_medico_id, enf.enfermedad_id,
      |  COALESCE(emp.empresa_id, 0) AS empresa_id, dc.cotizante_id,
      |  p.valor_pagado
      |FROM pagos p
      |LEFT JOIN ec ON p.id_usuario = ec.cotizante
      |LEFT JOIN preex px ON p.id_usuario = px.id_usuario
      |LEFT JOIN cot ci ON p.id_usuario = ci.cedula
      |JOIN dim_cot dc ON p.id_usuario = dc.cedula
      |JOIN dim_cm cm ON ci.id_ips = cm.id_ips
      |LEFT JOIN dim_emp emp ON p.empresa = emp.nit
      |JOIN dim_enf enf ON px.enfermedad = enf.nombre
      |JOIN dim_fecha f ON p.fecha_pago = f.fecha
      |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin

  // --------------------------------------------------------------------
  // q42 — the services mart end-to-end through Facts.factServicio:
  // orders split by status become appointments/urgencies/
  // hospitalizations; every 11th order is a remission resolved through
  // servicios_pos. Exercises the positional 4-way union, both
  // role-playing dims (hour ×2, date ×2), the doctor→city lookup, and
  // the J28 inner region join dropping doctors whose nation's region is
  // outside the snapshot (region keys < 4).
  def q42EtlServicio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)

    def hhmm(h: Column, m: Column): Column = concat(
      lpad(h.cast("string"), 2, "0"), lit(":"), lpad(m.cast("string"), 2, "0"), lit(":00"))
    val horaSol = hhmm(col("o_orderkey") % 24, (col("o_orderkey") * 7) % 60)
    val horaAte = hhmm((col("o_orderkey") * 13) % 24, (col("o_orderkey") * 11) % 60)
    def serviceCols = Seq(
      col("o_custkey").cast("string").as("id_usuario"),
      (col("o_custkey") % 100).cast("string").as("id_medico"),
      col("o_orderdate").cast("date").as("fecha_solicitud"),
      horaSol.as("hora_solicitud"),
      date_add(col("o_orderdate").cast("date"), 1).as("fecha_atencion"),
      horaAte.as("hora_atencion"),
      col("o_orderpriority").as("diagnostico"))

    val citas = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").cast("string").as("codigo_cita") +: serviceCols: _*)
    val urgencias = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").cast("string").as("codigo_urgencia") +: serviceCols: _*)
    val hosp = o.filter(col("o_orderstatus") === "P")
      .select((col("o_orderkey").cast("string").as("codigo_hospitalizacion") +: serviceCols)
        :+ (col("o_orderkey") % 10).as("duracion_hospitalizacion"): _*)
    val remisiones = o.filter(col("o_orderkey") % 11 === 0)
      .select(
        col("o_orderkey").cast("string").as("codigo_remision"),
        col("o_custkey").cast("string").as("id_usuario"),
        (col("o_custkey") % 100).cast("string").as("id_medico"),
        ((col("o_custkey") + 1) % 100).cast("string").as("id_medico_remite"),
        col("o_orderpriority").as("diagnostico"),
        col("o_orderdate").cast("date").as("fecha_remision"),
        horaSol.as("hora_remision"),
        date_add(col("o_orderdate").cast("date"), 1).as("fecha_atencion"),
        horaAte.as("hora_atencion"),
        (col("o_orderkey") % 3).cast("string").as("servicio_pos"))
    val serviciosPos = Seq(("0", "SP cero", 10.0), ("1", "SP uno", 20.0), ("2", "SP dos", 30.0))
      .toDF("id_servicio_pos", "descripcion", "costo")

    val medico = s.select(col("s_suppkey").cast("string").as("cedula"),
      col("s_nationkey").cast("string").as("id_ips"))
    val ips = n.select(col("n_nationkey").cast("string").as("id_ips"),
      col("n_name").as("municipio"))
    val dimMedico = SurrogateKeys.assign(
      s.select(col("s_suppkey").cast("string").as("cedula")), "medico_id", col("cedula"))
    val dimUsuario = SurrogateKeys.assign(
      c.select(col("c_custkey").cast("string").as("identificacion")), "usuario_id", col("identificacion"))
    val dimRegion = SurrogateKeys.assign(
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .filter(col("n_regionkey") < 4)
        .select(col("n_name").as("municipio"), col("r_name").as("region")),
      "region_id", col("municipio"))
    val dimHora = Calendar.withHoraId(Calendar.dimHora(spark))
    val dimFecha = Calendar.withFechaId(
      Calendar.dimFecha(spark, "1992-01-01", "1998-12-31"), "1992-01-01")

    Facts.factServicio(citas, urgencias, hosp, remisiones, serviciosPos,
      medico, ips, dimMedico, dimUsuario, dimRegion, dimHora, dimFecha)
      .orderBy(col("fecha_solicitud_id"), col("hora_solicitud_id"),
        col("fecha_atencion_id"), col("hora_atencion_id"), col("usuario_id"),
        col("medico_id"), col("region_id"), col("tipo_servicio"), col("diagnostico"))
  }

  val q42Oracle: String =
    """WITH svc AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS id_usuario,
      |    CAST(o_custkey % 100 AS VARCHAR) AS id_medico,
      |    CAST(o_orderdate AS DATE) AS fecha_solicitud,
      |    lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':' ||
      |      lpad(CAST((o_orderkey * 7) % 60 AS VARCHAR), 2, '0') || ':00' AS hora_solicitud,
      |    CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 DAY AS DATE) AS fecha_atencion,
      |    lpad(CAST((o_orderkey * 13) % 24 AS VARCHAR), 2, '0') || ':' ||
      |      lpad(CAST((o_orderkey * 11) % 60 AS VARCHAR), 2, '0') || ':00' AS hora_atencion,
      |    o_orderpriority AS diagnostico,
      |    o_orderstatus, o_orderkey
      |  FROM orders),
      |union_all AS (
      |  SELECT id_usuario, id_medico, fecha_solicitud, hora_solicitud,
      |    fecha_atencion, hora_atencion, diagnostico,
      |    'Cita General' AS tipo_servicio
      |  FROM svc WHERE o_orderstatus = 'O'
      |  UNION ALL
      |  SELECT id_usuario, id_medico, fecha_solicitud, hora_solicitud,
      |    fecha_atencion, hora_atencion, diagnostico, 'Urgencia'
      |  FROM svc WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT id_usuario, id_medico, fecha_solicitud, hora_solicitud,
      |    fecha_atencion, hora_atencion, diagnostico, 'Hospitalización'
      |  FROM svc WHERE o_orderstatus = 'P'
      |  UNION ALL
      |  SELECT id_usuario, id_medico, fecha_solicitud, hora_solicitud,
      |    fecha_atencion, hora_atencion,
      |    CASE CAST(o_orderkey % 3 AS VARCHAR) WHEN '0' THEN 'SP cero'
      |      WHEN '1' THEN 'SP uno' ELSE 'SP dos' END,
      |    'Remision'
      |  FROM svc WHERE o_orderkey % 11 = 0),
      |medico AS (
      |  SELECT CAST(s_suppkey AS VARCHAR) AS cedula,
      |    CAST(s_nationkey AS VARCHAR) AS id_ips FROM supplier),
      |ips AS (
      |  SELECT CAST(n_nationkey AS VARCHAR) AS id_ips, n_name AS municipio FROM nation),
      |region_aux AS (
      |  SELECT m.cedula, i.municipio FROM medico m JOIN ips i ON m.id_ips = i.id_ips),
      |dim_medico AS (
      |  SELECT cedula, CAST(ROW_NUMBER() OVER (ORDER BY cedula) AS INTEGER) AS medico_id
      |  FROM (SELECT CAST(s_suppkey AS VARCHAR) AS cedula FROM supplier)),
      |dim_usuario AS (
      |  SELECT identificacion, CAST(ROW_NUMBER() OVER (ORDER BY identificacion) AS INTEGER) AS usuario_id
      |  FROM (SELECT CAST(c_custkey AS VARCHAR) AS identificacion FROM customer)),
      |dim_region AS (
      |  SELECT municipio, CAST(ROW_NUMBER() OVER (ORDER BY municipio) AS INTEGER) AS region_id
      |  FROM (SELECT n_name AS municipio FROM nation
      |        JOIN region ON n_regionkey = r_regionkey WHERE n_regionkey < 4)),
      |dim_hora AS (
      |  SELECT i + 1 AS hora_id,
      |    lpad(CAST(i // 60 AS VARCHAR), 2, '0') || ':' ||
      |      lpad(CAST(i % 60 AS VARCHAR), 2, '0') || ':00' AS hora_label
      |  FROM (SELECT unnest(generate_series(0, 1439)) AS i)),
      |dim_fecha AS (
      |  SELECT fecha, CAST(ROW_NUMBER() OVER (ORDER BY fecha) AS INTEGER) AS fecha_id
      |  FROM (SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-12-31', INTERVAL 1 DAY)) AS DATE) AS fecha))
      |SELECT fs.fecha_id AS fecha_solicitud_id,
      |  CAST(hs.hora_id AS INTEGER) AS hora_solicitud_id,
      |  fa.fecha_id AS fecha_atencion_id,
      |  CAST(ha.hora_id AS INTEGER) AS hora_atencion_id,
      |  du.usuario_id, dm.medico_id, dr.region_id,
      |  u.tipo_servicio, u.diagnostico
      |FROM union_all u
      |JOIN dim_usuario du ON u.id_usuario = du.identificacion
      |JOIN dim_medico dm ON u.id_medico = dm.cedula
      |JOIN dim_hora hs ON u.hora_solicitud = hs.hora_label
      |JOIN dim_hora ha ON u.hora_atencion = ha.hora_label
      |JOIN dim_fecha fs ON u.fecha_solicitud = fs.fecha
      |JOIN dim_fecha fa ON u.fecha_atencion = fa.fecha
      |LEFT JOIN region_aux ra ON dm.cedula = ra.cedula
      |JOIN dim_region dr ON ra.municipio = dr.municipio
      |ORDER BY 1, 2, 3, 4, 5, 6, 7, 8, 9""".stripMargin

  // --------------------------------------------------------------------
  // q43 — the churn mart end-to-end through Facts.factRetiro: every
  // 13th order is a retirement; the inner region join drops members
  // whose nation's region is outside the snapshot, completing
  // oracle-checked coverage of all four fact builders.
  def q43EtlRetiro(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val o = Tables.orders(spark, dir)

    val retiros = o.filter(col("o_orderkey") % 13 === 0).select(
      col("o_custkey").cast("string").as("id_usuario"),
      col("o_orderdate").cast("date").as("fecha_retiro"),
      col("o_orderpriority").as("cambio_a_eps"))
    val cotizante = c.select(col("c_custkey").cast("string").as("cedula"),
      col("c_nationkey").cast("string").as("id_ips"))
    val dimCentroMedico = SurrogateKeys.assign(
      n.select(col("n_nationkey").cast("string").as("id_ips"), col("n_name").as("municipio")),
      "centro_medico_id", col("id_ips"))
    val dimRegion = SurrogateKeys.assign(
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .filter(col("n_regionkey") < 4)
        .select(col("n_name").as("municipio"), col("r_name").as("region")),
      "region_id", col("municipio"))
    val dimCotizante = SurrogateKeys.assign(
      c.select(col("c_custkey").cast("string").as("cedula")), "cotizante_id", col("cedula"))
    val dimFecha = Calendar.withFechaId(
      Calendar.dimFecha(spark, "1992-01-01", "1998-12-31"), "1992-01-01")

    Facts.factRetiro(retiros, cotizante, dimCentroMedico, dimRegion, dimCotizante, dimFecha)
      .orderBy(col("fecha_id"), col("region_id"), col("centro_medico_id"),
        col("cotizante_id"), col("cambio_a_eps"))
  }

  val q43Oracle: String =
    """WITH retiros AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS id_usuario,
      |    CAST(o_orderdate AS DATE) AS fecha_retiro,
      |    o_orderpriority AS cambio_a_eps
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |cot AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS cedula,
      |    CAST(c_nationkey AS VARCHAR) AS id_ips FROM customer),
      |dim_cm AS (
      |  SELECT id_ips, municipio,
      |    CAST(ROW_NUMBER() OVER (ORDER BY id_ips) AS INTEGER) AS centro_medico_id
      |  FROM (SELECT CAST(n_nationkey AS VARCHAR) AS id_ips, n_name AS municipio FROM nation)),
      |dim_region AS (
      |  SELECT municipio, CAST(ROW_NUMBER() OVER (ORDER BY municipio) AS INTEGER) AS region_id
      |  FROM (SELECT n_name AS municipio FROM nation
      |        JOIN region ON n_regionkey = r_regionkey WHERE n_regionkey < 4)),
      |dim_cot AS (
      |  SELECT cedula, CAST(ROW_NUMBER() OVER (ORDER BY cedula) AS INTEGER) AS cotizante_id
      |  FROM (SELECT CAST(c_custkey AS VARCHAR) AS cedula FROM customer)),
      |dim_fecha AS (
      |  SELECT fecha, CAST(ROW_NUMBER() OVER (ORDER BY fecha) AS INTEGER) AS fecha_id
      |  FROM (SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-12-31', INTERVAL 1 DAY)) AS DATE) AS fecha))
      |SELECT f.fecha_id, dr.region_id, cm.centro_medico_id, dc.cotizante_id,
      |  rt.cambio_a_eps
      |FROM retiros rt
      |JOIN cot ci ON rt.id_usuario = ci.cedula
      |JOIN dim_cm cm ON ci.id_ips = cm.id_ips
      |JOIN dim_region dr ON cm.municipio = dr.municipio
      |JOIN dim_cot dc ON ci.cedula = dc.cedula
      |JOIN dim_fecha f ON rt.fecha_retiro = f.fecha
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q26_etl_medical_formula", q26EtlMedicalFormula, q26Oracle),
    Query("q41_etl_facturacion", q41EtlFacturacion, q41Oracle),
    Query("q42_etl_servicio", q42EtlServicio, q42Oracle),
    Query("q43_etl_retiro", q43EtlRetiro, q43Oracle))
}
