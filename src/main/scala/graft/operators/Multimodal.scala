package graft.operators

import graft.SparkEntry.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata, plus a decode/feature-extract stage.
  *
  * The Spark-side plumbing is real — schema, batch shape, partitioning —
  * while the actual codec is a clearly-marked deterministic FAKE
  * (`fakeDecode`): image/audio libraries are not available in this
  * environment, and a real deployment would swap `fakeDecode` for a
  * JNI/FFI codec call without touching anything else here.
  *
  * Scale notes (100 TB): decode runs in `mapPartitions` so codec state
  * is initialized once per partition, not per row (the Scala analogue of
  * a Pandas-UDF `mapInPandas` batch loop). Binary payloads dominate row
  * size, so upstream readers should size `maxPartitionBytes` to a few
  * hundred rows per task; decoded features are small and columnar.
  */
object Multimodal {

  /** Decoded-media record: typed metadata + a fixed-width feature
    * vector (16-bin byte histogram as the stand-in for real features).
    */
  case class Decoded(doc_id: Long, width: Int, height: Int, channels: Int,
      n_bytes: Long, features: Array[Float])

  /** FAKE deterministic decode: metadata derived from the first payload
    * bytes, features = normalized 16-bin histogram of payload bytes.
    * Stands in for image decode + resize + feature extraction.
    */
  def fakeDecode(docId: Long, payload: Array[Byte]): Decoded = {
    val b0 = if (payload.nonEmpty) payload(0) & 0xff else 0
    val b1 = if (payload.length > 1) payload(1) & 0xff else 0
    val hist = new Array[Float](16)
    payload.foreach(b => hist((b & 0xff) % 16) += 1f)
    val n = math.max(1, payload.length).toFloat
    Decoded(docId, 16 + b0 % 48, 16 + b1 % 48, 3, payload.length.toLong,
      hist.map(_ / n))
  }

  // --------------------------------------------------------------------
  // q37 — binary metadata extraction (oracle-checked): payload length,
  // content hash, magic-byte prefix — the typed-metadata half of the
  // multimodal pattern, all scan-side expressions.
  def q37BinaryMeta(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("bigint").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        lower(hex(substring(col("payload"), 1, 4))).as("magic_hex"))
      .orderBy(col("doc_id"))

  // magic_hex takes the first 4 BYTES on both sides: Spark slices the
  // binary payload; DuckDB cannot slice blobs, so it takes 8 hex chars
  // of the full payload hex — byte-identical even for multibyte text.
  val q37Oracle: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5,
      |  lower(left(hex(encode(text)), 8)) AS magic_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q38 — decode + feature-extract through mapPartitions. The FAKE
  // decode is deterministic and byte-level, so it IS SQL-expressible:
  // the DuckDB oracle replays it over hex(encode(text)) — metadata from
  // the first two hex byte-pairs, histogram bins by counting low-nibble
  // hex digits. Feature fractions are float-divided on BOTH sides
  // (IEEE single precision is deterministic), then widened to double
  // before round so the comparator sees identical values.
  def q38MultimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    payloads.mapPartitions { rows =>
      // per-partition: codec init would happen HERE, once
      rows.map { case (id, bytes) => fakeDecode(id, bytes) }
    }.toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        col("n_bytes"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f0"),
        round(element_at(col("features"), 16).cast("double"), 4).as("f15"))
      .orderBy(col("doc_id"))
  }

  /** fakeDecode replayed in SQL: b_k = k-th payload byte via hex
    * byte-pairs; histogram bin k = count of bytes whose low nibble is k,
    * i.e. whose second hex digit is the k-th hex char. Float division
    * mirrors the Float arithmetic in [[fakeDecode]] bit-for-bit.
    */
  val q38Oracle: String =
    """WITH base AS (
      |  SELECT doc_id, lower(hex(encode(text))) AS h,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |counted AS (
      |  SELECT doc_id, h, n_bytes,
      |    len(list_filter(generate_series(1, CAST(n_bytes AS INTEGER)),
      |          i -> substring(h, 2*i, 1) = '0')) AS c0,
      |    len(list_filter(generate_series(1, CAST(n_bytes AS INTEGER)),
      |          i -> substring(h, 2*i, 1) = 'f')) AS c15
      |  FROM base)
      |SELECT doc_id,
      |  16 + CASE WHEN n_bytes > 0
      |    THEN CAST(concat('0x', substring(h, 1, 2)) AS INTEGER) ELSE 0 END % 48 AS width,
      |  16 + CASE WHEN n_bytes > 1
      |    THEN CAST(concat('0x', substring(h, 3, 2)) AS INTEGER) ELSE 0 END % 48 AS height,
      |  3 AS channels, n_bytes,
      |  round(CAST(CAST(c0 AS FLOAT) / CAST(greatest(n_bytes, 1) AS FLOAT) AS DOUBLE), 4) AS f0,
      |  round(CAST(CAST(c15 AS FLOAT) / CAST(greatest(n_bytes, 1) AS FLOAT) AS DOUBLE), 4) AS f15
      |FROM counted ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q53 — frame sampling (oracle-checked): treat the payload as a
  // sequence of fixed 64-byte frames (the video-column access pattern),
  // keep every 4th frame, and emit per-frame metadata. All scan-side
  // expressions — the sampler never materializes unsampled frames.
  // Spark slices the binary directly; DuckDB cannot slice blobs, so the
  // oracle slices the hex string at doubled offsets — byte-identical.
  val FrameBytes = 64
  val FrameStep = 4

  def q53FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val nFrames = ceil(col("n_bytes").cast("double") / FrameBytes).cast("int")
    graft.sources.Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .withColumn("n_bytes", octet_length(col("payload")).cast("bigint"))
      .withColumn("n_frames", nFrames)
      .select(col("doc_id"), col("n_bytes"), col("n_frames"), col("payload"),
        // empty payload → n_frames = 0 → no rows, matching DuckDB's
        // generate_series(1, 0) (Spark's sequence would throw on 1..0)
        explode(when(col("n_frames") >= 1,
          sequence(lit(1), col("n_frames"), lit(FrameStep)))
          .otherwise(array().cast("array<int>"))).as("frame_idx"))
      .select(col("doc_id"), col("n_bytes"), col("n_frames"), col("frame_idx"),
        md5(lower(hex(substring(col("payload"),
          (col("frame_idx") - 1) * FrameBytes + 1, lit(FrameBytes))))).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val q53Oracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS hexstr,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |    CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / $FrameBytes) AS INTEGER) AS n_frames
       |  FROM documents),
       |sampled AS (
       |  SELECT doc_id, n_bytes, n_frames,
       |    CAST(unnest(generate_series(1, n_frames, $FrameStep)) AS INTEGER) AS frame_idx
       |  FROM base)
       |SELECT s.doc_id, s.n_bytes, s.n_frames, s.frame_idx,
       |  md5(substring(b.hexstr, (s.frame_idx - 1) * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) AS frame_md5
       |FROM sampled s JOIN base b ON s.doc_id = b.doc_id
       |ORDER BY s.doc_id, s.frame_idx""".stripMargin

  // --------------------------------------------------------------------
  // q97 — PERCEPTUAL-hash dedup over the binary column: the image-tier
  // analogue of q31's exact content dedup. An average-hash (aHash) is
  // computed from the decoded histogram — bit k set iff bin k holds
  // more than the mean bin mass — so re-encoded or slightly-corrupted
  // copies of the same media (which q31's md5 sees as distinct) land
  // in the same perceptual bucket; grouping on the hash yields
  // keeper/copy counts. Bits are INTEGER comparisons (16·c_k > n), so
  // both engines agree exactly — a float-fraction threshold would flip
  // on rounding at the boundary.
  // Scale notes (100 TB): hashing rides the same mapPartitions decode
  // stage as q38 (codec init once per partition; a real deployment
  // hashes the decoded thumbnail the same way); the dedup itself is
  // q31's single hash-partitioned aggregation, keyed on a 16-bit int —
  // at production bit widths (64-bit pHash) the same shape holds, with
  // q75's multi-index Hamming probe as the near-match extension.
  case class PHashed(doc_id: Long, ahash: Int)

  /** aHash bits from payload bytes: bin k = count of bytes with low
    * nibble k; bit k set iff 16·bin_k > total bytes (strictly above
    * the mean). Integer-exact; empty payload hashes to 0.
    */
  def aHash(payload: Array[Byte]): Int = {
    val bins = new Array[Long](16)
    payload.foreach(b => bins((b & 0xff) % 16) += 1)
    val n = payload.length.toLong
    (0 until 16).map(k => if (bins(k) * 16 > n) 1 << k else 0).sum
  }

  /** Per-media (doc_id, ahash) through the mapPartitions decode stage —
    * shared by q97's bucket dedup and q154's cross-modal composition.
    */
  /** `where` is applied BEFORE the opaque decode boundary: a filter
    * placed after `mapPartitions` cannot be pushed past it (Catalyst
    * treats the lambda as a black box), so a sampled consumer would
    * decode the whole corpus and discard the off-sample rows after
    * paying the per-row hash — q184's %3 sample decoded 3x the rows
    * it kept until round 19 moved the predicate here.
    */
  private[operators] def phashed(spark: SparkSession, dir: String,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Tables.documentsSharded(spark, dir)
    where.fold(docs)(docs.filter(_))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition: thumbnail decode + hash state init happens HERE
        rows.map { case (id, bytes) => PHashed(id, aHash(bytes)) }
      }.toDF()
  }

  def q97PhashDedup(spark: SparkSession, dir: String): DataFrame =
    phashed(spark, dir)
      .groupBy(col("ahash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("ahash"))

  /** aHash replayed in SQL: bin counts via the low-nibble hex-digit
    * trick q38's oracle uses, bits by the same integer comparison.
    * CTE names are parameters so q154 can splice these next to
    * Similarity's CTEs (which already claim `base`/`bands`).
    */
  private[operators] def sqlAHashCtes(base: String, bits: String): String = {
    val hexDigits = "0123456789abcdef"
    val bitTerms = (0 until 16).map { k =>
      s"""CASE WHEN 16 * len(list_filter(generate_series(1, CAST(n AS INTEGER)),
         |      i -> substring(h, 2*i, 1) = '${hexDigits(k)}')) > n
         |    THEN ${1 << k} ELSE 0 END""".stripMargin
    }.mkString("\n    + ")
    s"""$base AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS h,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n
       |  FROM documents),
       |$bits AS (
       |  SELECT doc_id,
       |    CAST($bitTerms AS INTEGER) AS ahash
       |  FROM $base)""".stripMargin
  }

  val q97Oracle: String =
    s"""WITH ${sqlAHashCtes("base", "bits")}
       |SELECT ahash, min(doc_id) AS keeper_id, count(*) AS n_copies
       |FROM bits GROUP BY 1 ORDER BY ahash""".stripMargin

  // --------------------------------------------------------------------
  // q154 — CROSS-MODAL dedup composition: the last unconnected edge
  // between the dedup tiers. A document survives iff it is kept by ALL
  // THREE decisions: q56's minhash text keep, q79's banded embedding
  // keep (both via Similarity.combinedKeeperSet = q83's set), AND the
  // media tier — its doc_id is the phash keeper of its ahash bucket
  // (q97's decision, computed over the FULL media corpus, not the doc
  // slice: a media duplicate is a duplicate no matter which corpus
  // slice its text lands in). The doc↔media bridge is the aligned
  // doc_id key the testdata carries.
  // Scale notes (100 TB): the phash frame rides the shared decode
  // stage (codec init once per partition); bucket keepers are a
  // hash-partitioned min over ≤ 2^16 ahash buckets, so the keeper
  // join back is a provably-bounded broadcast (at production 64-bit
  // phash widths the keeper table scales with distinct media, and the
  // same join runs shuffled on ahash — flip the broadcast hint, shape
  // unchanged). The combined keeper set contributes its two anti
  // joins; the media join adds ONE extra shuffle of the hashed frame
  // on doc_id to meet it.
  def q154CrossModalKeepers(spark: SparkSession, dir: String): DataFrame = {
    // NOTE (round 20): hashed is referenced twice (keeper aggregate +
    // the join back) so the decode runs twice — a localCheckpoint was
    // A/B-probed (~1.4 s → ~1.65 s steady) and REVERTED: this fixture's
    // decode is cheap next to the materialization barrier. At real
    // codec weights the q184 pre-decode checkpoint pattern applies.
    val hashed = phashed(spark, dir)
    val mediaKeepers = hashed.groupBy(col("ahash"))
      .agg(min(col("doc_id")).as("keeper_id"))
    graft.operators.Similarity.combinedKeeperSet(spark, dir)
      .join(hashed, Seq("doc_id"))
      .join(broadcast(mediaKeepers), Seq("ahash"))
      .where(col("doc_id") === col("keeper_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("ahash"))
      .orderBy(col("doc_id"))
  }

  val q154Oracle: String =
    s"""WITH ${graft.operators.Similarity.sqlCombinedCtes},
       |${sqlAHashCtes("mbase", "mbits")},
       |mkeep AS (
       |  SELECT ahash, min(doc_id) AS keeper_id FROM mbits GROUP BY 1)
       |SELECT d.doc_id, d.lang, d.n_chars, b.ahash
       |FROM documents d
       |JOIN mbits b ON d.doc_id = b.doc_id
       |JOIN mkeep k ON b.ahash = k.ahash AND d.doc_id = k.keeper_id
       |WHERE ${graft.operators.Similarity.sqlCombinedWhere("d.doc_id")}
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q171 — PERCEPTUAL dedup at PRODUCTION bit-width: q97/q154/q184 run
  // a 16-bit aHash whose keeper table is provably ≤ 2^16 rows, so the
  // keeper join back broadcasts; their scale notes promise that at the
  // production 64-bit width the same join runs SHUFFLED on the hash
  // with the shape otherwise unchanged. q171 builds that exact plan:
  // a 64-bit aHash (bin k = count of bytes ≡ k mod 64, bit k set iff
  // strictly above the mean bin mass — the q97 rule at 4× the width),
  // bucket keepers, and the join back annotated `hint("shuffle_hash")`
  // because a 64-bit hash space gives no row-count bound to justify a
  // broadcast. Phash64Spec pins the ShuffledHashJoin (and the absence
  // of BroadcastExchange) in the physical plan, turning the scale
  // notes' claim into a regression-locked fact.
  // Determinism: bits are integer comparisons (64·bin > n), the hash
  // is a BIGINT, and bit 63 maps to Long.MinValue on both sides —
  // two's-complement bit patterns, no floats anywhere.
  // Scale notes (100 TB): one hash-partitioned aggregate + one
  // shuffled equi-join on phash64, both AQE-splittable; the decode
  // rides the shared mapPartitions stage (codec init once per
  // partition), identical to q97.
  case class PHashed64(doc_id: Long, phash64: Long)

  /** 64-bit aHash: bin k = count of bytes ≡ k (mod 64); bit k set iff
    * 64·bin_k > total bytes. Integer-exact; empty payload hashes to 0;
    * bit 63 lands on Long's sign bit by design.
    */
  def aHash64(payload: Array[Byte]): Long = {
    val bins = new Array[Long](64)
    payload.foreach(b => bins((b & 0xff) % 64) += 1)
    val n = payload.length.toLong
    (0 until 64).foldLeft(0L) { (acc, k) =>
      if (bins(k) * 64 > n) acc | (1L << k) else acc
    }
  }

  private[operators] def phashed64(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) => PHashed64(id, aHash64(bytes)) }
      }.toDF()
  }

  def q171Phash64Dedup(spark: SparkSession, dir: String): DataFrame = {
    val h = phashed64(spark, dir)
    val keepers = h.groupBy(col("phash64"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
    // production width ⇒ no bounded-broadcast argument; shuffle on the
    // hash (AQE may still locally prefer SHJ build sides — the point
    // is the exchange, not a broadcast)
    h.join(keepers.hint("shuffle_hash"), Seq("phash64"))
      .select(col("doc_id"), col("phash64"), col("keeper_id"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** aHash64 replayed in SQL: full byte values from hex pairs, binned
    * mod 64, bits via bit_or over integer comparisons. DuckDB rejects
    * `1::BIGINT << 63` (overflow-checked), so bit 63 is spelled
    * `(1 << 62) * -2` — exactly Long.MinValue's two's-complement
    * pattern, matching the Scala `1L << 63`.
    */
  val q171Oracle: String =
    """WITH pbase AS (
      |  SELECT doc_id, lower(hex(encode(text))) AS h,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |pidx AS (
      |  SELECT doc_id, h, n,
      |    unnest(generate_series(1, CAST(n AS INTEGER))) AS i
      |  FROM pbase),
      |pbytes AS (
      |  SELECT doc_id, n,
      |    CAST(concat('0x', substring(h, 2*i - 1, 2)) AS INTEGER) % 64 AS k
      |  FROM pidx),
      |pbins AS (
      |  SELECT doc_id, n, k, count(*) AS c FROM pbytes GROUP BY 1, 2, 3),
      |phash AS (
      |  SELECT b.doc_id,
      |    COALESCE(bit_or(CASE WHEN 64 * x.c > x.n THEN
      |        CASE WHEN x.k = 63 THEN (CAST(1 AS BIGINT) << 62) * CAST(-2 AS BIGINT)
      |             ELSE CAST(1 AS BIGINT) << x.k END
      |      ELSE CAST(0 AS BIGINT) END), 0) AS phash64
      |  FROM pbase b LEFT JOIN pbins x ON b.doc_id = x.doc_id
      |  GROUP BY 1),
      |keep AS (
      |  SELECT phash64, min(doc_id) AS keeper_id, count(*) AS n_copies
      |  FROM phash GROUP BY 1)
      |SELECT p.doc_id, p.phash64, k.keeper_id, k.n_copies
      |FROM phash p JOIN keep k USING (phash64)
      |ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q184 — media NEAR-DUP CLUSTERS: q97 buckets exact perceptual
  // matches; q184 merges buckets that differ by ONE aHash bit into
  // connected components — the media analogue of q76's text clusters,
  // built from sparse representative edges instead of within-bucket
  // all-pairs: every media row links to its bucket keeper, and bucket
  // keepers link when their hashes are Hamming-1 apart (16 XOR probes
  // per bucket — the q75 multi-index idea applied at bucket
  // granularity). The closure runs through the SAME
  // [[graft.operators.Dedup.connectedComponents]] frontier iteration
  // q76 uses. Like q76, the query runs on a deterministic sample
  // (doc_id % 3 = 0) so the oracle's recursive-CTE closure stays
  // tractable at sf0.1; the Spark side has no such constraint.
  // Scale notes (100 TB): edges are O(media + buckets·16) — never
  // bucket-quadratic; at 64-bit production phash the probe count is 64
  // and the same shape holds.
  def q184MediaClusters(spark: SparkSession, dir: String): DataFrame = {
    // sample BEFORE the decode boundary (see phashed), and materialize
    // the decoded hashes + bucket keepers once (lazy localCheckpoint):
    // h/keepers are referenced by docEdges, both bucket-probe sides,
    // and the CC vertex set — without the cut the per-row decode
    // pipeline inlined at every reference (the q137/q227 class). Both
    // frames are vertex-sized — the same storage class the CC label
    // rounds already checkpoint.
    val h = phashed(spark, dir, Some(col("doc_id") % 3 === 0))
      .localCheckpoint(false)
    val keepers = h.groupBy(col("ahash")).agg(min(col("doc_id")).as("k_id"))
      .localCheckpoint(false)
    val docEdges = h.join(keepers, Seq("ahash"))
      .filter(col("doc_id") =!= col("k_id"))
      .select(col("doc_id").as("doc_a"), col("k_id").as("doc_b"))
    val probes = keepers
      .select(col("k_id"), explode(expr(
        "transform(sequence(0, 15), k -> ahash ^ shiftleft(1, k))"))
        .as("nb_ahash"))
    val k2 = keepers.select(col("ahash").as("nb_ahash"), col("k_id").as("nb_k"))
    val bucketEdges = probes.join(k2, Seq("nb_ahash"))
      .filter(col("k_id") < col("nb_k"))
      .select(col("k_id").as("doc_a"), col("nb_k").as("doc_b"))
    graft.operators.Dedup.connectedComponents(
        h.select(col("doc_id")), docEdges.unionByName(bucketEdges))
      .orderBy(col("doc_id"))
  }

  val q184Oracle: String =
    s"""WITH RECURSIVE ${sqlAHashCtes("abase", "abits")},
       |sbits AS (
       |  SELECT doc_id, ahash FROM abits WHERE doc_id % 3 = 0),
       |keepers AS (
       |  SELECT ahash, min(doc_id) AS k_id FROM sbits GROUP BY 1),
       |dedges AS (
       |  SELECT b.doc_id AS u, k.k_id AS v
       |  FROM sbits b JOIN keepers k USING (ahash)
       |  WHERE b.doc_id <> k.k_id),
       |bitsrc AS (SELECT CAST(range AS INTEGER) AS k FROM range(0, 16)),
       |nedges AS (
       |  SELECT k1.k_id AS u, k2.k_id AS v
       |  FROM keepers k1, bitsrc b
       |  JOIN keepers k2 ON TRUE
       |  WHERE k2.ahash = xor(k1.ahash, (1 << b.k)) AND k1.k_id < k2.k_id),
       |edges AS (
       |  SELECT u, v FROM dedges UNION SELECT v, u FROM dedges
       |  UNION SELECT u, v FROM nedges UNION SELECT v, u FROM nedges),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (
       |  SELECT u AS doc_id, min(v) AS min_reach FROM reach GROUP BY u)
       |SELECT s.doc_id,
       |  COALESCE(LEAST(s.doc_id, c.min_reach), s.doc_id) AS cluster_id
       |FROM sbits s LEFT JOIN comp c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q184_media_clusters", q184MediaClusters, q184Oracle),
    Query("q37_binary_meta", q37BinaryMeta, q37Oracle),
    Query("q38_multimodal_decode", q38MultimodalDecode, q38Oracle),
    Query("q53_frame_sample", q53FrameSample, q53Oracle),
    Query("q97_phash_dedup", q97PhashDedup, q97Oracle),
    Query("q171_phash64_dedup", q171Phash64Dedup, q171Oracle),
    Query("q154_crossmodal_keepers", q154CrossModalKeepers, q154Oracle))
}
