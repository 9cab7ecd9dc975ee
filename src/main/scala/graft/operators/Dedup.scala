package graft.operators

import graft.SparkEntry.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge

import graft.sources.Tables

/** Deduplication operators over the `documents` table: exact
  * (hash-groupBy), MinHash+LSH banding with exact-Jaccard verification,
  * and SimHash signatures.
  *
  * Scale notes (100 TB):
  *   - exact dedup is one hash-partitioned aggregation on the content
  *     hash — the canonical single-shuffle dedup;
  *   - MinHash signatures and SimHash are per-row expression pipelines
  *     (codegen, no shuffle); only the LSH band join shuffles, keyed on
  *     (band, band_key) so each bucket's candidate pairs are produced
  *     by one partition — skewed hot buckets would be salted;
  *   - the exact-Jaccard verify joins only candidate pairs, never the
  *     full cross product.
  */
object Dedup {

  // --------------------------------------------------------------------
  // q31 — exact dedup: group on content hash, keep the smallest doc_id.
  def q31ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSharded(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  val q31Oracle: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  // --------------------------------------------------------------------
  // q32 — MinHash + LSH near-duplicate detection on token sets:
  // 8 minhash projections → 2 bands of 4 → band-bucket join → candidate
  // pairs → exact Jaccard ≥ 0.9. Band geometry: with b bands of r rows
  // the LSH collision threshold is (1/b)^(1/r); b=2, r=4 puts it at
  // 0.84, just under the 0.9 verify filter — 4 bands of 2 would sit at
  // 0.5 and flood the verify stage with sub-threshold candidates
  // (measured 2.3x the candidate pairs on the test corpus).
  // Runs on the deterministic 20% sample (doc_id % 5 = 0) so the
  // verify/bench cost stays bounded while the full flow
  // (signature → band → join → verify) is exercised.
  //
  // Hash budget: 2 md5 per token, not 8 — each 128-bit digest is split
  // into four 32-bit hex windows (the standard many-minhashes-from-one-
  // hash trick; window collisions are ~n^2/2^32, negligible), and the
  // min is taken per window. Digest arrays are materialized as columns
  // first: higher-order functions are interpreted, so an inline md5
  // chain in a lambda body would re-evaluate per element.
  private val NumHashes = 8
  private val NumBands = 2

  /** docs: (doc_id, toks) with toks already distinct. Keeps both and
    * adds h0..h7 via the single-pass codegen'd
    * [[graft.functions.MinHashWindows]] (one md5 per salt per token,
    * running mins, no intermediate digest arrays — replaces two
    * interpreted transform(md5) passes + eight array_min(transform)
    * passes with bit-identical semantics; oracle unchanged).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // the 4-windows-per-salt split requires NumHashes % 4 == 0; a
    // silent mismatch would make element_at read past the signature
    // array and null out band keys
    require(NumHashes % 4 == 0, s"NumHashes=$NumHashes must be a multiple of 4")
    val sig = graft.functions.MinHashWindows
      .min_hash_windows(col("toks"), NumHashes / 4, 4)
    val sigCols = (0 until NumHashes).map { i =>
      element_at(col("_sig"), i + 1).as(s"h$i")
    }
    docs.withColumn("_sig", sig)
      .select((col("doc_id") +: col("toks") +: sigCols): _*)
  }

  /** The verified near-dup pair scan over any (doc_id, toks) frame —
    * q32's whole flow (signature → band → bucket join → exact-Jaccard
    * verify) without the input filter or presentation sort, so q82's
    * curation pipeline can run it over the documents that SURVIVE the
    * upstream stages rather than the raw sample.
    */
  /** Band-bucket rows for a (doc_id, toks) frame: one row per (doc,
    * band) carrying the token set, the full `bkeys` array (for the
    * first-colliding-band dedup on join outputs) and the single `bkey`
    * equi-join key. Shared by the symmetric pair scan (q32) and the
    * asymmetric delta-vs-corpus scan (q85).
    */
  private def bandRows(docs: DataFrame): DataFrame = {
    val base = minhashSignatures(docs)
    // the band index is folded into the key string ("b:h..h"), so the
    // bucket join has a single equi-key
    val r = NumHashes / NumBands
    val keyed = base.select(col("doc_id"), col("toks"), array(
      (0 until NumBands).map { b =>
        concat((lit(s"$b:") +: (0 until r).map(j => col(s"h${r * b + j}"))): _*)
      }: _*).as("bkeys"))
    // explode a FOLDABLE sequence and index into bkeys afterwards:
    // exploding bkeys itself makes InferFiltersFromGenerate add
    // `size(bkeys) > 0`, and predicate pushdown inlines the whole
    // 8-minhash md5 pipeline into that filter — evaluated per raw row
    // below the exchange (this, not the band join, was most of q32's
    // historical cost). A literal sequence's inferred filter
    // constant-folds away; element_at on the carried array is cheap.
    keyed
      .select(col("doc_id"), col("toks"), col("bkeys"),
        explode(sequence(lit(0), lit(NumBands - 1))).as("band"))
      .withColumn("bkey", element_at(col("bkeys"), col("band") + 1))
  }

  private[graft] def minhashPairsOf(docs: DataFrame): DataFrame = {
    // Plan shape (round 4): TWO shuffles total — the band exchange
    // (shared by both self-join sides via ReuseExchange) and the final
    // sort. Token sets ride THROUGH the band join, so the exact-Jaccard
    // verify is a per-row array_intersect on the join output — no
    // candidate distinct, no re-join against docs. Duplicate candidates
    // (pairs colliding in BOTH bands) are eliminated without a shuffle
    // by the first-colliding-band rule: a pair is emitted only by the
    // lowest band index where its keys agree. Round-1/2 history: caching
    // the wide signature relation was measured a loss twice (44dba5d,
    // f34746d) — nothing is cached here either.
    // Scale note: banding duplicates the token payload NumBands times
    // through the wire; the old re-join shape shipped it 1 + 2 times
    // plus two extra stages — carrying payload is both cheaper and
    // shorter, and stays so while NumBands <= 3.
    val bands = bandRows(docs)
    val firstCollidingBand =
      array_position(zip_with(col("x.bkeys"), col("y.bkeys"), (a, b) => a === b), true) - 1
    bands.as("x").join(bands.as("y"),
      col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id") &&
        firstCollidingBand === col("x.band"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        size(array_intersect(col("x.toks"), col("y.toks"))).cast("bigint").as("inter"),
        size(col("x.toks")).cast("bigint").as("na"),
        size(col("y.toks")).cast("bigint").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
  }

  /** q32's verified pair set as a PERSISTED stage boundary (the q82
    * rule): the highest-fan-in intermediate in the dedup-audit tier —
    * q32 itself, the keeper set (q56/q81/q159), the cluster family
    * (q76/q211), the recall eval (q215), the span evidence (q228) and
    * the source-copy matrix (q219) all consume the same
    * dataset-determined pairs. Unmaterialized, each consumer re-ran
    * the signature → band → bucket-join → verify chain per session;
    * the boundary pays it once per DATASET, which is what a 100 TB
    * dedup stage does anyway (the verified pair list is a checkpoint
    * artifact, not a per-query recompute). Fingerprint-keyed, so
    * regenerated input invalidates it (see StageBoundary).
    */
  def q32Pairs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StageBoundary(spark, "q32pairs", dir)(
      minhashPairsOf(Tables.documentsSharded(spark, dir)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("toks"))))

  def q32MinhashNeardup(spark: SparkSession, dir: String): DataFrame =
    q32Pairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The q32 pair SQL over any FROM-clause body supplying
    * (doc_id, text) — the DuckDB twin of [[minhashPairsOf]], shared by
    * q32 (raw sample) and q82 (curated survivors) so the two oracles
    * cannot drift. Emits an unordered SELECT suitable for nesting as a
    * CTE body; q32 appends its presentation ORDER BY.
    */
  /** The shared docs→digests→signatures→band-rows CTE chain — the
    * DuckDB twin of [[bandRows]], shared by the symmetric (q32) and
    * asymmetric (q85) pair SQL so the signature pipelines cannot drift.
    * Emits the CTE bodies without the leading WITH or a trailing comma.
    */
  private def sqlSigBandCtes(docsSource: String): String = {
    val sigExprs = (0 until NumHashes).map { i =>
      val d = if (i < NumHashes / 2) "d0" else "d1"
      val off = (i % 4) * 8 + 1
      s"list_aggregate(list_transform($d, h -> substring(h, $off, 8)), 'min') AS h$i"
    }.mkString(",\n    ")
    val bandRows = (0 until NumBands).map { b =>
      val r = NumHashes / NumBands
      val key = (0 until r).map(j => s"h${r * b + j}").mkString(" || ")
      s"SELECT doc_id, '$b:' || $key AS bkey FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""docs AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM $docsSource),
       |dig AS (
       |  SELECT doc_id,
       |    list_transform(toks, t -> md5('0|' || t)) AS d0,
       |    list_transform(toks, t -> md5('1|' || t)) AS d1
       |  FROM docs),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigExprs
       |  FROM dig),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  private[operators] def sqlMinhashPairs(docsSource: String): String = {
    s"""WITH ${sqlSigBandCtes(docsSource)},
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(ta.toks, tb.toks)) AS i,
       |    len(ta.toks) AS na, len(tb.toks) AS nb
       |  FROM cands
       |  JOIN docs ta ON doc_a = ta.doc_id
       |  JOIN docs tb ON doc_b = tb.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
       |FROM scored
       |WHERE round(CAST(i AS DOUBLE) / (na + nb - i), 6) >= 0.9""".stripMargin
  }

  val q32Oracle: String =
    sqlMinhashPairs("documents WHERE doc_id % 5 = 0") + "\nORDER BY doc_a, doc_b"

  // --------------------------------------------------------------------
  // q56 — the dedup DECISION the pair list exists for: greedy-by-id
  // keep/discard. A document is discarded iff it has a verified
  // near-dup with a smaller id (pairs always have doc_a < doc_b, so
  // discards = distinct doc_b); kept documents survive via left-anti
  // join. Output is the kept set — what a training-data pipeline
  // actually ships downstream.
  /** The kept set without q56's presentation sort — composable (q81's
    * training pipeline consumes it mid-plan, where a global sort would
    * be a wasted corpus-sized exchange).
    */
  def keeperSet(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q32Pairs(spark, dir)
    // NO broadcast hint on the discard set: it scales with the corpus
    // (a near-dup-heavy 100 TB corpus discards billions of ids), so the
    // anti join must stay a shuffled join; AQE downgrades it to
    // broadcast at runtime when the set happens to be small.
    val discards = pairs.select(col("doc_b").as("doc_id")).distinct()
    Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(discards, Seq("doc_id"), "left_anti")
  }

  def q56DedupKeepers(spark: SparkSession, dir: String): DataFrame =
    keeperSet(spark, dir).orderBy(col("doc_id"))

  val q56Oracle: String = {
    // q32's full candidate/verify pipeline, reduced to the kept set
    val innerWithoutOrder = q32Oracle.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS (
       |$innerWithoutOrder
       |)
       |SELECT doc_id, lang, n_chars
       |FROM documents
       |WHERE doc_id % 5 = 0
       |  AND doc_id NOT IN (SELECT doc_b FROM pairs)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q76 — near-dup CLUSTERS: connected components over the verified
  // q32 pair graph, labelling every sampled doc with the smallest
  // doc_id in its component (singletons label themselves) — the
  // cluster view a dedup pipeline reports and samples canonical docs
  // from. Distributed min-label propagation: each iteration joins the
  // symmetric edge list to the current labels and takes the min
  // neighbour label; converges in graph-diameter iterations (near-dup
  // components are dense, typically 1-3). Scale notes: the edge list
  // is cached once and reused per iteration; labels are
  // localCheckpoint'ed EAGERLY each round — iterative DataFrame loops
  // otherwise grow the lineage/plan exponentially, which is the real
  // scale-killer for iterative algorithms on Spark.
  /** Iteration bound for q76's label propagation — generous (near-dup
    * components are dense; diameter is typically 1-3), and NOT a silent
    * truncation: non-convergence within the bound fails loud below.
    */
  val MaxClusterIters = 50

  /** Distributed min-label connected components over an undirected
    * pair list: every doc in `docs` is labelled with the smallest
    * doc_id reachable through `pairs` (singletons label themselves).
    *
    * Delta iteration: each round joins the edge list against only the
    * FRONTIER — labels that improved last round — because a label that
    * did not change has already sent its (monotonically decreasing)
    * value to every neighbour in the round it last changed, so only
    * frontier labels can lower a neighbour's min. Round count stays
    * O(diameter) (near-dup components are dense, typically 1–3), but
    * per-round join work decays with the shrinking frontier instead of
    * re-scanning every label — on a 100 TB corpus the first round
    * touches everything and subsequent rounds only the still-moving
    * fringe, which is what makes O(d) rounds affordable.
    */
  def connectedComponents(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("u", "v").cache()
    // cpLabels is always the CURRENT generation's checkpoint: each
    // iteration materializes the next generation, then frees the
    // superseded one (Dataset.unpersist can't reach checkpoint blocks —
    // see graftbridge.CheckpointBridge), so executor storage holds at
    // most two generations at any instant instead of all of them
    var cpLabels = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint(true)
    var labels = cpLabels
    // round 0: every label is "new", so the frontier is all of them
    var frontier = labels
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxClusterIters) {
      val nbrMin = edges.join(frontier, edges("v") === frontier("doc_id"))
        .groupBy(col("u")).agg(min(col("cluster_id")).as("nbr_min"))
      // LAZY checkpoint + count = ONE job per iteration: the change
      // count below is the checkpoint's materializing action, so a
      // single pass computes the step, persists the label blocks, and
      // counts moved labels (the former eager-checkpoint-then-count
      // shape ran two jobs per iteration, and the second re-scanned the
      // freshly persisted blocks just to count)
      val stepped = labels.join(nbrMin, labels("doc_id") === nbrMin("u"), "left")
        .select(col("doc_id"), col("cluster_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("next_id"))
        .localCheckpoint(false)
      changed = stepped.filter(col("next_id") =!= col("cluster_id")).count()
      assert(graftbridge.CheckpointBridge.unpersistCheckpoint(cpLabels),
        "superseded label generation was not a checkpoint — leak reintroduced")
      cpLabels = stepped
      labels = stepped.select(col("doc_id"), col("next_id").as("cluster_id"))
      // both are cheap scans over the freshly persisted blocks
      frontier = stepped.filter(col("next_id") =!= col("cluster_id"))
        .select(col("doc_id"), col("next_id").as("cluster_id"))
      iter += 1
    }
    edges.unpersist()
    // a component with diameter > MaxClusterIters would exit the loop
    // with a labelling that LOOKS valid but isn't — fail loud instead
    // of returning wrong cluster ids
    require(changed == 0,
      s"connected components did not converge within $MaxClusterIters " +
        s"iterations ($changed labels still moving) — the pair graph has a " +
        "longer chain than any near-dup corpus should; raise " +
        "MaxClusterIters or investigate the edge list")
    labels
  }

  /** The q32 sample's component labels as a PERSISTED stage boundary:
    * the iterative min-label propagation (localCheckpoint per round)
    * is a per-DATASET computation consumed by q76 and q211 — exactly
    * the artifact a dedup stage checkpoints (cluster assignments),
    * never recomputes per report.
    */
  private def sampleComponents(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StageBoundary(spark, "q76cc", dir) {
      connectedComponents(
        Tables.documentsSharded(spark, dir)
          .filter(col("doc_id") % 5 === 0).select(col("doc_id")),
        q32Pairs(spark, dir).select(col("doc_a"), col("doc_b")))
    }

  def q76DedupClusters(spark: SparkSession, dir: String): DataFrame =
    sampleComponents(spark, dir).orderBy(col("doc_id"))

  // the q32 pair query nests as a CTE body (DuckDB allows a full
  // WITH..SELECT inside a CTE); the recursive closure then takes the
  // min reachable id per node
  val q76Oracle: String = {
    val innerWithoutOrder = q32Oracle.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE pairs AS (
       |$innerWithoutOrder
       |),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (
       |  SELECT u AS doc_id, min(v) AS min_reach FROM reach GROUP BY u),
       |sample AS (
       |  SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
       |SELECT s.doc_id,
       |  COALESCE(LEAST(s.doc_id, c.min_reach), s.doc_id) AS cluster_id
       |FROM sample s LEFT JOIN comp c USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q211 — DEDUP YIELD report: what the q76 near-dup clustering is
  // WORTH, sized by cluster. Per cluster size: how many clusters, the
  // token mass they carry, and the tokens dedup reclaims when each
  // cluster keeps its canonical (min-id) member — the greedy-by-id
  // keeper q56/q159 use, so the report prices the exact decision the
  // pipeline ships. Singleton clusters appear as the size-1 row
  // (savings 0 by construction), so the report also reads as "what
  // fraction of the corpus is near-duplicated at all" — the headline
  // number a dedup stage is judged by before anyone looks at pairs.
  // Scale notes (100 TB): rides q76's frontier connected components
  // (bucketed pairs, no all-pairs); the two report aggregates are
  // cluster-keyed then size-keyed — each output-bounded, map-side
  // combined. min_by picks the keeper's token count without a second
  // join back to the docs.
  def q211DedupYield(spark: SparkSession, dir: String): DataFrame = {
    val sample = Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
    val comp = sampleComponents(spark, dir)
    val clusters = comp.join(sample, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("n_tokens")).as("c_tokens"),
        min_by(col("n_tokens"), col("doc_id")).as("kept_tokens"))
    clusters.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("c_tokens")).as("tokens_total"),
        sum(col("c_tokens") - col("kept_tokens")).as("tokens_saved"))
      .orderBy(col("cluster_size"))
  }

  /** q76's full WITH..SELECT nests as the `comp` CTE body (the same
    * trick q76 plays on q32's text), so the closure logic cannot
    * drift between the cluster query and the yield report.
    */
  val q211Oracle: String = {
    s"""WITH comp AS (
       |${q76Oracle.replace("ORDER BY doc_id", "")}
       |),
       |toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE doc_id % 5 = 0),
       |cl AS (
       |  SELECT cluster_id, count(*) AS cluster_size,
       |    CAST(sum(n_tokens) AS BIGINT) AS c_tokens,
       |    min_by(n_tokens, doc_id) AS kept_tokens
       |  FROM comp JOIN toks USING (doc_id) GROUP BY 1)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(sum(c_tokens) AS BIGINT) AS tokens_total,
       |  CAST(sum(c_tokens - kept_tokens) AS BIGINT) AS tokens_saved
       |FROM cl GROUP BY 1 ORDER BY cluster_size""".stripMargin
  }

  // --------------------------------------------------------------------
  // q33 — SimHash: 16-bit signature; bit j set when the majority of
  // tokens have bit j set in their md5. Near-dup pairs are then simhash
  // values at small Hamming distance — the signature itself is the
  // oracle-checked artifact.
  def q33Simhash(spark: SparkSession, dir: String): DataFrame =
    // single codegen'd pass (one md5 per token, 16 running counts) —
    // replaces one transform(md5) + sixteen size(filter(...)) passes
    // bit-identically; see graft.functions.SimHash16 (fuzzed vs the
    // HOF formulation in FunctionPropertySpec); oracle unchanged.
    // coalesce(0): null text null-propagates through the expression,
    // but the replaced when(...).otherwise(0) chain and the oracle's
    // CASE both yield 0 there
    Tables.documentsSharded(spark, dir)
      .select(col("doc_id"),
        coalesce(graft.functions.SimHash16.simhash16(split(col("text"), " ")),
          lit(0L)).as("simhash16"))
      .orderBy(col("doc_id"))

  val q33Oracle: String = {
    val bitTerms = (0 until 16).map { j =>
      s"CASE WHEN 2 * len(list_filter(tok_md5s, h -> substring(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f'))) >= n_toks THEN ${1L << j} ELSE 0 END"
    }.mkString("\n    + ")
    s"""SELECT doc_id,
       |  CAST($bitTerms AS BIGINT) AS simhash16
       |FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
       |        list_transform(string_split(text, ' '), t -> md5(t)) AS tok_md5s
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q75 — simhash near-dup PAIRS at Hamming distance <= 2 via the
  // multi-index probe join: every signature emits 17 keys (itself plus
  // each one-bit flip), and two signatures at distance d <= 2 are
  // GUARANTEED to share a key (d=0: same identity key; d=1: identity
  // vs the differing-bit flip; d=2: each flips one of the two
  // differing bits) while any shared key implies distance <= 2 — the
  // candidate set is EXACT, no verify filter, no O(n²) XOR scan.
  // Runs on the q32 sample. Scale note: 17 probe rows per doc, one
  // equi-join on the probe key (ReuseExchange shares the shuffle);
  // identical-signature clusters make hot identity keys and odd(n²)
  // output pairs — inherent to emitting PAIRS (a keep/discard decision
  // would aggregate min-id per key instead, like q56).
  def q75SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        coalesce(graft.functions.SimHash16.simhash16(split(col("text"), " ")),
          lit(0L)).as("sig"))
    // foldable explode + post-hoc key arithmetic (the inferred-filter
    // rule, same as the band explode above)
    val probes = sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(16))).as("p"))
      .withColumn("key", expr("IF(p = 0, sig, sig ^ shiftleft(1L, p - 1))"))
    probes.as("x").join(probes.as("y"),
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q75Oracle: String = {
    val bitTerms = (0 until 16).map { j =>
      s"CASE WHEN 2 * len(list_filter(tok_md5s, h -> substring(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f'))) >= n_toks THEN ${1L << j} ELSE 0 END"
    }.mkString("\n    + ")
    s"""WITH sh AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
       |    list_transform(string_split(text, ' '), t -> md5(t)) AS tok_md5s
       |  FROM documents WHERE doc_id % 5 = 0),
       |sigs AS (
       |  SELECT doc_id, CAST($bitTerms AS BIGINT) AS sig
       |  FROM sh)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------------------------------
  // q40 — n-gram (3-shingle) Jaccard over fingerprint candidates:
  // documents sharing the min-shingle-hash (TextAnalysis q30's
  // fingerprint) become candidate pairs; exact shingle-set Jaccard is
  // computed only for those. Single-hash candidate generation is the
  // cheapest LSH (one band of one hash) — the same join shape as q32
  // with a different signature.
  def q40NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // toks materialized as a column before the shingle lambda slices it
    // — an inline split() in the interpreted lambda body would
    // re-evaluate per shingle, O(tokens^2) per doc (see q30).
    val pre = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), lower(trim(col("text"))).as("norm"))
      .withColumn("toks", split(col("norm"), " "))
    val shingles = array_distinct(when(size(col("toks")) >= 3,
      transform(sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
      .otherwise(array(col("norm"))))
    // cache: the self-join reads base twice; without it the whole
    // shingle+md5 pipeline runs once per side. CONTRACT: callers owning
    // a long-lived session should spark.catalog.clearCache() after
    // consuming the result (Verify and Bench both do).
    val base = pre
      .select(col("doc_id"), shingles.as("sh"),
        // min-over-distinct == min-over-all, so the single-pass
        // fingerprint expression applies directly to the token array
        graft.functions.MinShingleMd5.min_shingle_md5(col("toks"), 3).as("mh"))
      .cache()
    // candidate pairs already carry both shingle SETS through the
    // self-join, so Jaccard is a per-row array_intersect — no explode,
    // no re-join, no grouping. The only shuffle is the mh equi-join.
    base.as("x").join(base.as("y"),
      col("x.mh") === col("y.mh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        size(array_intersect(col("x.sh"), col("y.sh"))).cast("bigint").as("inter"),
        size(col("x.sh")).cast("bigint").as("na"),
        size(col("y.sh")).cast("bigint").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("ngram_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q40Oracle: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(generate_series(1, len(toks) - 2),
      |             i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      |        FROM documents)),
      |mh AS (
      |  SELECT doc_id, sh,
      |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS m
      |  FROM base),
      |pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    len(list_intersect(x.sh, y.sh)) AS i,
      |    len(x.sh) AS na, len(y.sh) AS nb
      |  FROM mh x JOIN mh y ON x.m = y.m AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b,
      |  round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS ngram_jaccard
      |FROM pairs
      |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------------
  // q85 — INCREMENTAL dedup: the form a 100 TB pipeline actually runs
  // day over day. The corpus (already-accepted documents) is immutable;
  // only the new DELTA batch is deduped — a delta document is discarded
  // iff it has a verified near-dup (Jaccard >= 0.9) with ANY corpus
  // document (the corpus doc is already shipped, so it wins regardless
  // of id) or with a SMALLER-id delta document (greedy-by-id within the
  // batch, as q56). Corpus-internal pairs are never generated: the band
  // join's left side is delta-only, so candidate count scales with
  // |delta| x bucket-collision rate, not |corpus|^2 — re-running q32
  // over corpus+delta would redo all corpus-internal work every batch.
  //
  // Scale notes (100 TB): in production the corpus side's band rows are
  // a PRECOMPUTED index (persisted once, q78's writer shape) and only
  // the delta's signatures are computed fresh; the plan below mirrors
  // that split — the delta side recomputes its own signatures rather
  // than sharing the corpus-side exchange, exactly as a stored band
  // index would. The band join stays an equi-join on bkey (nothing
  // broadcast, nothing nested-loop); the final anti join is shuffled
  // because the discard set scales with the batch.

  /** Discarded delta ids for a (doc_id, toks) frame whose delta rows
    * are selected by `deltaPred` (a predicate over the doc_id column).
    * Asymmetric band join: left = delta band rows, right = ALL band
    * rows, with corpus collisions discarding unconditionally and delta
    * collisions discarding greedy-by-id. The first-colliding-band rule
    * dedups multi-band collisions without a distinct (same trick as
    * [[minhashPairsOf]]); the trailing distinct is over discarded IDS
    * (bounded by |delta|), not candidate pairs.
    */
  private[operators] def incrementalDiscards(
      docs: DataFrame, deltaPred: Column => Column,
      intraDelta: Boolean = true): DataFrame = {
    val bands = bandRows(docs)
    val firstCollidingBand =
      array_position(zip_with(col("x.bkeys"), col("y.bkeys"), (a, b) => a === b), true) - 1
    // q85 dedups within the delta too (greedy-by-id); q92's leakage
    // eviction only cares about delta-vs-corpus collisions
    val vsRight =
      if (intraDelta) !deltaPred(col("y.doc_id")) || col("y.doc_id") < col("x.doc_id")
      else !deltaPred(col("y.doc_id"))
    bands.as("x").join(bands.as("y"),
      col("x.bkey") === col("y.bkey") &&
        deltaPred(col("x.doc_id")) &&
        col("x.doc_id") =!= col("y.doc_id") &&
        vsRight &&
        firstCollidingBand === col("x.band"))
      .select(col("x.doc_id").as("cand"),
        size(array_intersect(col("x.toks"), col("y.toks"))).cast("bigint").as("inter"),
        size(col("x.toks")).cast("bigint").as("na"),
        size(col("y.toks")).cast("bigint").as("nb"))
      .filter(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6) >= 0.9)
      .select(col("cand").as("doc_id")).distinct()
  }

  /** Fixture split: the standard 20% sample (doc_id % 5 = 0) plays the
    * corpus+delta universe; within it, doc_id % 3 = 0 is the incoming
    * delta batch and the rest is the accepted corpus.
    */
  def q85IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val sample = Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
    val toks = sample
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val discards = incrementalDiscards(toks, _ % 3 === 0)
    sample.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(discards, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  val q85Oracle: String =
    s"""WITH ${sqlSigBandCtes("documents WHERE doc_id % 5 = 0")},
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.bkey = y.bkey AND x.doc_id % 3 = 0
       |   AND x.doc_id <> y.doc_id
       |   AND (y.doc_id % 3 <> 0 OR y.doc_id < x.doc_id)),
       |scored AS (
       |  SELECT doc_a,
       |    len(list_intersect(ta.toks, tb.toks)) AS i,
       |    len(ta.toks) AS na, len(tb.toks) AS nb
       |  FROM cands
       |  JOIN docs ta ON doc_a = ta.doc_id
       |  JOIN docs tb ON doc_b = tb.doc_id),
       |discards AS (
       |  SELECT DISTINCT doc_a FROM scored
       |  WHERE round(CAST(i AS DOUBLE) / (na + nb - i), 6) >= 0.9)
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
       |  AND doc_id NOT IN (SELECT doc_a FROM discards)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q92 — LEAKAGE-FREE eval split: a held-out evaluation set is only
  // honest if no eval document is a near-duplicate of a training
  // document (the train→eval leak that silently inflates every
  // benchmark score). The split itself is a deterministic hash of
  // doc_id (first md5 hex digit '0' ≈ 1/16 of the corpus → val); the
  // leakage pass then EVICTS from val any document with a verified
  // near-dup (Jaccard ≥ 0.9) in train. Unlike q85, val-internal dups
  // are NOT evicted — duplicates within eval don't leak training data,
  // and silently shrinking eval for them would skew its distribution.
  // Same asymmetric band join as q85 (val side only on the left, so
  // train-internal pairs are never generated); runs on the standard
  // 20% sample to bound the oracle.
  def q92EvalSplit(spark: SparkSession, dir: String): DataFrame = {
    val sample = Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
    val toks = sample
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val isVal = (id: Column) => substring(md5(id.cast("string")), 1, 1) === "0"
    val leaked = incrementalDiscards(toks, isVal, intraDelta = false)
    sample.filter(isVal(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(leaked, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  val q92Oracle: String =
    s"""WITH ${sqlSigBandCtes("documents WHERE doc_id % 5 = 0")},
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.bkey = y.bkey
       |   AND substring(md5(CAST(x.doc_id AS VARCHAR)), 1, 1) = '0'
       |   AND substring(md5(CAST(y.doc_id AS VARCHAR)), 1, 1) <> '0'),
       |scored AS (
       |  SELECT doc_a,
       |    len(list_intersect(ta.toks, tb.toks)) AS i,
       |    len(ta.toks) AS na, len(tb.toks) AS nb
       |  FROM cands
       |  JOIN docs ta ON doc_a = ta.doc_id
       |  JOIN docs tb ON doc_b = tb.doc_id),
       |leaked AS (
       |  SELECT DISTINCT doc_a FROM scored
       |  WHERE round(CAST(i AS DOUBLE) / (na + nb - i), 6) >= 0.9)
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id % 5 = 0
       |  AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
       |  AND doc_id NOT IN (SELECT doc_a FROM leaked)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q95 — duplicated-SPAN fraction: dedup at span granularity, the
  // signal doc-level dedup (q31/q32) cannot see. A document assembled
  // from boilerplate — every 8-token span appearing elsewhere in the
  // corpus — passes doc-level dedup (its full text is unique) but is
  // near-worthless training data; production pipelines score each doc
  // by the fraction of its spans that recur in OTHER documents and
  // cull above a threshold (the exact-substring-dedup family). Spans
  // are md5-hashed 8-token windows, distinct per doc, so within-doc
  // repetition (q69's signal) doesn't inflate the cross-doc one.
  // Scale notes (100 TB): explode + hash-partitioned span aggregate +
  // one span-key join back, then a doc_id aggregate — the q68 family.
  // Span hashes (16 bytes) travel instead of span text; the span
  // df aggregate is two-phase (partial count-distinct on doc_id per
  // span is a hash agg on (h, doc_id) — no state explosion).
  val SpanLen = 8

  def q95DupSpanFraction(spark: SparkSession, dir: String): DataFrame = {
    val pre = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), lower(trim(col("text"))).as("norm"))
      .withColumn("toks", split(col("norm"), " "))
    // native ShingleSet (one compiled pass, distinct, first-occurrence
    // order) replaces the interpreted sequence/transform/slice chain —
    // the q195 migration. md5 AFTER the explode: hashing distinct
    // shingles equals distincting hashed shingles, and the short-doc
    // fallback element IS norm (toks came from split(norm, " ")), so
    // md5(fallback) == md5(norm) — bit-identical to the old plan and
    // the unchanged oracle.
    val spans = pre.select(col("doc_id"),
        explode(graft.functions.ShingleSet.shingle_set(col("toks"), SpanLen)).as("s"))
      .select(col("doc_id"), md5(col("s")).as("h"))
    val docFreq = spans.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
    spans.join(docFreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val q95Oracle: String =
    s"""WITH pre AS (
       |  SELECT doc_id, lower(trim(text)) AS norm,
       |    string_split(lower(trim(text)), ' ') AS toks
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= $SpanLen
       |    THEN list_transform(generate_series(1, len(toks) - ${SpanLen - 1}),
       |           i -> md5(array_to_string(toks[i:i+${SpanLen - 1}], ' ')))
       |    ELSE [md5(norm)] END)) AS h
       |  FROM pre),
       |freq AS (SELECT h, count(DISTINCT doc_id) AS df FROM spans GROUP BY 1)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS dup_frac
       |FROM spans JOIN freq USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q159 — dedup PROVENANCE: the audit trail for q56's keep/discard
  // decision. For every discarded document: the canonical evidence
  // keeper (smallest doc_a among its verified pairs — the id whose
  // existence discarded it under greedy-by-id), the exact Jaccard with
  // that keeper, how many verified near-dups point at it, and its
  // strongest similarity. This is what answers a producer's "why was
  // my document dropped" — a pipeline that cannot explain its discards
  // cannot be debugged. Note the evidence keeper may itself be
  // discarded by an even smaller id (greedy chains); resolving chains
  // to cluster roots is q76's connected components.
  // Scale notes (100 TB): one aggregate over the verified pair stream,
  // grouped on doc_b — strictly cheaper than the pair scan that feeds
  // it. min_by picks the keeper's jaccard without re-joining pairs.
  def q159DedupProvenance(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks")))
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("evidence_keeper"),
        min_by(col("jaccard"), col("doc_a")).as("keeper_jaccard"),
        count(lit(1)).as("n_evidence"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("doc_id"))

  val q159Oracle: String =
    s"""WITH pairs AS (
       |${sqlMinhashPairs("documents WHERE doc_id % 5 = 0")}
       |)
       |SELECT doc_b AS doc_id, MIN(doc_a) AS evidence_keeper,
       |  min_by(jaccard, doc_a) AS keeper_jaccard,
       |  COUNT(*) AS n_evidence, MAX(jaccard) AS max_jaccard
       |FROM pairs GROUP BY doc_b ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q157 — CONTENT-DEFINED chunking + chunk-level dedup: the
  // sub-document granularity q95's fixed-length spans approximate.
  // Boundaries are declared by a hash predicate on the TOKEN itself
  // (md5(tok) mod 8 == 0 ends a chunk) — the token-granular form of a
  // rolling-hash CDC cutpoint, so boundaries move WITH the content:
  // inserting a sentence shifts every fixed-window span but leaves all
  // chunks outside the edited region byte-identical, which is exactly
  // why storage dedup and sub-doc corpus dedup chunk this way. Each
  // chunk is re-assembled in position order, hashed, and an occurrence
  // is a duplicate iff it is not the corpus-wide canonical first
  // occurrence (min over the packed (doc_id, chunk) key — all-integer,
  // 20-bit-guarded like q143's argmin). Output: per-doc chunk counts
  // and the duplicated-token fraction — the signal that catches docs
  // assembled from other docs' paragraphs.
  // Scale notes (100 TB): one posexplode + a per-doc ROWS window for
  // chunk ids (partition = one doc's tokens, bounded by doc length), a
  // (doc, chunk) aggregate to build chunks, one hash-partitioned
  // groupBy(chash) for canonical keys (NEVER a per-hash window — a
  // boilerplate chunk repeated millions of times would make that
  // window's partition corpus-sized; min+equi-join keeps it a combining
  // aggregate), and the join back co-locates on chash. No pairwise
  // anything.
  val ChunkMod = 8

  /** Content-defined chunks of a (doc_id, text) frame: (doc_id, chunk,
    * c_tokens, chash). Exposed so CdcChunkSpec can drive the defining
    * CDC property (an edit disturbs only the chunk containing it) on a
    * synthetic 2-doc frame.
    */
  private[operators] def cdcChunkFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tk
      .withColumn("bnd", (conv(substring(md5(col("tok")), 1, 4), 16, 10)
        .cast("long") % ChunkMod === 0).cast("int"))
      // chunk id = boundaries strictly before this token: the boundary
      // token ENDS its own chunk
      .withColumn("chunk", coalesce(sum(col("bnd")).over(wDoc), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("c_tokens"),
        md5(expr("array_join(transform(array_sort(collect_list(struct(pos, tok)))," +
          " x -> x.tok), ' ')")).as("chash"))
  }

  def q157CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunkFrame(graft.sources.Tables
      .documentsSharded(spark, dir).select(col("doc_id"), col("text")))
    val keyed = chunks.withColumn("okey",
      col("doc_id") * 1048576L + Similarity.guardedPackedId(col("chunk")))
    val canon = keyed.groupBy(col("chash")).agg(min(col("okey")).as("minkey"))
    keyed.join(canon, Seq("chash"))
      .withColumn("is_dup", (col("okey") =!= col("minkey")).cast("int"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c_tokens")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(col("is_dup")).cast("bigint").as("n_dup_chunks"),
        sum(col("is_dup") * col("c_tokens")).as("dup_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6))
      .orderBy(col("doc_id"))
  }

  val q157Oracle: String =
    s"""WITH l AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |tk AS (
       |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS tok
       |  FROM l),
       |b AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN CAST('0x' || substring(md5(tok), 1, 4) AS BIGINT)
       |      % $ChunkMod = 0 THEN 1 ELSE 0 END AS bnd
       |  FROM tk),
       |ch AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |  FROM b),
       |chunks AS (
       |  SELECT doc_id, chunk, COUNT(*) AS c_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
       |  FROM ch GROUP BY doc_id, chunk),
       |keyed AS (
       |  SELECT doc_id, chunk, c_tokens, chash,
       |    doc_id * 1048576 + chunk AS okey
       |  FROM chunks),
       |canon AS (SELECT chash, MIN(okey) AS minkey FROM keyed GROUP BY chash)
       |SELECT k.doc_id,
       |  CAST(SUM(c_tokens) AS BIGINT) AS n_tokens,
       |  COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN okey <> minkey THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(SUM(CASE WHEN okey <> minkey THEN c_tokens ELSE 0 END) AS BIGINT)
       |    AS dup_tokens,
       |  round(CAST(SUM(CASE WHEN okey <> minkey THEN c_tokens ELSE 0 END)
       |    AS DOUBLE) / SUM(c_tokens), 6) AS dup_frac
       |FROM keyed k JOIN canon c ON k.chash = c.chash
       |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q195 — EXACT-Jaccard similarity self-join via PREFIX FILTERING
  // (the AllPairs/PPJoin candidate scheme): the scale path for an
  // *exact* set-similarity join, complementing q32's approximate
  // MinHash route. Every document's distinct 3-shingle set is ordered
  // by a single global total order (document frequency asc, then
  // shingle asc — rarest first), and only the first
  // |s| - ceil(tau*|s|) + 1 shingles (the "prefix") enter the
  // candidate join. Prefix-filter theorem: two sets with
  // J >= tau MUST share a prefix shingle under a common total order —
  // if all common shingles sat in the suffixes, the overlap would be
  // <= min(ceil(tau*|x|), ceil(tau*|y|)) - 1 < tau*min(|x|,|y|)
  // <= tau/(1+tau)*(|x|+|y|), contradicting J >= tau. So the equi-join
  // on prefix shingles is COMPLETE, and candidates are generated by
  // rare shingles only (a stopword-shingle never lands in a prefix
  // unless the doc is mostly stopwords), which is what keeps bucket
  // sizes bounded where a join on ANY shared shingle explodes.
  // tau = 0.5, kept integer-exact end to end: the prefix length is
  // |s| - (|s|+1) div 2 + 1, the candidate length filter is
  // 2*min(na,nb) >= max(na,nb), and the verify filter J >= 1/2 is the
  // integer rearrangement 3*inter >= na + nb — no double ever decides
  // membership; the emitted jaccard is one rounded division (the
  // settled exact-rounded channel).
  // Scale notes (100 TB): the df join shuffles postings keyed on the
  // shingle (the AllPairs index build — inherent to the algorithm and
  // map-side combined); the per-doc prefix window is bounded by the
  // document's shingle count, never global; the candidate join is
  // equi-keyed on prefix shingles; the verify re-join is keyed on
  // doc_id. Nothing is collected, nothing is all-pairs. Runs on the
  // deterministic doc_id %% 2 half so the driver-side oracle (which
  // generates candidates from ANY shared shingle — a deliberately
  // independent, complete-but-quadratic-ish formulation) stays cheap.

  // --------------------------------------------------------------------
  // q228 — PAIR EVIDENCE at span granularity: for every q32 verified
  // near-dup pair, HOW the two documents overlap — their 8-token span
  // inventories, the shared-span count, and the containment of the
  // smaller side (n_shared / min). q159 answers "why was this doc
  // dropped" at pair level; this answers "show me the overlap" at
  // span level — the evidence a human reviewer or an appeals process
  // actually reads, and the signal that separates a full-document
  // mirror (containment ≈ 1) from heavy boilerplate sharing
  // (containment mid-range with large inventories) from REORDERED
  // near-dups (n_shared = 0: same token set, no common 8-span —
  // token-set Jaccard is order-blind, span evidence is not; the
  // fixture's shuffled-duplicate class lands here). Spans ride the
  // native ShingleSet(8) pass (the q95 alphabet, lower/trim
  // normalized).
  // Scale notes (100 TB): two equi-joins from the bounded verified
  // pair stream to the per-doc span arrays; the intersection is a
  // per-row array op on the join output — no explode, no span-keyed
  // shuffle (that's q95's corpus-wide job; this touches only paired
  // docs).
  def q228PairEvidence(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), graft.functions.ShingleSet.shingle_set(
        split(lower(trim(col("text"))), " "), SpanLen).as("spans"))
    q32Pairs(spark, dir)
      .join(docs.select(col("doc_id").as("doc_a"), col("spans").as("sa")),
        Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("spans").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(col("sa")).cast("bigint").as("na_spans"),
        size(col("sb")).cast("bigint").as("nb_spans"),
        size(array_intersect(col("sa"), col("sb"))).cast("bigint")
          .as("n_shared"))
      .withColumn("containment", round(col("n_shared").cast("double")
        / least(col("na_spans"), col("nb_spans")), 6))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q228Oracle: String = {
    val pairsNoOrder = q32Oracle.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS (
       |$pairsNoOrder
       |),
       |sp AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= $SpanLen
       |    THEN list_transform(generate_series(1, len(t) - ${SpanLen - 1}),
       |           i -> array_to_string(t[i:i+${SpanLen - 1}], ' '))
       |    ELSE [array_to_string(t, ' ')] END) AS spans
       |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
       |        FROM documents WHERE doc_id % 5 = 0)),
       |ev AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(a.spans) AS BIGINT) AS na_spans,
       |    CAST(len(b.spans) AS BIGINT) AS nb_spans,
       |    CAST(len(list_intersect(a.spans, b.spans)) AS BIGINT) AS n_shared
       |  FROM pairs
       |  JOIN sp a ON doc_a = a.doc_id
       |  JOIN sp b ON doc_b = b.doc_id)
       |SELECT doc_a, doc_b, na_spans, nb_spans, n_shared,
       |  round(CAST(n_shared AS DOUBLE) / least(na_spans, nb_spans), 6)
       |    AS containment
       |FROM ev ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------------------------------
  // q219 — SOURCE-COPY matrix: q32's verified near-dup pairs rolled up
  // by (source_a, source_b) — which sources duplicate which. This is
  // the provenance/licensing audit a corpus release runs: heavy
  // off-diagonal mass means one source is scraping or mirroring
  // another (and the discard side of dedup will silently bias AGAINST
  // the higher-id source), heavy diagonal mass means within-source
  // boilerplate. n_victims counts distinct doc_b per cell — the
  // documents the greedy-by-id keeper rule would actually discard, so
  // the matrix also prices dedup's per-source data loss.
  // Scale notes (100 TB): two equi-joins from the (bounded) verified
  // pair stream to a 2-column pruned documents scan, then a
  // sources²-bounded aggregate. Strictly cheaper than the pair scan
  // feeding it.
  def q219SourceCopyMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), col("source"))
    q32Pairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")),
        Seq("doc_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_victims"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q219Oracle: String = {
    val pairsNoOrder = q32Oracle.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS (
       |$pairsNoOrder
       |)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(count(DISTINCT doc_b) AS BIGINT) AS n_victims
       |FROM pairs
       |JOIN documents a ON doc_a = a.doc_id
       |JOIN documents b ON doc_b = b.doc_id
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
  }

  // --------------------------------------------------------------------
  // q217 — MINHASH SKETCH-FIDELITY audit (the q169/q170 sketch tier,
  // for the dedup sketch): over the band-colliding candidate pairs,
  // cross-tabulate the 8-component signature AGREEMENT count (the
  // minhash Jaccard estimate, agree/8) against the exact verify
  // verdict (J ≥ 0.9). The resulting table is the empirical
  // P(near-dup | agreement) calibration — what prices the verify
  // stage (how many candidates at each estimate level are worth the
  // exact re-check) and validates the b=2/r=4 collision threshold on
  // THIS corpus. Counters only (the q191 discipline); the estimate
  // never leaves integer space.
  // Scale notes (100 TB): the candidate join is q32's band equi-join;
  // the signature re-join ships 8 fixed-width components per side;
  // the audit aggregate has ≤ 9 output rows. No window, no all-pairs.
  def q217SketchFidelity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val sigs = minhashSignatures(docs)
      .select(col("doc_id"), col("toks"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
    val bands = bandRows(docs)
    val firstColl = array_position(
      zip_with(col("x.bkeys"), col("y.bkeys"), (a, b) => a === b), true) - 1
    val cands = bands.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id") &&
          firstColl === col("x.band"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val ag = cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa"),
        col("toks").as("ta")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb"),
        col("toks").as("tb")), Seq("doc_b"))
      .select(
        size(filter(zip_with(col("sa"), col("sb"), (a, b) => a === b),
          x => x)).as("n_agree"),
        size(array_intersect(col("ta"), col("tb"))).cast("bigint").as("inter"),
        size(col("ta")).cast("bigint").as("na"),
        size(col("tb")).cast("bigint").as("nb"))
    ag.groupBy(col("n_agree"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 6) >= 0.9, 1L)
          .otherwise(0L)).as("n_above"))
      .orderBy(col("n_agree"))
  }

  val q217Oracle: String = {
    val agreeSum = (0 until NumHashes)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${sqlSigBandCtes("documents WHERE doc_id % 5 = 0")},
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |ag AS (
       |  SELECT CAST($agreeSum AS INTEGER) AS n_agree,
       |    len(list_intersect(ta.toks, tb.toks)) AS i,
       |    len(ta.toks) AS na, len(tb.toks) AS nb
       |  FROM cands
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id
       |  JOIN docs ta ON doc_a = ta.doc_id
       |  JOIN docs tb ON doc_b = tb.doc_id)
       |SELECT n_agree, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN round(CAST(i AS DOUBLE) / (na + nb - i), 6) >= 0.9
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above
       |FROM ag GROUP BY 1 ORDER BY n_agree""".stripMargin
  }

  // --------------------------------------------------------------------
  // q215 — CANDIDATE-GENERATION RECALL eval: does the q32 LSH band
  // stage actually find the near-dup pairs? Ground truth is the EXACT
  // token-set Jaccard ≥ 0.9 pair set over the same %5 sample, built
  // the scalable way (q195's prefix-filter family at τ = 0.9: rarest-
  // first prefix postings + the 9·max ≤ 10·min length filter — exact,
  // no all-pairs scan); the candidate stage under eval is q32's
  // banded+verified pair set. One row of counters: exact pairs, banded
  // pairs, misses (band collisions the geometry never produced — the
  // LSH false-negative rate the b=2, r=4 threshold math predicts), and
  // spurious pairs (must be 0 — banded pairs are exact-verified, so a
  // nonzero value is a bug, not a tuning artifact; the spec pins it).
  // This is the dedup twin of q191's retrieval eval: a pipeline that
  // cannot measure its candidate recall cannot be tuned.
  // Scale notes (100 TB): both sides are bucketed equi-joins (prefix
  // postings / band keys); the comparison is one full-outer on the
  // pair key + a 4-counter aggregate. Output is 1 row. BOTH sides are
  // dataset-determined artifacts, so both ride persisted boundaries:
  // the exact τ-pair ground truth ("q215ex" — a ground-truth set is
  // computed once per corpus release, then every eval and every
  // threshold sweep reads it) and q32's banded pair set ("q32pairs").
  // The steady-state eval is two bounded parquet reads + the
  // full-outer + the 4-counter agg.
  val RecallTau = 0.9

  /** The exact τ=0.9 Jaccard pair set via prefix-filtered (PPJoin)
    * set-similarity join — the eval's ground truth, persisted once per
    * dataset.
    */
  private def exactTauPairs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StageBoundary(spark, "q215ex", dir) {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documentsSharded(spark, dir)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .cache()
      val posted = docs.select(col("doc_id"),
        size(col("toks")).cast("bigint").as("nt"), explode(col("toks")).as("g"))
      val dfreq = posted.groupBy(col("g")).agg(count(lit(1)).as("df"))
      // τ = 0.9 prefix length: nt - ceil(0.9·nt) + 1, integer arithmetic
      val prefix = posted.join(dfreq, Seq("g"))
        .withColumn("p", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
        .filter(col("p") <= col("nt") - expr("(9 * nt + 9) div 10") + 1)
        .select(col("doc_id"), col("nt"), col("g"))
      val cands = prefix.as("x").join(prefix.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
            lit(10) * least(col("x.nt"), col("y.nt")) >=
              lit(9) * greatest(col("x.nt"), col("y.nt")))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val exact = cands
        .join(docs.select(col("doc_id").as("doc_a"), col("toks").as("ta")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("toks").as("tb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ta"), col("tb"))).cast("bigint").as("inter"),
          size(col("ta")).cast("bigint").as("na"),
          size(col("tb")).cast("bigint").as("nb"))
        .filter(round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 6) >= RecallTau)
        .select(col("doc_a"), col("doc_b"))
      exact
    }

  def q215LshRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val exact = exactTauPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("ex"))
    val banded = q32Pairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("bd"))
    exact.join(banded, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("ex").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("bd").isNotNull, 1L).otherwise(0L)).as("n_banded"),
        sum(when(col("ex").isNotNull && col("bd").isNull, 1L).otherwise(0L))
          .as("n_missed"),
        sum(when(col("bd").isNotNull && col("ex").isNull, 1L).otherwise(0L))
          .as("n_spurious"))
  }

  /** Independent ground-truth formulation (the q195 oracle's argument):
    * J ≥ τ > 0 implies at least one shared token, so the any-shared-
    * token candidate set is complete and the exact filter over it IS
    * the τ-pair set. The banded side nests q32's oracle verbatim.
    */
  val q215Oracle: String = {
    val bandedNoOrder = q32Oracle.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH banded AS (
       |$bandedNoOrder
       |),
       |docs AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents WHERE doc_id % 5 = 0),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM (SELECT doc_id, unnest(toks) AS g FROM docs) x
       |  JOIN (SELECT doc_id, unnest(toks) AS g FROM docs) y
       |    ON x.g = y.g AND x.doc_id < y.doc_id),
       |exact AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |        / (len(a.toks) + len(b.toks)
       |           - len(list_intersect(a.toks, b.toks))), 6) AS j
       |    FROM cand
       |    JOIN docs a ON doc_a = a.doc_id
       |    JOIN docs b ON doc_b = b.doc_id)
       |  WHERE j >= $RecallTau)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
       |  (SELECT CAST(count(*) AS BIGINT) FROM banded) AS n_banded,
       |  (SELECT CAST(count(*) AS BIGINT) FROM exact e
       |   WHERE NOT EXISTS (SELECT 1 FROM banded b
       |     WHERE b.doc_a = e.doc_a AND b.doc_b = e.doc_b)) AS n_missed,
       |  (SELECT CAST(count(*) AS BIGINT) FROM banded b
       |   WHERE NOT EXISTS (SELECT 1 FROM exact e
       |     WHERE e.doc_a = b.doc_a AND e.doc_b = b.doc_b)) AS n_spurious""".stripMargin
  }

  def q195PrefixFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = lower(trim(col("text")))
    val toks = split(norm, " ")
    // the shingle-set boundary is PERSISTED (StageBoundary, the q82
    // rule): three consumers (postings build + both verify re-joins)
    // would each re-run the shingle pass over the corpus scan, and the
    // old session cache refilled once per session and leaked until the
    // caller's clearCache. The boundary is built once per dataset.
    val sh = graft.sources.StageBoundary(spark, "q195sh", dir)(
      Tables.documentsSharded(spark, dir)
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          graft.functions.ShingleSet.shingle_set(toks, 3).as("s")))
    // postings + global df order (df asc, shingle asc — a total order).
    // NOTE (round 20): the static plan shows the prefix subtree (and
    // its row_number window) expanded under BOTH candidate self-join
    // sides, but the two sides are canonically IDENTICAL, so runtime
    // exchange reuse already computes the window once — checkpointing
    // posted and/or prefix here was A/B-probed at 2.55 s → 3.3-3.4 s
    // steady and REVERTED: the materialization costs more than the
    // reuse-deduplicated recompute, and checkpointed RDDs lose the
    // stats the candidate-join planning uses.
    val posted = sh.select(col("doc_id"),
      size(col("s")).cast("bigint").as("nsh"), explode(col("s")).as("g"))
    val dfreq = posted.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // tau = 0.5 integer prefix length: |s| - ceil(|s|/2) + 1
    val prefix = posted.join(dfreq, Seq("g"))
      .withColumn("p", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
      .filter(col("p") <= col("nsh") - expr("(nsh + 1) div 2") + 1)
      .select(col("doc_id"), col("nsh"), col("g"))
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          lit(2) * least(col("x.nsh"), col("y.nsh")) >=
            greatest(col("x.nsh"), col("y.nsh")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("s").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("bigint").as("inter"),
        size(col("sa")).cast("bigint").as("n_a"),
        size(col("sb")).cast("bigint").as("n_b"))
      .filter(lit(3) * col("inter") >= col("n_a") + col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Deliberately independent oracle: candidates from ANY shared
    * shingle (complete for every tau > 0 because J >= tau > 0 implies
    * a nonempty intersection), then the same integer-exact verify.
    */
  val q195Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
      |  FROM documents WHERE doc_id % 2 = 0),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN list_transform(generate_series(1, len(t) - 2),
      |           i -> array_to_string(t[i:i+2], ' '))
      |    ELSE [array_to_string(t, ' ')] END) AS s
      |  FROM toks),
      |post AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_a, doc_b,
      |    CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS inter,
      |    CAST(len(x.s) AS BIGINT) AS n_a, CAST(len(y.s) AS BIGINT) AS n_b
      |  FROM cand
      |  JOIN sh x ON doc_a = x.doc_id
      |  JOIN sh y ON doc_b = y.doc_id)
      |SELECT doc_a, doc_b, n_a, n_b, inter,
      |  round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
      |FROM sc WHERE 3 * inter >= n_a + n_b
      |ORDER BY doc_a, doc_b""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q195_prefix_filter_join", q195PrefixFilterJoin, q195Oracle),
    Query("q157_cdc_chunks", q157CdcChunks, q157Oracle),
    Query("q159_dedup_provenance", q159DedupProvenance, q159Oracle),
    Query("q31_exact_dedup", q31ExactDedup, q31Oracle),
    Query("q32_minhash_neardup", q32MinhashNeardup, q32Oracle),
    Query("q33_simhash", q33Simhash, q33Oracle),
    Query("q40_ngram_jaccard", q40NgramJaccard, q40Oracle),
    Query("q56_dedup_keepers", q56DedupKeepers, q56Oracle),
    Query("q75_simhash_pairs", q75SimhashPairs, q75Oracle),
    Query("q76_dedup_clusters", q76DedupClusters, q76Oracle),
    Query("q211_dedup_yield", q211DedupYield, q211Oracle),
    Query("q215_lsh_recall_eval", q215LshRecallEval, q215Oracle),
    Query("q217_sketch_fidelity", q217SketchFidelity, q217Oracle),
    Query("q219_source_copy_matrix", q219SourceCopyMatrix, q219Oracle),
    Query("q228_pair_evidence", q228PairEvidence, q228Oracle),
    Query("q85_incremental_dedup", q85IncrementalDedup, q85Oracle),
    Query("q92_eval_split", q92EvalSplit, q92Oracle),
    Query("q95_dup_span_fraction", q95DupSpanFraction, q95Oracle))
}
