package graft.operators

import graft.SparkEntry.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token statistics, heuristic language ID, quality
  * scoring, and document fingerprinting.
  *
  * All are per-row expression pipelines over built-in higher-order
  * array functions — fully codegen'd, no shuffle, no UDFs — so they
  * stream over 100 TB at scan speed.
  */
object TextAnalysis {

  /** Whitespace tokens; the shared token definition for every operator
    * (matches DuckDB `string_split(text, ' ')`). */
  def tokens(c: Column): Column = split(c, " ")

  // --------------------------------------------------------------------
  // q27 — token statistics: counts, uniques, char totals, punctuation,
  // mean token length.
  def q27TokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documentsSharded(spark, dir).select(
      col("doc_id"),
      size(toks).cast("bigint").as("n_tokens"),
      size(array_distinct(toks)).cast("bigint").as("n_uniq_tokens"),
      aggregate(transform(toks, t => length(t).cast("bigint")), lit(0L), _ + _)
        .as("total_tok_chars"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
        .cast("bigint").as("punct_count"))
      .withColumn("mean_tok_len",
        round(col("total_tok_chars").cast("double") / col("n_tokens"), 6))
      .orderBy(col("doc_id"))
  }

  val q27Oracle: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
      |  CAST(list_sum(list_transform(string_split(text, ' '), t -> len(t))) AS BIGINT) AS total_tok_chars,
      |  CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
      |  round(CAST(list_sum(list_transform(string_split(text, ' '), t -> len(t))) AS DOUBLE)
      |        / len(string_split(text, ' ')), 6) AS mean_tok_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q28 — heuristic language ID: stopword-marker hit counts per
  // language, argmax with a fixed tie-break order (en,es,de,fr,zh).
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def q28LangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    def hits(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words.map(lit): _*))).cast("bigint")
    val withCounts = Tables.documentsSharded(spark, dir).select(
      (col("doc_id") +: col("lang").as("lang_actual") +:
        Markers.map { case (l, ws) => hits(ws).as(s"n_$l") }): _*)
    val langs = Markers.map(_._1)
    val pred = langs.foldLeft(None: Option[Column]) { case (acc, l) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"n_$l") >= col(s"n_$o")).reduce(_ && _) && col(s"n_$l") > 0
      Some(acc.fold(when(isMax, l))(_.when(isMax, l)))
    }.get.otherwise("unknown")
    withCounts.withColumn("pred_lang", pred).orderBy(col("doc_id"))
  }

  val q28Oracle: String = {
    val counts = Markers.map { case (l, ws) =>
      s"len(list_filter(string_split(text, ' '), t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS n_$l"
    }.mkString(",\n  ")
    val langs = Markers.map(_._1)
    val pred = langs.map { l =>
      val isMax = (langs.filter(_ != l).map(o => s"n_$l >= n_$o") :+ s"n_$l > 0").mkString(" AND ")
      s"WHEN $isMax THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, lang_actual, ${langs.map(l => s"n_$l").mkString(", ")},
       |  CASE $pred ELSE 'unknown' END AS pred_lang
       |FROM (SELECT doc_id, lang AS lang_actual, $counts FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q221 — LANG-ID CONFUSION MATRIX: q28's marker-word classifier
  // graded against the corpus's ground-truth lang column, as the
  // (actual, predicted, count) matrix plus a per-cell min-id exemplar
  // for debugging. This is the eval the lang-id operator ships with —
  // per-class precision/recall fall straight out of the matrix
  // (consumer-side ratios; the cells stay integer). The "unknown"
  // prediction column is first-class: it is where short, marker-free
  // documents land and the knob a coverage/accuracy tradeoff tunes.
  // Scale notes (100 TB): rides q28's row-local classifier (one scan,
  // no joins) into a languages²-bounded aggregate.
  def q221LangIdConfusion(spark: SparkSession, dir: String): DataFrame =
    q28LangId(spark, dir)
      .groupBy(col("lang_actual"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
      .orderBy(col("lang_actual"), col("pred_lang"))

  val q221Oracle: String =
    s"""WITH graded AS (
       |${q28Oracle.replace("ORDER BY doc_id", "")}
       |)
       |SELECT lang_actual, pred_lang, count(*) AS n_docs,
       |  min(doc_id) AS example_doc
       |FROM graded GROUP BY 1, 2 ORDER BY lang_actual, pred_lang""".stripMargin

  // --------------------------------------------------------------------
  // q222 — RAG CHUNKING: fixed-length token chunks with stride overlap
  // (128-token chunks every 96 tokens → 32-token overlap) — the
  // retrieval-ingestion sibling of q74's training packer. Packing
  // concatenates ACROSS documents (a training window doesn't care
  // where a doc ends); a retrieval chunker must stay WITHIN the
  // document and overlap chunks so no answer span is split across a
  // boundary without a chunk that contains it whole. Every chunk
  // carries its offset, true length (the tail chunk is short) and
  // content hash — the (id, span, hash) triple a vector store indexes.
  // The chunk count arithmetic keeps the numerator non-negative
  // (greatest(0, n-len)) so Spark's truncating DIV and DuckDB's
  // flooring // cannot diverge on short documents.
  // Scale notes (100 TB): pure row-local arithmetic — one explode of
  // ~n/stride per doc, a slice and one md5 per chunk; no shuffle at
  // all until a consumer aggregates. The stride/len constants are the
  // recall-vs-storage knob a retrieval stack tunes.
  val ChunkLen = 128
  val ChunkStride = 96

  /** The chunker as a ROW-LOCAL transform over any (doc_id, text, ...)
    * frame — batch (q222) and stream (q225) run THE SAME function, so
    * the two cannot drift (the rowLocalGate discipline).
    */
  private[graft] def chunked(docs: DataFrame): DataFrame = {
    val pre = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("toks"))
      .withColumn("extra", expr(
        s"(greatest(0, size(toks) - $ChunkLen) + ${ChunkStride - 1}) DIV $ChunkStride"))
    pre.select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("extra").cast("int"))).as("chunk_idx"))
      .withColumn("chunk",
        slice(col("toks"), col("chunk_idx") * ChunkStride + 1, lit(ChunkLen)))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).cast("bigint").as("start_tok"),
        size(col("chunk")).cast("bigint").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  def q222RagChunking(spark: SparkSession, dir: String): DataFrame =
    chunked(Tables.documentsSharded(spark, dir))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val q222Oracle: String =
    s"""WITH pre AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
       |  FROM documents),
       |info AS (
       |  SELECT doc_id, toks,
       |    CAST((greatest(0, len(toks) - $ChunkLen) + ${ChunkStride - 1})
       |      // $ChunkStride AS BIGINT) AS extra
       |  FROM pre),
       |chunks AS (
       |  SELECT doc_id, toks,
       |    CAST(unnest(generate_series(0, extra)) AS INTEGER) AS chunk_idx
       |  FROM info)
       |SELECT doc_id, chunk_idx,
       |  CAST(chunk_idx * $ChunkStride AS BIGINT) AS start_tok,
       |  CAST(len(toks[chunk_idx * $ChunkStride + 1 :
       |    chunk_idx * $ChunkStride + $ChunkLen]) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(toks[chunk_idx * $ChunkStride + 1 :
       |    chunk_idx * $ChunkStride + $ChunkLen], ' ')) AS chunk_hash
       |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------------
  // q224 — N-GRAM INVENTORY DIFF between releases: the
  // tokenizer/novelty twin of q197's corpus diff. The standing release
  // (doc_id % 10 ≠ 0) and the arriving delta (% 10 = 0) each induce a
  // 3-shingle inventory (per-doc DISTINCT via the native ShingleSet,
  // so the per-side counts are document frequencies); the report
  // buckets every shingle as only_standing / only_delta / both with
  // type counts, df mass on each side, and a min-shingle exemplar.
  // only_delta mass is the novelty signal that drives tokenizer
  // retraining and flags topic/contamination shifts; a large
  // only_standing bucket says the delta under-samples the corpus.
  // (Whitespace TOKENS would be the classic unit, but any corpus with
  // a closed token vocabulary — like this fixture — makes that report
  // vacuous; the n-gram inventory is strictly finer and is what
  // SentencePiece-style trainers actually count.)
  // Scale notes (100 TB): shingle-keyed aggregates and one full-outer
  // join — ALL inventory-bounded, never corpus-row-bounded; the
  // 3-row rollup is map-side combined.
  def q224VocabDiff(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), explode(graft.functions.ShingleSet.shingle_set(
        tokens(lower(trim(col("text")))), 3)).as("tok"))
    val a = ex.filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("df_a"))
    val b = ex.filter(col("doc_id") % 10 === 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("df_b"))
    a.join(b, Seq("tok"), "full_outer")
      .select(col("tok"),
        when(col("df_a").isNotNull && col("df_b").isNotNull, "both")
          .when(col("df_a").isNotNull, "only_standing")
          .otherwise("only_delta").as("status"),
        coalesce(col("df_a"), lit(0L)).as("dfa"),
        coalesce(col("df_b"), lit(0L)).as("dfb"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("dfa")).as("df_standing"), sum(col("dfb")).as("df_delta"),
        min(col("tok")).as("example_token"))
      .orderBy(col("status"))
  }

  val q224Oracle: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN list_transform(generate_series(1, len(t) - 2),
      |           i -> array_to_string(t[i:i+2], ' '))
      |    ELSE [array_to_string(t, ' ')] END) AS s
      |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
      |        FROM documents)),
      |ex AS (SELECT doc_id, unnest(s) AS tok FROM sh),
      |a AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_a FROM ex
      |      WHERE doc_id % 10 <> 0 GROUP BY 1),
      |b AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_b FROM ex
      |      WHERE doc_id % 10 = 0 GROUP BY 1),
      |j AS (
      |  SELECT COALESCE(a.tok, b.tok) AS tok,
      |    CASE WHEN a.tok IS NOT NULL AND b.tok IS NOT NULL THEN 'both'
      |      WHEN a.tok IS NOT NULL THEN 'only_standing'
      |      ELSE 'only_delta' END AS status,
      |    COALESCE(df_a, 0) AS dfa, COALESCE(df_b, 0) AS dfb
      |  FROM a FULL OUTER JOIN b ON a.tok = b.tok)
      |SELECT status, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(dfa) AS BIGINT) AS df_standing,
      |  CAST(sum(dfb) AS BIGINT) AS df_delta,
      |  min(tok) AS example_token
      |FROM j GROUP BY 1 ORDER BY status""".stripMargin

  // --------------------------------------------------------------------
  // q29 — quality scoring: length score, unique-token ratio, punctuation
  // density → weighted composite.
  def q29QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documentsSharded(spark, dir).select(
      col("doc_id"),
      size(toks).cast("bigint").as("n_tokens"),
      size(array_distinct(toks)).cast("bigint").as("n_uniq"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
        .cast("bigint").as("punct"),
      col("n_chars"))
      .select(
        col("doc_id"),
        round(least(lit(1.0), col("n_tokens") / 100.0), 6).as("len_score"),
        round(col("n_uniq").cast("double") / col("n_tokens"), 6).as("uniq_ratio"),
        round(col("punct").cast("double") / col("n_chars"), 6).as("punct_density"),
        round(lit(0.4) * least(lit(1.0), col("n_tokens") / 100.0)
          + lit(0.4) * (col("n_uniq").cast("double") / col("n_tokens"))
          + lit(0.2) * (lit(1.0) - col("punct").cast("double") / col("n_chars")), 6)
          .as("quality_score"))
      .orderBy(col("doc_id"))
  }

  val q29Oracle: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq,
      |    len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct,
      |    n_chars
      |  FROM documents)
      |SELECT doc_id,
      |  round(least(1.0, n_tokens / 100.0), 6) AS len_score,
      |  round(CAST(n_uniq AS DOUBLE) / n_tokens, 6) AS uniq_ratio,
      |  round(CAST(punct AS DOUBLE) / n_chars, 6) AS punct_density,
      |  round(0.4 * least(1.0, n_tokens / 100.0)
      |      + 0.4 * (CAST(n_uniq AS DOUBLE) / n_tokens)
      |      + 0.2 * (1.0 - CAST(punct AS DOUBLE) / n_chars), 6) AS quality_score
      |FROM base ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q30 — document fingerprinting: md5 of the normalized text plus the
  // minimum 3-shingle hash (the rolling-hash family's set-min form).
  //
  // `toks` is materialized as a named column BEFORE the shingle lambda
  // references it. Higher-order functions are interpreted (no codegen),
  // so an expression embedded in the lambda body re-evaluates per array
  // element — an inline split() there makes shingling O(tokens^2) per
  // document. As a non-trivial alias referenced 3x it survives
  // CollapseProject, and the lambda sees a cheap attribute instead.
  def q30Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), lower(trim(col("text"))).as("norm"))
      .withColumn("toks", split(col("norm"), " "))
    base.select(
      col("doc_id"),
      md5(col("norm")).as("fp_md5"),
      // one codegen'd pass: shingle → md5 → min, no intermediate arrays
      // (semantics identical to array_min(transform(shingles, md5)))
      graft.functions.MinShingleMd5.min_shingle_md5(col("toks"), 3)
        .as("min_shingle_hash"))
      .orderBy(col("doc_id"))
  }

  val q30Oracle: String =
    """WITH base AS (
      |  SELECT doc_id, lower(trim(text)) AS norm,
      |    string_split(lower(trim(text)), ' ') AS toks
      |  FROM documents)
      |SELECT doc_id, md5(norm) AS fp_md5,
      |  list_aggregate(list_transform(
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(generate_series(1, len(toks) - 2),
      |             i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE [norm] END,
      |    s -> md5(s)), 'min') AS min_shingle_hash
      |FROM base ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q52 — BPE-style regex token counting: the GPT-2 pre-tokenizer
  // pattern family, restricted to RE2-safe constructs (no lookahead) so
  // Spark's Java regex and DuckDB's RE2 produce the same token stream:
  // optional leading space + letter run | digit run | punctuation run.
  // Complements q27's whitespace tokens with the subword-tokenizer
  // granularity an LLM-data pipeline actually budgets by.
  val BpePattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  def q52BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws_toks"),
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)).as("bpe"))
    base.select(
      col("doc_id"),
      size(col("bpe")).cast("bigint").as("n_bpe_tokens"),
      size(array_distinct(col("bpe"))).cast("bigint").as("n_bpe_uniq"),
      round(size(col("bpe")).cast("double") / size(col("ws_toks")), 6)
        .as("bpe_per_word"))
      .orderBy(col("doc_id"))
  }

  val q52Oracle: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$BpePattern')) AS n_bpe_tokens,
       |  len(list_distinct(regexp_extract_all(text, '$BpePattern'))) AS n_bpe_uniq,
       |  round(CAST(len(regexp_extract_all(text, '$BpePattern')) AS DOUBLE)
       |        / len(string_split(text, ' ')), 6) AS bpe_per_word
       |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q229 — CURRICULUM PHASES by LM-score quartile: split the corpus
  // into four training phases by each document's mean unigram-token
  // frequency (q94's exact model stats; low mean count = rare-token-
  // heavy = "hard") and report each phase's document count, token
  // mass, count mass and score range — the schedule a curriculum-
  // learning run feeds to its sampler (easy phases first, hard last).
  // The quartile thresholds are ONE 1-row interpolated-percentile
  // aggregate riding the optimizer-opaque join (the q186 mechanism —
  // both engines interpolate bit-identically per the q169 contract),
  // and the score itself is one rounded IEEE divide of two exact
  // integers, so phase membership cannot flip between engines.
  // Scale notes (100 TB): rides q94's one corpus pass + vocab join;
  // the percentile is a sort-based agg on ONE double column; phasing
  // is three scan-side comparisons; output is 4 rows.
  def q229CurriculumPhases(spark: SparkSession, dir: String): DataFrame = {
    val stats = unigramModel(Tables.documentsSharded(spark, dir)
        .select(col("doc_id"), col("text")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("sum_cnt"))
      .withColumn("score",
        round(col("sum_cnt").cast("double") / col("n_tokens"), 6))
    val th = stats
      .agg(expr("percentile(score, array(0.25, 0.5, 0.75))").as("th"),
        count(lit(1)).as("nd"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("nd")))
    stats.withColumn("_k", graft.plans.Opaque.zeroKey(col("n_tokens")))
      .join(th, Seq("_k"))
      .withColumn("phase",
        when(col("score") <= element_at(col("th"), 1), 1)
          .when(col("score") <= element_at(col("th"), 2), 2)
          .when(col("score") <= element_at(col("th"), 3), 3)
          .otherwise(4))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("sum_cnt")).as("cnt_mass"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy(col("phase"))
  }

  val q229Oracle: String =
    """WITH ex AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      |  FROM documents),
      |vocab AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY 1),
      |stats AS (
      |  SELECT doc_id, count(*) AS n_tokens, CAST(sum(cnt) AS BIGINT) AS sum_cnt,
      |    round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS score
      |  FROM ex JOIN vocab USING (tok) GROUP BY doc_id),
      |th AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS th FROM stats)
      |SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |  CAST(sum(sum_cnt) AS BIGINT) AS cnt_mass,
      |  min(score) AS min_score, max(score) AS max_score
      |FROM (
      |  SELECT s.*, CASE WHEN score <= th[1] THEN 1 WHEN score <= th[2] THEN 2
      |    WHEN score <= th[3] THEN 3 ELSE 4 END AS phase
      |  FROM stats s, th)
      |GROUP BY 1 ORDER BY phase""".stripMargin

  // --------------------------------------------------------------------
  // q218 — TOKENIZER FERTILITY by language: per-lang totals of
  // characters, whitespace words and q52's subword-regex tokens — the
  // audit behind "how many training tokens does each language cost per
  // unit of text". Fertility (subwords per word, chars per subword) is
  // THE multilingual-tokenizer acceptance metric: a language whose
  // fertility is 2× pays 2× the context budget for the same content,
  // and vocabulary decisions are made from exactly these per-language
  // sums. All emitted columns are exact integer totals; the ratios are
  // consumer-side divides (the q209/q191 discipline).
  // Scale notes (100 TB): one scan, three row-local counters, one
  // map-side-combined aggregate keyed on lang (cardinality ~languages,
  // never corpus) — the cheapest query shape there is. Output is one
  // row per language.
  def q218LangFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSharded(spark, dir)
      .select(col("lang"),
        length(col("text")).cast("bigint").as("chars"),
        size(split(col("text"), " ")).cast("bigint").as("words"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("bigint").as("subwords"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("n_chars"),
        sum(col("words")).as("n_words"),
        sum(col("subwords")).as("n_subwords"))
      .orderBy(col("lang"))

  val q218Oracle: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
       |  CAST(sum(len(regexp_extract_all(text, '$BpePattern'))) AS BIGINT)
       |    AS n_subwords
       |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  // --------------------------------------------------------------------
  // q58 — deterministic stratified sampling: per-language keep rates
  // (the data-mixing step of a training pipeline), with a pure
  // arithmetic multiplicative hash so the decision is reproducible and
  // exactly computable by any engine — no RNG, no seed state, rerun
  // gives the same sample. Per-row filter: no shuffle at all.
  val SampleRates: Map[String, Int] = // permille
    Map("en" -> 800, "es" -> 500, "de" -> 300, "fr" -> 300, "zh" -> 200)

  def q58StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    // Knuth multiplicative hash in exact BIGINT arithmetic (values stay
    // far below 2^63 for doc ids in the billions)
    val bucket = pmod(col("doc_id") * 2654435761L, lit(1000L))
    val rate = SampleRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    Tables.documentsSharded(spark, dir)
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val q58Oracle: String = {
    val rateCase = SampleRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""SELECT doc_id, lang, n_chars
       |FROM documents
       |WHERE (doc_id * 2654435761) % 1000 < $rateCase
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q94 — unigram language-model scoring: the statistical quality
  // signal production pipelines run beside the heuristic one (q29) —
  // documents whose tokens are improbable under the corpus's own
  // unigram distribution (gibberish, boilerplate soup, wrong-language
  // residue) score a high mean negative log-likelihood and get culled
  // by threshold. Two aggregations (vocab counts, per-doc rollup) and
  // one token join, the q68 shape.
  // Determinism (settled round 10, with q158): the EMITTED columns
  // are integer-exact model aggregates — n_tokens, sum(cnt), N — all
  // BIGINT. Earlier rounds emitted round(-ln(p), 6) sums/averages;
  // ln() is not correctly-rounded in IEEE 754, so different libm /
  // DuckDB builds produce different doubles and the fixed-decimal
  // round is an engine lottery (q158 lost it twice). The NLL
  // semantics stay proven by TextSignalsSpec's brute-force twin
  // against the spec-only unigramNll view (never registered/hashed).
  // Scale notes (100 TB): the vocab aggregate is hash-partitioned on
  // token (skewed head tokens are exactly what AQE/salting handle);
  // the token join shuffles on the same key; the per-doc aggregate
  // rides doc_id. Nothing is collected: the "model" stays distributed
  // (a production variant would broadcast a pruned top-K vocab).
  /** Per-token-occurrence model frame: (doc_id, cnt, n_total) — the
    * shared input of the emitted integer aggregate and the spec-only
    * NLL view. The 1-row total rides the optimizer-opaque join
    * (graft.plans.Opaque — a foldable key collapses to the banned
    * cartesian, an eager count fires jobs during plan sweeps).
    */
  private[operators] def unigramModel(docs: DataFrame): DataFrame = {
    val ex = docs
      .select(col("doc_id"), explode(tokens(lower(trim(col("text"))))).as("tok"))
    val vocab = ex.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
      .select(col("n_total"),
        graft.plans.Opaque.zeroKey(col("n_total")).as("_k"))
    ex.join(vocab, Seq("tok"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("cnt")))
      .join(total, Seq("_k"))
      .select(col("doc_id"), col("cnt"), col("n_total"))
  }

  def q94UnigramLmScore(spark: SparkSession, dir: String): DataFrame =
    unigramModel(Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), col("text")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"),
        // n_total is one corpus-wide constant; max() carries it through
        max(col("n_total")).as("n_total"))
      .orderBy(col("doc_id"))

  /** Spec-only NLL view (never registered, never hashed): per-doc mean
    * of round(-ln(cnt/N), 6) — the semantic proof that unigramModel's
    * counts describe the unigram LM, driven by TextSignalsSpec.
    */
  private[operators] def unigramNll(docs: DataFrame): DataFrame =
    unigramModel(docs)
      .select(col("doc_id"),
        round(-log(col("cnt").cast("double") / col("n_total").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("tok_nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        // cast the EXACT decimal sum to double, then one IEEE division
        round(sum(col("tok_nll")).cast("double") / count(lit(1)), 6).as("avg_nll"))
      .orderBy(col("doc_id"))

  val q94Oracle: String =
    """WITH ex AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      |  FROM documents),
      |vocab AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY 1),
      |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(cnt) AS BIGINT) AS sum_cnt,
      |  (SELECT n_total FROM total) AS n_total
      |FROM ex JOIN vocab USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q158 — BIGRAM language-model scoring, the context-aware upgrade of
  // q94's unigram: P(cur|prev) = (c(prev,cur) + 1) / (c(prev·) + V),
  // add-1 smoothed. This is the quality signal that separates
  // plausible-word-soup (fools q94) from plausible-SEQUENCES;
  // production pipelines threshold on it next to the heuristic gates.
  // Bigrams are built scan-side from the token array (guarded
  // sequence — a 1-token doc yields zero bigrams and drops out,
  // exactly like the oracle's empty range), so no window and no
  // self-join touches the token stream.
  // Determinism (settled round 10): the EMITTED columns are
  // integer-exact model aggregates — n_bigrams, sum(cnt_bg),
  // sum(cnt_ctx), V — all BIGINT, hash-stable across any DuckDB/libm
  // build by construction. Earlier rounds emitted sums/averages of
  // round(-ln(p), 6) and lost the driver-gate lottery twice: a
  // transcendental rounded at a fixed decimal lands within an ulp of
  // a .5e-6 boundary for SOME doc at SOME scale, and which engine
  // build rounds it which way is not a contract. The NLL semantics
  // stay proven in-repo by BigramLmSpec's brute-force recomputation
  // against the spec-only bigramNll view below (never registered,
  // never hashed).
  // Scale notes (100 TB): three hash-partitioned aggregates (bigram
  // counts, context counts, distinct-vocab size) and two equi-joins on
  // the bigram stream — the q68/q94 shape. Head contexts (stopwords)
  // are the skew risk: AQE splits them, and a production variant
  // broadcasts a pruned top-K bigram table instead of joining the
  // full model. The vocab size rides the optimizer-opaque 1-row join
  // (plans.Opaque), never a collect or a foldable-key cartesian.
  /** Per-bigram-occurrence model frame: each (doc_id, prev, cur)
    * occurrence with its corpus counts and the vocab size — shared by
    * the emitted integer aggregate and the spec-only NLL view.
    */
  private[operators] def bigramModel(docs: DataFrame): DataFrame = {
    // materialize the tokenized corpus and the bigram stream ONCE (lazy
    // localCheckpoint — the q227/q155 materialize-reused-subplans rule):
    // the old frames re-expanded at every reference, so the tokenize ran
    // 4x (cbg, cctx, the join's left side, vsz) and the corpus-sized
    // bigram stream was rebuilt 3x
    val toks = docs.select(col("doc_id"),
      tokens(lower(trim(col("text")))).as("t"))
      .localCheckpoint(false)
    val bg = toks.select(col("doc_id"), explode(when(size(col("t")) >= 2,
        expr("transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS prev, element_at(t, i + 1) AS cur))"))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .localCheckpoint(false)
    val cbg = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cnt_bg"))
      .localCheckpoint(false)
    // cnt_ctx ≡ the bigram count re-aggregated per context: sum of
    // cnt_bg over cur = count of bg rows per prev, exactly — so the
    // context counts derive from the MODEL-sized cbg frame instead of a
    // second pass over the corpus-sized bigram stream, and both model
    // columns attach to the stream through ONE model-keyed join (every
    // bg row matched both of the old inner joins by construction, so
    // collapsing them is row-identical)
    val model = cbg.join(
      cbg.groupBy(col("prev")).agg(sum(col("cnt_bg")).as("cnt_ctx")),
      Seq("prev"))
    val vsz = toks.select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("vsz"))
      .select(col("vsz"), graft.plans.Opaque.zeroKey(col("vsz")).as("_k"))
    bg.join(model, Seq("prev", "cur"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("cnt_bg")))
      .join(vsz, Seq("_k"))
      .select(col("doc_id"), col("cnt_bg"), col("cnt_ctx"), col("vsz"))
  }

  /** The emitted/hashed shape: per-doc integer-exact aggregates of the
    * add-1 bigram model. A consumer recovers the smoothed NLL with the
    * model tables; the gate hashes only BIGINTs.
    */
  private[operators] def bigramLmScore(docs: DataFrame): DataFrame =
    bigramModel(docs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("cnt_bg")).as("sum_cbg"),
        sum(col("cnt_ctx")).as("sum_cctx"),
        // vsz is one corpus-wide constant; max() carries it through
        max(col("vsz")).as("vsz"))
      .orderBy(col("doc_id"))

  /** Spec-only NLL view (never registered, never hashed): per-doc
    * count + exact decimal sum of round(-ln(P(cur|prev)), 6) — the
    * semantic proof that bigramModel's counts describe the add-1
    * smoothed model, driven by BigramLmSpec's brute-force twin.
    */
  private[operators] def bigramNll(docs: DataFrame): DataFrame =
    bigramModel(docs)
      .select(col("doc_id"),
        round(-log((col("cnt_bg").cast("double") + 1.0) /
          (col("cnt_ctx").cast("double") + col("vsz").cast("double"))), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("bg_nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bg_nll")).cast(
          org.apache.spark.sql.types.DecimalType(28, 6)).as("sum_nll"))
      .orderBy(col("doc_id"))

  def q158BigramLmScore(spark: SparkSession, dir: String): DataFrame =
    bigramLmScore(Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), col("text")))

  val q158Oracle: String =
    """WITH l AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS prev,
      |    unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS cur
      |  FROM l),
      |ex AS (SELECT doc_id, unnest(t) AS tok FROM l),
      |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz FROM ex),
      |cbg AS (SELECT prev, cur, count(*) AS cnt_bg FROM bg GROUP BY 1, 2),
      |cctx AS (SELECT prev, count(*) AS cnt_ctx FROM bg GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(cnt_bg) AS BIGINT) AS sum_cbg,
      |  CAST(sum(cnt_ctx) AS BIGINT) AS sum_cctx,
      |  (SELECT vsz FROM v) AS vsz
      |FROM bg JOIN cbg USING (prev, cur) JOIN cctx USING (prev)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q111 — fuzzy string join (spell-correction) via the deletion
  // neighborhood: a deterministic "typo log" (each doc's first token
  // with one md5-independent character deleted — position doc_id mod
  // length) is matched back to the corpus vocabulary at edit distance
  // exactly 1. The dictionary side explodes each word into its L
  // single-deletion variants (bounded fan-out = word length) and the
  // match is a hash EQUI-join on the variant string — never a pairwise
  // levenshtein scan. The DuckDB oracle is an INDEPENDENT formulation
  // (brute-force levenshtein(corrupted, w) = 1 with the length
  // constraint), so the gate proves the neighborhood join implements
  // the edit-distance semantics rather than mirroring the code.
  // Scale notes (100 TB): both sides are linear in input (vocab ×
  // avg word length vs query count); the join shuffles on the variant
  // key and AQE broadcasts the smaller side. This is the blocking
  // strategy record-linkage uses instead of the O(n·m) compare.
  def q111FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir)
    val dict = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val variants = dict
      .select(col("w"), explode(expr(
        """transform(sequence(0, length(w) - 1),
          |  i -> concat(substring(w, 1, i), substring(w, i + 2)))""".stripMargin))
        .as("variant"))
      .distinct()
    val corrupted = docs
      .select(col("doc_id"), element_at(split(col("text"), " "), 1).as("tok"))
      .withColumn("delpos", (col("doc_id") % length(col("tok"))).cast("int"))
      .select(col("doc_id"),
        concat(expr("substring(tok, 1, delpos)"), expr("substring(tok, delpos + 2)"))
          .as("corrupted"))
    corrupted.join(variants, col("corrupted") === col("variant"))
      .select(col("doc_id"), col("corrupted"), col("w").as("suggestion"))
      .orderBy(col("doc_id"), col("suggestion"))
  }

  val q111Oracle: String =
    """WITH dict AS (
      |  SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
      |  ),
      |q AS (
      |  SELECT doc_id, string_split(text, ' ')[1] AS tok FROM documents),
      |qc AS (
      |  SELECT doc_id,
      |    substring(tok, 1, CAST(doc_id % length(tok) AS INTEGER)) ||
      |    substring(tok, CAST(doc_id % length(tok) AS INTEGER) + 2) AS corrupted
      |  FROM q)
      |SELECT doc_id, corrupted, w AS suggestion
      |FROM qc JOIN dict
      |  ON length(w) = length(corrupted) + 1
      |  AND levenshtein(corrupted, w) = 1
      |WHERE length(w) > 0
      |ORDER BY doc_id, suggestion""".stripMargin

  // --------------------------------------------------------------------
  // q138 — corpus boilerplate detection: the 20 most document-frequent
  // 5-grams. Repeated templated spans (navigation chrome, license
  // headers, cookie banners) are the classic web-corpus pollution;
  // document frequency — not raw occurrences — is the boilerplate
  // signal, so both counts are reported. Output is the top 20 by
  // (df DESC, gram) — a unique tiebreak, so LIMIT is deterministic.
  // Scale notes (100 TB): gram derivation is a scan-side higher-order
  // transform (codegen'd, ~tokens per row fan-out); the aggregate is
  // one hash-partitioned count per gram with map-side combine, and the
  // top-20 is TakeOrdered (per-partition heads, never a global sort).
  // Head grams are the hot keys — exactly the skew AQE handles; the
  // distinct-doc count is exact here, approx_count_distinct at 100 TB.
  def q138Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(expr(
        // Spark's sequence(1, n) DESCENDS for n < 1 — guard short docs
        """CASE WHEN size(t) >= 5 THEN
          |  transform(sequence(1, size(t) - 4),
          |    i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ',
          |                element_at(t, i + 2), ' ', element_at(t, i + 3), ' ',
          |                element_at(t, i + 4)))
          |ELSE array() END""".stripMargin)).as("gram"))
    grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df_docs"),
        count(lit(1)).as("n_occ"))
      .orderBy(col("df_docs").desc, col("gram"))
      .limit(20)
  }

  val q138Oracle: String =
    """WITH l AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t) - 3),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |           || ' ' || t[i+4])) AS gram
      |  FROM l)
      |SELECT gram, COUNT(DISTINCT doc_id) AS df_docs, COUNT(*) AS n_occ
      |FROM g GROUP BY gram
      |ORDER BY df_docs DESC, gram LIMIT 20""".stripMargin

  // --------------------------------------------------------------------
  // q139 — pairwise source overlap via bottom-k sketches: each source is
  // summarized by its 32 smallest-hashed distinct tokens (a KMV/bottom-k
  // sketch), and pair similarity is estimated as |A∩B| / |A∪B| over the
  // SKETCHES (inter / (64 - inter)). The pair list is NEVER enumerated:
  // the intersection comes from a self EQUI-join of the sketch table on
  // the token, with source_a < source_b as a post-filter — an explicit
  // 20×20 pair table would need an inequality join (= the banned nested
  // loop). Pairs with an empty sketch intersection are absent by
  // construction. Hash ties break on the token string, so the sketch is
  // fully deterministic and engine-portable (md5 prefix, the q134 form).
  // Scale notes (100 TB): the per-source sketch is the ONLY corpus-sized
  // work — one distinct + one bottom-k; the window-per-source form here
  // is fine for dozens of sources, and the many-source form swaps in a
  // partial-agg bottom-k (the TopKByLong shape) so no single task sees a
  // whole source. The self-join touches 32·sources rows — negligible.
  def q139SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bk = Tables.documentsSharded(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("tok"))))
      .filter(col("rn") <= 32)
      .select(col("source"), col("tok"))
    bk.as("a").join(bk.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("k_common"))
      .withColumn("jaccard_est",
        round(col("k_common") / (lit(64.0) - col("k_common")), 6))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q139Oracle: String =
    """WITH toks AS (
      |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |bk AS (
      |  SELECT source, tok FROM (
      |    SELECT source, tok,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT), tok)
      |        AS rn
      |    FROM toks) WHERE rn <= 32)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS k_common,
      |  round(COUNT(*) / (64.0 - COUNT(*)), 6) AS jaccard_est
      |FROM bk a JOIN bk b ON a.tok = b.tok AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // --------------------------------------------------------------------
  // q140 — BPE merge-step candidates: the 20 most frequent ADJACENT
  // token pairs — one iteration of the byte-pair-encoding merge rule
  // lifted to word level (count all adjacent pairs, merge the winner).
  // Document support rides along to separate corpus-wide collocations
  // from one doc repeating a pair. (df DESC would rank boilerplate —
  // q138's job; a merge step ranks by TOTAL pair frequency.)
  // Scale notes (100 TB): pair derivation is scan-side (zip of the
  // token array with its own tail — linear fan-out), one combining
  // aggregate, TakeOrdered top-20. The real BPE loop re-runs this query
  // per merge; each iteration is one scan + one shuffle, which is how
  // distributed tokenizer training actually spends its time.
  def q140BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) >= 2 THEN
          |  transform(sequence(1, size(t) - 1),
          |    i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
          |ELSE array() END""".stripMargin)).as("pair"))
    pairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("df_docs"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(20)
  }

  val q140Oracle: String =
    """WITH l AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i+1])) AS pair
      |  FROM l)
      |SELECT pair, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS df_docs
      |FROM p GROUP BY pair
      |ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin

  // --------------------------------------------------------------------
  // q141 — vocabulary coverage / OOV audit: fix the tokenizer vocab as
  // the top-16 corpus tokens (count DESC, token — unique tiebreak) and
  // report each source's out-of-vocabulary token share. The pretraining
  // question this answers: which sources will fragment into rare-token
  // sequences under a frequency-trained vocab. 16 keeps the rate
  // non-trivial on the fixture's ~40-word vocabulary; production uses
  // 32k-256k with identical shape.
  // Scale notes (100 TB): the vocab build is one combining aggregate +
  // TakeOrdered; the audit join BROADCASTS the 16-row (production:
  // vocab-sized, still broadcastable) table against the token stream —
  // zero shuffle on the corpus side before the per-source aggregate.
  def q141VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.documentsSharded(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val vocab = ex.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(16)
      .select(col("tok"), lit(1).as("in_vocab"))
    ex.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  val q141Oracle: String =
    """WITH ex AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY tok)
      |  ORDER BY cnt DESC, tok LIMIT 16)
      |SELECT source, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  round(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS oov_rate
      |FROM ex LEFT JOIN vocab v ON ex.tok = v.tok
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // q144 — inverted-index construction: for the 50 most document-
  // frequent tokens, the posting list (first 20 doc ids, ascending,
  // comma-joined), document frequency, and collection frequency — the
  // search-index build step, and the exact structure n-gram
  // decontamination lookups read. Postings are CAPPED BEFORE
  // collection (row_number ≤ 20 per token over the distinct pairs), so
  // no executor ever materializes an unbounded list; the string join
  // of a numerically-sorted id array is the engine-portable encoding
  // (raw array columns stringify differently per engine).
  // Scale notes (100 TB): stats and postings are separate aggregates
  // joined via the BROADCAST 50-row top list — and that same list
  // SEMI-JOINS the exploded pair stream BEFORE the distinct and the
  // cap window, so the postings-side shuffles carry only the 50 kept
  // tokens' pairs (~vocab/50 less data), not the whole vocabulary.
  // The per-token cap window partitions on the token — head-token
  // skew is the q141 class (salt or pre-aggregate per shard for the
  // full-posting form; the capped form only needs any 20, so a
  // per-partition local cap before the window bounds the shuffle too).
  def q144InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val top = ex.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
      .orderBy(col("df").desc, col("tok")).limit(50)
    val postings = ex
      .join(broadcast(top.select(col("tok"))), Seq("tok"), "left_semi")
      .select(col("tok"), col("doc_id")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
      .filter(col("rn") <= 20)
      .groupBy(col("tok"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
        .as("postings"))
    postings.join(broadcast(top), Seq("tok"))
      .select(col("tok"), col("df"), col("cf"), col("postings"))
      .orderBy(col("df").desc, col("tok"))
  }

  val q144Oracle: String =
    """WITH ex AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |top AS (
      |  SELECT tok, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
      |  FROM ex GROUP BY tok ORDER BY df DESC, tok LIMIT 50),
      |capped AS (
      |  SELECT tok, doc_id FROM (
      |    SELECT tok, doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
      |    FROM (SELECT DISTINCT tok, doc_id FROM ex))
      |  WHERE rn <= 20),
      |post AS (
      |  SELECT tok, array_to_string(list_sort(list(doc_id)), ',') AS postings
      |  FROM capped GROUP BY tok)
      |SELECT t.tok, t.df, t.cf, p.postings
      |FROM top t JOIN post p ON t.tok = p.tok
      |ORDER BY t.df DESC, t.tok""".stripMargin

  // --------------------------------------------------------------------
  // q152 — array higher-order-function surface: filter / exists /
  // forall / transform / aggregate / array_distinct / array_sort /
  // slice in ONE per-row pipeline, mirrored against DuckDB's list
  // functions. These are the lambda forms every schema-flexible
  // pipeline leans on once columns hold arrays; the gate pins their
  // exact semantics (empty-array edges, sort order, slice bounds)
  // cross-engine.
  // Scale notes (100 TB): every operator here is a codegen'd scan-side
  // expression — zero shuffle, zero UDFs, streams at scan speed; the
  // whole point of HOFs over a per-element explode is that the row
  // never leaves the operator.
  def q152ArraySurface(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        expr("CAST(size(filter(t, x -> length(x) > 4)) AS BIGINT)").as("n_long"),
        expr("exists(t, x -> length(x) >= 8)").as("has_very_long"),
        expr("forall(t, x -> length(x) > 0)").as("all_nonempty"),
        expr("array_join(slice(array_sort(array_distinct(t)), 1, 3), ',')")
          .as("first3"),
        expr("aggregate(transform(t, x -> length(x)), 0L, (a, x) -> a + x)")
          .as("tot_chars"))
      .orderBy(col("doc_id"))

  val q152Oracle: String =
    """SELECT doc_id,
      |  len(list_filter(t, x -> len(x) > 4)) AS n_long,
      |  len(list_filter(t, x -> len(x) >= 8)) > 0 AS has_very_long,
      |  len(list_filter(t, x -> NOT len(x) > 0)) = 0 AS all_nonempty,
      |  array_to_string(list_sort(list_distinct(t))[1:3], ',') AS first3,
      |  CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS tot_chars
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q175 — COLLOCATION mining by pointwise mutual information: which
  // adjacent token pairs co-occur far more than their unigram
  // frequencies predict (the multi-word-expression detector a
  // tokenizer-training pipeline runs before merging tokens — PMI-high
  // pairs are merge candidates with statistical support, vs q140's raw
  // count ranking). PMI = ln(N_bg · c(a,b) / (c(a·) · c(·b))) over
  // corpus totals; pairs below MinPairCount are noise and are gated
  // out BEFORE ranking. The PMI value is rounded to 6 decimals and the
  // rank runs ON THE ROUNDED value with a deterministic (prev, cur)
  // tiebreak, so a last-ulp ln() divergence between engines cannot
  // flip the ordering (the q158 rounding contract applied to ranking).
  // The rounded pmi itself is NOT emitted (settled round 10): the
  // hashed columns are the exact BIGINT counts (c_ab, c_a, c_b, n_bg)
  // from which any consumer recovers pmi with one log over an exact
  // rational — a rounded transcendental in a hashed column is an
  // engine-build lottery (see q158/q94). A rank flip would need a
  // second score inside the same 1e-6 boundary straddle, compounding
  // two ulp-rare events; the value emission it replaced needed one.
  // Scale notes (100 TB): three hash aggs (pair, left-unigram,
  // right-unigram) + two broadcast-sized joins on the unigram keys +
  // one corpus-total 1-row opaque join; the rank window partitions on
  // a constant-free single group of MinPairCount survivors — bounded
  // by vocabulary², further gated by the count threshold; at a real
  // 100-TB vocab the top-k would ride TopKByLong instead of a window,
  // same contract as q173.
  val MinPairCount = 5
  val PmiTopK = 20

  def q175PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), tokens(lower(trim(col("text")))).as("t"))
    val bg = toks.select(explode(when(size(col("t")) >= 2,
        expr("transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS prev, element_at(t, i + 1) AS cur))"))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val pair = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c_ab"))
    val left = bg.groupBy(col("prev")).agg(count(lit(1)).as("c_a"))
    val right = bg.groupBy(col("cur")).agg(count(lit(1)).as("c_b"))
    val total = bg.agg(count(lit(1)).as("n_bg"))
      .select(col("n_bg"), graft.plans.Opaque.zeroKey(col("n_bg")).as("_k"))
    val pmi = pair.filter(col("c_ab") >= MinPairCount)
      .join(left, Seq("prev")).join(right, Seq("cur"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("c_ab")))
      .join(total, Seq("_k"))
      .select(col("prev"), col("cur"), col("c_ab"), col("c_a"), col("c_b"),
        col("n_bg"),
        round(log((col("n_bg") * col("c_ab")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")), 6).as("pmi"))
    pmi.withColumn("rk", row_number().over(Window
        .partitionBy(lit(0)) // single bounded group — survivors only
        .orderBy(col("pmi").desc, col("prev"), col("cur"))).cast("int"))
      .filter(col("rk") <= PmiTopK)
      .select(col("rk"), col("prev"), col("cur"), col("c_ab"), col("c_a"),
        col("c_b"), col("n_bg"))
      .orderBy(col("rk"))
  }

  val q175Oracle: String =
    s"""WITH l AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
       |bg AS (
       |  SELECT
       |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS prev,
       |    unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS cur
       |  FROM l),
       |pair AS (SELECT prev, cur, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
       |lft AS (SELECT prev, COUNT(*) AS c_a FROM bg GROUP BY 1),
       |rgt AS (SELECT cur, COUNT(*) AS c_b FROM bg GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS n_bg FROM bg),
       |pmi AS (
       |  SELECT prev, cur, c_ab, c_a, c_b, n_bg,
       |    round(ln(CAST(n_bg * c_ab AS DOUBLE) / CAST(c_a * c_b AS DOUBLE)), 6)
       |      AS pmi
       |  FROM pair JOIN lft USING (prev) JOIN rgt USING (cur), tot
       |  WHERE c_ab >= $MinPairCount)
       |SELECT rk, prev, cur, c_ab, c_a, c_b, n_bg FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    ORDER BY pmi DESC, prev, cur) AS INTEGER) AS rk
       |  FROM pmi)
       |WHERE rk <= $PmiTopK ORDER BY rk""".stripMargin

  // --------------------------------------------------------------------
  // q179 — VOCAB-CONSTRAINED rewrite: q141 measures OOV; q179 performs
  // the edit — every token outside the frequency-built top-16 vocab is
  // replaced by the `<unk>` sentinel and the document re-joined in
  // order, the preprocessing a fixed-vocab tokenizer applies before
  // training. The vocab rides a 1-row collect_list array through the
  // optimizer-opaque join (membership is order-independent, so the
  // array needs no canonical ordering), and the rewrite is ONE
  // scan-side transform over the split array — the lambda references
  // only the materialized vocab column, keeping it out of the
  // per-element re-evaluation trap.
  // Scale notes (100 TB): vocab build = one combining agg + TakeOrdered
  // (production: 32k–256k entries, still one broadcast row); the
  // rewrite adds ZERO shuffles on the corpus side.
  def q179UnkRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSharded(spark, dir)
    val ex = docs.select(explode(tokens(col("text"))).as("tok"))
    val vocabArr = ex.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(16)
      .agg(collect_list(col("tok")).as("vocab"))
      .select(col("vocab"),
        graft.plans.Opaque.zeroKey(size(col("vocab")).cast("long")).as("_k"))
    docs.withColumn("_k", graft.plans.Opaque.zeroKey(col("n_chars")))
      .join(vocabArr, Seq("_k"))
      .select(col("doc_id"),
        array_join(transform(tokens(col("text")),
          t => when(array_contains(col("vocab"), t), t).otherwise(lit("<unk>"))),
          " ").as("unk_text"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(filter(tokens(col("text")),
          t => !array_contains(col("vocab"), t))).cast("long").as("n_oov"))
      .orderBy(col("doc_id"))
  }

  val q179Oracle: String =
    """WITH ex AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY tok)
      |  ORDER BY cnt DESC, tok LIMIT 16),
      |vl AS (SELECT list(tok) AS v FROM vocab)
      |SELECT doc_id,
      |  array_to_string(list_transform(string_split(text, ' '),
      |    t -> CASE WHEN list_contains(v, t) THEN t ELSE '<unk>' END), ' ')
      |    AS unk_text,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> NOT list_contains(v, t))) AS BIGINT) AS n_oov
      |FROM documents, vl ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q187 — BM25 RANKED RETRIEVAL: top-k documents for a fixed query
  // term set, the lexical search primitive a curation pipeline runs for
  // targeted corpus pulls (and the sparse half of hybrid retrieval next
  // to q34/q49's dense path). Okapi BM25 (Robertson et al., TREC-3)
  // with Lucene's +1-inside-the-log idf so scores stay positive at any
  // df: score(d) = Σ_t ln(1 + (N−df+0.5)/(df+0.5)) ·
  // tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), k1=1.2, b=0.75 (so the
  // constants below are k1+1=2.2, k1·(1−b)=0.3, k1·b=0.9), avgdl as
  // the exact rational sum_dl/n_docs.
  // Determinism contract (the q68/q175 discipline): the score is a sum
  // of per-term idf·tfpart doubles with a FIXED left-to-right
  // association mirrored in both engine texts; every non-ln operation
  // is IEEE-correctly-rounded so only ln contributes last-ulp
  // divergence, the rank runs on the 6-decimal-ROUNDED score with a
  // doc_id tiebreak, and the rounded score is NOT emitted — the hashed
  // columns are the exact BIGINT model stats (tf_t, dl, df_t, n_docs,
  // sum_dl) from which any consumer recovers the score. A rank flip
  // needs a rounding-boundary straddle AND an adjacent competitor
  // inside the same 1e-6 window — two compounded ulp-rare events.
  // Scale notes (100 TB): ONE tokenize+explode+shuffle computes
  // per-doc length and per-term tfs together (map-side combine → one
  // row per doc per task); the corpus-totals and df consumers share
  // that exchange via ReuseExchange, so the corpus is scanned exactly
  // once (Bm25Spec locks the single-subtree shape); df and totals are
  // 1-row aggregates riding the optimizer-opaque join; the global
  // top-k is the TopKByLong PARTIAL aggregate (≤ k rows of state per
  // map task — no rank window, which the registry-wide sweep bans);
  // the k-row id frame broadcasts back for the stat columns.
  val Bm25TopK = 10
  val Bm25QueryTerms = Seq("hash", "join", "stream")

  /** The BM25-scored candidate frame (doc_id, tf_*, dl, df_*, n_docs,
    * sum_dl, norm, score) — shared by q187's top-k and q188's RRF
    * fusion pool.
    */
  private[operators] def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"),
        explode(tokens(lower(trim(col("text"))))).as("tok"))
    val Seq(tH, tJ, tS) = Bm25QueryTerms
    // ONE corpus pass: per-doc length and per-term tfs in the same
    // aggregate (the first cut's separate length/tf aggs tokenized the
    // corpus twice), PERSISTED at this multi-consumer stage boundary
    // (StageBoundary — the q82 rule: corpus totals, df, and the top-k
    // join-back all consume it; documentsSharded's repartition already
    // satisfies the groupBy clustering, so without the cut-point every
    // consumer re-runs the explode+aggregate post-shuffle — and the
    // join-back's pushed IsNotNull even defeats ReuseExchange). perDoc
    // is one 5-column row per document, so the boundary is tiny; the
    // tokenize+aggregate fill (10–12 s cold at sf0.1) is paid once per
    // DATASET, not once per session.
    val perDoc = graft.sources.StageBoundary(spark, "q187pd", dir)(
      ex.groupBy(col("doc_id")).agg(
        count(lit(1)).as("dl"),
        sum(when(col("tok") === tH, 1L).otherwise(0L)).as("tf_hash"),
        sum(when(col("tok") === tJ, 1L).otherwise(0L)).as("tf_join"),
        sum(when(col("tok") === tS, 1L).otherwise(0L)).as("tf_stream")))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"), col("sum_dl"),
        graft.plans.Opaque.zeroKey(col("n_docs")).as("_k"))
    // candidates = docs containing at least one query term (the union
    // of the postings lists)
    val tf = perDoc.filter(
      col("tf_hash") + col("tf_join") + col("tf_stream") > 0)
    val dfr = tf.agg(
        sum(when(col("tf_hash") > 0, 1L).otherwise(0L)).as("df_hash"),
        sum(when(col("tf_join") > 0, 1L).otherwise(0L)).as("df_join"),
        sum(when(col("tf_stream") > 0, 1L).otherwise(0L)).as("df_stream"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("df_hash")))
    val cand = tf
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("dl")))
      .join(stats, Seq("_k")).join(dfr, Seq("_k"))
      .withColumn("norm", lit(0.9) * col("dl") * col("n_docs") / col("sum_dl"))
    def idf(dfc: Column): Column =
      log(lit(1.0) + (col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5)))
    def tpart(tfc: Column): Column =
      (tfc * lit(2.2)) / (tfc + lit(0.3) + col("norm"))
    cand.withColumn("score", round(
      idf(col("df_hash")) * tpart(col("tf_hash")) +
        idf(col("df_join")) * tpart(col("tf_join")) +
        idf(col("df_stream")) * tpart(col("tf_stream")), 6))
  }

  def q187Bm25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    val scored = bm25Scored(spark, dir)
    val top = scored
      .agg(graft.functions.TopKByLong.topk_by(
        col("score"), col("doc_id"), Bm25TopK).as("ids"))
      .select(posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select((col("pos") + 1).cast("int").as("rk"), col("doc_id"))
    broadcast(top).join(scored, Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("tf_hash"), col("tf_join"),
        col("tf_stream"), col("dl"), col("df_hash"), col("df_join"),
        col("df_stream"), col("n_docs"), col("sum_dl"))
      .orderBy(col("rk"))
  }

  /** The `ex`→`scored` CTE chain mirroring [[bm25Scored]] — shared by
    * the q187 and q188 oracle texts (identical score expression shape,
    * so the engines' doubles agree to the settled contract).
    */
  private[operators] val Bm25ScoredCtes: String =
    s"""ex AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |dln AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ex GROUP BY 1),
       |tf AS (
       |  SELECT doc_id,
       |    CAST(count(*) FILTER (WHERE tok = 'hash') AS BIGINT) AS tf_hash,
       |    CAST(count(*) FILTER (WHERE tok = 'join') AS BIGINT) AS tf_join,
       |    CAST(count(*) FILTER (WHERE tok = 'stream') AS BIGINT) AS tf_stream
       |  FROM ex WHERE tok IN ('hash', 'join', 'stream') GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM dln),
       |dfr AS (
       |  SELECT CAST(count(*) FILTER (WHERE tf_hash > 0) AS BIGINT) AS df_hash,
       |    CAST(count(*) FILTER (WHERE tf_join > 0) AS BIGINT) AS df_join,
       |    CAST(count(*) FILTER (WHERE tf_stream > 0) AS BIGINT) AS df_stream
       |  FROM tf),
       |cand AS (
       |  SELECT t.doc_id, tf_hash, tf_join, tf_stream, d.dl,
       |    df_hash, df_join, df_stream, n_docs, sum_dl,
       |    CAST(0.9 AS DOUBLE) * d.dl * n_docs / sum_dl AS norm
       |  FROM tf t JOIN dln d USING (doc_id), stats, dfr),
       |scored AS (
       |  SELECT *, round(
       |    ln(1 + (n_docs - df_hash + CAST(0.5 AS DOUBLE)) / (df_hash + CAST(0.5 AS DOUBLE)))
       |      * ((tf_hash * CAST(2.2 AS DOUBLE)) / (tf_hash + CAST(0.3 AS DOUBLE) + norm)) +
       |    ln(1 + (n_docs - df_join + CAST(0.5 AS DOUBLE)) / (df_join + CAST(0.5 AS DOUBLE)))
       |      * ((tf_join * CAST(2.2 AS DOUBLE)) / (tf_join + CAST(0.3 AS DOUBLE) + norm)) +
       |    ln(1 + (n_docs - df_stream + CAST(0.5 AS DOUBLE)) / (df_stream + CAST(0.5 AS DOUBLE)))
       |      * ((tf_stream * CAST(2.2 AS DOUBLE)) / (tf_stream + CAST(0.3 AS DOUBLE) + norm)), 6)
       |    AS score
       |  FROM cand)""".stripMargin

  val q187Oracle: String =
    s"""WITH $Bm25ScoredCtes
       |SELECT rk, doc_id, tf_hash, tf_join, tf_stream, dl, df_hash, df_join,
       |  df_stream, n_docs, sum_dl FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
       |    AS INTEGER) AS rk FROM scored)
       |WHERE rk <= $Bm25TopK ORDER BY rk""".stripMargin

  // --------------------------------------------------------------------
  // q189 — CONTRASTIVE IMPORTANCE WEIGHTS for data selection (the
  // DSIR / cc_net family: Xie et al., NeurIPS'23; Wenzek et al.,
  // LREC'20): score every document by how much more likely a TARGET
  // unigram LM (here: the lang='en' slice) makes it than the RAW-pool
  // LM, w(d) = Σ_occurrences [ln p_t(tok) − ln p_r(tok)] with add-1
  // smoothing over the shared vocabulary, then keep the top-k most
  // target-like documents — the selection pass a pretraining pipeline
  // runs to upsample quality-proxy data.
  // Determinism contract: the per-TOKEN term rounds to 6 decimals and
  // accumulates per-doc through exact DECIMAL arithmetic multiplied by
  // exact BIGINT occurrence counts (the settled q94 sum-order rule),
  // so the per-doc weight is an exact decimal on both engines modulo
  // the per-token ln() ulp channel; the rank key is that exact decimal
  // cast to double (identical bits from identical decimals) with a
  // doc_id tiebreak, and the emitted columns are integer-exact model
  // aggregates only (n_toks, Σc_t, Σc_r, N_t, N_r, V).
  // Scale notes (100 TB): ONE tokenize+explode+shuffle builds the
  // cached per-(doc,token) count boundary (the q187 rule); both LM
  // count frames and the scoring join consume it. The raw-LM join is
  // on the token key (vocabulary-sized — broadcastable at real vocab);
  // the target LM left-joins the same key; constants ride 1-row opaque
  // joins; top-k is the TopKByLong partial aggregate.
  val DsirTopK = 20
  val DsirTargetLang = "en"

  /** The DSIR-scored per-document frame (doc_id, lang, w6 exact
    * decimal, n_toks, sum_ct, sum_cr, n_t, n_r, vsz) — shared by
    * q189's top-k and q192's selection pipeline.
    */
  /** The persisted per-(doc, lang, token) count boundary ("q189g") —
    * the single tokenize+explode+aggregate pass the whole DSIR family
    * rides. Exposed package-wide for the STREAMING consumers
    * (q193/q194), whose one-row LM model frame derives from exactly
    * these counts: re-tokenizing the corpus per invocation repeated
    * the boundary's fill work on every run (round 20, guide §2.4).
    */
  private[graft] def dsirCounts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StageBoundary(spark, "q189g", dir)(
      Tables.documentsSharded(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(tokens(lower(trim(col("text"))))).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("c")))

  private[graft] def dsirScored(spark: SparkSession, dir: String): DataFrame = {
    // the per-(doc,token) count boundary is PERSISTED (StageBoundary):
    // both LM count frames and the scoring join consume it, and its
    // tokenize+explode+aggregate fill (16–24 s cold at sf0.1) is the
    // single biggest cost of the DSIR family — paid once per DATASET
    // under the boundary, not once per session under a cache
    val g = dsirCounts(spark, dir)
    // BOTH LM count frames in ONE vocabulary-bounded pass, materialized
    // once (lazy localCheckpoint — the q227/q155 materialize-reused-
    // subplans rule): the previous cr/ct DataFrames re-expanded their
    // boundary scan + aggregate at every reference (terms, rconst,
    // tconst — 5 boundary scans per dsirScored, 10 per q189/q192 plan).
    // Row-for-row identical to the old cr LEFT JOIN ct: cr's key set IS
    // g's token set, so the inner-join rows don't change, and ct
    // pre-coalesces to 0 exactly where the old left join produced null
    // (an empty target slice still yields n_t = 0, never a null that
    // would null the opaque key and drop rows through the inner join).
    val lm = g.groupBy(col("tok")).agg(
        sum(col("c")).as("cr"),
        coalesce(sum(when(col("lang") === DsirTargetLang, col("c"))), lit(0L))
          .as("ct"))
      .localCheckpoint(false)
    val rconst = lm.agg(sum(col("cr")).as("n_r"), count(lit(1)).as("vsz"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("n_r")))
    val tconst = lm.agg(coalesce(sum(col("ct")), lit(0L)).as("n_t"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("n_t")))
    // the LM frame is vocabulary-bounded (distinct tokens, not corpus
    // rows) — broadcast it so the corpus-sized g never shuffles on the
    // token key
    val terms = g.join(broadcast(lm), Seq("tok"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("c")))
      .join(rconst, Seq("_k")).join(tconst, Seq("_k"))
      .withColumn("term", round(
        log(col("ct") + lit(1L)) - log(col("n_t") + col("vsz")) -
          log(col("cr") + lit(1L)) + log(col("n_r") + col("vsz")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
    // the per-doc frame is referenced TWICE by both consumers (q189:
    // top-k + attach; q192: selection + attach) — materialize it once
    // (doc-count-bounded; the alternative is a second full boundary
    // join + aggregate pass per reference)
    terms.groupBy(col("doc_id"), col("lang")).agg(
      sum(col("term") * col("c")).as("w6"),
      sum(col("c")).as("n_toks"),
      sum(col("ct") * col("c")).as("sum_ct"),
      sum(col("cr") * col("c")).as("sum_cr"),
      max(col("n_t")).as("n_t"), max(col("n_r")).as("n_r"),
      max(col("vsz")).as("vsz"))
      .localCheckpoint(false)
  }

  def q189DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = dsirScored(spark, dir)
    val top = perDoc
      .agg(graft.functions.TopKByLong.topk_by(
        col("w6").cast("double"), col("doc_id"), DsirTopK).as("ids"))
      .select(posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select((col("pos") + 1).cast("int").as("rk"), col("doc_id"))
    broadcast(top).join(perDoc, Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("lang"), col("n_toks"),
        col("sum_ct"), col("sum_cr"), col("n_t"), col("n_r"), col("vsz"))
      .orderBy(col("rk"))
  }

  /** The `ex`→`per_doc` CTE chain mirroring [[dsirScored]] — shared by
    * the q189 and q192 oracle texts. Defined BEFORE its consumers:
    * strict vals initialize in source order, so a forward reference
    * would interpolate null into the SQL.
    */
  /** Just the two-LM MODEL half (token counts + corpus constants from
    * the raw `documents` table) — q194's ingest stack scores a
    * DIFFERENT relation (the gated, scrubbed stream) against this
    * same model, so the chain splits here.
    */
  private[graft] val DsirModelCtes: String =
    s"""ex AS (
       |  SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM ex GROUP BY 1, 2, 3),
       |cr AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cr FROM g GROUP BY 1),
       |ct AS (
       |  SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM g
       |  WHERE lang = '$DsirTargetLang' GROUP BY 1),
       |rconst AS (
       |  SELECT CAST(sum(cr) AS BIGINT) AS n_r,
       |    CAST(count(*) AS BIGINT) AS vsz FROM cr),
       |tconst AS (SELECT CAST(COALESCE(sum(ct), 0) AS BIGINT) AS n_t FROM ct)""".stripMargin

  private[graft] val DsirPerDocCtes: String =
    s"""$DsirModelCtes,
       |terms AS (
       |  SELECT g.doc_id, g.lang, g.c, cr.cr, COALESCE(ct.ct, 0) AS ct,
       |    n_t, n_r, vsz,
       |    CAST(round(
       |      ln(COALESCE(ct.ct, 0) + 1) - ln(n_t + vsz) -
       |      ln(cr.cr + 1) + ln(n_r + vsz), 6) AS DECIMAL(28,6)) AS term
       |  FROM g JOIN cr USING (tok) LEFT JOIN ct USING (tok), rconst, tconst),
       |per_doc AS (
       |  SELECT doc_id, lang, sum(term * c) AS w6,
       |    CAST(sum(c) AS BIGINT) AS n_toks,
       |    CAST(sum(ct * c) AS BIGINT) AS sum_ct,
       |    CAST(sum(cr * c) AS BIGINT) AS sum_cr,
       |    max(n_t) AS n_t, max(n_r) AS n_r, max(vsz) AS vsz
       |  FROM terms GROUP BY 1, 2)""".stripMargin

  val q189Oracle: String =
    s"""WITH $DsirPerDocCtes
       |SELECT rk, doc_id, lang, n_toks, sum_ct, sum_cr, n_t, n_r, vsz FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY CAST(w6 AS DOUBLE) DESC,
       |    doc_id) AS INTEGER) AS rk FROM per_doc)
       |WHERE rk <= $DsirTopK ORDER BY rk""".stripMargin

  // --------------------------------------------------------------------
  // q204 — BPE TRAINER, three unrolled merge iterations: q140 ranks
  // merge CANDIDATES for one step; this runs the actual trainer inner
  // loop — count adjacent pairs over the whole corpus, adopt the most
  // frequent pair as a merge (ties broken (count desc, pair asc), the
  // deterministic trainer convention), RE-TOKENIZE every document by
  // the greedy left-to-right non-overlapping merge fold, and repeat,
  // so later iterations see and merge the symbols earlier ones built.
  // Emits one row per iteration: the adopted merge, its corpus count,
  // and the corpus token total after applying it.
  // Distribution: the pair count is the canonical map-side-combined
  // aggregate (the distributed-BPE step); the adopted merge is a 1-row
  // frame joined through the opaque key (no collect, the dsirModel
  // pattern), and the re-tokenize is a row-local array fold against
  // the joined pair columns. Each iteration's token frame is cached —
  // three consumers each (next pair count, next fold, token total); a
  // production trainer persists iteration boundaries instead (the q78
  // writer), same cut points. Callers owning a long-lived session
  // clearCache() after consuming the result — Verify and Bench do.
  // Exactness: counts and totals are BIGINT; the only strings are
  // corpus tokens; the greedy fold is replayed in DuckDB via
  // list_reduce with a chr(1) seed sentinel (no corpus token is a
  // control character), so both engines re-tokenize identically.
  // Degenerate-corpus contract: a corpus with ZERO adjacent pairs
  // (every document a single token) has no trainable merge — this
  // side emits no rows (the 1-row merge frame is empty and the opaque
  // join drops everything), while the oracle's scalar subqueries
  // would emit NULL-filled rows; a trainer run on such a corpus is a
  // caller error, not a state this query defines output for.
  private val BpeIters = 3

  /** The trainer loop with the adopted merge's SIDES kept as separate
    * columns — q204 presents the space-joined pair; q232's
    * tokenizer-apply needs (pa, pb) un-joined because a round-2+ side
    * can itself contain spaces (a merge of a merge), making the
    * presentation string unsplittable.
    */
  private[operators] def bpeTrainFull(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("toks"))
      .cache()
    var docs = base
    var out: DataFrame = null
    for (it <- 1 to BpeIters) {
      val best = docs.filter(size(col("toks")) >= 2)
        .withColumn("i", explode(sequence(lit(1), size(col("toks")) - 1)))
        .select(element_at(col("toks"), col("i")).as("pa"),
          element_at(col("toks"), col("i") + 1).as("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pa"), col("pb")).limit(1)
        .withColumn("_k", graft.plans.Opaque.zeroKey(col("c")))
        // cached: the 1-row adopted merge is consumed TWICE per
        // iteration (the re-tokenize join and the output row join);
        // uncached, the full-corpus pair-count shuffle behind it runs
        // twice per merge. Same caller-clearCache contract as base.
        .cache()
      val merged = docs
        .withColumn("_k", graft.plans.Opaque.zeroKey(size(col("toks"))))
        .join(best, Seq("_k"))
        .select(col("doc_id"), aggregate(col("toks"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === col("pa") && x === col("pb"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat_ws(" ", col("pa"), col("pb")))))
            .otherwise(concat(acc, array(x)))).as("toks"))
      val nextDocs = if (it < BpeIters) merged.cache() else merged
      val after = nextDocs
        .agg(sum(size(col("toks"))).cast("bigint").as("corpus_tokens_after"))
        .withColumn("_k", graft.plans.Opaque.zeroKey(col("corpus_tokens_after")))
      val row = best.join(after, Seq("_k"))
        .select(lit(it).cast("int").as("it"), col("pa"), col("pb"),
          col("c").cast("bigint").as("cnt"), col("corpus_tokens_after"))
      out = if (out == null) row else out.unionByName(row)
      docs = nextDocs
    }
    out
  }

  def q204BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainFull(spark, dir)
      .select(col("it"), concat_ws(" ", col("pa"), col("pb")).as("pair"),
        col("cnt"), col("corpus_tokens_after"))
      .orderBy(col("it"))

  /** One oracle iteration: pair counts over t(i-1), the adopted merge,
    * and the list_reduce greedy re-tokenize into t(i).
    */
  private def sqlBpeIter(i: Int): String = {
    val prev = s"t${i - 1}"
    s"""p$i AS (
       |  SELECT pa, pb, count(*) AS c FROM (
       |    SELECT unnest([toks[j] for j in range(1, len(toks))]) AS pa,
       |      unnest([toks[j + 1] for j in range(1, len(toks))]) AS pb
       |    FROM $prev)
       |  GROUP BY 1, 2),
       |b$i AS (SELECT pa, pb, c FROM p$i ORDER BY c DESC, pa, pb LIMIT 1),
       |t$i AS (
       |  -- the 1-row CROSS JOIN puts pa/pb in row scope: DuckDB forbids
       |  -- subqueries inside lambda bodies
       |  SELECT doc_id,
       |    list_reduce([[chr(1)]] || list_transform(toks, x -> [x]),
       |      (acc, x) -> CASE WHEN acc[-1] = pa AND x[1] = pb
       |        THEN acc[:-2] || [pa || ' ' || pb]
       |        ELSE acc || x END)[2:] AS toks
       |  FROM $prev CROSS JOIN b$i)""".stripMargin
  }

  val q204Oracle: String = {
    val iters = (1 to BpeIters).map(sqlBpeIter).mkString(",\n")
    val rows = (1 to BpeIters).map { i =>
      s"""SELECT $i AS it,
         |  (SELECT pa || ' ' || pb FROM b$i) AS pair,
         |  (SELECT CAST(c AS BIGINT) FROM b$i) AS cnt,
         |  (SELECT CAST(sum(len(toks)) AS BIGINT) FROM t$i)
         |    AS corpus_tokens_after""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t0 AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
       |  FROM documents),
       |$iters
       |$rows
       |ORDER BY it""".stripMargin
  }

  // --------------------------------------------------------------------
  // q205 — QUALITY-FILTER CALIBRATION MATRIX: before trusting either
  // quality signal as a culling filter, audit how the HEURISTIC
  // composite (q29's row-local score) and the STATISTICAL signal
  // (mean corpus-frequency of the document's tokens, the q94 model
  // family reduced to an exact division) agree — the 4×4 contingency
  // of corpus-quartile buckets, where heavy off-diagonal mass means
  // the filters would cull different documents and the threshold
  // choice needs review.
  // Determinism: the heuristic score is the proven q88/q194 oracle
  // channel (divisions and one rounded composite); the statistical
  // score is BIGINT-sum / BIGINT-count (one exact-rounded division,
  // no transcendental); quartile thresholds are ONE 1-row percentile
  // aggregate riding the opaque join with scan-side comparisons — the
  // q186 contract, so a score exactly ON a threshold bins identically
  // in both engines. Emitted cells are integer counts.
  // Scale notes (100 TB): reuses q94's unigramModel (vocab agg +
  // token join, both keyed on the token); the per-doc rollup rides
  // doc_id; the percentile agg reads two columns of the per-doc frame
  // (corpus-row count, not corpus-token count); the contingency is a
  // 16-cell map-side-combined aggregate. No global window, no
  // collect.
  def q205QualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation.qualityScoreCol
    val docs = Tables.documentsSharded(spark, dir)
    val stat = unigramModel(docs.select(col("doc_id"), col("text")))
      .groupBy(col("doc_id"))
      .agg((sum(col("cnt")).cast("double") / count(lit(1))).as("s"))
    val scored = docs.select(col("doc_id"), qualityScoreCol.as("h"))
      .join(stat, Seq("doc_id"))
    val th = scored.agg(
        percentile(col("h"), array(lit(0.25), lit(0.5), lit(0.75))).as("th"),
        percentile(col("s"), array(lit(0.25), lit(0.5), lit(0.75))).as("ts"))
      .withColumn("_k",
        graft.plans.Opaque.zeroKey(abs(ceil(element_at(col("ts"), 3))).cast("long")))
    def bucket(v: Column, t: Column): Column =
      lit(1) + when(v > element_at(t, 1), 1).otherwise(0) +
        when(v > element_at(t, 2), 1).otherwise(0) +
        when(v > element_at(t, 3), 1).otherwise(0)
    scored.withColumn("_k", graft.plans.Opaque.zeroKey(col("doc_id")))
      .join(th, Seq("_k"))
      .select(bucket(col("h"), col("th")).as("bucket_h"),
        bucket(col("s"), col("ts")).as("bucket_s"))
      .groupBy(col("bucket_h"), col("bucket_s"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket_h"), col("bucket_s"))
  }

  val q205Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      |  FROM documents),
      |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
      |stat AS (
      |  SELECT doc_id, CAST(sum(c) AS DOUBLE) / count(*) AS s
      |  FROM tok JOIN cnt USING (tok) GROUP BY 1),
      |h AS (
      |  SELECT doc_id,
      |    round(0.4 * least(1.0, n_tokens / 100.0)
      |      + 0.4 * (CAST(n_uniq AS DOUBLE) / n_tokens)
      |      + 0.2 * (1.0 - CAST(punct AS DOUBLE) / n_chars), 6) AS h
      |  FROM (
      |    SELECT doc_id, n_chars,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      len(list_distinct(string_split(text, ' '))) AS n_uniq,
      |      len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g'))
      |        AS punct
      |    FROM documents)),
      |scored AS (SELECT doc_id, h, s FROM h JOIN stat USING (doc_id)),
      |th AS (
      |  SELECT quantile_cont(h, 0.25) AS h1, quantile_cont(h, 0.5) AS h2,
      |    quantile_cont(h, 0.75) AS h3,
      |    quantile_cont(s, 0.25) AS s1, quantile_cont(s, 0.5) AS s2,
      |    quantile_cont(s, 0.75) AS s3
      |  FROM scored)
      |SELECT
      |  1 + CASE WHEN h > h1 THEN 1 ELSE 0 END
      |    + CASE WHEN h > h2 THEN 1 ELSE 0 END
      |    + CASE WHEN h > h3 THEN 1 ELSE 0 END AS bucket_h,
      |  1 + CASE WHEN s > s1 THEN 1 ELSE 0 END
      |    + CASE WHEN s > s2 THEN 1 ELSE 0 END
      |    + CASE WHEN s > s3 THEN 1 ELSE 0 END AS bucket_s,
      |  count(*) AS n
      |FROM scored, th
      |GROUP BY 1, 2 ORDER BY bucket_h, bucket_s""".stripMargin

  // --------------------------------------------------------------------
  // q216 — VOCABULARY-GROWTH curve (Heaps' law): distinct-token count
  // at nested corpus prefixes (25/50/75/100% of the id range), with
  // the token mass each prefix carries — the curve that sizes a
  // tokenizer's vocabulary and predicts how much new text still grows
  // it (V ≈ K·Nᵝ; the fit itself is a consumer-side regression, the
  // exact integer points are the query's job). Prefixes nest by
  // doc_id, so the curve is reproducible under any partitioning.
  // Scale notes (100 TB): ONE corpus tokenize feeding two bounded
  // aggregates — per-token first-occurrence (vocabulary-sized) and
  // per-doc counts (corpus-rows-sized, 1 row/doc); the 4 cutoffs ride
  // a 1-row bounds frame exploded and BROADCAST through the opaque
  // constant key (no cartesian, no window). Counting vocab as "tokens
  // whose FIRST doc falls in the prefix" turns 4 distinct-counts over
  // nested corpora into one grouped count over the vocab frame.
  val HeapsPcts: Seq[Int] = Seq(25, 50, 75, 100)

  def q216VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), explode(tokens(lower(trim(col("text"))))).as("tok"))
    val firstDoc = ex.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    val cuts = broadcast(perDoc
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .select(col("lo"), col("hi"),
        explode(array(HeapsPcts.map(lit): _*)).as("pct"))
      .withColumn("cutoff",
        col("lo") + expr("(hi - lo + 1) * pct DIV 100"))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("lo"))))
    val dstats = perDoc
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("doc_id")))
      .join(cuts, Seq("_k"))
      .filter(col("doc_id") < col("cutoff"))
      .groupBy(col("pct"), col("cutoff"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val vstats = firstDoc
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("first_doc")))
      .join(cuts, Seq("_k"))
      .filter(col("first_doc") < col("cutoff"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("vocab"))
    dstats.join(vstats, Seq("pct"))
      .select(col("pct"), col("cutoff"), col("n_docs"), col("n_tokens"),
        col("vocab"))
      .orderBy(col("pct"))
  }

  val q216Oracle: String =
    s"""WITH ex AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |fd AS (SELECT tok, min(doc_id) AS first_doc FROM ex GROUP BY 1),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM ex GROUP BY 1),
       |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM pd),
       |cuts AS (
       |  SELECT p.pct, lo + CAST((hi - lo + 1) * p.pct // 100 AS BIGINT) AS cutoff
       |  FROM b CROSS JOIN (VALUES (${HeapsPcts.mkString("), (")})) p(pct)),
       |dstats AS (
       |  SELECT pct, cutoff, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |  FROM cuts JOIN pd ON doc_id < cutoff GROUP BY 1, 2),
       |vstats AS (
       |  SELECT pct, CAST(count(*) AS BIGINT) AS vocab
       |  FROM cuts JOIN fd ON first_doc < cutoff GROUP BY 1)
       |SELECT d.pct, d.cutoff, n_docs, n_tokens, vocab
       |FROM dstats d JOIN vstats v ON d.pct = v.pct
       |ORDER BY d.pct""".stripMargin

  // --------------------------------------------------------------------
  // q232 — TOKENIZER APPLY at corpus scale: q204 TRAINS the merge
  // table; this applies it to the whole corpus in ONE pass — the shape
  // every tokenized-dataset build runs (train once on a sample/epoch,
  // apply to 100 TB). The plan is the new piece: the trained merges
  // are a PERSISTED model boundary ("q204m", built by the trainer
  // once per dataset), pivoted into a single ordered array row and
  // attached through the opaque 1-row join (no collect), and the
  // application is a row-local NESTED fold — outer fold over the
  // merge list in adoption order, inner fold the greedy left-to-right
  // merge over the doc's tokens (q204's own re-tokenize, so "apply"
  // provably replays the trainer's corpus evolution: the result IS
  // t_BpeIters). Output: per-source token mass before/after and the
  // compression ratio — the number a tokenizer change is judged by.
  // Exactness: token counts are BIGINT; the single rounded division
  // is the proven oracle channel. Degenerate corpus (no trainable
  // merge) leaves the model frame empty and the opaque join emits no
  // rows — q204's documented contract.
  // Scale notes (100 TB): the model is BpeIters rows pivoted to ONE
  // row (broadcast by AQE through the opaque key); the corpus pass is
  // scan → row-local native BpeApply kernel (one compiled buffer loop
  // per merge — the nested interpreted-HOF fold it replaces is fuzzed
  // bit-identical in TokenizerApplyPropertySpec) → per-source
  // map-side-combined agg — no shuffle carries tokenized payload, no
  // window, no collect. A production apply with a 50k-merge vocab
  // swaps the per-merge loop for a trie inside the same Expression;
  // the plan (bounded model × one corpus pass) is unchanged.
  def q232TokenizerApply(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.sources.StageBoundary(spark, "q204m", dir)(
        bpeTrainFull(spark, dir))
      .withColumn("_k", graft.plans.Opaque.zeroKey(col("cnt")))
      .groupBy(col("_k"))
      .agg(array_sort(collect_list(struct(col("it"), col("pa"), col("pb"))))
        .as("ms0"))
      // pa/pb only, in adoption order — projected once on the 1-row
      // model frame, never per corpus row
      .select(col("_k"), transform(col("ms0"),
        m => struct(m.getField("pa").as("pa"), m.getField("pb").as("pb")))
        .as("ms"))
    val docs = Tables.documentsSharded(spark, dir)
      .select(col("doc_id"), col("source"),
        split(lower(trim(col("text"))), " ").as("toks"))
    docs
      .withColumn("_k", graft.plans.Opaque.zeroKey(size(col("toks"))))
      .join(model, Seq("_k"))
      .select(col("source"), size(col("toks")).cast("bigint").as("nb"),
        size(graft.functions.BpeApply.bpe_apply(col("toks"), col("ms")))
          .cast("bigint").as("na"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("tokens_before"),
        sum(col("na")).as("tokens_after"),
        round(sum(col("na")).cast("double") / sum(col("nb")).cast("double"), 6)
          .as("ratio"))
      .orderBy(col("source"))
  }

  /** The oracle rides q204's own iteration CTEs: t\$BpeIters IS the
    * fully-applied corpus, so apply-parity is structural, not
    * re-derived.
    */
  val q232Oracle: String = {
    val iters = (1 to BpeIters).map(sqlBpeIter).mkString(",\n")
    s"""WITH t0 AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
       |  FROM documents),
       |$iters
       |SELECT d.source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(b.toks)) AS BIGINT) AS tokens_before,
       |  CAST(sum(len(a.toks)) AS BIGINT) AS tokens_after,
       |  round(CAST(sum(len(a.toks)) AS DOUBLE)
       |    / CAST(sum(len(b.toks)) AS DOUBLE), 6) AS ratio
       |FROM documents d
       |  JOIN t0 b ON b.doc_id = d.doc_id
       |  JOIN t$BpeIters a ON a.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // --------------------------------------------------------------------
  // q234 — distinct-count cube via RE-AGGREGABLE bitmap state: the one
  // aggregation plan shape the registry lacked. COUNT(DISTINCT) is not
  // re-aggregable — a per-(source, lang) distinct count cannot be
  // rolled up to per-source without rescanning the corpus, which is
  // why production warehouses maintain distinct-count CUBES as merged
  // sketch state (ClickHouse groupBitmapState, Druid sketches). Spark
  // 3.5+ ships the exact-bitmap version natively: group values into
  // 32768-bit buckets (`bitmap_bucket_number`), build one bitmap per
  // (group, bucket) with `bitmap_construct_agg(bitmap_bit_position)`,
  // and roll UP by OR-merging the binary state (`bitmap_or_agg`) —
  // level-2 aggregates consume level-1's serialized buffers, never the
  // raw rows.
  //
  // Here: per-(source, lang) vocabulary over the 16-bit md5 token
  // space (the engine's portable hash, q157's idiom), persisted as a
  // StageBoundary — the cube IS the production artifact, maintained
  // incrementally per corpus release. The three report levels
  // (source×lang, source, corpus) all read the cube: sources×langs×2
  // buckets of 4 KB bitmaps, zero document scans in the timed plan.
  // Exact at this width by construction (a bitmap is not a sketch);
  // the DuckDB oracle is plain COUNT(DISTINCT h) at every level.
  // Scale notes (100 TB): the build is one corpus pass with map-side
  // partial bitmaps (OR is commutative — PartitionInvarianceSpec
  // pins order-insensitivity); shuffle carries
  // groups×buckets×4 KB, not tokens. At a production 64-bit hash
  // space the same plan swaps bitmap_* for hll_sketch_agg /
  // hll_union_agg (Spark ships both; bounded state, approximate) —
  // the cube/rollup shape is unchanged.
  private[operators] def bitmapCube(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"),
        explode(tokens(lower(trim(col("text"))))).as("tok"))
      // +1: bitmap_bucket_number/bit_position treat 0 as its own
      // bucket; shifting the 16-bit hash to [1, 65536] keeps the
      // domain a clean 2-bucket bijection
      .select(col("source"), col("lang"),
        (conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") + 1L)
          .as("h"))
      .groupBy(col("source"), col("lang"),
        expr("bitmap_bucket_number(h)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(h))").as("bm"))

  def q234BitmapCube(spark: SparkSession, dir: String): DataFrame = {
    val cube = graft.sources.StageBoundary(spark, "q234cube", dir)(
      bitmapCube(Tables.documentsSharded(spark, dir)))
    val byLang = cube.groupBy(col("source"), col("lang"))
      .agg(sum(expr("bitmap_count(bm)")).as("vocab"))
      .select(lit("source_lang").as("level"), col("source"), col("lang"),
        col("vocab"))
    val bySource = cube.groupBy(col("source"), col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("source"))
      .agg(sum(expr("bitmap_count(bm)")).as("vocab"))
      .select(lit("source").as("level"), col("source"), lit("*").as("lang"),
        col("vocab"))
    val corpus = cube.groupBy(col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("vocab"))
      .select(lit("corpus").as("level"), lit("*").as("source"),
        lit("*").as("lang"), col("vocab"))
    byLang.unionByName(bySource).unionByName(corpus)
      .withColumn("vocab", col("vocab").cast("bigint"))
      .orderBy(col("level"), col("source"), col("lang"))
  }

  val q234Oracle: String =
    """WITH tk AS (
      |  SELECT source, lang,
      |    unnest(string_split(lower(trim(text)), ' ')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT source, lang,
      |    CAST('0x' || substring(md5(tok), 1, 4) AS BIGINT) AS h
      |  FROM tk)
      |SELECT * FROM (
      |  SELECT 'source_lang' AS level, source, lang,
      |    CAST(COUNT(DISTINCT h) AS BIGINT) AS vocab
      |  FROM h GROUP BY source, lang
      |  UNION ALL
      |  SELECT 'source', source, '*', CAST(COUNT(DISTINCT h) AS BIGINT)
      |  FROM h GROUP BY source
      |  UNION ALL
      |  SELECT 'corpus', '*', '*', CAST(COUNT(DISTINCT h) AS BIGINT)
      |  FROM h)
      |ORDER BY level, source, lang""".stripMargin

  // --------------------------------------------------------------------
  // q238 — HLL sketch rollup: q234's cube at a 64-bit-domain scale.
  // The bitmap cube is exact but its state is O(domain) — fine at the
  // 16-bit portable-hash width, impossible at a production 64-bit
  // token/entity space. The HLL path bounds state at 2^lgK registers
  // per group regardless of domain: per-(source, lang) sketches via
  // hll_sketch_agg, rolled up per source by hll_union_agg over the
  // BINARY state (the same aggregate-of-aggregate-state shape as
  // q234, approximate instead of exact), estimates surfaced with
  // hll_sketch_estimate. Correctness channel (q170's CMS precedent —
  // DuckDB cannot replay a DataSketches HLL): the oracle carries the
  // exact per-source distinct plus constant-true flags, and the Spark
  // side computes the flags for real — est within the sketch's own
  // 3-sigma envelope (1.04/sqrt(2^lgK) per the HLL paper; lgK=12 →
  // 4.9%) for BOTH the direct sketch and the union-of-lang-sketches
  // path. A drifting estimate or a lossy union flips a flag and the
  // driver hash gate goes red. Register merges are max()s —
  // order-insensitive, so the estimate is partition-deterministic.
  // Scale notes (100 TB): this is THE distinct-count rollup at
  // unbounded domains — per-partition sketches (KBs) merge up a
  // dimension hierarchy with no rescan; the corpus pass is one
  // map-side-combined sketch build.
  val HllLgK = 12
  val HllBand = 3.0 * 1.04 / math.sqrt((1 << HllLgK).toDouble)

  def q238HllRollup(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documentsSharded(spark, dir)
      .select(col("source"), col("lang"),
        explode(tokens(lower(trim(col("text"))))).as("tok"))
      .select(col("source"), col("lang"),
        conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long").as("h"))
    val perLang = h.groupBy(col("source"), col("lang"))
      .agg(expr(s"hll_sketch_agg(h, $HllLgK)").as("sk"))
    val viaUnion = perLang.groupBy(col("source"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_u"))
    val direct = h.groupBy(col("source"))
      .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(h, $HllLgK))").as("est_d"),
        countDistinct(col("h")).as("vocab_exact"))
    direct.join(viaUnion, Seq("source"))
      .select(col("source"), col("vocab_exact"),
        (abs(col("est_d") - col("vocab_exact")).cast("double")
          / col("vocab_exact") <= HllBand).as("direct_in_band"),
        (abs(col("est_u") - col("vocab_exact")).cast("double")
          / col("vocab_exact") <= HllBand).as("union_in_band"))
      .orderBy(col("source"))
  }

  val q238Oracle: String =
    """WITH tk AS (
      |  SELECT source,
      |    unnest(string_split(lower(trim(text)), ' ')) AS tok
      |  FROM documents)
      |SELECT source,
      |  COUNT(DISTINCT CAST('0x' || substring(md5(tok), 1, 4) AS BIGINT))
      |    AS vocab_exact,
      |  TRUE AS direct_in_band, TRUE AS union_in_band
      |FROM tk GROUP BY 1 ORDER BY source""".stripMargin

  def registry: Seq[Query] = Seq(
    Query("q238_hll_rollup", q238HllRollup, q238Oracle),
    Query("q234_bitmap_cube", q234BitmapCube, q234Oracle),
    Query("q232_tokenizer_apply", q232TokenizerApply, q232Oracle),
    Query("q216_vocab_growth", q216VocabGrowth, q216Oracle),
    Query("q218_lang_fertility", q218LangFertility, q218Oracle),
    Query("q221_langid_confusion", q221LangIdConfusion, q221Oracle),
    Query("q222_rag_chunking", q222RagChunking, q222Oracle),
    Query("q229_curriculum_phases", q229CurriculumPhases, q229Oracle),
    Query("q224_ngram_diff", q224VocabDiff, q224Oracle),
    Query("q205_quality_calibration", q205QualityCalibration, q205Oracle),
    Query("q204_bpe_train", q204BpeTrain, q204Oracle),
    Query("q189_dsir_weights", q189DsirWeights, q189Oracle),
    Query("q187_bm25_retrieval", q187Bm25Retrieval, q187Oracle),
    Query("q179_unk_rewrite", q179UnkRewrite, q179Oracle),
    Query("q175_pmi_collocations", q175PmiCollocations, q175Oracle),
    Query("q152_array_surface", q152ArraySurface, q152Oracle),
    Query("q144_inverted_index", q144InvertedIndex, q144Oracle),
    Query("q138_boilerplate", q138Boilerplate, q138Oracle),
    Query("q139_source_overlap", q139SourceOverlap, q139Oracle),
    Query("q140_bpe_merges", q140BpeMerges, q140Oracle),
    Query("q141_vocab_coverage", q141VocabCoverage, q141Oracle),
    Query("q111_fuzzy_join", q111FuzzyJoin, q111Oracle),
    Query("q58_stratified_sample", q58StratifiedSample, q58Oracle),
    Query("q27_token_stats", q27TokenStats, q27Oracle),
    Query("q28_lang_id", q28LangId, q28Oracle),
    Query("q29_quality_score", q29QualityScore, q29Oracle),
    Query("q30_fingerprint", q30Fingerprint, q30Oracle),
    Query("q52_bpe_tokens", q52BpeTokens, q52Oracle),
    Query("q94_unigram_lm_score", q94UnigramLmScore, q94Oracle),
    Query("q158_bigram_lm_score", q158BigramLmScore, q158Oracle))
}
