package graft.operators

import graft.{OpCache, OracleNum, Tables}
import graft.functions.TextFunctions._
import graft.functions.expressions.SharedExpr.noInline
import graft.plans.ScoreTag
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-pipeline surface: language ID,
  * quality scoring, token counting, document fingerprinting. All four
  * are map-only column pipelines — zero shuffles, arbitrarily
  * scalable; the oracle replays the identical arithmetic in DuckDB.
  */
object TextAnalysis {
  import OracleNum.{fx, fxSql}

  /** Stopword profiles for the n-gram/stopword language heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "es", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"))

  /** Shared stopword-profile scorer over a `text` column:
    * (pred_lang, confidence) — the SINGLE source for [[langId]] and
    * [[langMismatch]]; the lang_mismatch-vs-lang_id consistency the
    * spec pins rides on this sharing. Ties break by profile order
    * (alphabetical code) via chained whens keeping the FIRST match.
    */
  /** One codegen'd [[graft.functions.expressions.LangScores]] pass
    * over the text yields [pred_idx, conf_fx] for ALL profiles (r11,
    * guide §4): the previous form ran FOUR interpreted higher-order
    * ArrayFilter lambdas (one per profile) over the same token array
    * — HOFs never enter whole-stage codegen, and the per-element
    * boxed isin was the measured cost of the whole lang family
    * (lang_mismatch 3.6 s warm at sf1, a zero-shuffle map). The
    * kernel replays the exact split/lower convention ([[graft.functions.expressions.PhraseHits]]
    * precedent), integer hit counts, the same double division, the
    * same greatest/first-match tie order and the same fx(·, 6)
    * rounding — TextAnalysisSpec pins value parity per document and
    * the oracle replays the original Column arithmetic in DuckDB.
    */
  private def langScores: Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.expressions.LangScores(
      expression(col("text")), LangProfiles.map(_._2)))
  }

  /** (pred_lang, confidence) off a materialized [[langScores]]
    * column: a 4-way index CASE and a getItem — cheap enough to
    * appear in a filter without re-running the scorer.
    */
  private def langPredictionFrom(ls: Column): (Column, Column) = {
    val pred = LangProfiles.map(_._1).zipWithIndex
      .foldLeft(Option.empty[Column]) {
        case (None, (code, i)) => Some(when(ls.getItem(0) === i.toLong, code))
        case (Some(c), (code, i)) => Some(c.when(ls.getItem(0) === i.toLong, code))
      }.get.otherwise("und")
    (pred, ls.getItem(1))
  }

  /** DuckDB rendering of [[langPrediction]]: (best-score expr,
    * CASE pred expr referencing a `best` alias). Profile words are
    * SQL-escaped like every generated literal should be.
    */
  private val langPredictionSql: (String, String) = {
    val toks = "string_split(lower(text), ' ')"
    val scoreE = LangProfiles.map { case (code, words) =>
      val lst = words.map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")
      code -> s"(len(list_filter($toks, t -> list_contains($lst, t)))::DOUBLE / len($toks)::DOUBLE)"
    }
    val best = scoreE.map(_._2).mkString("greatest(", ", ", ")")
    val pred = scoreE.map { case (code, s) =>
      s"WHEN $s = best AND best > 0.0 THEN '$code'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    (best, pred)
  }

  /** Language identification by stopword-profile hit ratio; ties are
    * broken by profile order (alphabetical code).
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val (pred, conf) = langPredictionFrom(col("ls"))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), langScores.as("ls"))
      .select(col("doc_id"), pred.as("pred_lang"), conf.as("confidence"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val (best, pred) = langPredictionSql
    s"""WITH scored AS (
       |  SELECT doc_id, text, $best AS best FROM documents
       |)
       |SELECT doc_id, $pred AS pred_lang, ${fxSql("best", 6)} AS confidence
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  /** Language-metadata QC: documents whose DECLARED lang tag
    * disagrees with the stopword-profile prediction (confident
    * predictions only — 'und' rows are skipped, not flagged). Mislabeled
    * language metadata is a top corpus-quality defect (a crawl's
    * lang tags come from unreliable upstream detectors); this is the
    * audit a pipeline runs before trusting `lang` for partitioning or
    * per-language sampling. Zero-shuffle map + pushed lang
    * projection; output is the (small) disagreement set.
    */
  def langMismatch(spark: SparkSession, dir: String): DataFrame = {
    val (pred, conf) = langPredictionFrom(col("ls"))
    Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("lang")))
      // NoInline barrier: PushDownPredicate would otherwise push the
      // mismatch filter below the scoring projection and re-inline
      // the LangScores kernel into the Filter condition — the scorer
      // ran twice per row, with the first evaluation serialized onto
      // the single local parquet split (measured: 2.7 s vs 1.6 s warm
      // at sf1). A filter never crosses a projection with a
      // non-deterministic field, so the kernel stays evaluated once.
      .select(col("doc_id"), col("lang").as("declared_lang"),
        noInline(langScores).as("ls"))
      .select(col("doc_id"), col("declared_lang"),
        pred.as("pred_lang"), conf.as("confidence"))
      .filter(col("pred_lang") =!= "und" && col("pred_lang") =!= col("declared_lang"))
      .orderBy(col("doc_id"))
  }

  val langMismatchSql: String = {
    val (best, pred) = langPredictionSql
    s"""WITH scored AS (
       |  SELECT doc_id, text, lang AS declared_lang, $best AS best FROM documents
       |), labeled AS (
       |  SELECT doc_id, declared_lang, $pred AS pred_lang,
       |    ${fxSql("best", 6)} AS confidence
       |  FROM scored
       |)
       |SELECT doc_id, declared_lang, pred_lang, confidence
       |FROM labeled
       |WHERE pred_lang <> 'und' AND pred_lang <> declared_lang
       |ORDER BY doc_id""".stripMargin
  }

  /** The surface-statistics quality kernel over a `text` column:
    * (whitespace token count, punctuation ratio, composite quality
    * score in [0,1]) — factored so budget-driven selection
    * ([[Curation.tokenBudget]]) ranks documents by the SAME score the
    * [[quality]] report emits.
    */
  private[graft] def qualityParts(text: Column): (Column, Column, Column) = {
    val nChars = length(text).cast("double")
    val nTokens = size(split(text, " ")).cast("double")
    // count stopwords among RAW cleaned tokens — tokens() itself
    // removes stopwords, so it cannot be the source here
    val rawToks = transform(split(lower(text), " "), t => regexp_replace(t, "[^a-z0-9]", ""))
    val stopToks = size(filter(rawToks, t => t.isin(StopWords: _*))).cast("double")
    val alnumSpace = length(regexp_replace(lower(text), "[^a-z0-9 ]", "")).cast("double")
    val digits = nChars - length(regexp_replace(text, "[0-9]", "")).cast("double")
    val punctRatio = (nChars - alnumSpace) / nChars
    val digitRatio = digits / nChars
    val stopRatio = stopToks / greatest(nTokens, lit(1.0))
    val q = lit(0.3) * least(lit(1.0), nTokens / 50.0) +
      lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.2) * least(lit(1.0), stopRatio * 5.0) +
      lit(0.2) * (lit(1.0) - digitRatio)
    (nTokens, punctRatio, q)
  }

  /** DuckDB rendering of [[qualityParts]]'s quality score over a
    * `text` SQL column.
    */
  private[graft] val qualityQSql: String = {
    val nChars = "length(text)::DOUBLE"
    val nTokens = "len(string_split(text, ' '))::DOUBLE"
    val rawToks = "list_transform(string_split(lower(text), ' '), t -> regexp_replace(t, '[^a-z0-9]', '', 'g'))"
    val stopToks = s"len(list_filter($rawToks, t -> list_contains($stopWordsSql, t)))::DOUBLE"
    val alnumSpace = "length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))::DOUBLE"
    val digits = s"($nChars - length(regexp_replace(text, '[0-9]', '', 'g'))::DOUBLE)"
    val punct = s"(($nChars - $alnumSpace) / $nChars)"
    val digitR = s"($digits / $nChars)"
    val stopR = s"($stopToks / greatest($nTokens, 1.0))"
    s"(0.3 * least(1.0, $nTokens / 50.0) + 0.3 * (1.0 - $punct) + 0.2 * least(1.0, $stopR * 5.0) + 0.2 * (1.0 - $digitR))"
  }

  /** Quality scoring from surface statistics: token volume, noise
    * (punctuation/digit) ratios and stopword naturalness.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val (nTokens, punctRatio, q) = qualityParts(col("text"))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), nTokens.cast("long").as("n_tokens"),
        fx(punctRatio, 6).as("punct_ratio"), fx(q, 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  val qualitySql: String = {
    val nChars = "length(text)::DOUBLE"
    val nTokens = "len(string_split(text, ' '))::DOUBLE"
    val rawToks = "list_transform(string_split(lower(text), ' '), t -> regexp_replace(t, '[^a-z0-9]', '', 'g'))"
    val stopToks = s"len(list_filter($rawToks, t -> list_contains($stopWordsSql, t)))::DOUBLE"
    val alnumSpace = "length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))::DOUBLE"
    val digits = s"($nChars - length(regexp_replace(text, '[0-9]', '', 'g'))::DOUBLE)"
    val punct = s"(($nChars - $alnumSpace) / $nChars)"
    val digitR = s"($digits / $nChars)"
    val stopR = s"($stopToks / greatest($nTokens, 1.0))"
    val q = s"(0.3 * least(1.0, $nTokens / 50.0) + 0.3 * (1.0 - $punct) + 0.2 * least(1.0, $stopR * 5.0) + 0.2 * (1.0 - $digitR))"
    s"""SELECT doc_id, CAST($nTokens AS BIGINT) AS n_tokens,
       |  ${fxSql(punct, 6)} AS punct_ratio, ${fxSql(q, 6)} AS quality
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** BPE-ish regex kept RE2-compatible so Java and DuckDB match. */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Token counting: whitespace tokens, BPE-ish regex tokens,
    * normalized terms and characters in one pass.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("bpe_tokens"),
        size(tokens(col("text"))).cast("long").as("norm_terms"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Token-length histogram per source in power-of-two buckets — the
    * packing-planner view of the corpus: a trainer sizing sequence
    * bins (cf. [[Curation.packDocs]]) reads exactly this shape to
    * predict padding waste and pick bin widths per domain. Bucket =
    * 2^floor(log2(ws_tokens)), computed EXACTLY via the binary-digit
    * count (`length(bin(n)) - 1` — identical in Spark and DuckDB),
    * never a float log that can mis-round at exact powers of two.
    * One zero-shuffle map + one (source × ~20 buckets)-sized
    * aggregate with map-side partials — free at any corpus scale.
    */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame = {
    val nToks = size(split(col("text"), " ")).cast("long")
    Tables.spread(spark,
        Tables.documents(spark, dir).select(col("source"), col("text")))
      .select(col("source"), nToks.as("n"))
      .withColumn("bucket_lo",
        pow(lit(2.0), (length(bin(col("n"))) - 1).cast("double")).cast("long"))
      .groupBy(col("source"), col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"),
           min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))
      .orderBy(col("source"), col("bucket_lo"))
  }

  val tokenHistogramSql: String =
    s"""WITH t AS (
       |  SELECT source, len(string_split(text, ' '))::BIGINT AS n FROM documents
       |)
       |SELECT source,
       |  CAST(power(2, length(bin(n)) - 1) AS BIGINT) AS bucket_lo,
       |  COUNT(*)::BIGINT AS n_docs, SUM(n)::BIGINT AS sum_tokens,
       |  MIN(n)::BIGINT AS min_tokens, MAX(n)::BIGINT AS max_tokens
       |FROM t
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  len(string_split(text, ' '))::BIGINT AS ws_tokens,
       |  len(regexp_extract_all(text, '$BpePattern'))::BIGINT AS bpe_tokens,
       |  len(${tokensSql("text")})::BIGINT AS norm_terms,
       |  length(text)::BIGINT AS n_chars
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sampling — the training-data curation
    * op that downsamples over-represented strata: per-lang keep
    * rates, membership decided by a content-derived hash gate
    * (hash60 % 100 < rate), so the sample is reproducible on any
    * cluster, stable under re-partitioning, and requires no RNG state
    * or second pass. Map-only at any scale.
    */
  val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 30, "de" -> 60, "es" -> 60, "fr" -> 60, "und" -> 100)

  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldLeft(Option.empty[Column]) {
      case (None, (code, r))    => Some(when(col("lang") === code, r))
      case (Some(c), (code, r)) => Some(c.when(col("lang") === code, r))
    }.get.otherwise(100)
    Tables.documents(spark, dir)
      .filter((hash60(col("text")) % 100) < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_id"))
      .orderBy(col("lang"))
  }

  val sampleStratifiedSql: String = {
    val rate = SampleRates.map { case (c, r) => s"WHEN lang = '$c' THEN $r" }
      .mkString("CASE ", " ", " ELSE 100 END")
    s"""SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id
       |FROM documents
       |WHERE (${hash60Sql("text")} % 100) < $rate
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** Sliding-window chunk geometry: [[ChunkSize]]-token windows every
    * [[ChunkStride]] tokens (overlap = ChunkSize - ChunkStride), the
    * standard pre-embedding segmentation of an LLM training/RAG
    * pipeline.
    */
  val ChunkSize = 64
  val ChunkOverlap = 16
  val ChunkStride: Int = ChunkSize - ChunkOverlap

  /** Sliding-window text chunking: one row per (doc, window) with the
    * window's text and geometry. Chunk i covers whitespace tokens
    * [i*stride+1, i*stride+ChunkSize]; a doc of n <= ChunkSize tokens
    * is one chunk; otherwise the last window starts at the smallest
    * multiple of stride covering token n. Map + Generate only — zero
    * shuffles at any corpus size (the trailing sort is oracle-only);
    * the chunk stream is what a downstream embed/index stage consumes
    * (reference ingestion surface: lib.rs add_document → embed;
    * chunking happens upstream of the reference, so this operator is
    * the Spark-side feeder for it).
    */
  def textChunk(spark: SparkSession, dir: String): DataFrame =
    textChunkWith(spark, dir, ChunkSize, ChunkOverlap)

  /** [[textChunk]] with caller-supplied geometry — what
    * [[graft.GraftConfig.ChunkConfig]] threads through the facade
    * (config.rs chunk_size / chunk_overlap).
    */
  def textChunkWith(spark: SparkSession, dir: String,
                    chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "overlap must be in [0, chunkSize)")
    val stride = chunkSize - overlap
    val toks = split(col("text"), " ")
    val n = size(toks)
    val nChunks = when(n <= chunkSize, lit(1L))
      .otherwise(ceil((n - lit(chunkSize)).cast("double") / stride) + 1L)
    val start = col("chunk_ix") * stride + 1
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), toks.as("toks"), n.as("n"), nChunks.as("m"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("m") - 1L)).as("chunk_ix"))
      .select(col("doc_id"), col("chunk_ix"),
        start.cast("long").as("start_tok"),
        least(lit(chunkSize), col("n") - start + 1).cast("long").as("n_chunk_toks"),
        array_join(slice(col("toks"), start, lit(chunkSize)), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_ix"))
  }

  val textChunkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, toks, n,
       |    CASE WHEN n <= $ChunkSize THEN 1
       |         ELSE CAST(CEIL((n - $ChunkSize) / $ChunkStride.0) AS BIGINT) + 1 END AS m
       |  FROM t
       |), w AS (
       |  SELECT doc_id, toks, n, unnest(range(0, m)) AS chunk_ix FROM c
       |)
       |SELECT doc_id, chunk_ix,
       |  (chunk_ix * $ChunkStride + 1)::BIGINT AS start_tok,
       |  least($ChunkSize, n - (chunk_ix * $ChunkStride + 1) + 1)::BIGINT AS n_chunk_toks,
       |  array_to_string(list_slice(toks, chunk_ix * $ChunkStride + 1,
       |    chunk_ix * $ChunkStride + $ChunkSize), ' ') AS chunk_text
       |FROM w
       |ORDER BY doc_id, chunk_ix""".stripMargin

  /** Document fingerprint from rolling 8-char grams (winnowing-style):
    * the minimal gram hash plus the distinct gram count form a
    * compact sketch; identical prefixes/bodies collide on min_hash.
    *
    * Computed by the native one-pass [[expressions.GramFingerprint]]
    * expression — a pure map with zero shuffles (an earlier exploded
    * one-row-per-gram md5 formulation cost a Generate, ~300 md5s per
    * doc and a groupBy shuffle; this is ~40x faster and scales as a
    * map at any corpus size).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val fp = column(graft.functions.expressions.GramFingerprint(expression(col("text"))))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), fp.as("fp"), hash60(col("text")).as("full_hash"))
      .select(col("doc_id"),
        col("fp").getItem(0).as("min_gram_hash"),
        col("fp").getItem(1).as("n_distinct_grams"),
        col("full_hash"))
      .orderBy(col("doc_id"))
  }

  /** Oracle twin of [[expressions.GramFingerprint]]: identical integer
    * polynomial ((ascii % 128) * 131^k — the same 7-bit fold the
    * native expression applies, keeping every intermediate < 2^57 in
    * exact BIGINT; cross-engine exactness is contracted for ASCII
    * corpora, see GramFingerprint.compute).
    */
  val fingerprintSql: String = {
    val pows = (0 until 8).map(i => math.pow(131.0, i).toLong).mkString("[", ", ", "]")
    s"""WITH g AS (
       |  SELECT doc_id, text,
       |    list_transform(range(1, greatest(length(text) - 7, 1) + 1),
       |      i -> list_sum(list_transform(range(0, least(8, length(text) - i + 1)),
       |             j -> (ascii(substr(text, i + j, 1)) % 128) * $pows[least(8, length(text) - i + 1) - j]))::BIGINT) AS hashes
       |  FROM documents
       |)
       |SELECT doc_id, list_min(hashes) AS min_gram_hash,
       |  len(list_distinct(hashes))::BIGINT AS n_distinct_grams,
       |  ${hash60Sql("text")} AS full_hash
       |FROM g
       |ORDER BY doc_id""".stripMargin
  }

  /** Keywords per document to keep for [[tfidfKeywords]]. */
  val TfidfK = 3

  /** Per-document top-[[TfidfK]] TF-IDF keywords (tf * ln(N/df), the
    * classic smooth-free form; the reference's BM25 machinery is the
    * retrieval twin — this is its corpus-analysis counterpart used for
    * tagging/clustering training data). Plan: per-doc (term, tf)
    * pairs come from the one-pass native
    * [[expressions.TermCounts]] sketch — ZERO exchange for the
    * within-doc aggregation (the earlier explode + groupBy(doc, term)
    * shuffled every distinct pair just to count rows that were
    * already doc-local); df is a term-keyed aggregate whose map-side
    * partials put only vocabulary-sized rows on the wire, joined back
    * shuffle_hash on the same term partitioning (no broadcast — a
    * web-scale term space must never ship through the driver, and no
    * sort — the earlier count-window form sorted the whole relation
    * within term partitions for a sort-insensitive COUNT). Ranking is
    * a window on doc_id — per-partition state bounded by one
    * document's vocabulary at any corpus size — comparing the fx'd
    * BIGINT score, so rank order is identical in both engines
    * regardless of last-ulp double jitter.
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val tf = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(column(graft.functions.expressions.TermCounts(
          expression(col("text"))))).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val score = fx(col("tf").cast("double") * log(col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df.hint("shuffle_hash"), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), score.as("score", ScoreTag.metadata))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfidfK)
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfKeywordsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf,
       |    ${fxSql("tf::DOUBLE * ln(n_docs::DOUBLE / df)")} AS score
       |  FROM tf JOIN df USING (term), n
       |)
       |SELECT doc_id, term, tf, score,
       |  rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
       |  FROM scored
       |)
       |WHERE rank <= $TfidfK
       |ORDER BY doc_id, rank""".stripMargin

  /** Corpus n-gram rows to report for [[corpusNgrams]]. */
  val NgramTopK = 25

  /** Corpus-level bigram frequency top-k — the corpus-statistics scan
    * behind contamination analysis, boilerplate detection and
    * tokenizer vocabulary studies. The bigram array comes from the
    * one-pass native [[expressions.ShingleStrings]] sketch
    * MATERIALIZED in its own projection before the explode (the
    * interpreted HOF form evaluated inside Generate re-runs per
    * emitted row — measured 8.9s vs 1.3s at sf0.1). Counting is
    * two-level — (ngram, doc) partial then ngram roll-up — so
    * distinct-doc counting needs no expand and both aggregations take
    * map-side partials (vocabulary, not corpus, sized on the wire);
    * the top-k is TakeOrderedAndProject — per-partition heaps, O(k)
    * on the driver, no global sort at any scale.
    */
  def corpusNgrams(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val grams = column(graft.functions.expressions.ShingleStrings(
      expression(col("text")), 2))
    Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), grams.as("grams"))
      .select(col("doc_id"), explode(col("grams")).as("ngram"))
      .groupBy(col("ngram"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("ngram"))
      .agg(sum(col("c")).as("n_occurrences"),
           count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(NgramTopK)
  }

  /** Bigram-LM surprise scoring — the CCNet/Gopher-style "perplexity
    * under a corpus LM" quality signal: train add-one-smoothed bigram
    * statistics on the corpus itself, then charge each document the
    * summed surprise -ln p(w2|w1) = ln((c(w1,*)+V) / (c(w1 w2)+1)) of
    * its bigrams. Anomalously high mean surprise = text unlike the
    * corpus (noise, boilerplate-free gibberish); anomalously low =
    * heavily templated text. Per-bigram surprise is fx-quantized to
    * BIGINT BEFORE the per-document sum, so the aggregate is an
    * integer sum — order-independent and bit-identical cross-engine
    * (a raw double sum never hash-matches; see [[graft.OracleNum]]).
    *
    * The conditional's denominator is the PREFIX count c(w1,*) — how
    * often w1 opens a bigram — which is what a bigram LM actually
    * normalizes by, and it rolls up from the bigram count table
    * c(w1 w2): the instance stream compresses to per-(doc, bigram)
    * multiplicities, the count table aggregates from that and is the
    * ONE persisted relation (vocabulary-sized, spillable — the
    * trained LM itself; three consumers would otherwise re-run the
    * tokenize+explode pass), and scoring is shuffle_hash joins
    * against it — the shape AQE's skew-split rewrites, where a window
    * partitioned by bigram would concentrate every instance of a hot
    * bigram in one unsplittable sorting task. The smoothing
    * vocabulary V rides a one-row broadcast from its own tokenize
    * pass (one extra corpus map — the price of a scalar). Final
    * roll-up and the no-bigram-docs left join are keyed equi-shuffles
    * on doc_id, zero sorts, no broadcast of unbounded relations.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    // the tokenized corpus persists (r10): THREE branches consume it —
    // the vocabulary scalar, the bigram instance stream, and (pruned)
    // the all-docs base of the final left join — and without the cache
    // the vocab and instance branches each re-ran the full
    // regex-tokenize scan on every invocation (two corpus passes per
    // call; the Bm25 searchDocs precedent: this is the token
    // materialization a standing pipeline keeps)
    // all three lmScore persists ride [[graft.OpCache]] (r11): one
    // live relation per slot, evicted on corpus change
    val base = OpCache.cached("lm.base", spark, dir) {
      Tables.spread(spark,
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
    }
    val vocab = base.select(explode(col("toks")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val surprise = fx(log((col("c1") + col("v")).cast("double") /
      (col("c12") + lit(1L)).cast("double")))
    // Aggregate-and-join, never window: the surprise of a bigram is a
    // function of the bigram alone, so the instance stream compresses
    // to per-(doc, bigram) multiplicities first (hash aggregate with
    // map-side partials), and the count relations it joins against are
    // bigram-vocabulary-sized — every shuffle after the first carries
    // distinct keys, not instances. The window formulation this
    // replaces sorted ALL bigram instances twice (once per partition
    // key); at corpus scale those two sorts dominate, and neither
    // gets map-side reduction — worse, a window partitioned by bigram
    // has NO skew mitigation: every instance of a stopword bigram
    // ("of the" — billions at web scale) lands in ONE sorting task.
    // The aggregate form takes map-side partials everywhere and its
    // joins are exactly the shape AQE's skew-split rewrites; locally
    // it costs a few hundred ms more in exchange fixed costs, the
    // right trade. k·fx(s) ≡ sum of k copies of fx(s), so the
    // compressed form is bit-identical to the per-instance one.
    // bc is persisted because THREE downstream branches need it (the
    // unigram rollup, the rates join, and through them the scoring
    // join): without the cache each consumer re-runs the full
    // tokenize+explode+aggregate instance pass. The cached relation is
    // bigram-VOCABULARY-sized — orders of magnitude below the instance
    // stream — and disk-spillable; eviction is the executor BlockManager
    // LRU, the documented lifecycle for operator-internal caches (a
    // standing pipeline would materialize the LM's count table to a
    // table instead — it IS the trained model).
    // inst persists too (r10): it feeds BOTH the count-table rollup
    // (bc) and the scoring join — uncached, the scoring pass re-ran
    // the explode + instance aggregate (the plan's one big shuffle)
    // on every invocation even though bc was served from cache
    val inst = OpCache.cached("lm.inst", spark, dir) {
      base
        .select(col("doc_id"), explode(wordShingles(col("toks"), 2)).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("k"))
    }
    val bc = OpCache.cached("lm.bc", spark, dir) {
      inst.groupBy(col("b")).agg(sum(col("k")).as("c12"))
    }
    val uc = bc.select(substring_index(col("b"), " ", 1).as("w"), col("c12"))
      .groupBy(col("w")).agg(sum(col("c12")).as("c1"))
    val rates = bc.withColumn("w", substring_index(col("b"), " ", 1))
      .join(uc.hint("shuffle_hash"), Seq("w"))
    val scored = inst
      .join(rates.hint("shuffle_hash"), Seq("b"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("k"), surprise.as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("s")).as("surprise_fx"))
    base.select(col("doc_id"))
      .join(scored.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprise_fx"), lit(0L)).as("surprise_fx"))
      .withColumn("mean_surprise_fx",
        when(col("n_bigrams") > 0L, expr("surprise_fx div n_bigrams"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  val lmScoreSql: String = {
    val surprise = fxSql("ln((c1 + v)::DOUBLE / (c12 + 1)::DOUBLE)")
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
       |), voc AS (
       |  SELECT COUNT(DISTINCT w)::BIGINT AS v
       |  FROM (SELECT unnest(toks) AS w FROM t)
       |), db AS (
       |  SELECT doc_id, unnest(${wordShinglesSql("toks", 2)}) AS b FROM t
       |), counted AS (
       |  SELECT doc_id,
       |    COUNT(*) OVER (PARTITION BY b)::BIGINT AS c12,
       |    COUNT(*) OVER (PARTITION BY split_part(b, ' ', 1))::BIGINT AS c1
       |  FROM db
       |), scored AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
       |    CAST(SUM($surprise) AS BIGINT) AS surprise_fx
       |  FROM counted, voc
       |  GROUP BY doc_id
       |)
       |SELECT t.doc_id,
       |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(s.surprise_fx, 0) AS surprise_fx,
       |  CASE WHEN COALESCE(s.n_bigrams, 0) > 0
       |    THEN COALESCE(s.surprise_fx, 0) // s.n_bigrams ELSE 0 END AS mean_surprise_fx
       |FROM t LEFT JOIN scored s USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  val corpusNgramsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, unnest(${wordShinglesSql("toks", 2)}) AS ngram FROM t
       |)
       |SELECT ngram, COUNT(*) AS n_occurrences,
       |  COUNT(DISTINCT doc_id) AS n_docs
       |FROM g
       |GROUP BY ngram
       |ORDER BY n_occurrences DESC, ngram
       |LIMIT $NgramTopK""".stripMargin

  /** Per-document lexical-diversity signals: token-distribution
    * Shannon entropy (nats) and type-token ratio — the standard
    * gibberish/boilerplate detectors a quality pipeline runs next to
    * [[quality]] (low entropy = repeated-token spam; low TTR =
    * template text; both survive the stopword-stripped tokenizer the
    * whole engine shares). ZERO shuffles: the per-doc (term, tf)
    * distribution is the one-pass native [[expressions.TermCounts]]
    * sketch and the entropy folds over it with a higher-order
    * `aggregate` — H = ln(n) − Σ tf·ln(tf) / n needs only the doc's
    * own counts, so unlike [[tfidfKeywords]] nothing leaves the map
    * stage. The only job structure is scan → project → sort-for-output.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val tfs = column(graft.functions.expressions.TermCounts(
      expression(col("text"))))
    Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), tfs.as("tfs"))
      .select(col("doc_id"),
        size(col("tfs")).cast("long").as("n_types"),
        aggregate(col("tfs"), lit(0L), (acc, e) => acc + e.getField("tf"))
          .as("n_tokens"),
        aggregate(col("tfs"), lit(0.0d),
          (acc, e) => acc + e.getField("tf").cast("double") *
            log(e.getField("tf").cast("double"))).as("sum_tlnt"))
      .select(col("doc_id"), col("n_types"), col("n_tokens"),
        fx(when(col("n_tokens") > 0,
            log(col("n_tokens").cast("double")) -
              col("sum_tlnt") / col("n_tokens")).otherwise(0.0)).as("entropy"),
        fx(when(col("n_tokens") > 0,
            col("n_types").cast("double") / col("n_tokens")).otherwise(0.0))
          .as("ttr"))
      .orderBy(col("doc_id"))
  }

  val textEntropySql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term
       |), agg AS (
       |  SELECT doc_id, COUNT(*)::BIGINT AS n_types,
       |    CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |    SUM(tf::DOUBLE * ln(tf::DOUBLE)) AS sum_tlnt
       |  FROM tf GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  COALESCE(a.n_types, 0) AS n_types,
       |  COALESCE(a.n_tokens, 0) AS n_tokens,
       |  COALESCE(${fxSql("ln(a.n_tokens::DOUBLE) - a.sum_tlnt / a.n_tokens")}, 0) AS entropy,
       |  COALESCE(${fxSql("a.n_types::DOUBLE / a.n_tokens")}, 0) AS ttr
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- seed-vocabulary induction (tokenizer prep) ----

  /** Vocabulary size emitted by [[vocabInduce]]. */
  val VocabV = 500

  /** Longest candidate piece in characters. */
  val VocabMaxPiece = 6

  /** Seed-vocabulary induction for subword tokenizer training — the
    * substring-frequency seeding step of SentencePiece's unigram
    * trainer (Kudo & Richardson 2018 §3.2: the initial vocabulary is
    * the most frequent substrings, scored frequency × length, that
    * the EM pruning loop then shrinks). Emits the top-[[VocabV]]
    * candidate pieces of 2..[[VocabMaxPiece]] characters by
    * `freq × (len − 1)` (a piece is only worth keeping if it saves
    * symbols over single characters, hence len − 1), ties broken
    * lexicographically.
    *
    * Scale shape: the corpus compresses to the DISTINCT-WORD table in
    * one keyed aggregate with map-side partials (Zipf: the vocabulary
    * is orders of magnitude smaller than the token stream — the same
    * compression [[vocabulary]] rides); candidate enumeration explodes
    * positions over that bounded table only, never over the corpus,
    * and the head is a TakeOrdered (per-partition top-V + driver
    * merge), never a global sort. No corpus-shaped relation is joined,
    * windowed or sorted — the identical plan serves 100 TB.
    */
  def vocabInduce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // per-doc (term, tf) pairs from the native one-pass TermCounts
    // kernel: the explode carries one row per DISTINCT term per doc
    // instead of one per token instance, so the word-count shuffle
    // moves the compressed relation (same sums — the kernel shares
    // the tokenizer, parity-pinned in NativeExpressionPropertySpec)
    val words = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(explode(column(graft.functions.expressions.TermCounts(
        expression(col("text"))))).as("e"))
      .select(col("e.term").as("w"), col("e.tf").as("tf"))
      .groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
    val pieces = transform(sequence(lit(2), lit(VocabMaxPiece)), L =>
      when(length(col("w")) >= L,
        transform(sequence(lit(1), length(col("w")) - L + lit(1)),
          i => col("w").substr(i, L)))
        .otherwise(array().cast("array<string>")))
    words
      .select(col("cnt"), explode(flatten(pieces)).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("freq"))
      .select(col("piece"), col("freq"),
        (col("freq") * (length(col("piece")) - 1).cast("long")).as("score"))
      .orderBy(col("score").desc, col("piece"))
      .limit(VocabV)
  }

  val vocabInduceSql: String =
    s"""WITH words AS (
       |  SELECT g AS w, COUNT(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(${tokensSql("text")}) AS g FROM documents)
       |  GROUP BY 1
       |), subs AS (
       |  SELECT unnest(flatten(list_transform(range(2, ${VocabMaxPiece + 1}), L ->
       |           list_transform(range(1, greatest(length(w) - L + 1, 0) + 1),
       |                          i -> substr(w, i::INT, L::INT))))) AS piece,
       |         cnt
       |  FROM words
       |)
       |SELECT piece, SUM(cnt)::BIGINT AS freq,
       |  (SUM(cnt) * (length(piece) - 1))::BIGINT AS score
       |FROM subs GROUP BY piece
       |ORDER BY score DESC, piece
       |LIMIT $VocabV""".stripMargin

  // ---- BPE merge induction (tokenizer training) ----

  /** Merge rounds learned by [[bpeTrain]] / applied by
    * [[bpeTokenCount]]. Small by test-economy only in the per-round
    * COST sense (each round is one bounded-table aggregate + one
    * narrow map, corpus-size-independent) — but the serial loop pays
    * one driver argmax barrier PER ROUND (~0.1-0.2s scheduling floor),
    * so a production 32k-merge vocabulary must not just raise this
    * knob: it uses [[bpeLearnBatched]], which selects up to M
    * disjoint merges per census and divides the barrier count by M
    * (measured rounds-vs-wall curve in SURVEY §5).
    */
  val BpeMerges = 8

  /** Spaced segmentation encoding shared by the Spark and DuckDB
    * sides: a word's current symbol sequence is rendered
    * `' s1  s2  …  sn '` — TWO spaces between symbols, ONE at each
    * end. Merging pair (L,R) is then the plain string replacement
    * `' L  R ' → ' LR '`: the edge spaces of the replacement restore
    * the boundary the match consumed, so the double-space invariant
    * survives any number of merges, and because both engines'
    * `replace` scan left-to-right non-overlapping, the rewrite IS the
    * greedy merge pass of Sennrich et al. (symbols are [a-z0-9]+ —
    * space-free — so a pattern can never straddle a symbol boundary).
    */
  private def segInit(w: Column): Column =
    concat(lit(" "), rtrim(regexp_replace(w, "(.)", "$1  ")), lit(" "))

  private def segSymbols(seg: Column): Column = split(trim(seg), "  ")

  /** Adjacent symbol pairs (`"L R"` strings) of a segmentation —
    * every adjacency counts, including overlapping repeats, matching
    * the reference BPE statistics pass. Guarded: Spark's `sequence`
    * runs DESCENDING when start > stop, so a fully-merged
    * single-symbol word must short-circuit to the empty array.
    */
  private def segPairs(sy: Column): Column =
    when(size(sy) >= 2,
      transform(sequence(lit(1), size(sy) - 1),
        j => concat(element_at(sy, j), lit(" "), element_at(sy, j + 1))))
      .otherwise(array().cast("array<string>"))

  /** Byte-pair-encoding merge induction (Sennrich et al. 2016) over
    * the corpus: learn [[BpeMerges]] merge rules and the word
    * segmentation they produce. Returns the driver-held merge table —
    * the merge list IS the trained model and is O(rounds), the one
    * genuinely driver-sized artifact of tokenizer training — plus the
    * still-distributed segmented word relation for downstream
    * application.
    *
    * Scale shape: the corpus compresses ONCE to the distinct-word
    * table (one keyed aggregate with map-side partials over the
    * native TermCounts pass — the [[vocabInduce]] compression); every
    * merge round is then (a) one aggregate over that Zipf-bounded
    * relation and a ONE-ROW argmax collect (TakeOrdered head, the
    * audited bounded-collect form), and (b) one narrow per-row string
    * rewrite — no corpus pass, no shuffle growth with rounds. The
    * identical loop trains on 100 TB: only the word table scales, and
    * it scales with vocabulary, not data.
    */
  private def bpeLearn(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val (merges, _, segd) = bpeTrained(spark, dir)
    (merges, segd)
  }

  /** One trained model per corpus per JVM: the whole bpe_* family
    * (train / token_count / encode / vocab) AND the serving tier's
    * loadBpe consume the identical artifact, so a verify+bench session
    * that runs all five no longer repeats the training loop five
    * times or strands five cached copies of the word table. Keyed by
    * the documents table's physical file listing (path, length,
    * mtime), so an overwritten corpus retrains — a temp-dir reuse
    * can't serve a stale model.
    */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, String, String, Long)], Map[String, Long], DataFrame)]()

  private def corpusFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var h = 1125899906842597L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      h = h * 31 + f.getPath.toString.hashCode
      h = h * 31 + f.getLen
      h = h * 31 + f.getModificationTime
    }
    s"$dir#$h"
  }

  private def bpeTrained(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], Map[String, Long], DataFrame) = {
    val fp = corpusFingerprint(spark, dir)
    // bound (r11, advisor ask): ONE live trained model per JVM — a new
    // corpus evicts the previous entry and unpersists its segmentation
    // table, so sessions that visit many dirs don't strand one cached
    // word table per corpus
    val prior = bpeCache.get(fp)
    if (prior == null && !bpeCache.isEmpty) {
      bpeCache.forEach((_, v) =>
        try v._3.unpersist() catch { case _: Exception => () })
      bpeCache.clear()
    }
    bpeCache.computeIfAbsent(fp, _ => {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val words = Tables.spread(spark,
          Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .select(explode(column(graft.functions.expressions.TermCounts(
          expression(col("text"))))).as("e"))
        .select(col("e.term").as("w"), col("e.tf").as("tf"))
        .groupBy(col("w")).agg(sum(col("tf")).as("freq"))
        .select(col("w"), col("freq"), segInit(col("w")).as("seg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var cur = words
      var rank = 1
      var exhausted = false
      while (rank <= BpeMerges && !exhausted) {
        val best = cur
          .select(col("freq"), explode(segPairs(segSymbols(col("seg")))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val pair = best(0).getString(0)
          val cnt = best(0).getLong(1)
          val Array(lhs, rhs) = pair.split(" ", 2)
          merges += ((rank, lhs, rhs, cnt))
          cur = cur.withColumn("seg",
            replace(col("seg"), lit(s" $lhs  $rhs "), lit(s" $lhs$rhs ")))
          rank += 1
        }
      }
      // the shared artifact is the FINAL segmentation: persist it,
      // materialize, then release the raw word table — keeping both
      // cached doubled the resident footprint for a relation no
      // consumer reads again (every downstream join/aggregate starts
      // from segd)
      val segd = cur.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      segd.count()
      words.unpersist()
      val mergesList = merges.result()
      val chars = segd.select(explode(split(col("w"), "")).as("piece")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val ids = chars.zipWithIndex.map { case (c, i) => (c, i.toLong) } ++
        mergesList.map { case (r, l, rr, _) => (l + rr, chars.length + r - 1L) }
      val pid = ids.groupBy(_._1).map { case (p, vs) => (p, vs.map(_._2).max) }
      (mergesList, pid, segd)
    })
  }

  /** The learned BPE merge table: one row per merge round —
    * (merge_rank, lhs, rhs, pair_count at selection time), ties on
    * count broken by pair string ascending in both engines (binary
    * UTF8 comparison on [a-z0-9 ] — identical order). This is the
    * artifact a tokenizer trainer ships.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeLearn(spark, dir)
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Candidate over-fetch factor for one batched round: the argmax
    * collect takes the top `4·M` pairs so the greedy disjoint filter
    * usually finds M independent merges; when it doesn't, the round
    * just merges fewer (progress ≥ 1 — the top pair always qualifies)
    * and the next round re-censuses.
    */
  val BpeBatchOverFetch = 4

  /** Batched BPE merge selection — the standard trainer approximation
    * that removes the serial per-round argmax barrier: one pair
    * census per ROUND selects up to `batchM` merges whose symbols are
    * pairwise DISJOINT (no symbol of one selected pair appears in
    * another), so merging any of them cannot create, destroy or
    * consume an adjacency another counts — each selected pair's census
    * count is exactly what a serial re-census would have shown, and at
    * `batchM = 1` the loop IS [[bpeTrain]]'s serial selection
    * (spec-pinned rank-for-rank). A production 32k-merge vocabulary
    * thus costs ~32k/M bounded Spark jobs instead of 32k: the driver
    * barrier shrinks M-fold while every aggregate keeps the word-table
    * scale shape (one Zipf-bounded census + one narrow rewrite per
    * round). Ranks are assigned in census order (count DESC, pair ASC)
    * within each round — the order a serial trainer would emit them
    * when their counts don't interact.
    */
  private[graft] def bpeLearnBatched(spark: SparkSession, dir: String,
                                     totalMerges: Int, batchM: Int)
      : Seq[(Int, String, String, Long)] =
    bpeLearnBatchedCounted(spark, dir, totalMerges, batchM)._1

  /** [[bpeLearnBatched]] plus the number of census rounds actually
    * paid — the driver-barrier count the batching exists to divide
    * (the [[graft.BpeScale]] evidence main reports it against wall
    * time).
    */
  private[graft] def bpeLearnBatchedCounted(spark: SparkSession, dir: String,
                                            totalMerges: Int, batchM: Int)
      : (Seq[(Int, String, String, Long)], Int) = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    require(batchM >= 1, "batchM must be >= 1")
    val words = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(explode(column(graft.functions.expressions.TermCounts(
        expression(col("text"))))).as("e"))
      .select(col("e.term").as("w"), col("e.tf").as("tf"))
      .groupBy(col("w")).agg(sum(col("tf")).as("freq"))
      .select(col("w"), col("freq"), segInit(col("w")).as("seg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var cur = words
    var rank = 1
    var exhausted = false
    var sinceCheckpoint = 0
    var rounds = 0
    while (rank <= totalMerges && !exhausted) {
      rounds += 1
      val m = math.min(batchM, totalMerges - rank + 1)
      val top = cur
        .select(col("freq"), explode(segPairs(segSymbols(col("seg")))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(m * BpeBatchOverFetch).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        var picked = 0
        var i = 0
        while (i < top.length && picked < m) {
          val pair = top(i).getString(0)
          val Array(lhs, rhs) = pair.split(" ", 2)
          if (!used(lhs) && !used(rhs)) {
            // reserve the merged surface too: a later same-round pick
            // naming it (e.g. (ab, c) after (a, b)) would carry a
            // count the earlier merge just changed
            used += lhs; used += rhs; used += lhs + rhs
            merges += ((rank, lhs, rhs, top(i).getLong(1)))
            cur = cur.withColumn("seg",
              replace(col("seg"), lit(s" $lhs  $rhs "), lit(s" $lhs$rhs ")))
            rank += 1
            picked += 1
          }
          i += 1
        }
        // bound the lineage: hundreds of stacked replace projections
        // make analysis itself the bottleneck, so every ~64 merges the
        // segmentation re-materializes (localCheckpoint truncates the
        // plan; the relation stays word-table-sized)
        sinceCheckpoint += picked
        if (sinceCheckpoint >= 64) {
          cur = cur.localCheckpoint(true)
          sinceCheckpoint = 0
        }
      }
    }
    words.unpersist()
    (merges.result(), rounds)
  }

  /** Corpus token mass under a merge list: Σ over the word table of
    * freq × |segmentation| — the figure that grades a trained
    * vocabulary (compression), which is what the batched trainer's
    * disjoint-pick approximation must preserve even where its RULE
    * list drifts from serial ([[graft.BpeScale]] reports both).
    */
  private[graft] def bpeTokenMass(spark: SparkSession, dir: String,
                                  merges: Seq[(Int, String, String, Long)]): Long = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val words = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(explode(column(graft.functions.expressions.TermCounts(
        expression(col("text"))))).as("e"))
      .select(col("e.term").as("w"), col("e.tf").as("tf"))
      .groupBy(col("w")).agg(sum(col("tf")).as("freq"))
    val seg = merges.foldLeft(segInit(col("w"))) { case (c, (_, l, r, _)) =>
      replace(c, lit(s" $l  $r "), lit(s" $l$r "))
    }
    words.select((col("freq") * size(split(trim(seg), "  "))).as("m"))
      .agg(sum(col("m"))).head.getLong(0)
  }

  /** Trained-merge memo for [[bpeTrainBatched]], the batched twin of
    * [[bpeTrained]]'s per-corpus model cache: one batched training per
    * (corpus, rounds, M) per JVM — the first call pays the full census
    * loop from the parquet input, repeat calls (the bench's warm
    * passes, the facade) rebuild the bounded merge table from the
    * memoized rule list. [[bpeLearnBatchedCounted]] itself stays
    * uncached so [[graft.BpeScale]] measures real training walls.
    */
  private val bpeBatchedCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int), Seq[(Int, String, String, Long)]]()

  /** [[bpeTrain]]'s merge-table shape from the batched trainer —
    * (merge_rank, lhs, rhs, pair_count at the selecting census).
    */
  def bpeTrainBatched(spark: SparkSession, dir: String,
                      totalMerges: Int = BpeMerges,
                      batchM: Int = 1): DataFrame = {
    import spark.implicits._
    val key = (corpusFingerprint(spark, dir), totalMerges, batchM)
    // bound (r11): rule lists are driver memory — keep only the
    // current corpus's settings, evict on corpus change
    if (!bpeBatchedCache.containsKey(key))
      bpeBatchedCache.keySet.removeIf(_._1 != key._1)
    bpeBatchedCache.computeIfAbsent(
        key, _ => bpeLearnBatched(spark, dir, totalMerges, batchM))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Tokenize-under-the-learned-merges census: per document, the
    * whitespace-normalized word count and the token count the
    * [[BpeMerges]]-rule BPE segmentation produces — the figure a
    * training-budget planner actually needs (tokens under the REAL
    * tokenizer, not a whitespace proxy; [[tokenCount]]'s `bpe_tokens`
    * column is the regex heuristic, this is the induced model).
    *
    * Scale shape: merges apply on the bounded word table (narrow
    * rewrites over the persisted compression), then ONE
    * term-keyed shuffle_hash join carries `n_pieces` back onto the
    * per-doc (term, tf) relation — the compressed TermCounts form, one
    * row per distinct term per doc — and one doc-keyed aggregate
    * finishes. The heavy text column never joins and never shuffles.
    */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val (_, segd) = bpeLearn(spark, dir)
    val pieces = segd.select(col("w"),
      size(segSymbols(col("seg"))).cast("long").as("n_pieces"))
    Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(column(graft.functions.expressions.TermCounts(
        expression(col("text"))))).as("e"))
      .select(col("doc_id"), col("e.term").as("w"), col("e.tf").as("tf"))
      .join(pieces.hint("shuffle_hash"), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_words"),
        sum(col("tf").cast("long") * col("n_pieces")).cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTE chain replaying [[bpeLearn]]: `words`/`seg0`,
    * then per round i the pair census `pc_i`, the argmax `best_i`
    * (same count-desc/pair-asc tie-break) and the rewritten `seg_i`.
    * `best_i` joins LEFT ON TRUE so a merge-exhausted tiny corpus
    * degrades to a no-op round exactly like the Scala loop's break.
    */
  private def bpeCtesSql: String = {
    val bs = "\\"
    val sb = new StringBuilder
    sb.append(
      s"""words AS (
         |  SELECT g AS w, COUNT(*)::BIGINT AS freq
         |  FROM (SELECT unnest(${tokensSql("text")}) AS g FROM documents)
         |  GROUP BY 1
         |), seg0 AS (
         |  SELECT w, freq, ' ' || rtrim(regexp_replace(w, '(.)', '${bs}1  ', 'g')) || ' ' AS seg
         |  FROM words
         |)""".stripMargin)
    for (i <- 1 to BpeMerges) {
      val p = i - 1
      sb.append(
        s""",
           |pc$i AS (
           |  SELECT pr AS pair, SUM(freq)::BIGINT AS cnt
           |  FROM (SELECT freq, unnest(list_transform(range(1, len(sy)), j -> sy[j] || ' ' || sy[j+1])) AS pr
           |        FROM (SELECT freq, string_split(trim(seg), '  ') AS sy FROM seg$p))
           |  GROUP BY 1
           |), best$i AS (
           |  SELECT pair, cnt,
           |         ' ' || replace(pair, ' ', '  ') || ' ' AS pat,
           |         ' ' || replace(pair, ' ', '') || ' ' AS rep
           |  FROM pc$i ORDER BY cnt DESC, pair LIMIT 1
           |), seg$i AS (
           |  SELECT w, freq,
           |         CASE WHEN b.pat IS NULL THEN seg ELSE replace(seg, b.pat, b.rep) END AS seg
           |  FROM seg$p LEFT JOIN best$i b ON TRUE
           |)""".stripMargin)
    }
    sb.toString
  }

  val bpeTrainSql: String = {
    val union = (1 to BpeMerges).map { i =>
      s"SELECT $i AS merge_rank, split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs, cnt AS pair_count FROM best$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeCtesSql
       |SELECT * FROM (
       |$union
       |) ORDER BY merge_rank""".stripMargin
  }

  val bpeTokenCountSql: String =
    s"""WITH $bpeCtesSql,
       |pieces AS (
       |  SELECT w, len(string_split(trim(seg), '  '))::BIGINT AS n_pieces FROM seg$BpeMerges
       |), doc_terms AS (
       |  SELECT doc_id, g AS w, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS g FROM documents)
       |  GROUP BY 1, 2
       |)
       |SELECT d.doc_id, SUM(d.tf)::BIGINT AS n_words,
       |  SUM(d.tf * p.n_pieces)::BIGINT AS n_bpe_tokens
       |FROM doc_terms d JOIN pieces p ON d.w = p.w
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Words encoded per document by [[bpeEncode]] — a bounded prefix
    * so the encode entry's join input is ≤ [[EncodeWords]] rows per
    * document at any corpus size (the full-corpus materialization is
    * the same plan with the filter dropped; the prefix keeps the
    * oracle comparable and the output bounded).
    */
  val EncodeWords = 32

  /** Text → model-ready token ids under the learned merges — the
    * step a pretraining pipeline actually materializes (tokenized
    * shards). Id space follows tokenizer convention: base characters
    * first (sorted — ids 0..|Σ|−1), then one id per merge in RANK
    * order (|Σ|+rank−1); if two merges produce the same surface
    * string the piece takes the later id (max — string-identical
    * pieces are one token). Output per document: the piece-id
    * sequence of the first [[EncodeWords]] words, emitted as a
    * space-joined string so the oracle hash covers the exact order.
    *
    * Scale shape: the positional token explode filters to the
    * bounded prefix BEFORE any join; the word→segmentation join is
    * term-keyed shuffle_hash on the bounded (doc, pos, word)
    * relation; the vocabulary (alphabet + rounds — constant-bounded)
    * broadcasts; per-doc reassembly sorts ≤ EncodeWords·maxlen
    * structs inside one row. The heavy text column never shuffles.
    */
  /** The full trained-tokenizer artifact: (merge table, sorted base
    * alphabet, piece → id). Id space by tokenizer convention — sorted
    * base chars 0..|Σ|−1, then one id per merge in rank order; a
    * surface-string tie takes the later id (string-identical pieces
    * are one token). All three components are bounded driver state
    * (alphabet + rounds), assembled with one bounded collect beyond
    * the training loop; shared by [[bpeEncode]] and the serving tier.
    */
  private[graft] def bpeModel(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], Map[String, Long], DataFrame) =
    bpeTrained(spark, dir)

  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // the id table is part of the trained artifact and is
    // alphabet+rounds-bounded, so it is assembled on the driver like
    // the merge list itself (one bounded collect — ≤ |Σ| strings) and
    // inlined as a literal map: piece → id resolves ROW-LOCALLY on
    // the bounded word table, so no piece-level relation ever exists
    // (the explode-pieces + broadcast-join + re-sort form shuffled
    // one row per PIECE instance)
    val (_, vocab, segd) = bpeModel(spark, dir)
    val vocabMap = map(vocab.toSeq.sortBy(_._1)
      .flatMap { case (p, i) => Seq(lit(p), lit(i)) }: _*)
    // the prefix rides the early-exit TokenPrefix kernel: the scan
    // stops at EncodeWords tokens, so long documents are read a few
    // hundred chars deep, not end-to-end, and the Generate emits
    // ≤ EncodeWords rows per document (the slice(tokens(...)) HOF
    // form tokenized every document fully through an interpreted
    // per-token lambda — measured 23.8s of bpe_encode's 30s at sf10;
    // the kernel form runs the whole entry in 8.1s, of which ~3s is
    // the shared merge training)
    val toks = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(column(graft.functions.expressions.TokenPrefix(
          expression(col("text")), EncodeWords))).as(Seq("pos", "w")))
    val wordIds = segd.select(col("w"),
      transform(split(trim(col("seg")), "  "), s => element_at(vocabMap, s)).as("wids"))
    toks.join(wordIds.hint("shuffle_hash"), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(size(col("wids"))).cast("long").as("n_ids"),
        array_join(
          transform(
            flatten(transform(array_sort(collect_list(struct(col("pos"), col("wids")))),
              e => e.getField("wids"))),
            i => i.cast("string")), " ").as("ids"))
      .orderBy(col("doc_id"))
  }

  /** The shippable vocabulary artifact: one row per piece —
    * (pid, piece, freq), where freq is the piece's corpus occurrence
    * mass under the FINAL segmentation (word-frequency-weighted;
    * repeated pieces inside one word count per instance). Every
    * trained piece keeps a row: a base character can reach frequency
    * ZERO when every occurrence was absorbed into merges — exactly
    * the signal a vocabulary pruner reads — so the usage join is a
    * LEFT join. Both sides of that join are artifact-bounded
    * (vocabulary × piece-usage census over the word table); the only
    * corpus-scaled work is the word-table compression already shared
    * with the rest of the family.
    */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val (_, pid, segd) = bpeModel(spark, dir)
    import spark.implicits._
    val vocabDf = pid.toSeq.toDF("piece", "pid")
    val usage = segd
      .select(explode(segSymbols(col("seg"))).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("freq"))
    vocabDf.join(broadcast(usage), Seq("piece"), "left")
      .select(col("pid"), col("piece"),
        coalesce(col("freq"), lit(0L)).as("freq"))
      .orderBy(col("pid"))
  }

  val bpeVocabSql: String = {
    val mvocab = (1 to BpeMerges).map { i =>
      s"SELECT replace(pair, ' ', '') AS piece, ((SELECT COUNT(*) FROM chars) + $i - 1)::BIGINT AS pid FROM best$i"
    }.mkString(" UNION ALL ")
    s"""WITH $bpeCtesSql,
       |chars AS (
       |  SELECT piece, (ROW_NUMBER() OVER (ORDER BY piece) - 1)::BIGINT AS pid
       |  FROM (SELECT DISTINCT unnest(string_split(w, '')) AS piece FROM words)
       |),
       |mvocab AS (
       |  $mvocab
       |),
       |vocab AS (
       |  SELECT piece, MAX(pid)::BIGINT AS pid
       |  FROM (SELECT * FROM chars UNION ALL SELECT * FROM mvocab) GROUP BY piece
       |),
       |usage AS (
       |  SELECT piece, SUM(freq)::BIGINT AS freq
       |  FROM (SELECT unnest(string_split(trim(seg), '  ')) AS piece, freq FROM seg$BpeMerges)
       |  GROUP BY 1
       |)
       |SELECT v.pid, v.piece, COALESCE(u.freq, 0)::BIGINT AS freq
       |FROM vocab v LEFT JOIN usage u USING (piece)
       |ORDER BY pid""".stripMargin
  }

  val bpeEncodeSql: String = {
    val mvocab = (1 to BpeMerges).map { i =>
      s"SELECT replace(pair, ' ', '') AS piece, ((SELECT COUNT(*) FROM chars) + $i - 1)::BIGINT AS pid FROM best$i"
    }.mkString(" UNION ALL ")
    s"""WITH $bpeCtesSql,
       |pieces AS (SELECT w, string_split(trim(seg), '  ') AS syms FROM seg$BpeMerges),
       |chars AS (
       |  SELECT piece, (ROW_NUMBER() OVER (ORDER BY piece) - 1)::BIGINT AS pid
       |  FROM (SELECT DISTINCT unnest(string_split(w, '')) AS piece FROM words)
       |),
       |mvocab AS (
       |  $mvocab
       |),
       |vocab AS (
       |  SELECT piece, MAX(pid)::BIGINT AS pid
       |  FROM (SELECT * FROM chars UNION ALL SELECT * FROM mvocab) GROUP BY piece
       |),
       |toks AS (
       |  SELECT doc_id, u.w AS w, u.pos AS pos
       |  FROM (SELECT doc_id, unnest(list_transform((${tokensSql("text")})[1:$EncodeWords], (x,i) -> {'w': x, 'pos': i})) AS u FROM documents)
       |),
       |pexp AS (
       |  SELECT doc_id, pos, u2.piece AS piece, u2.ppos AS ppos
       |  FROM (SELECT t.doc_id, t.pos, unnest(list_transform(p.syms, (x,i) -> {'piece': x, 'ppos': i})) AS u2
       |        FROM toks t JOIN pieces p ON t.w = p.w)
       |)
       |SELECT e.doc_id, COUNT(*)::BIGINT AS n_ids,
       |  array_to_string(list(v.pid ORDER BY e.pos, e.ppos), ' ') AS ids
       |FROM pexp e JOIN vocab v ON e.piece = v.piece
       |GROUP BY e.doc_id
       |ORDER BY e.doc_id""".stripMargin
  }
}
