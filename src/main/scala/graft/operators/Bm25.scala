package graft.operators

import graft.{OracleNum, Tables}
import graft.functions.TextFunctions._
import graft.functions.expressions.Tok
import graft.plans.ScoreTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse retrieval: Okapi BM25 over the documents table.
  *
  * Reference surface: grape-vector-db src/sparse.rs (SparseIndex
  * search_bm25, k1=1.2 b=0.75, idf = ln((N - df + 0.5) / (df + 0.5)))
  * and the SimpleTokenizer (src/sparse.rs:288). The reference
  * normalizes term frequencies to relative frequencies, which makes
  * its document_length identically 1.0 and degenerates BM25 length
  * normalization; this engine keeps standard Robertson BM25 with
  * dl = token count — the semantics the reference's parameters are
  * designed for.
  *
  * Scale design: each doc maps to its [dl, tf_0..tf_k] query-term
  * sketch in one pass over the cached token arrays; df/N/avgdl
  * collapse into ONE shuffle-free scalar aggregate over the sketches
  * and scoring is a broadcast map ranked by TakeOrderedAndProject —
  * zero keyed shuffles per query. For repeated-query serving the
  * posting table is materialized once, bucketed by term
  * ([[buildPostingTable]]), maintained log-structured
  * ([[addDocuments]]/[[removeDocuments]]/[[compactPostingTable]]).
  */
object Bm25 {
  import OracleNum.{fx, fxSql}

  val K1 = 1.2
  val B  = 0.75

  val DefaultQuery = "spark vector join stream window"

  def search(spark: SparkSession, dir: String,
             query: String = DefaultQuery, k: Int = 20,
             k1: Double = K1, b: Double = B): DataFrame =
    searchDocs(spark, Tables.documents(spark, dir), query, k, k1, b)

  /** [[search]] over an arbitrary `(doc_id, text, ...)` corpus frame.
    *
    * Single-aggregate formulation: each doc maps to its
    * [dl, tf_0..tf_{k-1}] sketch (native
    * [[graft.functions.expressions.TokenTfs]], one array scan); corpus
    * stats (n_docs, avgdl, per-term df) are ONE shuffle-free scalar
    * aggregate over those sketches; scoring is a map over the same
    * sketches with the stats broadcast, ranked by
    * TakeOrderedAndProject. Two cache passes + one broadcast total —
    * the earlier explode + groupBy(doc,term) + groupBy(term) +
    * two-broadcast-join pipeline paid three keyed shuffles for the
    * same numbers (identical IEEE arithmetic per term; a zero tf
    * contributes exactly 0.0 to the sum, mirroring the absent join
    * row).
    */
  def searchDocs(spark: SparkSession, docs: DataFrame,
                 query: String = DefaultQuery, k: Int = 20,
                 k1: Double = K1, b: Double = B): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val terms = Tok.terms(query)
    // a stopword-only / too-short query has no searchable terms: the
    // sparse branch degrades to empty (the pre-sketch formulation's
    // isin() over zero terms did the same) instead of building an
    // empty-reduce plan
    if (terms.isEmpty)
      return docs.select(col("doc_id"), lit(0L).as("score", ScoreTag.metadata)).filter(lit(false))
    // tokenization is the scan-side cost shared by every sparse query
    // (bm25 + all five fusion strategies run it per branch); persist
    // lets Spark's cache manager serve all of them from one pass.
    // At 100 TB this is the posting table you would materialize once,
    // bucketed by term.
    val toks = Tables.spread(spark, docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = toks.select(col("doc_id"),
      column(graft.functions.expressions.TokenTfs(
        expression(col("toks")), terms)).as("c"))
    val dl = col("c").getItem(0)
    val aggExprs = count(lit(1)).as("n_docs") +: avg(dl).as("avgdl") +:
      terms.indices.map(j =>
        sum((col("c").getItem(j + 1) > 0).cast("long")).cast("double").as(s"df$j"))
    val stats = counts.agg(aggExprs.head, aggExprs.tail: _*)
    val termScores = terms.indices.map { j =>
      val tf = col("c").getItem(j + 1).cast("double")
      val idf = log((col("n_docs") - col(s"df$j") + 0.5) / (col(s"df$j") + 0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / col("avgdl"))))
    }
    counts
      .filter(terms.indices.map(j => col("c").getItem(j + 1)).reduce(_ + _) > 0)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), fx(termScores.reduce(_ + _), 6).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def searchSql(query: String = DefaultQuery, k: Int = 20): String =
    searchSqlOver("documents", query, k)

  /** [[searchSql]] over an arbitrary corpus relation (SQL text) — the
    * oracle twin of [[searchDocs]]'s corpus-frame parameter.
    */
  def searchSqlOver(corpus: String, query: String = DefaultQuery, k: Int = 20): String = {
    val terms = Tok.terms(query).map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM $corpus
       |), lens AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl FROM toks
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
       |), posting AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term FROM toks
       |), tf AS (
       |  SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
       |  FROM posting WHERE term IN $terms
       |  GROUP BY doc_id, dl, term
       |), dfs AS (
       |  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term
       |)
       |SELECT tf.doc_id,
       |  ${fxSql(s"SUM(ln((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) * (tf.tf * ${K1 + 1.0}) / (tf.tf + $K1 * ((1.0 - $B) + $B * (tf.dl / stats.avgdl))))", 6)} AS score
       |FROM tf JOIN dfs USING (term), stats
       |GROUP BY tf.doc_id
       |ORDER BY score DESC, tf.doc_id
       |LIMIT $k""".stripMargin
  }

  /** Materialize the exploded posting table (doc_id, dl, term)
    * bucketed by term — the 100 TB BM25 serving layout. Per-term
    * aggregates (df) and per-query term joins then read pre-hashed
    * buckets: no Exchange in the plan (verified in ExtensionsSpec),
    * so repeated queries never reshuffle the corpus.
    */
  def buildPostingTable(spark: SparkSession, dir: String,
                        tableName: String, buckets: Int = 8): Unit = {
    postingRows(
      Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text"))),
      gen = 0L)
      .write.mode("overwrite")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .saveAsTable(tableName)
    emptyDeleteLog(spark).write.mode("overwrite").saveAsTable(deleteLogTable(tableName))
  }

  // ----- incremental maintenance -------------------------------------------
  //
  // The reference maintains its BM25 inverted index incrementally:
  // sparse.rs add_document (src/sparse.rs:71) tokenizes one document and
  // patches its postings in place; remove_document (src/sparse.rs:110)
  // walks the posting lists and deletes the doc's entries. In-place
  // mutation is not a columnar-store operation, so the Spark-first
  // re-expression is LOG-STRUCTURED: adds APPEND new bucket files to the
  // bucketed posting table (O(delta) write — the corpus is never
  // rewritten), and deletes/replacements APPEND to a tiny generation-
  // stamped delete log. The probe-side live view filters dead
  // generations with one broadcast join (the log is orders of magnitude
  // smaller than the corpus between compactions), so probe plans gain NO
  // shuffle Exchange over the freshly-built table — verified in
  // ExtensionsSpec. [[compactPostingTable]] folds the log back in, the
  // same merge-on-compaction contract as the store path
  // (sources/Ingest.compact; advanced_storage.rs maintenance).
  //
  // Generations are caller-assigned and monotonically increasing per
  // maintained table (the batch analogue of the reference's sequential
  // single-writer API).

  /** Delete-log side table: `(doc_id, del_gen)` — a row kills every
    * posting of `doc_id` with `gen <= del_gen`. */
  def deleteLogTable(tableName: String): String = tableName + "_dels"

  private def emptyDeleteLog(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"), col("id").as("del_gen"))

  /** Exploded postings for a `(doc_id, text)` batch at a generation. */
  private def postingRows(docs: DataFrame, gen: Long): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"), lit(gen).as("gen"))

  /** add_document (src/sparse.rs:71), upsert semantics: append the
    * batch's postings at `gen` and supersede any earlier generation of
    * the same doc ids. `buckets` must match the table's bucket spec
    * (Spark rejects a mismatched append).
    */
  def addDocuments(spark: SparkSession, tableName: String,
                   docs: DataFrame, gen: Long, buckets: Int = 8): Unit = {
    // tombstones FIRST: each append job is atomic but the pair is not,
    // and a crash between them must leave a retry-safe state. Dels
    // before postings → a retry re-appends dels (duplicate tombstone
    // rows are a no-op for the livePostings anti-join) and then lands
    // the postings once; postings-first would let a crash strand a
    // generation whose superseded predecessors are never killed.
    docs.select(col("doc_id"), lit(gen - 1L).as("del_gen"))
      .write.mode("append").saveAsTable(deleteLogTable(tableName))
    postingRows(docs, gen)
      .write.mode("append")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .saveAsTable(tableName)
  }

  /** remove_document (src/sparse.rs:110): append tombstones killing
    * every posting of the given ids up to and including `gen`. */
  def removeDocuments(spark: SparkSession, tableName: String,
                      docIds: Seq[Long], gen: Long): Unit = {
    import spark.implicits._
    docIds.toDF("doc_id").select(col("doc_id"), lit(gen).as("del_gen"))
      .write.mode("append").saveAsTable(deleteLogTable(tableName))
  }

  /** Live view of a maintained posting table: postings minus
    * superseded/deleted generations. One broadcast of the per-doc max
    * tombstone — the posting side is scanned in place (bucketed, no
    * shuffle).
    */
  def livePostings(spark: SparkSession, tableName: String): DataFrame = {
    val posting = spark.table(tableName)
    val dels = spark.table(deleteLogTable(tableName))
    // broadcast ANTI join (no log-side aggregation): a posting row dies
    // if ANY tombstone for its doc covers its generation. The whole
    // live view adds zero shuffle Exchanges over the bare table scan —
    // asserted in ExtensionsSpec.
    posting.join(broadcast(dels),
      posting("doc_id") === dels("doc_id") && posting("gen") <= dels("del_gen"),
      "left_anti")
  }

  /** Fold the delete log into the posting table: rewrite live rows as
    * a fresh bucketed table and clear the log. Run periodically after
    * incremental maintenance has grown the log / bucket file count
    * (advanced_storage.rs maintenance; same contract as
    * sources/Ingest.compact for the document store).
    */
  def compactPostingTable(spark: SparkSession, tableName: String,
                          buckets: Int = 8): Unit = {
    val tmp = tableName + "_compacting"
    val retired = tableName + "_retired"
    livePostings(spark, tableName)
      .write.mode("overwrite")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .saveAsTable(tmp)
    // swap via renames, dropping data only at the very end: the old
    // DROP-then-RENAME order deleted the live table's data first, so a
    // crash in between lost the index outright. Here any crash leaves
    // every row present under tableName, _compacting or _retired —
    // recovery is a metadata rename, never a rebuild.
    spark.sql(s"ALTER TABLE $tableName RENAME TO $retired")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $tableName")
    emptyDeleteLog(spark).write.mode("overwrite").saveAsTable(deleteLogTable(tableName))
    spark.sql(s"DROP TABLE $retired")
  }

  /** Index observability over a maintained posting table (reference
    * src/sparse.rs:225 get_stats, :244 get_memory_usage_mb): document
    * and distinct-term counts, average document length, live posting
    * rows, and an estimated in-memory byte footprint (term bytes +
    * ~20 bytes of numeric columns per row — the columnar analogue of
    * the reference's HashMap accounting). One row; the per-doc branch
    * and the term-distinct branch are both single aggregates over the
    * live view joined by a constant — no corpus shuffle beyond the
    * doc_id/term hash aggregates themselves.
    */
  def postingStats(spark: SparkSession, tableName: String): DataFrame = {
    val live = livePostings(spark, tableName)
    val byDoc = live.groupBy(col("doc_id")).agg(
      first(col("dl")).as("dl"),
      count(lit(1)).as("n_rows"),
      sum(length(col("term"))).cast("long").as("term_bytes"))
    val docAgg = byDoc.agg(
      count(lit(1)).as("n_docs"),
      coalesce(avg(col("dl")), lit(0.0)).as("avgdl"),
      coalesce(sum(col("n_rows")), lit(0L)).as("n_posting_rows"),
      coalesce(sum(col("term_bytes")), lit(0L)).as("term_bytes"))
    val termAgg = live.agg(countDistinct(col("term")).as("n_terms"))
    docAgg.crossJoin(broadcast(termAgg))
      .select(col("n_docs"), col("n_terms"), col("avgdl"),
        col("n_posting_rows"),
        (col("term_bytes") + lit(20L) * col("n_posting_rows")).as("est_bytes"))
  }

  /** clear (src/sparse.rs:230): truncate the posting table and its
    * delete log, preserving the bucketed layout so maintenance can
    * resume with the same spec. */
  def clearPostingTable(spark: SparkSession, tableName: String,
                        buckets: Int = 8): Unit = {
    spark.range(0).select(col("id").as("doc_id"), col("id").as("dl"),
        lit("").as("term"), col("id").as("gen"))
      .write.mode("overwrite")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .saveAsTable(tableName)
    emptyDeleteLog(spark).write.mode("overwrite").saveAsTable(deleteLogTable(tableName))
  }

  /** BM25 over a pre-built bucketed posting table (same scores as
    * [[search]]; the scan side is the materialized index, read through
    * the [[livePostings]] view so incremental adds/removes are visible
    * without a rebuild).
    */
  def searchFromTable(spark: SparkSession, tableName: String,
                      query: String = DefaultQuery, k: Int = 20): DataFrame = {
    val terms = Tok.terms(query)
    val posting = livePostings(spark, tableName)
    val lens = posting.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = posting
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val score = idf * (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / col("avgdl"))))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("term_score"))
      .groupBy(col("doc_id"))
      .agg(OracleNum.fx(sum(col("term_score")), 6).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Simple token-containment text search (reference
    * src/hybrid.rs:619 simple_text_search): +1 per query term whose
    * lowercase substring occurs in the content; rows with score > 0,
    * top-k. One full-scan predicate per term — no index needed, and
    * the scan is a single parquet pass at any scale.
    */
  def textSearch(spark: SparkSession, dir: String,
                 query: String = DefaultQuery, k: Int = 20): DataFrame =
    textSearchDocs(Tables.documents(spark, dir), query, k)

  /** [[textSearch]] over an arbitrary `(doc_id, text, ...)` corpus
    * frame (the filtered-search composition point).
    */
  def textSearchDocs(docs: DataFrame,
                     query: String = DefaultQuery, k: Int = 20): DataFrame = {
    val terms = Tok.words(query).distinct
    val content = lower(col("text"))
    val score = terms.map(t => when(content.contains(t), 1L).otherwise(0L))
      .reduce(_ + _)
    docs
      .select(col("doc_id"), score.as("score", ScoreTag.metadata))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-document sparse vector representation (reference
    * src/sparse.rs:333 document_to_sparse_vector + :288 tokenize):
    * one (doc_id, term_id, weight) row per distinct term, weight =
    * relative term frequency tf / total_tokens, rows sorted by term
    * id within a doc. The reference enumerates an in-memory
    * vocabulary HashSet into arbitrary u32 ids; the scalable
    * re-expression is a content-derived stable id (md5-based hash60)
    * — no global vocabulary pass, no driver state, identical ids on
    * any cluster.
    */
  def sparseVectors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // one-pass native sketch (tokenize → tf map → (term_id, weight)
    // structs, zero shuffle) — same values as the relational
    // explode + groupBy(doc,term) + per-doc-window formulation, which
    // paid two keyed shuffles; the only remaining sort is oracle-only
    val tfs = column(graft.functions.expressions.TermFreqs(expression(col("text"))))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(tfs).as("e"))
      .select(col("doc_id"), col("e.term_id").as("term_id"), col("e.weight").as("weight"))
      .orderBy(col("doc_id"), col("term_id"))
  }

  /** Feedback depth / expansion width / original-term weight for
    * [[prfSearch]]. Expansion term t gets integer weight
    * `PrfTerms − rank(t) + 1` (rank by feedback mass desc, term asc) —
    * a data-independent weight SCALE, so the mixing needs no float
    * normalization; original terms carry `2 × PrfTerms`, keeping the
    * stated intent dominant.
    */
  val PrfDocs = 10
  val PrfTerms = 8
  val PrfOrigWeight: Long = 2L * PrfTerms

  /** Pseudo-relevance-feedback BM25 (RM3 shape — Abdul-Jaleel et al.
    * 2004, integer-weight simplification): run BM25, mine the top
    * [[PrfDocs]] documents for their heaviest non-query terms, then
    * re-score the corpus with the EXPANDED weighted query — the
    * recall-recovery pass for vocabulary-mismatch queries that plain
    * BM25 (and the reference's sparse search) cannot answer.
    *
    * Determinism: every per-(doc, term) BM25 contribution is
    * fx-quantized at 1e-6 BEFORE the weighted per-doc sum, so the
    * final aggregation is INTEGER arithmetic — order-independent and
    * bit-identical cross-engine (the lm_score convention; a raw
    * double SUM over 13+ terms would be at the mercy of aggregation
    * order). Expansion selection is integer feedback mass with a
    * (wfb DESC, term) total order.
    *
    * Scale shape — ONE plan over ONE corpus materialization: the
    * corpus is term-counted in a single
    * [[graft.functions.expressions.TermCounts]] pass (persisted), and
    * EVERY stage consumes that sketch — the feedback BM25 scores its
    * literal query terms via [[graft.functions.expressions.TermLookups]]
    * (a zero-shuffle map; corpus stats + per-orig-term df are ONE
    * scalar aggregate), the feedback TakeOrdered CARRIES each winning
    * doc's sketch so the expansion mine explodes 10 broadcast rows
    * instead of re-scanning the corpus, and the final scoring pass
    * reads the same cache. Expansion terms stay a RELATION — a
    * ≤[[PrfTerms]]-row TakeOrdered subquery ranked by a trivial
    * window, broadcast-joined into the scoring pass rather than
    * collected to the driver (a mid-plan collect costs two extra jobs
    * per query — the interactive latency floor; a second tokenize
    * pass for the feedback arm, the r6 one-plan fold's cost, is gone
    * too). Per-(doc, term) contributions are fx-quantized to integers
    * BEFORE the order-independent per-doc sum; TakeOrdered finishes.
    * No corpus-sized shuffle anywhere: the only exchanges carry
    * ≤terms rows, one stats row, and the doc-keyed integer sum.
    */
  def prfSearch(spark: SparkSession, dir: String,
                query: String = DefaultQuery, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val orig = Tok.terms(query)
    if (orig.isEmpty)
      return docs.select(col("doc_id"), lit(0L).as("score", ScoreTag.metadata)).filter(lit(false))
    // THE corpus pass: per-doc (dl, [(term, tf)]) — every stage below
    // (feedback scoring, stats, expansion mine, final scoring) reads
    // this one cached relation; nothing re-tokenizes
    val tc = Tables.spread(spark, docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        column(graft.functions.expressions.TermCounts(
          expression(col("text")))).as("tc"))
      .select(col("doc_id"),
        expr("aggregate(tc, 0L, (a, e) -> a + e.tf)").as("dl"), col("tc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // feedback arm — value-identical to searchDocs over the same
    // corpus (same IEEE expression tree, same fx(Σ,6) quantization),
    // but riding the shared sketch: orig-term tfs are a TermLookups
    // map and stats + per-orig-term df are ONE aggregate
    val origTfs = tc.select(col("doc_id"), col("dl"), col("tc"),
      column(graft.functions.expressions.TermLookups(
        expression(col("tc")), orig)).as("otf"))
    val statsAgg = count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +:
      orig.indices.map(j =>
        sum((col("otf").getItem(j) > 0).cast("long")).cast("double").as(s"df$j"))
    val stats = origTfs.agg(statsAgg.head, statsAgg.tail: _*)
    val fbScore = orig.indices.map { j =>
      val tf = col("otf").getItem(j).cast("double")
      val idf = log((col("n_docs") - col(s"df$j") + 0.5) / (col(s"df$j") + 0.5))
      idf * (tf * lit(K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / col("avgdl"))))
    }.reduce(_ + _)
    // the TakeOrdered carries each feedback doc's sketch: the mine
    // below explodes 10 rows, never the corpus
    val fb = origTfs
      .filter(orig.indices.map(j => col("otf").getItem(j)).reduce(_ + _) > 0)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), fx(fbScore, 6).as("fbscore"), col("tc"))
      .orderBy(col("fbscore").desc, col("doc_id"))
      .limit(PrfDocs)
    // expansion relation: top-PrfTerms feedback terms by integer mass
    // (wfb DESC, term), weight PrfTerms..1 — the 8-row window is over
    // an already-LIMITed relation, never data-sized
    val expansion = fb
      .select(explode(col("tc")).as("e"))
      .select(col("e.term").as("term"), col("e.tf").as("tf"))
      .filter(!col("term").isin(orig: _*))
      .groupBy(col("term")).agg(sum(col("tf")).as("wfb"))
      .orderBy(col("wfb").desc, col("term")).limit(PrfTerms)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("wfb").desc, col("term"))))
      .select(col("term"), (lit(PrfTerms + 1L) - col("rank")).cast("long").as("w"))
    val termRel = orig.map(t => (t, PrfOrigWeight)).toDF("term", "w")
      .unionByName(expansion)
    // per-term df over the matched posting rows — bounded, broadcast;
    // n_docs/avgdl reuse the feedback stats broadcast (same subtree →
    // ReusedExchange, no extra aggregate job)
    val exploded = tc
      .select(col("doc_id"), col("dl"), explode(col("tc")).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.term").as("term"), col("e.tf").as("tf"))
    val matched = exploded.join(broadcast(termRel), Seq("term"))
    val dfRel = matched.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val tf = col("tf").cast("double")
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfPart = (tf * lit(K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / col("avgdl"))))
    matched
      .join(broadcast(dfRel), Seq("term"))
      .crossJoin(broadcast(stats.select(col("n_docs"), col("avgdl"))))
      .select(col("doc_id"), (col("w") * fx(idf * tfPart, 6)).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def prfSearchSql(query: String = DefaultQuery, k: Int = 20): String = {
    val orig = Tok.terms(query)
    val inOrig = orig.map(t => s"'$t'").mkString("(", ", ", ")")
    val origRows = orig.map(t => s"('$t', $PrfOrigWeight)").mkString(", ")
    val score1 = fxSql(
      s"SUM(ln((stats.n_docs - dfs1.df + 0.5) / (dfs1.df + 0.5))" +
      s" * (tf.tf * ${K1 + 1.0}) / (tf.tf + $K1 * ((1.0 - $B) + $B * (tf.dl / stats.avgdl))))", 6)
    val contrib = fxSql(
      s"ln((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))" +
      s" * (tf.tf * ${K1 + 1.0}) / (tf.tf + $K1 * ((1.0 - $B) + $B * (tf.dl / stats.avgdl)))", 6)
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
       |), lens AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl FROM toks
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
       |), posting AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term FROM toks
       |), tf AS (
       |  SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
       |  FROM posting GROUP BY doc_id, dl, term
       |), dfs1 AS (
       |  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS df FROM tf
       |  WHERE term IN $inOrig GROUP BY term
       |), q1 AS (
       |  SELECT tf.doc_id, $score1 AS score
       |  FROM tf JOIN dfs1 USING (term), stats
       |  WHERE term IN $inOrig
       |  GROUP BY tf.doc_id
       |  ORDER BY score DESC, tf.doc_id
       |  LIMIT $PrfDocs
       |), ranked AS (
       |  SELECT term,
       |    ${PrfTerms + 1} - row_number() OVER (ORDER BY wfb DESC, term) AS w
       |  FROM (
       |    SELECT term, CAST(SUM(tf.tf) AS BIGINT) AS wfb
       |    FROM tf JOIN q1 USING (doc_id)
       |    WHERE term NOT IN $inOrig
       |    GROUP BY term
       |  )
       |  ORDER BY wfb DESC, term
       |  LIMIT $PrfTerms
       |), weighted AS (
       |  SELECT * FROM (VALUES $origRows) v(term, w)
       |  UNION ALL SELECT term, w FROM ranked
       |), dfs AS (
       |  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS df FROM tf
       |  WHERE term IN (SELECT term FROM weighted) GROUP BY term
       |)
       |SELECT tf.doc_id, CAST(SUM(weighted.w * $contrib) AS BIGINT) AS score
       |FROM tf
       |JOIN weighted USING (term)
       |JOIN dfs USING (term), stats
       |GROUP BY tf.doc_id
       |ORDER BY score DESC, tf.doc_id
       |LIMIT $k""".stripMargin
  }

  /** Corpus vocabulary with DENSE sequential ids (sparse.rs:318
    * build_vocabulary / hybrid.rs:279 update_vocabulary — the
    * reference enumerates terms into in-memory u32 ids): one row per
    * distinct term with document frequency, collection frequency and
    * a deterministic dense id = rank by (df DESC, term). The
    * retrieval path deliberately does NOT depend on this (it uses
    * content-derived hash ids — no global pass), but the dense-id
    * artifact is what embedding tables and tokenizer exports consume.
    * Per-doc tf pairs are the zero-shuffle native TermCounts sketch;
    * the term aggregate shuffles vocabulary-sized rows only.
    *
    * Output contract: UNSORTED vocabulary-sized relation — the ids
    * are already the global rank, so a trailing sort would buy
    * presentation order only at the price of one more full
    * range-partition exchange (a 1e8-term web vocabulary re-sorted
    * just to be read in id order). Tokenizer exports write the
    * relation partition-parallel; the human-readable head rides
    * [[vocabularyTop]]'s TakeOrdered instead (the same contract
    * split as [[graft.operators.Clustering.graphPagerank]] /
    * `graphPagerankTop`).
    */
  def vocabulary(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val tfs = column(graft.functions.expressions.TermCounts(expression(col("text"))))
    val v = Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(tfs).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
      .groupBy(col("term"))
      // df counts distinct DOCUMENTS (the oracle groups by doc_id
      // first): on a store with duplicate doc_id rows a plain row
      // count would diverge from the document frequency it claims
      .agg(countDistinct(col("doc_id")).as("df"), sum(col("tf")).as("cf"))
    // DISTRIBUTED dense-id assignment (r7 — a web-corpus vocabulary is
    // 1e8+ terms; the old global row_number sorted all of it on ONE
    // partition): range-partition on the rank key, rank locally, add
    // broadcast per-partition prefix offsets. term_id values are
    // identical to the global rank wherever the range boundaries fall
    // (offset + local rank IS the global rank under a total order);
    // the only remaining unpartitioned window is the ≤numPartitions
    // offsets prefix-sum — bounded by cluster parallelism, a config
    // constant, never by data.
    val parted = v.repartitionByRange(col("df").desc, col("term"))
      .withColumn("_pid", spark_partition_id())
      // two consumers (local ranks + offsets census) of the
      // explode+aggregate+range-exchange subtree
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = parted.withColumn("_lrank",
      row_number().over(Window.partitionBy(col("_pid"))
        .orderBy(col("df").desc, col("term"))).cast("long"))
    val offsets = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(
        Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    local.join(broadcast(offsets), Seq("_pid"))
      .select((col("_off") + col("_lrank")).as("term_id"),
        col("term"), col("df"), col("cf"))
  }

  /** Head size for [[vocabularyTop]] — the driver-compared entry. */
  val VocabTopK = 100

  /** Vocabulary head: the [[VocabTopK]] most frequent terms in dense-id
    * order (term_id 1..k IS the (df desc, term) rank). orderBy+limit
    * plans as TakeOrderedAndProject — per-partition heaps and a k-row
    * driver merge, NEVER a vocabulary-sized Sort exchange; this is the
    * driver-compared form (RetrievalSpec pins head==full and no
    * global Sort).
    */
  def vocabularyTop(spark: SparkSession, dir: String, k: Int = VocabTopK): DataFrame =
    vocabulary(spark, dir)
      .orderBy(col("term_id"))
      .limit(k)

  val vocabularySql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term
       |), v AS (
       |  SELECT term, COUNT(*)::BIGINT AS df, CAST(SUM(tf) AS BIGINT) AS cf
       |  FROM tf GROUP BY term
       |)
       |SELECT row_number() OVER (ORDER BY df DESC, term)::BIGINT AS term_id,
       |  term, df, cf
       |FROM v
       |ORDER BY term_id""".stripMargin

  def vocabularyTopSql(k: Int = VocabTopK): String =
    vocabularySql + s"\nLIMIT $k"

  /** Fixed demo sparse query: (term, integer weight) — the shape a
    * learned-sparse encoder (SPLADE / uniCOIL) emits for a query.
    */
  val SparseQuery: Seq[(String, Long)] =
    Seq("spark" -> 4L, "vector" -> 3L, "stream" -> 2L, "window" -> 1L)

  /** Weighted sparse dot-product retrieval — learned-sparse (SPLADE /
    * uniCOIL-style) search over the [[sparseVectors]] representation:
    * score(doc) = Σ_t q_w(t) · tf_weight(doc, t), top-k. BM25 fixes
    * the query-side weighting to IDF; here the caller supplies the
    * weights, which is exactly the contract a learned sparse encoder
    * needs (types.rs SparseVector / sparse.rs the index half — the
    * reference scores its sparse index with caller-provided vectors).
    * Arithmetic is integer query weight × fixed-point tf weight, so
    * both engines rank bit-identically.
    *
    * Scale shape: the per-doc sparse rows are the zero-shuffle native
    * [[graft.functions.expressions.TermFreqs]] sketch; the query's
    * term_id set is a handful of literals, so the match is an IN
    * filter evaluated map-side (at 100 TB over the bucketed posting
    * layout the same filter prunes to the query's term buckets);
    * ranking is TakeOrdered. No join — the query side is folded into
    * the predicate and a CASE sum.
    */
  def sparseSearch(spark: SparkSession, dir: String,
                   query: Seq[(String, Long)] = SparseQuery,
                   k: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // duplicate terms (or hash60-colliding ones) MERGE by summing
    // weights — sparse-vector coordinate addition, and the only
    // semantics both engines can honor identically (a last-wins map
    // would silently drop weight on the Spark side while the SQL
    // twin's join fans out and sums)
    val qIds: Map[Long, Long] = query
      .groupMapReduce { case (t, _) => Tok.hash60(t) }(_._2)(_ + _)
    val tfs = column(graft.functions.expressions.TermFreqs(expression(col("text"))))
    val rows = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(tfs).as("e"))
      .select(col("doc_id"), col("e.term_id").as("term_id"),
        col("e.weight").as("weight"))
      .filter(col("term_id").isin(qIds.keys.toSeq: _*))
    val contrib = qIds.foldLeft(lit(0L)) { case (acc, (id, w)) =>
      acc + when(col("term_id") === id, col("weight") * w).otherwise(0L)
    }
    rows
      .groupBy(col("doc_id"))
      .agg(sum(contrib).as("score", ScoreTag.metadata), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def sparseSearchSql(query: Seq[(String, Long)] = SparseQuery,
                      k: Int = 20): String = {
    // mirror sparseSearch's duplicate-term weight merge: one VALUES
    // row per distinct term (duplicate rows would fan the join out
    // and double-count n_terms)
    val ids = query.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
      .map { case (t, w) => s"(${hash60Sql(s"'$t'")}, ${w}::BIGINT)" }
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
       |), tt AS (
       |  SELECT doc_id, ${hash60Sql("term")} AS term_id,
       |    ${fxSql("tf::DOUBLE / SUM(tf) OVER (PARTITION BY doc_id)", 6)} AS weight
       |  FROM tf
       |), q AS (
       |  SELECT * FROM (VALUES ${ids.mkString(", ")}) AS q(term_id, w)
       |)
       |SELECT tt.doc_id, SUM(tt.weight * q.w)::BIGINT AS score,
       |  COUNT(*)::BIGINT AS n_terms
       |FROM tt JOIN q USING (term_id)
       |GROUP BY tt.doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** "More like this": top-k documents by SPARSE COSINE similarity to
    * an anchor document's TF vector (types.rs:79
    * SparseVector::cosine_similarity, :53 norm, :58 dot_product — the
    * reference's related-documents primitive). Dot products and
    * squared norms are INTEGER sums over the fixed-point weights
    * (exact at any corpus size); only the final
    * dot/√(‖a‖²·‖d‖²) touches floats, computed from identical exact
    * integers on both engines, so the fx-quantized score is
    * bit-stable cross-engine.
    *
    * Scale shape: the anchor's term vector is ONE document's
    * vocabulary — genuinely bounded, the legitimate broadcast — so
    * the dot product is a map-side join over the sparse rows followed
    * by a doc-keyed aggregate; per-doc norms ride the same sparse
    * relation; the dots↔norms join is doc_id-keyed shuffle_hash
    * (docs sharing any anchor term are a corpus FRACTION, never
    * broadcast). Top-k is TakeOrdered.
    */
  def docSimilar(spark: SparkSession, dir: String,
                 anchorId: Long = 7L, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val tfs = column(graft.functions.expressions.TermFreqs(expression(col("text"))))
    val sv = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(tfs).as("e"))
      .select(col("doc_id"), col("e.term_id").as("term_id"),
        col("e.weight").as("w"))
    val anchor = sv.filter(col("doc_id") === anchorId)
      .select(col("term_id"), col("w").as("aw"))
    val norms = sv.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("nsq"))
    val anchorNorm = norms.filter(col("doc_id") === anchorId)
      .select(col("nsq").as("ansq"))
    val dots = sv.join(broadcast(anchor), Seq("term_id"))
      .filter(col("doc_id") =!= anchorId)
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("aw")).as("dot"), count(lit(1)).as("n_shared"))
    dots.join(norms.hint("shuffle_hash"), Seq("doc_id"))
      .crossJoin(broadcast(anchorNorm))
      .select(col("doc_id"), col("n_shared"),
        fx(col("dot").cast("double") /
           sqrt(col("nsq").cast("double") * col("ansq").cast("double")), 6)
          .as("cosine", graft.plans.ScoreTag.metadata))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(k)
  }

  def docSimilarSql(anchorId: Long = 7L, k: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
       |), sv AS (
       |  SELECT doc_id, ${hash60Sql("term")} AS term_id,
       |    ${fxSql("tf::DOUBLE / SUM(tf) OVER (PARTITION BY doc_id)", 6)} AS w
       |  FROM tf
       |), anchor AS (
       |  SELECT term_id, w AS aw FROM sv WHERE doc_id = $anchorId
       |), norms AS (
       |  SELECT doc_id, SUM(w * w)::BIGINT AS nsq FROM sv GROUP BY doc_id
       |), dots AS (
       |  SELECT sv.doc_id, SUM(sv.w * a.aw)::BIGINT AS dot,
       |    COUNT(*)::BIGINT AS n_shared
       |  FROM sv JOIN anchor a USING (term_id)
       |  WHERE sv.doc_id <> $anchorId
       |  GROUP BY sv.doc_id
       |)
       |SELECT d.doc_id, d.n_shared,
       |  ${fxSql("d.dot::DOUBLE / sqrt(n.nsq::DOUBLE * (SELECT nsq FROM norms WHERE doc_id = " + anchorId + ")::DOUBLE)", 6)} AS cosine
       |FROM dots d JOIN norms n USING (doc_id)
       |ORDER BY cosine DESC, d.doc_id
       |LIMIT $k""".stripMargin

  val sparseVectorsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
       |), tt AS (
       |  SELECT doc_id, term, tf, CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS total
       |  FROM tf
       |)
       |SELECT doc_id, ${hash60Sql("term")} AS term_id,
       |  ${fxSql("tf::DOUBLE / total::DOUBLE", 6)} AS weight
       |FROM tt
       |ORDER BY doc_id, term_id""".stripMargin

  def textSearchSql(query: String = DefaultQuery, k: Int = 20): String =
    textSearchSqlOver("documents", query, k)

  def textSearchSqlOver(corpus: String, query: String = DefaultQuery,
                        k: Int = 20): String = {
    val terms = Tok.words(query).distinct
    val score = terms
      .map(t => s"(CASE WHEN contains(lower(text), '$t') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($score AS BIGINT) AS score
       |FROM $corpus
       |WHERE ($score) > 0
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** Fixed demo batch for [[searchBatch]] (query_id = position). */
  val BatchQueries: Seq[String] = Seq(
    DefaultQuery,
    "table scan filter merge sort",
    "hash group key column batch",
    "customer order data query line")

  /** Batched BM25: N text queries answered in ONE plan (reference
    * src/performance/parallel_search.rs:67 parallel_text_search — the
    * reference fans queries out over a thread pool against the shared
    * in-memory index; the Spark-first form makes the batch a single
    * job so the corpus is scanned ONCE for every query in it).
    *
    * The per-doc sketch covers the UNION vocabulary of the batch, so
    * corpus stats (n_docs, avgdl, every term's df) remain one
    * shuffle-free scalar aggregate. Each query's score is a column
    * over its own slice of the sketch; a small explode fans each doc
    * row out to its matching queries only, and per-query ranking is
    * the bounded map-side [[graft.functions.expressions.TopKAgg]] —
    * the exchange carries at most partitions × k survivors per query,
    * never the full scored space. Zero keyed shuffles on corpus data
    * at any scale; batch size only widens the sketch.
    */
  def searchBatch(spark: SparkSession, dir: String,
                  queries: Seq[String] = BatchQueries, k: Int = 10): DataFrame = {
    // the stats aggregate and the scoring pass both read the token
    // arrays; persist so tokenization is paid once (same reasoning as
    // [[searchDocs]])
    val toks = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    searchBatchToks(toks, queries, k)
  }

  /** [[searchBatch]] over a caller-supplied (doc_id, toks) relation —
    * [[graft.operators.HybridSearch.rrfBatch]] passes a projection of
    * its shared one-scan corpus sketch so the batch's sparse branch
    * adds no second corpus scan. Identical rows to [[searchBatch]]
    * when `toksRel` is the [[tokens]] of the same corpus.
    */
  private[operators] def searchBatchToks(toksRel: DataFrame,
                                         queries: Seq[String],
                                         k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.functions.expressions.TopKAgg.topK
    val qTerms = queries.map(Tok.terms)
    val terms = qTerms.flatten.distinct
    require(terms.nonEmpty, "batch has no searchable terms")
    val counts = toksRel.select(col("doc_id"),
      column(graft.functions.expressions.TokenTfs(
        expression(col("toks")), terms)).as("c"))
    val dl = col("c").getItem(0)
    val aggExprs = count(lit(1)).as("n_docs") +: avg(dl).as("avgdl") +:
      terms.indices.map(j =>
        sum((col("c").getItem(j + 1) > 0).cast("long")).cast("double").as(s"df$j"))
    val stats = counts.agg(aggExprs.head, aggExprs.tail: _*)
    def termScore(j: Int) = {
      val tf = col("c").getItem(j + 1).cast("double")
      val idf = log((col("n_docs") - col(s"df$j") + 0.5) / (col(s"df$j") + 0.5))
      idf * (tf * lit(K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * (dl / col("avgdl"))))
    }
    val perQuery = qTerms.zipWithIndex.collect { case (ts, qi) if ts.nonEmpty =>
      val idx = ts.map(terms.indexOf)
      struct(lit(qi.toLong).as("query_id"),
        idx.map(j => col("c").getItem(j + 1)).reduce(_ + _).as("m"),
        idx.map(termScore).reduce(_ + _).as("s"))
    }
    counts
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), explode(array(perQuery: _*)).as("e"))
      .filter(col("e.m") > 0)
      .select(col("e.query_id").as("query_id"), col("doc_id"),
        fx(col("e.s"), 6).as("score"))
      .groupBy(col("query_id"))
      .agg(topK(col("score").cast("double"), col("doc_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"), col("e.score").cast("long").as("score", ScoreTag.metadata))
      .orderBy(col("query_id"), col("rank"))
  }

  def searchBatchSql(queries: Seq[String] = BatchQueries, k: Int = 10): String = {
    val qTerms = queries.map(Tok.terms)
    val union = qTerms.flatten.distinct.map(t => s"'$t'").mkString("(", ", ", ")")
    val qtermRows = qTerms.zipWithIndex.flatMap { case (ts, qi) =>
      ts.map(t => s"($qi, '$t')")
    }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
       |), lens AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl FROM toks
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
       |), posting AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term FROM toks
       |), qterms AS (
       |  SELECT * FROM (VALUES $qtermRows) AS t(query_id, term)
       |), tf AS (
       |  SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf
       |  FROM posting WHERE term IN $union
       |  GROUP BY doc_id, dl, term
       |), dfs AS (
       |  SELECT term, COUNT(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |    ${fxSql(s"SUM(ln((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) * (tf.tf * ${K1 + 1.0}) / (tf.tf + $K1 * ((1.0 - $B) + $B * (tf.dl / stats.avgdl))))", 6)} AS score
       |  FROM tf JOIN qterms q USING (term) JOIN dfs USING (term), stats
       |  GROUP BY q.query_id, tf.doc_id
       |), ranked AS (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM scored
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       |  doc_id, score
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Demo phrase for [[phraseSearch]] (two adjacent corpus tokens). */
  val DefaultPhrase = "table scan"

  /** Exact-phrase search: documents where the query tokens appear
    * ADJACENT in order, with occurrence count and first position —
    * the quoted-phrase operator of a text engine (term search ignores
    * adjacency; reference sparse.rs tokenizes to a bag). A positional
    * posting list would pay an explode + self-join per phrase term;
    * instead adjacency is evaluated IN PLACE over each document's own
    * token array with array HOFs (`filter` over a position sequence)
    * — a zero-shuffle map at any corpus size; only the top-k rank
    * leaves the map stage (TakeOrdered, per-partition heaps).
    */
  def phraseSearch(spark: SparkSession, dir: String,
                   phrase: String = DefaultPhrase, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val words = Tok.words(phrase)
    require(words.size >= 2, "phrase needs at least two tokens")
    // one fused codegen'd scan per document
    // ([[graft.functions.expressions.PhraseHits]] — [count, first_pos])
    // replacing the interpreted per-position HOF lambda chain; the
    // relational twin stays in NativeExpressionPropertySpec as the
    // reference semantics the kernel must match
    val ph = column(graft.functions.expressions.PhraseHits(
      expression(col("text")), words))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), ph.as("ph"))
      .select(col("doc_id"),
        element_at(col("ph"), 1).as("n_occurrences"),
        element_at(col("ph"), 2).as("first_pos"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
  }

  /** The relational formulation [[phraseSearch]] replaced — kept as
    * the reference semantics for the native-kernel parity spec.
    */
  private[graft] def phraseHitsRelational(text: org.apache.spark.sql.Column,
                                          words: Seq[String]): org.apache.spark.sql.Column = {
    val toks = split(lower(text), " ")
    val n = size(toks)
    // Short-doc guard: sequence(1, 0) would DESCEND in Spark (and its
    // out-of-range element_at would throw under ANSI), so documents
    // shorter than the phrase map to an explicit empty hit list.
    val hits = when(n >= words.size,
      filter(sequence(lit(1), n - (words.size - 1)), i =>
        words.zipWithIndex.map { case (w, j) =>
          element_at(toks, (i + j).cast("int")) === w
        }.reduce(_ && _)))
      .otherwise(array().cast("array<int>"))
    array(size(hits).cast("long"),
      coalesce(get(hits, lit(0)).cast("long"), lit(-1L)))
  }

  def phraseSearchSql(phrase: String = DefaultPhrase, k: Int = 20): String = {
    val words = Tok.words(phrase)
    // SQL-escape each token: a phrase like "don't panic" must render a
    // valid (and non-injectable) literal, same as the DataFrame twin
    val cond = words.zipWithIndex
      .map { case (w, j) => s"toks[i + $j] = '${w.replace("'", "''")}'" }
      .mkString(" AND ")
    s"""WITH hits AS (
       |  SELECT doc_id,
       |    list_filter(range(1, len(toks) - ${words.size - 2}), i -> $cond) AS hs
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
       |)
       |SELECT doc_id, len(hs)::BIGINT AS n_occurrences,
       |  COALESCE(hs[1], -1)::BIGINT AS first_pos
       |FROM hits WHERE len(hs) > 0
       |ORDER BY n_occurrences DESC, doc_id
       |LIMIT $k""".stripMargin
  }
}
