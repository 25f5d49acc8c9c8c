package graft.operators

import graft.OracleNum
import graft.functions.expressions.Tok
import graft.plans.ScoreTag
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse the dense (cosine), sparse (BM25) and plain
  * text branches.
  *
  * Reference surface: grape-vector-db src/hybrid.rs — rrf_fusion
  * (score = sum over branches of 1/(k + rank), k=60 conventionally)
  * and linear_fusion (weighted raw scores, missing branch = 0).
  *
  * Scale design: each branch is itself a top-N (N = 2*limit, as the
  * reference oversamples) so fusion operates on a few hundred rows
  * regardless of corpus size — union + groupBy on a driver-trivial
  * set. The expensive work stays in the branch scans, which keep
  * their own pushdown/top-k properties.
  */
object HybridSearch {
  import OracleNum.{fx, fxSql}

  val RrfK = 60.0

  /** Ranked (doc_id, rank) for the dense branch: cosine vs query
    * vector `qid`, ranks on the fixed-point score with id tie-break
    * so both engines rank identically.
    *
    * The unpartitioned window here (and in the sparse/text twins) is
    * deliberate: it ranks the branch's TakeOrdered output, which the
    * upstream limit bounds to 2*limit rows regardless of corpus size
    * — the "single partition" the WindowExec warning flags holds ~40
    * rows at 100 TB too.
    */
  private def denseRanked(spark: SparkSession, dir: String, qid: Long, n: Int): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("vec_id"))
    VectorSearch.semanticTopK(spark, dir, qid, n)
      .withColumn("rank", row_number().over(w))
      .select(col("vec_id").as("doc_id"), col("rank"))
  }

  private def sparseRanked(spark: SparkSession, dir: String, query: String, n: Int): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    Bm25.search(spark, dir, query, n)
      .withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank"))
  }

  private def textRanked(spark: SparkSession, dir: String, query: String, n: Int): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    Bm25.textSearch(spark, dir, query, n)
      .withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank"))
  }

  /** RRF fusion (reference src/hybrid.rs:421): each branch
    * contributes 1/(k + rank); docs appearing in more branches rise.
    */
  def rrf(spark: SparkSession, dir: String, qid: Long = 0,
          query: String = Bm25.DefaultQuery, limit: Int = 20,
          maxCandidates: Int = 100): DataFrame = {
    val n = math.min(limit * 2, maxCandidates)
    val branches = denseRanked(spark, dir, qid, n)
      .unionByName(sparseRanked(spark, dir, query, n))
      .unionByName(textRanked(spark, dir, query, n))
    branches
      .groupBy(col("doc_id"))
      .agg(fx(sum(lit(1.0) / (lit(RrfK) + col("rank"))), 6).as("rrf_score"),
           count(lit(1)).as("n_branches"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(limit)
  }

  def rrfSql(qid: Long = 0, query: String = Bm25.DefaultQuery, limit: Int = 20): String = {
    val n = limit * 2
    s"""WITH dense AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
       |  FROM (${VectorSearch.semanticTopKSql(qid, n)})
       |), sparse AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM (${Bm25.searchSql(query, n)})
       |), txt AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM (${Bm25.textSearchSql(query, n)})
       |), branches AS (
       |  SELECT * FROM dense UNION ALL SELECT * FROM sparse UNION ALL SELECT * FROM txt
       |)
       |SELECT doc_id,
       |  ${fxSql(s"SUM(1.0 / ($RrfK + rank))", 6)} AS rrf_score,
       |  COUNT(*) AS n_branches
       |FROM branches
       |GROUP BY doc_id
       |ORDER BY rrf_score DESC, doc_id
       |LIMIT $limit""".stripMargin
  }

  /** Filtered hybrid search (reference src/types.rs:119
    * SearchRequest.filter carried WITH a hybrid query, lib.rs:460
    * search_documents): one metadata predicate, compiled through the
    * filter ADT, restricts EVERY branch's candidate space BEFORE its
    * top-n — each branch returns n gated survivors (filtered-search
    * semantics), and fusion sees only allowed documents. The gate is
    * a pushed parquet predicate on the two document branches and a
    * shuffle_hash id join on the dense branch (embeddings carry no
    * document metadata; the id relation is corpus-fraction-sized,
    * never broadcast).
    */
  def rrfFiltered(spark: SparkSession, dir: String, qid: Long = 0,
                  query: String = Bm25.DefaultQuery,
                  filter: Filtering.FilterExpr = Filtering.Cmp("lang", Filtering.Eq, "en"),
                  limit: Int = 20): DataFrame = {
    val allowed = graft.Tables.documents(spark, dir).filter(Filtering.compile(filter))
    val n = limit * 2
    def ranked(df: DataFrame, idCol: String) = {
      val w = Window.orderBy(col("score").desc, col(idCol))
      df.withColumn("rank", row_number().over(w))
        .select(col(idCol).as("doc_id"), col("rank"))
    }
    val dense = ranked(VectorSearch.semanticTopKGated(
      spark, dir, allowed.select(col("doc_id")), qid, n), "vec_id")
    val sparse = ranked(Bm25.searchDocs(spark, allowed, query, n), "doc_id")
    val txt = ranked(Bm25.textSearchDocs(allowed, query, n), "doc_id")
    dense.unionByName(sparse).unionByName(txt)
      .groupBy(col("doc_id"))
      .agg(fx(sum(lit(1.0) / (lit(RrfK) + col("rank"))), 6).as("rrf_score"),
           count(lit(1)).as("n_branches"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(limit)
  }

  def rrfFilteredSql(qid: Long = 0, query: String = Bm25.DefaultQuery,
                     limit: Int = 20): String = {
    val n = limit * 2
    val allowedSql = "(SELECT * FROM documents WHERE lang = 'en')"
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $qid),
       |densehits AS (
       |  SELECT e.vec_id, ${OracleNum.fxSql(VectorSearch.cosineSql("e.embedding::DOUBLE[]", "q.qv"))} AS score
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id, q
       |  WHERE d.lang = 'en' AND e.vec_id <> $qid
       |  ORDER BY score DESC, e.vec_id
       |  LIMIT $n
       |), dense AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
       |  FROM densehits
       |), sparse AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM (${Bm25.searchSqlOver(allowedSql, query, n)})
       |), txt AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM (${Bm25.textSearchSqlOver(allowedSql, query, n)})
       |), branches AS (
       |  SELECT * FROM dense UNION ALL SELECT * FROM sparse UNION ALL SELECT * FROM txt
       |)
       |SELECT doc_id,
       |  ${fxSql(s"SUM(1.0 / ($RrfK + rank))", 6)} AS rrf_score,
       |  COUNT(*) AS n_branches
       |FROM branches
       |GROUP BY doc_id
       |ORDER BY rrf_score DESC, doc_id
       |LIMIT $limit""".stripMargin
  }

  /** Batched RRF hybrid search: N (query text, query vector) pairs
    * fused in ONE plan — the reference executes concurrent hybrid
    * queries over its shared in-memory index (concurrent.rs batch
    * execution + performance/parallel_search.rs); the Spark-first
    * form scans the corpus once PER BRANCH TYPE for the whole batch
    * instead of once per (query, branch). Query i pairs vector
    * `vec_id = i` with text `queries(i)`. Branch ranks come from the
    * batch ops' bounded map-side TopKAgg
    * ([[VectorSearch.annTopKBatch]], [[Bm25.searchBatch]], and the
    * same shape for the token-containment text branch); fusion is one
    * (query_id, doc_id) aggregate over <= 3·2·limit rows per query,
    * ranked by a final per-query TopKAgg. Per-query results are
    * IDENTICAL to [[rrf]] — spec-asserted.
    */
  def rrfBatch(spark: SparkSession, dir: String,
               queries: Seq[String] = Bm25.BatchQueries, limit: Int = 20,
               maxCandidates: Int = 100): DataFrame = {
    import graft.functions.expressions.TopKAgg.topK
    // same branch depth as the single-query form — a deeper batch
    // branch list changes RRF rank sums and breaks per-query parity
    val n = math.min(limit * 2, maxCandidates)
    val dense = VectorSearch.annTopKBatch(spark, dir, queries.size, n)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
    // ONE corpus scan feeds both text-derived branches (r11): the
    // sparse branch needs the token arrays, the containment branch
    // needs per-query substring scores over lower(text) — both are
    // row-local projections of the same scan, so the shared sketch
    // carries (doc_id, toks, per-query scores) and is the single
    // persisted relation. Before, the sparse branch persisted its own
    // toks while the containment branch re-scanned the raw parquet
    // and re-lowered the text on EVERY bench pass. The persisted rows
    // grow only by queries.size longs over the old toks persist; the
    // heavy text column is still never cached or shuffled.
    val sketch = corpusSketch(spark, dir, queries)
    val sparse = Bm25.searchBatchToks(
        sketch.select(col("doc_id"), col("toks")), queries, n)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val txt = textRankedFromSketch(sketch, queries, n)
    dense.unionByName(sparse).unionByName(txt)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(fx(sum(lit(1.0) / (lit(RrfK) + col("rank"))), 6).as("rrf"))
      .groupBy(col("query_id"))
      .agg(topK(col("rrf").cast("double"), col("doc_id"), limit).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"),
        col("e.score").cast("long").as("rrf_score", ScoreTag.metadata))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The shared one-scan corpus sketch for [[rrfBatch]]'s two
    * text-derived branches: (doc_id, toks, ts) where `toks` is the
    * [[graft.functions.TextFunctions.tokens]] array the sparse branch
    * scores and `ts` holds one (query_id, containment score) struct
    * per query with terms — both row-local projections of the same
    * scan. Persisted: two branch subtrees consume it, and Spark has
    * no cross-branch subtree reuse.
    */
  private def corpusSketch(spark: SparkSession, dir: String,
                           queries: Seq[String]): DataFrame = {
    val content = lower(col("text"))
    // term-less queries contribute no text branch — the same skip as
    // Bm25.searchBatch's sparse branch (an empty terms list would
    // otherwise crash the score reduce at plan-construction time)
    val perQ = queries.zipWithIndex.flatMap { case (q, qi) =>
      val terms = Tok.words(q).distinct
      if (terms.isEmpty) None
      else {
        val score = terms.map(t => when(content.contains(t), 1L).otherwise(0L))
          .reduce(_ + _)
        Some(struct(lit(qi.toLong).as("query_id"), score.as("s")))
      }
    }
    val ts = if (perQ.isEmpty) array().cast("array<struct<query_id:bigint,s:bigint>>")
      else array(perQ: _*)
    graft.Tables.spread(spark,
        graft.Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"),
        ts.as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Token-containment text branch for the batch, read off the shared
    * [[corpusSketch]]: per-doc fan-out to matching queries only,
    * map-side TopKAgg ranking — same score semantics as
    * [[Bm25.textSearch]].
    */
  private def textRankedFromSketch(sketch: DataFrame,
                                   queries: Seq[String], n: Int): DataFrame = {
    import graft.functions.expressions.TopKAgg.topK
    sketch
      .select(col("doc_id"), explode(col("ts")).as("e"))
      .filter(col("e.s") > 0)
      .select(col("e.query_id").as("query_id"), col("doc_id"), col("e.s").as("s"))
      .groupBy(col("query_id"))
      .agg(topK(col("s").cast("double"), col("doc_id"), n).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"))
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  def rrfBatchSql(queries: Seq[String] = Bm25.BatchQueries, limit: Int = 20): String = {
    val n = limit * 2
    val qtextRows = queries.zipWithIndex.flatMap { case (q, qi) =>
      Tok.words(q).distinct.map(t => s"($qi, '$t')")
    }.mkString(", ")
    s"""WITH dense AS (
       |  SELECT query_id, vec_id AS doc_id, rank
       |  FROM (${VectorSearch.annTopKBatchSql(queries.size, n)})
       |), sparse AS (
       |  SELECT query_id, doc_id, rank
       |  FROM (${Bm25.searchBatchSql(queries, n)})
       |), qtext AS (
       |  SELECT * FROM (VALUES $qtextRows) AS t(query_id, term)
       |), tscore AS (
       |  SELECT q.query_id, d.doc_id, COUNT(*)::BIGINT AS s
       |  FROM documents d JOIN qtext q ON contains(lower(d.text), q.term)
       |  GROUP BY q.query_id, d.doc_id
       |), txt AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rank AS BIGINT) AS rank
       |  FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
       |    FROM tscore)
       |  WHERE rank <= $n
       |), branches AS (
       |  SELECT * FROM dense UNION ALL SELECT * FROM sparse UNION ALL SELECT * FROM txt
       |), fused AS (
       |  SELECT query_id, doc_id,
       |    ${fxSql(s"SUM(1.0 / ($RrfK + rank))", 6)} AS rrf_score
       |  FROM branches
       |  GROUP BY query_id, doc_id
       |), ranked AS (
       |  SELECT query_id, doc_id, rrf_score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
       |  FROM fused
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       |  doc_id, rrf_score
       |FROM ranked WHERE rank <= $limit
       |ORDER BY query_id, rank""".stripMargin
  }

  val DenseWeight  = 0.5
  val SparseWeight = 0.3
  val TextWeight   = 0.2

  /** Outer-combine the three branch score frames into one
    * (doc_id, dense_s, sparse_s, text_s) row per doc, absent branch =
    * 0.0. Expressed as union + sum-aggregate (map-side partials, one
    * hash shuffle) rather than chained full_outer joins — full outer
    * can't broadcast, so the join formulation planned SortMergeJoins.
    * Numerically identical: each doc has at most one row per branch,
    * the other slots ride as 0.0.
    */
  private def outerFused(dense: DataFrame, sparse: DataFrame, txt: DataFrame): DataFrame =
    dense.select(col("doc_id"), col("dense_s"),
        lit(0.0).as("sparse_s"), lit(0.0).as("text_s"))
      .unionByName(sparse.select(col("doc_id"), lit(0.0).as("dense_s"),
        col("sparse_s"), lit(0.0).as("text_s")))
      .unionByName(txt.select(col("doc_id"), lit(0.0).as("dense_s"),
        lit(0.0).as("sparse_s"), col("text_s")))
      .groupBy(col("doc_id"))
      .agg(sum(col("dense_s")).as("dense_s"),
        sum(col("sparse_s")).as("sparse_s"),
        sum(col("text_s")).as("text_s"))

  /** Normalized fusion (reference src/hybrid.rs normalized_fusion):
    * each branch is min-max normalized to [0,1] over its own top-N
    * before weighting, so no branch's score scale dominates. The
    * min/max are per-branch scalar aggregates over <=2*limit rows —
    * free at any corpus size.
    */
  def normalized(spark: SparkSession, dir: String, qid: Long = 0,
                 query: String = Bm25.DefaultQuery, limit: Int = 20,
                 dw: Double = DenseWeight, sw: Double = SparseWeight,
                 tw: Double = TextWeight, maxCandidates: Int = 100): DataFrame = {
    val n = math.min(limit * 2, maxCandidates)
    def norm(df0: DataFrame, idCol: String): DataFrame = {
      // min/max via an unpartitioned window: the input is the branch's
      // TakeOrdered output (<= 2*limit rows at ANY corpus size), so the
      // single-partition window is free — and unlike the earlier
      // persist() + scalar-aggregate formulation it leaves no
      // CacheManager entry behind per (qid, query) in a long-lived
      // serving session.
      val w = Window.partitionBy()
      df0.withColumn("lo", min(col("score")).over(w))
        .withColumn("hi", max(col("score")).over(w))
        .select(col(idCol).as("doc_id"),
          when(col("hi") === col("lo"), lit(1.0))
            .otherwise((col("score") - col("lo")).cast("double") /
                       (col("hi") - col("lo")).cast("double")).as("ns"))
    }
    val dense  = norm(VectorSearch.semanticTopK(spark, dir, qid, n), "vec_id")
      .select(col("doc_id"), col("ns").as("dense_s"))
    val sparse = norm(Bm25.search(spark, dir, query, n), "doc_id")
      .select(col("doc_id"), col("ns").as("sparse_s"))
    val txt    = norm(Bm25.textSearch(spark, dir, query, n), "doc_id")
      .select(col("doc_id"), col("ns").as("text_s"))
    outerFused(dense, sparse, txt)
      .select(col("doc_id"),
        fx(col("dense_s") * dw + col("sparse_s") * sw +
           col("text_s") * tw, 6).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  def normalizedSql(qid: Long = 0, query: String = Bm25.DefaultQuery, limit: Int = 20): String = {
    val n = limit * 2
    def normCte(src: String, idCol: String): String =
      s"""SELECT $idCol AS doc_id,
         |    CASE WHEN hi = lo THEN 1.0
         |         ELSE (score - lo)::DOUBLE / (hi - lo)::DOUBLE END AS ns
         |  FROM ($src) b, (SELECT MIN(score) AS lo, MAX(score) AS hi FROM ($src)) s""".stripMargin
    s"""WITH dense AS (
       |  ${normCte(VectorSearch.semanticTopKSql(qid, n), "vec_id")}
       |), sparse AS (
       |  ${normCte(Bm25.searchSql(query, n), "doc_id")}
       |), txt AS (
       |  ${normCte(Bm25.textSearchSql(query, n), "doc_id")}
       |)
       |SELECT COALESCE(dense.doc_id, sparse.doc_id, txt.doc_id) AS doc_id,
       |  ${fxSql(s"COALESCE(dense.ns, 0.0) * $DenseWeight + COALESCE(sparse.ns, 0.0) * $SparseWeight + COALESCE(txt.ns, 0.0) * $TextWeight", 6)} AS score
       |FROM dense
       |FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id
       |FULL OUTER JOIN txt ON COALESCE(dense.doc_id, sparse.doc_id) = txt.doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT $limit""".stripMargin
  }

  /** Linear weighted fusion (reference src/hybrid.rs linear_fusion):
    * weighted sum of branch scores, absent branch contributes 0.
    * Branch scores are fixed-point longs (deterministic cross-engine)
    * re-scaled back to doubles before weighting.
    */
  def linear(spark: SparkSession, dir: String, qid: Long = 0,
             query: String = Bm25.DefaultQuery, limit: Int = 20,
             dw: Double = DenseWeight, sw: Double = SparseWeight,
             tw: Double = TextWeight, maxCandidates: Int = 100): DataFrame = {
    val n = math.min(limit * 2, maxCandidates)
    val dense = VectorSearch.semanticTopK(spark, dir, qid, n)
      .select(col("vec_id").as("doc_id"), (col("score") / 1e4).as("dense_s"))
    val sparse = Bm25.search(spark, dir, query, n)
      .select(col("doc_id"), (col("score") / 1e6).as("sparse_s"))
    val txt = Bm25.textSearch(spark, dir, query, n)
      .select(col("doc_id"), col("score").cast("double").as("text_s"))
    outerFused(dense, sparse, txt)
      .select(col("doc_id"),
        fx(col("dense_s") * dw + col("sparse_s") * sw +
           col("text_s") * tw, 6).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  /** Learned fusion (reference src/hybrid.rs:711 learned_fusion with
    * quality_adaptation; :820 adjust_weights_by_quality + :826
    * calculate_result_quality): per-branch quality
    * q = min(n,10)/10*0.3 + avg*0.5 + max(0, 1-stddev)*0.2 over the
    * branch's top-N scores, then linear fusion with
    * w_i = base_i * (1 + q_i/total_q * 0.2).
    *
    * Quality stats are computed from the EXACT fixed-point long branch
    * scores (sum / sum-of-squares over integers), so both engines
    * derive bit-identical weights; the stats are scalar aggregates
    * over <=2*limit rows — free at any corpus size, broadcast into
    * the fused rows.
    */
  def learned(spark: SparkSession, dir: String, qid: Long = 0,
              query: String = Bm25.DefaultQuery, limit: Int = 20,
              maxCandidates: Int = 100): DataFrame = {
    val n = math.min(limit * 2, maxCandidates)
    // Single pipeline over the tagged UNION of the three branch top-Ns
    // (<= 6*limit rows total at any corpus size): per-branch quality
    // stats ride as window aggregates instead of persist() + scalar
    // aggregates, so each branch is evaluated exactly once and no
    // CacheManager entry accumulates per (qid, query).
    val dense = VectorSearch.semanticTopK(spark, dir, qid, n)
      .select(lit("d").as("b"), col("vec_id").as("doc_id"), col("score"))
    val sparse = Bm25.search(spark, dir, query, n)
      .select(lit("s").as("b"), col("doc_id"), col("score"))
    val txt = Bm25.textSearch(spark, dir, query, n)
      .select(lit("t").as("b"), col("doc_id"), col("score").cast("long").as("score", ScoreTag.metadata))
    val wb = Window.partitionBy(col("b"))
    val wg = Window.partitionBy()

    // quality from exact integer sums over the branch window; `scale`
    // maps the fixed-point long back to the double score space
    def qOf(scale: Double): Column = {
      val nD = col("n").cast("double")
      val m = col("s1").cast("double") / scale / nD
      val m2 = col("s2").cast("double") / (scale * scale) / nD
      val sd = sqrt(greatest(m2 - m * m, lit(0.0)))
      least(nD, lit(10.0)) / 10.0 * 0.3 + m * 0.5 +
        greatest(lit(1.0) - sd, lit(0.0)) * 0.2
    }
    // global per-branch quality: exactly one row per branch (rn = 1)
    // contributes its q, every other row contributes literal 0.0 which
    // adds exactly — an absent branch therefore yields 0.0, the same
    // value the old n=0 scalar aggregate produced
    def qg(tag: String): Column =
      sum(when(col("b") === tag && col("rn") === 1, col("q")).otherwise(0.0)).over(wg)

    val withQ = dense.unionByName(sparse).unionByName(txt)
      .withColumn("n", count(lit(1)).over(wb))
      .withColumn("s1", sum(col("score")).over(wb))
      .withColumn("s2", sum(col("score") * col("score")).over(wb))
      .withColumn("rn", row_number().over(wb.orderBy(col("doc_id"))))
      .withColumn("q", when(col("b") === "d", qOf(1e4))
        .when(col("b") === "s", qOf(1e6)).otherwise(qOf(1.0)))
      .withColumn("qd", qg("d")).withColumn("qs", qg("s")).withColumn("qt", qg("t"))
    val total = col("qd") + col("qs") + col("qt")
    def w(base: Double, qc: Column): Column =
      when(total > 0, lit(base) * (lit(1.0) + qc / total * lit(0.2))).otherwise(base)

    // same outer-combine shape as [[outerFused]] (0.0 fills add
    // exactly), with the globally-constant weights riding through the
    // aggregate via max()
    withQ
      .select(col("doc_id"),
        when(col("b") === "d", col("score") / 1e4).otherwise(0.0).as("dense_s"),
        when(col("b") === "s", col("score") / 1e6).otherwise(0.0).as("sparse_s"),
        when(col("b") === "t", col("score").cast("double")).otherwise(0.0).as("text_s"),
        w(DenseWeight, col("qd")).as("wd"),
        w(SparseWeight, col("qs")).as("ws"),
        w(TextWeight, col("qt")).as("wt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("dense_s")).as("dense_s"),
        sum(col("sparse_s")).as("sparse_s"),
        sum(col("text_s")).as("text_s"),
        max(col("wd")).as("wd"), max(col("ws")).as("ws"), max(col("wt")).as("wt"))
      .select(col("doc_id"),
        fx(col("dense_s") * col("wd") + col("sparse_s") * col("ws") +
           col("text_s") * col("wt"), 6).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  def learnedSql(qid: Long = 0, query: String = Bm25.DefaultQuery, limit: Int = 20): String = {
    val n = limit * 2
    def qualCte(src: String, scale: String): String =
      s"""SELECT CASE WHEN COUNT(*) = 0 THEN 0.0
         |    ELSE least(COUNT(*)::DOUBLE, 10.0) / 10.0 * 0.3
         |       + (SUM(score)::DOUBLE / $scale / COUNT(*)::DOUBLE) * 0.5
         |       + greatest(1.0 - sqrt(greatest(
         |           SUM(score * score)::DOUBLE / ($scale * $scale) / COUNT(*)::DOUBLE
         |           - (SUM(score)::DOUBLE / $scale / COUNT(*)::DOUBLE)
         |             * (SUM(score)::DOUBLE / $scale / COUNT(*)::DOUBLE), 0.0)), 0.0) * 0.2
         |    END AS q
         |  FROM ($src)""".stripMargin
    def wSql(base: Double, qc: String): String =
      s"CASE WHEN qd + qs + qt > 0 THEN $base * (1.0 + $qc / (qd + qs + qt) * 0.2) ELSE $base END"
    s"""WITH dense AS (
       |  SELECT vec_id AS doc_id, score FROM (${VectorSearch.semanticTopKSql(qid, n)})
       |), sparse AS (
       |  SELECT doc_id, score FROM (${Bm25.searchSql(query, n)})
       |), txt AS (
       |  SELECT doc_id, score::BIGINT AS score FROM (${Bm25.textSearchSql(query, n)})
       |), qual AS (
       |  SELECT qd.q AS qd, qs.q AS qs, qt.q AS qt
       |  FROM (${qualCte("SELECT score FROM dense", "1e4")}) qd,
       |       (${qualCte("SELECT score FROM sparse", "1e6")}) qs,
       |       (${qualCte("SELECT score FROM txt", "1.0")}) qt
       |), weights AS (
       |  SELECT ${wSql(DenseWeight, "qd")} AS wd,
       |         ${wSql(SparseWeight, "qs")} AS ws,
       |         ${wSql(TextWeight, "qt")} AS wt
       |  FROM qual
       |)
       |SELECT COALESCE(dense.doc_id, sparse.doc_id, txt.doc_id) AS doc_id,
       |  ${fxSql("COALESCE(dense.score / 1e4, 0.0) * wd + COALESCE(sparse.score / 1e6, 0.0) * ws + COALESCE(txt.score::DOUBLE, 0.0) * wt", 6)} AS score
       |FROM dense
       |FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id
       |FULL OUTER JOIN txt ON COALESCE(dense.doc_id, sparse.doc_id) = txt.doc_id
       |CROSS JOIN weights
       |ORDER BY score DESC, doc_id
       |LIMIT $limit""".stripMargin
  }

  /** Adaptive fusion (reference src/hybrid.rs:753 adaptive_fusion +
    * :858 adapt_weights_from_history): find historical queries whose
    * word-set Jaccard similarity to the current query exceeds 0.7; if
    * their average satisfaction (each rated /5, missing ratings count
    * as 0 in the numerator but still in the denominator) is below 0.6,
    * shift weight away from the dense branch
    * (dense*0.9, sparse*1.1, text*1.05); then linear fusion.
    *
    * The history is a DataFrame(query_text, satisfaction) — at scale a
    * real query-metrics table; the similarity filter + satisfaction
    * aggregate reduce it to one broadcast scalar row.
    */
  def adaptive(spark: SparkSession, dir: String, history: DataFrame,
               qid: Long = 0, query: String = Bm25.DefaultQuery,
               limit: Int = 20): DataFrame = {
    val qWords = array_distinct(split(lit(query), "\\s+"))
    val hWords = array_distinct(split(col("query_text"), "\\s+"))
    val sim = size(array_intersect(hWords, qWords)).cast("double") /
      size(array_union(hWords, qWords)).cast("double")
    val stats = history.filter(sim > 0.7)
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("satisfaction") / 5.0, lit(0.0))).as("ssum"))
    val keepBase = col("n") === 0 || col("ssum") / col("n").cast("double") >= 0.6
    val weights = stats.select(
      when(keepBase, DenseWeight).otherwise(DenseWeight * 0.9).as("wd"),
      when(keepBase, SparseWeight).otherwise(SparseWeight * 1.1).as("ws"),
      when(keepBase, TextWeight).otherwise(TextWeight * 1.05).as("wt"))

    val n = limit * 2
    outerFused(
      VectorSearch.semanticTopK(spark, dir, qid, n)
        .select(col("vec_id").as("doc_id"), (col("score") / 1e4).as("dense_s")),
      Bm25.search(spark, dir, query, n)
        .select(col("doc_id"), (col("score") / 1e6).as("sparse_s")),
      Bm25.textSearch(spark, dir, query, n)
        .select(col("doc_id"), col("score").cast("double").as("text_s")))
      .crossJoin(broadcast(weights))
      .select(col("doc_id"),
        fx(col("dense_s") * col("wd") + col("sparse_s") * col("ws") +
           col("text_s") * col("wt"), 6).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  /** Deterministic query-metrics history for the oracle-checked
    * `hybrid_adaptive` entry: two low-satisfaction similar queries,
    * one unrated similar query and one dissimilar query — exercising
    * the similarity filter, the missing-rating denominator rule and
    * the low-satisfaction weight shift.
    */
  val DemoHistory: Seq[(String, Option[Double])] = Seq(
    ("spark vector join stream window extra", Some(2.0)),
    ("spark vector join stream window",       Some(3.0)),
    ("spark vector join stream",              None),
    ("completely different words entirely",   Some(5.0)))

  def adaptiveDemo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    adaptive(spark, dir, DemoHistory.toDF("query_text", "satisfaction"))
  }

  def adaptiveSql(qid: Long = 0, query: String = Bm25.DefaultQuery, limit: Int = 20): String = {
    val n = limit * 2
    val hist = DemoHistory.map {
      case (q, Some(s)) => s"('$q', $s)"
      case (q, None)    => s"('$q', NULL)"
    }.mkString(", ")
    s"""WITH hist(query_text, satisfaction) AS (VALUES $hist),
       |stats AS (
       |  SELECT COUNT(*) AS n, SUM(COALESCE(satisfaction / 5.0, 0.0)) AS ssum
       |  FROM hist
       |  WHERE len(list_intersect(list_distinct(regexp_split_to_array(query_text, '\\s+')),
       |                           list_distinct(regexp_split_to_array('$query', '\\s+'))))::DOUBLE
       |      / len(list_distinct(regexp_split_to_array(query_text, '\\s+') ||
       |                          regexp_split_to_array('$query', '\\s+')))::DOUBLE > 0.7
       |), weights AS (
       |  SELECT
       |    CASE WHEN n = 0 OR ssum / n::DOUBLE >= 0.6 THEN $DenseWeight ELSE ${DenseWeight * 0.9} END AS wd,
       |    CASE WHEN n = 0 OR ssum / n::DOUBLE >= 0.6 THEN $SparseWeight ELSE ${SparseWeight * 1.1} END AS ws,
       |    CASE WHEN n = 0 OR ssum / n::DOUBLE >= 0.6 THEN $TextWeight ELSE ${TextWeight * 1.05} END AS wt
       |  FROM stats
       |), dense AS (
       |  SELECT vec_id AS doc_id, score / 1e4 AS dense_s
       |  FROM (${VectorSearch.semanticTopKSql(qid, n)})
       |), sparse AS (
       |  SELECT doc_id, score / 1e6 AS sparse_s
       |  FROM (${Bm25.searchSql(query, n)})
       |), txt AS (
       |  SELECT doc_id, score::DOUBLE AS text_s
       |  FROM (${Bm25.textSearchSql(query, n)})
       |)
       |SELECT COALESCE(dense.doc_id, sparse.doc_id, txt.doc_id) AS doc_id,
       |  ${fxSql("COALESCE(dense_s, 0.0) * wd + COALESCE(sparse_s, 0.0) * ws + COALESCE(text_s, 0.0) * wt", 6)} AS score
       |FROM dense
       |FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id
       |FULL OUTER JOIN txt ON COALESCE(dense.doc_id, sparse.doc_id) = txt.doc_id
       |CROSS JOIN weights
       |ORDER BY score DESC, doc_id
       |LIMIT $limit""".stripMargin
  }

  /** One recorded query observation (reference types.rs:307
    * QueryMetrics; record_query_metrics hybrid.rs:916 appends these to
    * a bounded in-memory history — the Spark-first history is an
    * append-only table, unbounded because storage is distributed).
    */
  final case class QueryMetric(query_id: String, query_text: String,
                               ts: Long, duration_ms: Double,
                               result_count: Long, n_clicked: Long,
                               satisfaction: Option[Double],
                               fusion_strategy: String)

  /** Per-strategy fusion performance stats (reference types.rs:288
    * FusionPerformanceStats / hybrid.rs:938 get_performance_stats):
    * avg + exact P95 latency, click-through rate (share of queries
    * with at least one clicked result), average satisfaction over
    * rated queries, total query count. One groupBy over the metrics
    * table — map-side partials, a single keyed shuffle at any history
    * size (`percentile` is Spark's exact implementation; swap for
    * `percentile_approx` when the history outgrows per-group memory).
    */
  def fusionPerformanceStats(metrics: DataFrame): DataFrame =
    metrics.groupBy(col("fusion_strategy"))
      .agg(
        fx(avg(col("duration_ms")), 3).as("avg_query_time_ms"),
        fx(expr("percentile(duration_ms, 0.95)"), 3).as("p95_query_time_ms"),
        fx(avg((col("n_clicked") > 0).cast("double")), 4).as("click_through_rate"),
        fx(avg(col("satisfaction")), 4).as("avg_satisfaction"),
        count(lit(1)).as("total_queries"))
      .orderBy(col("fusion_strategy"))

  /** Cache-hit-rate heuristic over the query history (hybrid.rs:942
    * calculate_cache_hit_rate: queries under 10 ms are assumed cache
    * hits). Scalar aggregate — one row out at any history size.
    */
  def cacheHitRate(metrics: DataFrame, thresholdMs: Double = 10.0): DataFrame =
    metrics.agg(
      coalesce(fx(avg((col("duration_ms") < thresholdMs).cast("double")), 4), lit(0L))
        .as("cache_hit_rate"))

  /** Adaptive fusion fed from the recorded metrics table — closes the
    * reference's learning loop (record_query_metrics →
    * adapt_weights_from_history): the history argument of
    * [[adaptive]] is exactly the (query_text, satisfaction)
    * projection of the metrics log.
    */
  def adaptiveFromMetrics(spark: SparkSession, dir: String, metrics: DataFrame,
                          qid: Long = 0, query: String = Bm25.DefaultQuery,
                          limit: Int = 20): DataFrame =
    adaptive(spark, dir,
      metrics.select(col("query_text"), col("satisfaction")),
      qid, query, limit)

  /** Search-response assembly with snippet extraction (reference
    * src/hybrid.rs:339-349 search_documents result shaping + :674-700
    * extract_snippet): RRF-fused hits join back to the document store
    * and each hit carries a ±(50,150)-char window around the first
    * case-insensitive occurrence of the query text, "..."-prefixed
    * when the window is clipped, falling back to the 200-char document
    * head when the phrase is absent — the reference's exact slicing
    * rules, re-expressed as codegen'd string columns.
    *
    * Scale: the hit set is `limit` rows, broadcast against the
    * documents scan (pruned to doc_id+text) — one broadcast hash join,
    * no shuffle of the corpus. The default query here is the
    * two-word phrase "spark vector" so both the found-window and
    * absent-fallback arms execute on real data.
    */
  val SnippetQuery = "spark vector"

  def searchSnippets(spark: SparkSession, dir: String, qid: Long = 0,
                     query: String = SnippetQuery, limit: Int = 10): DataFrame = {
    val q = Tok.lower(query)
    val qlen = q.length
    val hits = rrf(spark, dir, qid, query, limit)
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val pos  = locate(q, lower(col("text")))          // 1-based; 0 = absent
    val start = greatest(pos - 1 - 50, lit(0))         // 0-based slice start
    val fin   = least(pos - 1 + qlen + 150, length(col("text")))
    val sn    = col("text").substr(start + 1, fin - start)
    val snippet = when(pos === 0, col("text").substr(lit(1), lit(200)))
      .when(length(sn) > 200, concat(lit("..."), sn.substr(lit(1), lit(200))))
      .when(start > 0, concat(lit("..."), sn))
      .otherwise(sn)
    docs.join(broadcast(hits), Seq("doc_id"))
      .select(col("doc_id"), col("rrf_score"), snippet.as("snippet"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  def searchSnippetsSql(qid: Long = 0, query: String = SnippetQuery, limit: Int = 10): String = {
    val q = Tok.lower(query)
    val qlen = q.length
    s"""WITH hits AS (
       |  ${rrfSql(qid, query, limit)}
       |), j AS (
       |  SELECT hits.doc_id, hits.rrf_score, d.text,
       |    strpos(lower(d.text), '$q') AS pos
       |  FROM hits JOIN documents d ON hits.doc_id = d.doc_id
       |), s AS (
       |  SELECT doc_id, rrf_score, text, pos,
       |    greatest(pos - 1 - 50, 0) AS st,
       |    least(pos - 1 + $qlen + 150, length(text)) AS fin
       |  FROM j
       |), w AS (
       |  SELECT doc_id, rrf_score, text, pos, st,
       |    substring(text, st + 1, fin - st) AS sn
       |  FROM s
       |)
       |SELECT doc_id, rrf_score,
       |  CASE WHEN pos = 0 THEN substring(text, 1, 200)
       |       WHEN length(sn) > 200 THEN '...' || substring(sn, 1, 200)
       |       WHEN st > 0 THEN '...' || sn
       |       ELSE sn END AS snippet
       |FROM w
       |ORDER BY rrf_score DESC, doc_id""".stripMargin
  }

  def linearSql(qid: Long = 0, query: String = Bm25.DefaultQuery, limit: Int = 20): String = {
    val n = limit * 2
    s"""WITH dense AS (
       |  SELECT vec_id AS doc_id, score / 1e4 AS dense_s
       |  FROM (${VectorSearch.semanticTopKSql(qid, n)})
       |), sparse AS (
       |  SELECT doc_id, score / 1e6 AS sparse_s
       |  FROM (${Bm25.searchSql(query, n)})
       |), txt AS (
       |  SELECT doc_id, score::DOUBLE AS text_s
       |  FROM (${Bm25.textSearchSql(query, n)})
       |)
       |SELECT COALESCE(dense.doc_id, sparse.doc_id, txt.doc_id) AS doc_id,
       |  ${fxSql(s"COALESCE(dense_s, 0.0) * $DenseWeight + COALESCE(sparse_s, 0.0) * $SparseWeight + COALESCE(text_s, 0.0) * $TextWeight", 6)} AS score
       |FROM dense
       |FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id
       |FULL OUTER JOIN txt ON COALESCE(dense.doc_id, sparse.doc_id) = txt.doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT $limit""".stripMargin
  }
}
