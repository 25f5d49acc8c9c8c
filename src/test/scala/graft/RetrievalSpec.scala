package graft

import graft.functions.expressions.Tok
import graft.operators.{Bm25, HybridSearch}

class RetrievalSpec extends GraftSuite {

  test("query tokenizer mirrors the corpus tokenizer semantics") {
    assert(Tok.terms("The FAST, fast query!! a to") == Seq("fast", "query"))
    assert(Tok.terms("x y") == Seq())
  }

  test("bm25 degrades to empty for a stopword-only query (no searchable terms)") {
    val rows = Bm25.search(spark, sf, "a the of to", 10)
    assert(rows.columns.toSeq == Seq("doc_id", "score"))
    assert(rows.isEmpty)
    // and the hybrid path survives a term-less sparse branch
    val hy = HybridSearch.rrf(spark, sf, query = "a the of to").collect()
    assert(hy.nonEmpty) // dense branch still contributes
  }

  test("batched bm25 matches the single-query plan per query") {
    val k = 10
    val batch = Bm25.searchBatch(spark, sf, k = k).collect()
    val byQuery = batch.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Bm25.BatchQueries.indices.map(_.toLong).toSet)
    byQuery.foreach { case (qid, g) =>
      // ranks contiguous from 1, scores descending with doc_id tiebreak
      val sorted = g.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to g.length).toSeq)
      val keys = sorted.map(r => (-r.getAs[Long]("score"), r.getAs[Long]("doc_id"))).toSeq
      assert(keys == keys.sorted, s"query $qid not rank-ordered")
      // each query's slice is exactly the single-query top-k (6dp fx twin)
      val single = Bm25.searchDocs(spark,
          graft.Tables.documents(spark, sf), Bm25.BatchQueries(qid.toInt), k)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
      assert(sorted.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq == single,
        s"query $qid diverges from the single-query plan")
    }
  }

  test("a stopword-only query inside a batch is skipped, not fatal") {
    val rows = Bm25.searchBatch(spark, sf,
      Seq(Bm25.DefaultQuery, "a the of to"), k = 5).collect()
    val ids = rows.map(_.getAs[Long]("query_id")).toSet
    assert(ids == Set(0L), s"term-less query must emit no rows, got $ids")
    // an entirely term-less batch is a contract violation, not a hang
    intercept[IllegalArgumentException](Bm25.searchBatch(spark, sf, Seq("a the"), 5))
  }

  test("batched hybrid RRF slice 0 equals the single-query rrf plan") {
    val batch = HybridSearch.rrfBatch(spark, sf, limit = 20).collect()
    val byQuery = batch.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Bm25.BatchQueries.indices.map(_.toLong).toSet)
    val slice0 = batch.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toSeq
    // query 0 = (vec 0, DefaultQuery): exactly the hybrid_rrf result
    val single = HybridSearch.rrf(spark, sf, limit = 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toSeq
    assert(slice0 == single, "batch slice 0 diverges from hybrid_rrf")
    // a term-less query inside the hybrid batch is skipped by the
    // sparse AND text branches (dense still answers on its vector),
    // never a plan-construction crash
    val withEmpty = HybridSearch.rrfBatch(spark, sf,
      Seq(Bm25.DefaultQuery, "   "), limit = 5).collect()
    assert(withEmpty.nonEmpty)
    // branch depth follows the single-query min(2*limit, maxCandidates)
    // so batch and single stay rank-identical at ANY limit
    val deepBatch = HybridSearch.rrfBatch(spark, sf, limit = 80).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toSeq
    val deepSingle = HybridSearch.rrf(spark, sf, limit = 80).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toSeq
    assert(deepBatch.sorted == deepSingle.sorted,
      "limit past maxCandidates/2 must not desync batch from single")
  }

  test("filtered hybrid RRF fuses only allowed documents, gated before each branch top-n") {
    import org.apache.spark.sql.functions.col
    val hits = HybridSearch.rrfFiltered(spark, sf).collect()
    assert(hits.nonEmpty && hits.length <= 20)
    val langOf = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hits.forall(r => langOf(r.getAs[Long]("doc_id")) == "en"),
      "every fused hit satisfies the filter")
    // gate-then-rank, not rank-then-gate: an allowed doc outside the
    // UNfiltered top-n can still surface once competitors are gated out
    val unfilteredTop = HybridSearch.rrf(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val exclusive = hits.map(_.getAs[Long]("doc_id")).filterNot(unfilteredTop)
    assert(exclusive.nonEmpty,
      "filtered ranking should admit allowed docs the unfiltered top-k crowds out")
  }

  test("bm25 returns scored docs for corpus terms") {
    val rows = Bm25.search(spark, sf, "spark vector join", 15).collect()
    assert(rows.length == 15)
    val scores = rows.map(_.getAs[Long]("score")).toSeq
    assert(scores == scores.sortBy(-_))
    // raw reference IDF ln((N-df+0.5)/(df+0.5)) goes negative when a
    // term is in >half the corpus (true at sf0.001) — scores just
    // need to be finite and ordered, not positive
    assert(scores.distinct.size > 1)
  }

  test("bm25 of an absent term is empty") {
    assert(Bm25.search(spark, sf, "zzzqqqxyzzy", 10).count() == 0)
  }

  test("text search counts containment per query term") {
    val rows = Bm25.textSearch(spark, sf, "spark vector", 10).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val s = r.getAs[Long]("score"); s >= 1 && s <= 2
    })
  }

  test("rrf fusion rewards docs found by multiple branches") {
    val rows = HybridSearch.rrf(spark, sf).collect()
    assert(rows.length == 20)
    val multi = rows.filter(_.getAs[Long]("n_branches") > 1)
    // fused list should contain at least one multi-branch doc, ranked high
    assert(multi.nonEmpty)
    val scores = rows.map(_.getAs[Long]("rrf_score")).toSeq
    assert(scores == scores.sortBy(-_))
  }

  test("linear fusion combines weighted branch scores") {
    val rows = HybridSearch.linear(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[Long]("score") > 0))
  }

  test("learned fusion boosts weights by branch quality but preserves top-k size") {
    val rows = HybridSearch.learned(spark, sf).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Long]("score")).toSeq
    assert(scores == scores.sortBy(-_))
    // quality-boosted weights scale every branch up (w_i >= base_i),
    // so the fused best score must be >= the plain linear one
    val linBest = HybridSearch.linear(spark, sf).collect().head.getAs[Long]("score")
    assert(scores.head >= linBest)
  }

  test("adaptive fusion with empty history is identical to linear fusion") {
    import spark.implicits._
    val empty = Seq.empty[(String, Option[Double])].toDF("query_text", "satisfaction")
    val ad = HybridSearch.adaptive(spark, sf, empty).collect().toSeq
    val lin = HybridSearch.linear(spark, sf).collect().toSeq
    assert(ad == lin)
  }

  test("adaptive fusion shifts weight off the dense branch on low satisfaction") {
    val ad = HybridSearch.adaptiveDemo(spark, sf).collect()
    assert(ad.length == 20)
    // demo history avg satisfaction = (0.4 + 0.6 + 0) / 3 < 0.6 →
    // weights (0.45, 0.33, 0.21) ≠ linear's (0.5, 0.3, 0.2)
    val lin = HybridSearch.linear(spark, sf).collect()
    assert(ad.map(_.getAs[Long]("score")).toSeq !=
           lin.map(_.getAs[Long]("score")).toSeq)
  }

  test("fusion performance stats aggregate the recorded query metrics") {
    import spark.implicits._
    import HybridSearch.QueryMetric
    val metrics = Seq(
      QueryMetric("q1", "spark vector", 1L, 5.0, 20, 2, Some(4.0), "rrf"),
      QueryMetric("q2", "spark join", 2L, 15.0, 20, 0, Some(2.0), "rrf"),
      QueryMetric("q3", "stream window", 3L, 25.0, 10, 1, None, "rrf"),
      QueryMetric("q4", "vector stream", 4L, 40.0, 20, 0, Some(5.0), "linear"))
      .toDS().toDF()
    val stats = HybridSearch.fusionPerformanceStats(metrics).collect()
      .map(r => r.getAs[String]("fusion_strategy") -> r).toMap
    val rrf = stats("rrf")
    assert(rrf.getAs[Long]("total_queries") == 3)
    assert(rrf.getAs[Long]("avg_query_time_ms") == 15000)   // 15.0 ms @ 3dp
    assert(rrf.getAs[Long]("p95_query_time_ms") == 24000)   // exact percentile(0.95)
    assert(rrf.getAs[Long]("click_through_rate") == 6667)   // 2/3 @ 4dp
    assert(rrf.getAs[Long]("avg_satisfaction") == 30000)    // (4+2)/2 @ 4dp
    assert(stats("linear").getAs[Long]("total_queries") == 1)
    // cache-hit heuristic: 1 of 4 under 10ms
    val hit = HybridSearch.cacheHitRate(metrics).head.getAs[Long]("cache_hit_rate")
    assert(hit == 2500)
    // empty history degrades to 0, not null (reference returns 0.0)
    val none = HybridSearch.cacheHitRate(
      metrics.filter(org.apache.spark.sql.functions.col("duration_ms") < 0))
      .head.getAs[Long]("cache_hit_rate")
    assert(none == 0L)
    // the metrics log feeds the adaptive learning loop directly
    val viaMetrics = HybridSearch.adaptiveFromMetrics(spark, sf,
      HybridSearch.DemoHistory.map { case (q, s) =>
        QueryMetric(q, q, 0L, 20.0, 20, 0, s, "adaptive")
      }.toDS().toDF()).collect()
    val direct = HybridSearch.adaptiveDemo(spark, sf).collect()
    assert(viaMetrics.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
  }

  test("sparse search scores are the weighted dot product of the sparse vectors") {
    import org.apache.spark.sql.functions.col
    val out = Bm25.sparseSearch(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    // every returned score re-derives from the sparse_vectors rows:
    // integer query weight x fixed-point tf weight, summed
    val qIds = Bm25.SparseQuery.map { case (t, w) =>
      graft.functions.expressions.Tok.hash60(t) -> w }.toMap
    val ids = out.map(_.getAs[Long]("doc_id")).toSeq
    val sv = Bm25.sparseVectors(spark, sf)
      .filter(col("doc_id").isin(ids: _*)).collect()
      .filter(r => qIds.contains(r.getAs[Long]("term_id")))
      .groupBy(_.getAs[Long]("doc_id"))
    out.foreach { r =>
      val rows = sv(r.getAs[Long]("doc_id"))
      val expected = rows.map(x =>
        x.getAs[Long]("weight") * qIds(x.getAs[Long]("term_id"))).sum
      assert(r.getAs[Long]("score") == expected,
        s"doc ${r.getAs[Long]("doc_id")} score mismatch")
      assert(r.getAs[Long]("n_terms") == rows.length.toLong)
    }
    // descending by score, ties by doc_id
    val pairs = out.map(r => (r.getAs[Long]("score"), r.getAs[Long]("doc_id")))
    assert(pairs.zip(pairs.tail).forall { case ((s1, d1), (s2, d2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2) })
    // zero-weight/absent query terms cannot score: a query of only an
    // absent term returns empty
    assert(Bm25.sparseSearch(spark, sf, Seq("zzzzunseen" -> 9L)).isEmpty)
    // duplicate query terms merge by coordinate addition — the only
    // semantics the SQL twin's fanning join can agree with
    val dup = Bm25.sparseSearch(spark, sf, Seq("spark" -> 2L, "spark" -> 3L))
      .collect().map(_.toSeq).toSeq
    val merged = Bm25.sparseSearch(spark, sf, Seq("spark" -> 5L))
      .collect().map(_.toSeq).toSeq
    assert(dup == merged, "duplicate terms must sum weights, not last-win")
  }

  test("doc_similar ranks by sparse cosine; an exact duplicate scores 1.0") {
    import org.apache.spark.sql.functions.col
    val anchor = 7L
    val out = Bm25.docSimilar(spark, sf, anchor, k = 10).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Long]("doc_id") != anchor))
    val cs = out.map(_.getAs[Long]("cosine"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "descending")
    assert(cs.forall(c => c >= 0L && c <= 1000000L), "cosine in [0, 1] at fx6")
    // a doc with the same text as the anchor has the same TF vector:
    // cosine exactly 1.0 (the corpus carries injected duplicates; if
    // doc 7 has one it must top the list — verify via content hash)
    val txt = Tables.documents(spark, sf).filter(col("doc_id") === anchor)
      .head.getAs[String]("text")
    val dupIds = Tables.documents(spark, sf)
      .filter(col("text") === txt && col("doc_id") =!= anchor)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    if (dupIds.nonEmpty)
      assert(out.take(dupIds.size).forall(r =>
        dupIds.contains(r.getAs[Long]("doc_id")) &&
          r.getAs[Long]("cosine") == 1000000L))
  }

  test("prf expansion terms come from the feedback docs and re-rank deterministically") {
    import org.apache.spark.sql.functions._
    val out = Bm25.prfSearch(spark, sf, k = 15).collect()
    assert(out.nonEmpty && out.length <= 15)
    val scores = out.map(_.getAs[Long]("score")).toSeq
    assert(scores == scores.sortBy(-_), "descending by fused score")
    // expansion terms must actually occur in the stage-1 feedback docs
    val fbIds = Bm25.search(spark, sf, k = Bm25.PrfDocs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val fbText = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(fbIds.toSeq: _*))
      .collect().map(_.getAs[String]("text"))
    val orig = Tok.terms(Bm25.DefaultQuery).toSet
    // recompute the expansion mass driver-side
    import scala.jdk.CollectionConverters._
    val mass = scala.collection.mutable.Map.empty[String, Long]
    fbText.foreach(t => Tok.tokens(t).asScala.foreach { w =>
      if (!orig(w)) mass(w) = mass.getOrElse(w, 0L) + 1L
    })
    val expect = mass.toSeq.sortBy { case (t, m) => (-m, t) }.take(Bm25.PrfTerms).map(_._1)
    // every expansion term must measurably contribute: a doc scoring
    // in PRF but containing NO original term must contain an
    // expansion term (pure-expansion recall — the point of RM3)
    val expanded = expect.toSet
    val texts = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    out.foreach { r =>
      val toks = Tok.tokens(texts(r.getAs[Long]("doc_id"))).asScala.toSet
      assert(toks.exists(orig) || toks.exists(expanded),
        s"doc ${r.getAs[Long]("doc_id")} scored without any query/expansion term")
    }
    assert(expect.nonEmpty, "synthetic corpus must yield expansion terms")
  }

  test("vocabulary dense ids are a gapless df-descending enumeration") {
    import scala.jdk.CollectionConverters._
    // UNSORTED relation contract (r8): sort on the driver, not the plan
    val rows = Bm25.vocabulary(spark, sf).collect()
      .sortBy(_.getAs[Long]("term_id"))
    assert(rows.nonEmpty)
    // gapless 1..V enumeration in (df desc, term) order
    assert(rows.map(_.getAs[Long]("term_id")).toSeq == (1L to rows.length).toSeq)
    val key = rows.map(r => (-r.getAs[Long]("df"), r.getAs[String]("term"))).toSeq
    assert(key == key.sorted, "ids must follow (df desc, term)")
    // df/cf agree with a driver-side recount through the same tokenizer
    val docs = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val df = scala.collection.mutable.Map.empty[String, Long]
    val cf = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { t =>
      val toks = Tok.tokens(t).asScala
      toks.groupBy(identity).foreach { case (w, g) =>
        df(w) = df.getOrElse(w, 0L) + 1L
        cf(w) = cf.getOrElse(w, 0L) + g.size
      }
    }
    assert(rows.length == df.size)
    rows.foreach { r =>
      val t = r.getAs[String]("term")
      assert(r.getAs[Long]("df") == df(t) && r.getAs[Long]("cf") == cf(t), t)
    }

    // the driver-compared head: top-VocabTopK by term_id, planned as
    // TakeOrdered — never a vocabulary-sized Sort exchange (the
    // pagerank/pagerankTop contract split, r8)
    val top = Bm25.vocabularyTop(spark, sf)
    val topRows = top.collect()
    assert(topRows.length == math.min(Bm25.VocabTopK, rows.length))
    val got = topRows.map(r => (r.getAs[Long]("term_id"), r.getAs[String]("term"),
      r.getAs[Long]("df"), r.getAs[Long]("cf"))).toSeq
    val expected = rows.take(topRows.length).map(r => (r.getAs[Long]("term_id"),
      r.getAs[String]("term"), r.getAs[Long]("df"), r.getAs[Long]("cf"))).toSeq
    assert(got == expected, "head must agree with the full ranking")
    val exec = top.queryExecution.executedPlan
    assert(exec.toString.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered plan:\n$exec")
    val globalSorts = exec.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty,
      s"vocabulary-sized global Sort crept back into the plan:\n$exec")
  }

  test("phrase_search reads only (doc_id, text) and plans zero pre-rank exchanges") {
    val df = Bm25.phraseSearch(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unpruned scan: $readSchema")
    // the map is zero-shuffle: the only allowed exchange feeds the
    // final top-k single partition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e.outputPartitioning.numPartitions
    }
    assert(exchanges.forall(_ == 1), s"unexpected wide exchange: $exchanges")
  }

  test("phrase_search finds exactly the adjacent-token matches, counted and positioned") {
    val rows = Bm25.phraseSearch(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // driver-side recount over the raw corpus
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val words = Bm25.DefaultPhrase.split(" ")
    def occ(text: String): Seq[Int] = {
      val t = text.toLowerCase.split(" ", -1)
      (0 to t.length - words.length)
        .filter(i => words.indices.forall(j => t(i + j) == words(j)))
        .map(_ + 1) // 1-based
    }
    rows.foreach { r =>
      val os = occ(docs(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("n_occurrences") == os.length)
      assert(r.getAs[Long]("first_pos") == os.head)
    }
    // ranking: occurrence-count desc, doc_id tie-break; and the top-k
    // really is the k best — no skipped doc has more occurrences than
    // the last returned row
    val ns = rows.map(_.getAs[Long]("n_occurrences")).toSeq
    assert(ns == ns.sortBy(-_))
    val returned = rows.map(_.getAs[Long]("doc_id")).toSet
    val floor = ns.last
    docs.foreach { case (id, text) =>
      if (!returned(id)) assert(occ(text).length <= floor, s"doc $id outranks the cut")
    }
  }
}
