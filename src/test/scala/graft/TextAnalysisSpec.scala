package graft

import graft.operators.{DocOps, Multimodal, TextAnalysis}

class TextAnalysisSpec extends GraftSuite {

  test("lang_id predicts a language with confidence for every doc") {
    val rows = TextAnalysis.langId(spark, sf).collect()
    assert(rows.length == 500)
    val langs = rows.map(_.getAs[String]("pred_lang")).distinct.toSet
    assert(langs.subsetOf(Set("de", "en", "es", "fr", "und")))
  }

  test("lang family scores in ONE LangScores kernel pass (r11 plan pin)") {
    // the profile scorer is one codegen'd LangScores over the text;
    // lang_mismatch's NoInline barrier keeps PushDownPredicate from
    // re-inlining the kernel into the Filter (it ran twice per row:
    // 2.7 s vs 1.6 s warm at sf1). One 'langscores' in each executed
    // plan = the kernel evaluates once per document.
    def kernels(df: org.apache.spark.sql.DataFrame): Int =
      "langscores".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(kernels(TextAnalysis.langId(spark, sf)) == 1)
    assert(kernels(TextAnalysis.langMismatch(spark, sf)) == 1)
    // no interpreted higher-order filter remains in either plan
    assert(!TextAnalysis.langMismatch(spark, sf).queryExecution
      .executedPlan.toString.contains("ArrayFilter"))
  }

  test("LangScores kernel is value-identical to the relational scorer (r11 parity pin)") {
    // reconstruct the pre-kernel Column arithmetic (the form the
    // DuckDB oracle still replays) and compare per doc
    import org.apache.spark.sql.functions._
    import graft.OracleNum.fx
    val toks = split(lower(col("text")), " ")
    val n = size(toks).cast("double")
    val scores = TextAnalysis.LangProfiles.map { case (code, words) =>
      code -> (size(filter(toks, t => t.isin(words: _*))).cast("double") / n)
    }
    val best = greatest(scores.map(_._2): _*)
    val pred = scores.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (None, (code, s)) => Some(when(s === best && best > 0.0, code))
      case (Some(c), (code, s)) => Some(c.when(s === best && best > 0.0, code))
    }.get.otherwise("und")
    val ref = Tables.documents(spark, sf)
      .select(col("doc_id"), pred.as("pred_lang"), fx(best, 6).as("confidence"))
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val got = TextAnalysis.langId(spark, sf).collect().map(_.toSeq).toSeq
    assert(got == ref)
  }

  test("quality score is bounded and punct ratio sane") {
    val rows = TextAnalysis.quality(spark, sf).collect()
    assert(rows.length == 500)
    assert(rows.forall { r =>
      val q = r.getAs[Long]("quality"); q >= 0L && q <= 1000000L
    })
  }

  test("token counts are consistent: ws <= bpe, norm <= ws") {
    val rows = TextAnalysis.tokenCount(spark, sf).collect()
    assert(rows.forall { r =>
      r.getAs[Long]("ws_tokens") <= r.getAs[Long]("bpe_tokens") + 1 &&
        r.getAs[Long]("norm_terms") <= r.getAs[Long]("ws_tokens")
    })
  }

  test("near-duplicate docs collide on min gram hash") {
    val fp = TextAnalysis.fingerprint(spark, sf).collect()
    val byMin = fp.groupBy(_.getAs[Long]("min_gram_hash")).filter(_._2.length > 1)
    // injected near-dups share long prefixes → identical min hash
    assert(byMin.nonEmpty)
  }

  test("doc get/list/stats") {
    assert(DocOps.get(spark, sf).count() == 1)
    val page = DocOps.list(spark, sf).collect()
    assert(page.length == 50 && page.head.getAs[Long]("doc_id") >= 100)
    val st = DocOps.stats(spark, sf).collect()
    assert(st.map(_.getAs[Long]("n_docs")).sum == 500)
  }

  test("multimodal decode batch matches column-path metadata") {
    val assets = Multimodal.assets(spark, sf)
    val decoded = Multimodal.decodeBatch(spark, assets).collect()
    assert(decoded.length == 500)
    val viaCols = Multimodal.meta(spark, sf).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("width"))).toMap
    assert(decoded.forall(d => viaCols(d.asset_id) == d.width))
  }

  test("byte features sum to the payload byte total and resize fits the box") {
    import org.apache.spark.sql.functions._
    val f = Multimodal.features(spark, sf).collect()
    assert(f.length == 500)
    val totals = TestSpark.spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).getBytes("UTF-8").map(b => (b & 0xff).toLong).sum).toMap
    assert(f.forall { r =>
      (0 until 8).map(d => r.getAs[Long](s"f$d")).sum == totals(r.getAs[Long]("asset_id"))
    })
    val rs = Multimodal.resize(spark, sf).collect()
    assert(rs.forall(r => r.getAs[Long]("new_width") <= 256 && r.getAs[Long]("new_height") <= 256))
    assert(rs.forall(r => math.max(r.getAs[Long]("new_width"), r.getAs[Long]("new_height")) == 256))
  }

  test("stratified sampling is deterministic and downsamples the big stratum") {
    val a = TextAnalysis.sampleStratified(spark, sf).collect()
    val b = TextAnalysis.sampleStratified(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val byLang = a.map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_sampled")).toMap
    val fullByLang = Tables.documents(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("lang")).count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    // every stratum is sampled at or below its keep rate's ballpark
    byLang.foreach { case (lang, n) => assert(n <= fullByLang(lang)) }
    // en keeps ~30%: must be strictly downsampled
    assert(byLang("en") < fullByLang("en"))
  }

  test("frame sampling emits at most 4 in-range frame indices per video asset") {
    val rows = Multimodal.frameSample(spark, sf).collect()
    val byAsset = rows.groupBy(_.getAs[Long]("asset_id"))
    val nVideo = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.expr("doc_id % 3 = 2")).count()
    assert(nVideo > 0 && byAsset.size == nVideo)
    assert(byAsset.keySet.forall(_ % 3 == 2))
    byAsset.values.foreach { g =>
      assert(g.length <= 4)
      val frames = g.head.getAs[Long]("frames")
      assert(g.forall(r => r.getAs[Long]("frame_idx") < frames))
    }
  }

  test("media containers are real: header round-trip, magic dispatch, corrupt-input safety") {
    import graft.functions.expressions.{ParseMediaHeader => P, SynthMedia => S}
    import org.apache.spark.unsafe.types.UTF8String
    val payload = "hello multimodal world, forty-two bytes!!".getBytes("UTF-8")
    val n = payload.length
    // BMP: magic + real offsets round-trip
    val bmp = S.compute(payload, UTF8String.fromString("image"))
    assert(bmp(0) == 'B' && bmp(1) == 'M' && bmp.length == 54 + n)
    val hb = P.compute(bmp)
    assert(hb.getLong(P.Kind) == 0 && hb.getLong(P.Width) == n % 1280 + 16 &&
      hb.getLong(P.Height) == n % 720 + 9 && hb.getLong(P.Frames) == 1 &&
      hb.getLong(P.DataBytes) == n)
    // payload bytes ride unmodified after the 54-byte header
    assert(bmp.drop(54).sameElements(payload))
    // WAV: canonical PCM layout
    val wav = S.compute(payload, UTF8String.fromString("audio"))
    val hw = P.compute(wav)
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    assert(hw.getLong(P.Kind) == 1 && hw.getLong(P.SampleRate) == S.Rates(n % 4) &&
      hw.getLong(P.Channels) == n % 2 + 1 && hw.getLong(P.DataBytes) == n)
    // AVI: MainAVIHeader fields
    val avi = S.compute(payload, UTF8String.fromString("video"))
    val ha = P.compute(avi)
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    assert(ha.getLong(P.Kind) == 2 && ha.getLong(P.Frames) == n % 30 + 1 &&
      ha.getLong(P.Width) == n % 1280 + 16 && ha.getLong(P.Height) == n % 720 + 9 &&
      ha.getLong(P.DataBytes) == n)
    // corrupt/unknown input degrades to kind = -1, never throws
    for (junk <- Seq(Array.emptyByteArray, payload, bmp.take(10), wav.take(20))) {
      assert(P.compute(junk).getLong(P.Kind) == -1)
    }
  }

  test("media aHash: header-invariant, perturbation-local, copy groups match text groups") {
    import graft.functions.expressions.{MediaAHash => A, SynthMedia => S}
    import org.apache.spark.unsafe.types.UTF8String
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val payload = ("the quick brown fox jumps over the lazy dog " * 8).getBytes("UTF-8")
    val base = A.compute(S.compute(payload, UTF8String.fromString("image")))
    assert(base >= 0L, "valid container must hash")
    // same data behind a DIFFERENT container header → same hash
    // (content identity, not byte identity)
    assert(A.compute(S.compute(payload, UTF8String.fromString("audio"))) == base)
    // one-byte perturbation moves one cell (plus at most a global-mean
    // ripple): near-dup distance, far below unrelated content
    val tweaked = payload.clone(); tweaked(100) = 'X'.toByte
    val hTweak = A.compute(S.compute(tweaked, UTF8String.fromString("image")))
    assert(hamming(base, hTweak) <= 6,
      s"one-byte change should stay near-dup, got ${hamming(base, hTweak)}")
    val other = ("completely different content with other words entirely " * 7)
      .getBytes("UTF-8")
    val hOther = A.compute(S.compute(other, UTF8String.fromString("image")))
    assert(hamming(base, hOther) > 10,
      s"unrelated content should be far, got ${hamming(base, hOther)}")
    // corrupt input degrades to -1, never throws
    assert(A.compute(Array.emptyByteArray) == -1L)
    assert(A.compute("nonsense".getBytes("UTF-8")) == -1L)
    // distributed grouping: n_copies per asset equals the text-equality
    // group size among image-typed docs (identical text → identical
    // pixels → identical hash)
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .filter(_.getLong(0) % 3 == 0).map(r => r.getLong(0) -> r.getString(1)).toMap
    val sizeByText = texts.values.groupBy(identity).map { case (t, g) => t -> g.size }
    val got = operators.Multimodal.phashDup(spark, sf).collect()
      .map(r => r.getAs[Long]("asset_id") -> r.getAs[Long]("n_copies")).toMap
    assert(got.keySet == texts.keySet)
    got.foreach { case (id, n) =>
      assert(n >= sizeByText(texts(id)).toLong,
        s"asset $id: hash group at least its exact-text group")
    }
  }

  test("phashNear surfaces the planted near-dup twins through the banded path") {
    // phashNear widens the image corpus with planted twins (every 10th
    // image asset, first byte +128 mod 256, twin id = -doc_id-1); the
    // banded pair search must surface (twin, original) pairs — a
    // NON-empty positive exercise of the Hamming-band expansion (the
    // natural corpus holds no two assets within radius 3, so without
    // the plants this operator's oracle would pass on 0 == 0 rows).
    val rows = operators.Multimodal.phashNear(spark, sf).collect()
    assert(rows.nonEmpty, "planted twins must produce at least one pair")
    assert(rows.forall(_.getAs[Long]("hamming") <= 3L))
    // twin ids are negative, so a (twin, original) pair always orders
    // twin-first: asset1 == -asset2 - 1
    val planted = rows.filter(r =>
      r.getAs[Long]("asset1") == -r.getAs[Long]("asset2") - 1L)
    assert(planted.nonEmpty, "at least one (twin, original) pair must surface")
    // a one-byte +128 bump moves one cell mean: the pair stays well
    // inside the radius, typically hamming <= 2
    planted.foreach { r =>
      assert(r.getAs[Long]("hamming") <= 3L)
    }
    // the plants are the ONLY near-dups expected at this SF: every
    // surfaced pair involves a twin (no spurious natural pair appears)
    assert(rows.forall(r => r.getAs[Long]("asset1") < 0L))
  }

  test("PCM energy: i16 LE decode, windowing, silence floor, corrupt safety") {
    import graft.functions.expressions.{PcmEnergy => E, SynthMedia => S}
    // a known two-sample payload: [1000, -1000] little-endian
    def le(v: Int): Seq[Byte] =
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val loud = (le(1000) ++ le(-1000)).toArray
    val r = E.compute(S.wav(loud, 16000, 1))
    assert(r.getLong(0) == 2 && r.getLong(1) == 1)
    assert(r.getLong(3) == 2L * 1000 * 1000, "sum of squares of +-1000")
    assert(r.getLong(2) == 0, "mean square 1e6 is exactly at the floor: not silent")
    // all-zero payload: every window silent
    val quiet = E.compute(S.wav(new Array[Byte](1024), 16000, 1))
    assert(quiet.getLong(0) == 512 && quiet.getLong(1) == 2 &&
      quiet.getLong(2) == 2 && quiet.getLong(3) == 0)
    // partial last window is analyzed with its own length
    val three = E.compute(S.wav((le(100) ++ le(100) ++ le(100)).toArray, 8000, 1))
    assert(three.getLong(0) == 3 && three.getLong(1) == 1 && three.getLong(2) == 1)
    // non-WAV input degrades to zeros, never throws
    assert(E.compute("not audio".getBytes("UTF-8")).getLong(0) == 0)
    assert(E.compute(Array.emptyByteArray).getLong(0) == 0)
  }

  test("frame hashes: identical frames no cuts, contrasting frames a large step, corrupt safety") {
    import graft.functions.expressions.{FrameHashes => F, SynthMedia => S}
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // an AVI whose payload is two identical "frames" (the direct
    // writer lets the test declare the frame count explicitly)
    val frame = ("abcdefghij" * 6).getBytes("UTF-8") // 60 bytes
    val twoSame = frame ++ frame // 120 bytes, 2 x 60-byte frames
    val flat = F.compute(S.avi(twoSame, 320, 240, 2))
    assert(flat.numElements() == 2)
    assert(flat.getLong(0) == flat.getLong(1), "identical frames hash identically")
    // brightness-shift invariance: a uniform +14 on every byte moves
    // each cell mean AND the global mean by the same amount, so every
    // threshold comparison — and the hash — is unchanged
    val loud = frame.map(b => (b + 14).toByte)
    val cut = F.compute(S.avi(frame ++ loud, 320, 240, 2))
    assert(hamming(cut.getLong(0), cut.getLong(1)) == 0,
      "aHash must be invariant to a uniform brightness shift")
    // a shuffled second frame lands far from the first
    val shuffled = frame.reverse
    val far = F.compute(S.avi(frame ++ shuffled, 320, 240, 2))
    assert(hamming(far.getLong(0), far.getLong(1)) > 5,
      s"reversed content should move many cells, got ${hamming(far.getLong(0), far.getLong(1))}")
    // non-AVI and undersized input yield empty, never a crash
    assert(F.compute("junk".getBytes("UTF-8")).numElements() == 0)
    assert(F.compute(S.bmp(frame, 10, 6)).numElements() == 0)
  }

  /** Reference tokenizer in Scala for oracle-free spot checks. */
  private def toks(text: String): Seq[String] =
    text.toLowerCase.replaceAll("[^a-z0-9 ]", "").split(" ").toSeq
      .filter(t => t.length > 1 && !graft.functions.TextFunctions.StopWords.contains(t))

  test("tfidf_keywords ranks per-doc terms by tf*ln(N/df), ranks dense from 1") {
    val rows = TextAnalysis.tfidfKeywords(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).toSeq.sorted
      assert(ranks == (1L to ranks.length), s"doc $id ranks $ranks")
      assert(ranks.length <= TextAnalysis.TfidfK)
      val scores = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("score")).toSeq
      assert(scores == scores.sortBy(-_), s"doc $id scores not descending")
    }
    // keywords are really the document's own tokens
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    byDoc.take(20).foreach { case (id, rs) =>
      val vocab = toks(docs(id)).toSet
      rs.foreach(r => assert(vocab(r.getAs[String]("term")), s"doc $id term ${r.get(1)}"))
    }
  }

  test("corpus_ngrams matches an exact in-memory bigram count, tie-broken by ngram") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val counts = scala.collection.mutable.Map[String, (Long, Set[Long])]()
    docs.foreach { case (id, text) =>
      val t = toks(text)
      t.sliding(2).filter(_.size == 2).map(_.mkString(" ")).foreach { g =>
        val (n, ids) = counts.getOrElse(g, (0L, Set.empty[Long]))
        counts(g) = (n + 1, ids + id)
      }
    }
    val expected = counts.toSeq
      .map { case (g, (n, ids)) => (g, n, ids.size.toLong) }
      .sortBy { case (g, n, _) => (-n, g) }
      .take(TextAnalysis.NgramTopK)
    val got = TextAnalysis.corpusNgrams(spark, sf).collect()
      .map(r => (r.getAs[String]("ngram"), r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_docs")))
      .toSeq
    assert(got == expected)
  }

  test("lm_score matches the brute-force bigram-LM surprise per document") {
    import graft.functions.expressions.Tok
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Tok.tokens(r.getString(1)).asScala.toSeq).toMap
    def bigrams(toks: Seq[String]): Seq[String] =
      if (toks.size < 2) Seq.empty else toks.sliding(2).map(_.mkString(" ")).toSeq
    val allBi = docs.values.flatMap(bigrams).toSeq
    val c12 = allBi.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = allBi.groupBy(_.split(" ")(0)).view.mapValues(_.size.toLong).toMap
    val v = docs.values.flatten.toSet.size.toLong
    def fx4(x: Double): Long = math.floor(x * 10000L + 0.5).toLong
    val got = TextAnalysis.lmScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("surprise_fx"),
         r.getAs[Long]("mean_surprise_fx"))).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, toks) =>
      val bs = bigrams(toks)
      val exp = bs.map(b =>
        fx4(math.log((c1(b.split(" ")(0)) + v).toDouble / (c12(b) + 1L).toDouble))).sum
      val (nb, sfx, mfx) = got(id)
      assert(nb == bs.size, s"doc $id n_bigrams")
      assert(sfx == exp, s"doc $id surprise")
      assert(mfx == (if (bs.nonEmpty) exp / bs.size else 0L), s"doc $id mean")
      // smoothing keeps every bigram's surprise strictly positive
      if (nb > 0) assert(sfx > 0, s"doc $id positivity")
    }
  }

  test("token histogram buckets are exact powers of two and conserve the corpus") {
    val rows = TextAnalysis.tokenHistogram(spark, sf).collect()
    rows.foreach { r =>
      val lo = r.getAs[Long]("bucket_lo")
      assert(java.lang.Long.bitCount(lo) == 1, s"bucket_lo $lo not a power of 2")
      val (mn, mx) = (r.getAs[Long]("min_tokens"), r.getAs[Long]("max_tokens"))
      assert(mn >= lo && mx < 2 * lo && mn <= mx,
        s"[$mn,$mx] outside bucket [$lo,${2 * lo})")
      assert(r.getAs[Long]("sum_tokens") >= r.getAs[Long]("n_docs") * mn)
    }
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total,
      "every document lands in exactly one bucket")
  }

  test("text_entropy matches a driver-side recount per doc") {
    import graft.functions.expressions.Tok
    def fx4(x: Double): Long = math.floor(x * 10000L + 0.5).toLong
    val rows = TextAnalysis.textEntropy(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(50).foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = Tok.tokens(texts(id)); import scala.jdk.CollectionConverters._
      val tf = toks.asScala.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = tf.values.sum
      assert(r.getAs[Long]("n_types") == tf.size, s"doc $id types")
      assert(r.getAs[Long]("n_tokens") == n, s"doc $id tokens")
      val h = if (n == 0) 0.0
        else math.log(n.toDouble) - tf.values.map(c => c * math.log(c.toDouble)).sum / n
      assert(r.getAs[Long]("entropy") == fx4(h), s"doc $id entropy")
      assert(r.getAs[Long]("ttr") ==
        (if (n == 0) 0L else fx4(tf.size.toDouble / n)), s"doc $id ttr")
      // entropy of an n-token doc is bounded by ln(n_types)
      assert(r.getAs[Long]("entropy") <= fx4(math.log(math.max(1, tf.size).toDouble)) + 1)
    }
  }

  test("lang_mismatch flags exactly the confident disagreements with the declared tag") {
    val mismatch = TextAnalysis.langMismatch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("declared_lang"), r.getAs[String]("pred_lang"),
          r.getAs[Long]("confidence"))).toMap
    val pred = TextAnalysis.langId(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_lang"), r.getAs[Long]("confidence"))).toMap
    val declared = graft.Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    // flag set == the independent recomposition from lang_id + metadata
    val expect = pred.collect {
      case (id, (p, c)) if p != "und" && p != declared(id) => id -> (declared(id), p, c)
    }.toMap
    assert(mismatch == expect)
    assert(mismatch.nonEmpty, "the synthetic corpus has shuffled lang tags")
  }

  test("vocab_induce emits the top-V substrings by freq × (len−1), seed-vocab style") {
    import graft.functions.expressions.Tok
    import scala.jdk.CollectionConverters._
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val cnt = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach(t => Tok.tokens(t).asScala.foreach(w => cnt(w) += 1))
    val freq = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      (w, c) <- cnt
      l <- 2 to TextAnalysis.VocabMaxPiece
      i <- 0 to w.length - l
    } freq(w.substring(i, i + l)) += c
    val expected = freq.toSeq
      .map { case (p, f) => (p, f, f * (p.length - 1)) }
      .sortBy { case (p, _, s) => (-s, p) }
      .take(TextAnalysis.VocabV)
    val df = TextAnalysis.vocabInduce(spark, sf)
    val got = df.collect().map(r =>
      (r.getAs[String]("piece"), r.getAs[Long]("freq"), r.getAs[Long]("score"))).toSeq
    assert(got == expected)
    // the head is a TakeOrdered over the piece aggregate — the corpus
    // never reaches a global sort
    val exec = df.queryExecution.executedPlan
    assert(exec.toString.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered plan:\n$exec")
  }

  /** Driver-side reference BPE (Sennrich et al. get_stats/merge_vocab
    * shape): word-frequency table → per-round adjacent-pair census
    * (every adjacency counts) → argmax with (count desc, pair asc)
    * tie-break → greedy left-to-right non-overlapping merge.
    */
  private def refBpe(texts: Seq[String], rounds: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Int]) = {
    import scala.jdk.CollectionConverters._
    val wc = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach(t => graft.functions.expressions.Tok.tokens(t).asScala
      .foreach(w => wc(w) += 1L))
    var seg: Map[String, Vector[String]] =
      wc.keysIterator.map(w => w -> w.map(_.toString).toVector).toMap
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val stats = collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((w, c) <- wc; Seq(a, b) <- seg(w).sliding(2) if seg(w).length >= 2)
        stats((a, b)) += c
      if (stats.nonEmpty) {
        val ((l, rr), cnt) = stats.minBy { case ((a, b), c) => (-c, a + " " + b) }
        merges += ((r, l, rr, cnt))
        seg = seg.map { case (w, s) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < s.length) {
            if (j < s.length - 1 && s(j) == l && s(j + 1) == rr) { out += (l + rr); j += 2 }
            else { out += s(j); j += 1 }
          }
          w -> out.result()
        }
      }
    }
    (merges.result(), seg.map { case (w, s) => w -> s.length })
  }

  test("bpe_train equals the reference merge loop, rank for rank") {
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0)).toSeq
    val (expMerges, _) = refBpe(texts, TextAnalysis.BpeMerges)
    val got = TextAnalysis.bpeTrain(spark, sf).collect().map(r =>
      (r.getAs[Int]("merge_rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("pair_count"))).toSeq
    assert(got == expMerges)
    // non-vacuous: the corpus must yield every round, and at least one
    // learned symbol must be longer than two chars (a merge built on a
    // prior merge — the part a unigram census can't produce)
    assert(got.length == TextAnalysis.BpeMerges)
    assert(got.exists { case (_, l, r, _) => (l + r).length > 2 })
  }

  test("bpe_token_count equals the reference segmentation applied per doc") {
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val (_, nPieces) = refBpe(docs.map(_._2), TextAnalysis.BpeMerges)
    val exp = docs.map { case (id, t) =>
      val ws = graft.functions.expressions.Tok.tokens(t).asScala.toSeq
      (id, ws.size.toLong, ws.map(w => nPieces(w).toLong).sum)
    }.filter(_._2 > 0).sortBy(_._1)
    val got = TextAnalysis.bpeTokenCount(spark, sf).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens"))).toSeq
    assert(got == exp)
    // BPE can only group characters WITHIN a word: every word is >= 1
    // symbol, so the induced token count is bounded below by the word
    // count — and above by the character mass
    assert(got.forall { case (_, nw, nb) => nb >= nw })
  }

  test("bpe_encode emits the reference id sequence in document order") {
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    // reference segmentation + tokenizer-convention id space: sorted
    // base chars, then merges in rank order (later merge wins a
    // surface-string tie)
    val wc = collection.mutable.Set.empty[String]
    docs.foreach(d => graft.functions.expressions.Tok.tokens(d._2).asScala
      .foreach(wc += _))
    val (merges, _) = refBpe(docs.map(_._2), TextAnalysis.BpeMerges)
    var seg: Map[String, Vector[String]] =
      wc.iterator.map(w => w -> w.map(_.toString).toVector).toMap
    merges.foreach { case (_, l, r, _) =>
      seg = seg.map { case (w, s) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < s.length) {
          if (j < s.length - 1 && s(j) == l && s(j + 1) == r) { out += (l + r); j += 2 }
          else { out += s(j); j += 1 }
        }
        w -> out.result()
      }
    }
    val chars = wc.iterator.flatMap(_.toSeq).map(_.toString).toSeq.distinct.sorted
    val pid = collection.mutable.Map[String, Long](
      chars.zipWithIndex.map { case (c, i) => c -> i.toLong }: _*)
    merges.foreach { case (r, l, rr, _) => pid(l + rr) = chars.length + r - 1L }
    val exp = docs.flatMap { case (id, t) =>
      val ws = graft.functions.expressions.Tok.tokens(t).asScala.toSeq
        .take(TextAnalysis.EncodeWords)
      val ids = ws.flatMap(w => seg(w)).map(p => pid(p))
      if (ids.isEmpty) None
      else Some((id, ids.length.toLong, ids.mkString(" ")))
    }.sortBy(_._1)
    val got = TextAnalysis.bpeEncode(spark, sf).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_ids"), r.getAs[String]("ids"))).toSeq
    assert(got == exp)
    // non-vacuous: the 32-word prefix must bind somewhere, and some id
    // must reference a merge (>= |alphabet|)
    assert(docs.exists(d =>
      graft.functions.expressions.Tok.tokens(d._2).size > TextAnalysis.EncodeWords))
    assert(got.exists(_._3.split(" ").exists(_.toLong >= chars.length)))
  }

  test("bpe_vocab is the full id table with reference piece frequencies") {
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0)).toSeq
    val wc = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach(t => graft.functions.expressions.Tok.tokens(t).asScala
      .foreach(w => wc(w) += 1L))
    val (merges, _) = refBpe(docs, TextAnalysis.BpeMerges)
    var seg: Map[String, Vector[String]] =
      wc.keysIterator.map(w => w -> w.map(_.toString).toVector).toMap
    merges.foreach { case (_, l, r, _) =>
      seg = seg.map { case (w, s) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < s.length) {
          if (j < s.length - 1 && s(j) == l && s(j + 1) == r) { out += (l + r); j += 2 }
          else { out += s(j); j += 1 }
        }
        w -> out.result()
      }
    }
    val chars = wc.keysIterator.flatMap(_.toSeq).map(_.toString).toSeq.distinct.sorted
    val pid = collection.mutable.Map[String, Long](
      chars.zipWithIndex.map { case (c, i) => c -> i.toLong }: _*)
    merges.foreach { case (r, l, rr, _) => pid(l + rr) = chars.length + r - 1L }
    val freq = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, c) <- wc; p <- seg(w)) freq(p) += c
    val exp = pid.toSeq.map { case (p, i) => (i, p, freq(p)) }.sortBy(_._1)
    val got = TextAnalysis.bpeVocab(spark, sf).collect().map(r =>
      (r.getAs[Long]("pid"), r.getAs[String]("piece"), r.getAs[Long]("freq"))).toSeq
    assert(got == exp)
    // every trained piece keeps a row even at zero usage (a later
    // merge can fully absorb an earlier one's output), and merge
    // rows genuinely carry corpus mass somewhere
    assert(got.length == pid.size)
    assert(got.exists(r => r._1 >= chars.length && r._3 > 0L))
  }

  test("batched BPE merge selection at M=1 replays the serial trainer rank-for-rank") {
    val serial = TextAnalysis.bpeTrain(spark, sf).collect().toSeq
    val batched = TextAnalysis
      .bpeTrainBatched(spark, sf, TextAnalysis.BpeMerges, 1).collect().toSeq
    assert(batched == serial)
  }

  test("batched BPE at M>1 learns a valid derivation with the barrier count divided") {
    val m = TextAnalysis.bpeLearnBatched(spark, sf, 8, 4)
    // full rank sequence, no duplicate rules
    assert(m.map(_._1) == (1 to m.length), s"ranks: ${m.map(_._1)}")
    assert(m.length == 8, s"corpus supports 8 serial merges, batched must too")
    assert(m.map(x => (x._2, x._3)).distinct.length == m.length)
    // derivation validity: every referenced symbol is a base char or
    // the surface of an EARLIER merge — the invariant that makes the
    // merge list applicable greedy rank-order (the serving tier's
    // wordIds loop) without ever naming an unbuildable symbol
    val surfaces = scala.collection.mutable.Set.empty[String]
    m.foreach { case (rank, l, r, cnt) =>
      assert(cnt > 0, s"rank $rank count")
      assert(l.length == 1 || surfaces.contains(l), s"rank $rank lhs '$l' underived")
      assert(r.length == 1 || surfaces.contains(r), s"rank $rank rhs '$r' underived")
      surfaces += (l + r)
    }
    // the approximation stays anchored: the serial trainer's FIRST
    // pick is always the batched round-1 top pick
    val serial = TextAnalysis.bpeTrain(spark, sf).collect()
    assert((m.head._2, m.head._3) ==
      (serial.head.getAs[String]("lhs"), serial.head.getAs[String]("rhs")))
  }
}
