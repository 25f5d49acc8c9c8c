package graft

import graft.functions.expressions.{ByteFeatures, GramFingerprint, MinHashSig, PairOverlap, ShingleHashes, SimHashWords, TermFreqs, Tok}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Property-style checks: the native one-pass expressions must agree
  * with straightforward reference implementations (and with the
  * Column-based tokenizer) on seeded random inputs, including edge
  * shapes the corpus never produces (empty strings, all-stopword
  * text, repeated spaces, punctuation runs).
  */
class NativeExpressionPropertySpec extends GraftSuite {

  private val rnd = new scala.util.Random(42)
  private val alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789   ,.!?-_#@"

  private def randomText(): String = {
    val len = rnd.nextInt(200)
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb.append(alphabet(rnd.nextInt(alphabet.length))))
    sb.toString
  }

  private val samples: Seq[String] =
    Seq("", " ", "  ", "a", "the the the", "ab", "no stop words here at all!",
      "x".repeat(7), "y".repeat(8), "z".repeat(9)) ++
      (0 until 200).map(_ => randomText())

  test("JVM tokenizer matches the Column tokenizer on random input") {
    import spark.implicits._
    val viaColumn = samples.toDF("text")
      .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toList)
    val viaJvm = samples.map(s => {
      val l = Tok.tokens(s); (0 until l.size).map(l.get).toList
    })
    assert(viaColumn.toSeq == viaJvm)
  }

  test("JVM tokenizer matches the Column tokenizer on non-ASCII case mapping") {
    // U+0130 and U+212A (Kelvin) are the only code points whose
    // lowercase lands in [a-z0-9]: Spark's `lower` maps them to i / k
    import spark.implicits._
    val texts = Seq(
      "\u0130STANBUL \u0130ndex \u0130\u0130", "\u212AELVIN \u212Aey \u212A\u212A",
      "caf\u00e9 r\u00e9sum\u00e9 \u00c9T\u00c9", "stra\u00dfe STRASSE \u00df\u00df \u1e9eX",
      "D\u0130\u015e I\u0131 INDEX Item", "tab\tsep\tword new\nline\nword",
      "mixed \u0130\tK\u212A\n\u00e9 \u00df I ok")
    val viaColumn = texts.toDF("text")
      .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toList)
    val viaJvm = texts.map(s => {
      val l = Tok.tokens(s); (0 until l.size).map(l.get).toList
    })
    assert(viaColumn.toSeq == viaJvm)
    assert(viaJvm.head == List("istanbul", "index", "ii"))
  }

  test("HyperplaneSig matches the relational per-plane HOF signature") {
    import graft.operators.VectorSearch
    val planes = VectorSearch.lshPlanes(64, 16)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val native = vecs.select(col("vec_id"),
        VectorSearch.lshBucket(col("emb"), planes).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val relational = vecs.select(col("vec_id"),
        VectorSearch.lshBucketRelational(col("emb"), planes).cast("long").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == relational)
    assert(native.values.toSet.size > 1) // signatures actually spread
  }

  test("ShingleStrings matches the relational wordShingles(tokens) form") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val viaRelational = samples.toDF("text")
      .select(graft.functions.TextFunctions.wordShingles(
        graft.functions.TextFunctions.tokens(col("text")), 2).as("g"))
      .collect().map(_.getSeq[String](0).toList)
    val viaNative = samples.toDF("text")
      .select(column(graft.functions.expressions.ShingleStrings(
        expression(col("text")), 2)).as("g"))
      .collect().map(_.getSeq[String](0).toList)
    assert(viaNative.toSeq == viaRelational.toSeq)
  }

  test("TokenPrefix matches slice(tokens, 1, k) for several k") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    for (k <- Seq(1, 2, 5, 32)) {
      val viaRelational = samples.toDF("text")
        .select(slice(graft.functions.TextFunctions.tokens(col("text")), 1, k).as("t"))
        .collect().map(_.getSeq[String](0).toList)
      val viaNative = samples.toDF("text")
        .select(column(graft.functions.expressions.TokenPrefix(
          expression(col("text")), k)).as("t"))
        .collect().map(_.getSeq[String](0).toList)
      assert(viaNative.toSeq == viaRelational.toSeq, s"k=$k")
    }
  }

  test("GramFingerprint matches a naive polynomial reference") {
    samples.filter(_.nonEmpty).foreach { s =>
      val got = GramFingerprint.compute(UTF8String.fromString(s)).toLongArray()
      val n = math.max(s.length - 7, 1)
      val hashes = (0 until n).map { i =>
        val g = s.substring(i, math.min(i + 8, s.length))
        g.foldLeft(0L)((h, c) => h * 131L + c.toLong)
      }
      assert(got(0) == hashes.min, s"min mismatch for '$s'")
      assert(got(1) == hashes.distinct.size.toLong, s"distinct mismatch for '$s'")
    }
  }

  test("SimHashWords matches a naive tf/bit-sum reference") {
    samples.foreach { s =>
      val got = Option(SimHashWords.compute(UTF8String.fromString(s)))
        .map(_.toLongArray())
      val l = Tok.tokens(s)
      val toks = (0 until l.size).map(l.get)
      if (toks.isEmpty) assert(got.isEmpty, s"expected null for '$s'")
      else {
        val tf = toks.groupBy(identity).view.mapValues(_.size.toLong)
        val sums = new Array[Long](60)
        tf.foreach { case (t, w) =>
          val h = Tok.hash60(t)
          (0 until 60).foreach { b =>
            if (((h >>> b) & 1L) == 1L) sums(b) += w else sums(b) -= w
          }
        }
        val lo = (0 until 32).map(b => if (sums(b) > 0) 1L << b else 0L).sum
        val hi = (32 until 60).map(b => if (sums(b) > 0) 1L << (b - 32) else 0L).sum
        assert(got.get.toSeq == Seq(lo, hi), s"simhash mismatch for '$s'")
      }
    }
  }

  test("ByteFeatures matches a naive positional histogram") {
    samples.foreach { s =>
      val bytes = s.getBytes("UTF-8")
      val got = ByteFeatures.compute(bytes).toLongArray()
      val want = new Array[Long](8)
      bytes.zipWithIndex.foreach { case (b, i) => want(i % 8) += (b & 0xffL) }
      assert(got.toSeq == want.toSeq, s"features mismatch for '$s'")
    }
  }

  test("MinHashSig matches the naive per-permutation minimum") {
    val P = graft.operators.Dedup.P
    samples.foreach { s =>
      val sh = ShingleHashes.compute(UTF8String.fromString(s), 3, P).toLongArray()
      val got = Option(MinHashSig.compute(new GenericArrayData(sh), 32, P))
        .map(_.toLongArray())
      if (sh.isEmpty) assert(got.isEmpty, s"expected null for '$s'")
      else {
        val want = (0 until 32).map { j =>
          sh.map(h => (h * (2 * j + 1) + (7919L * j + 12345L)) % P).min
        }
        assert(got.get.toSeq == want, s"minhash sig mismatch for '$s'")
      }
    }
  }

  test("PairOverlap matches the join-multiplicity count") {
    (0 until 200).foreach { _ =>
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(12).toLong)
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(12).toLong)
      val got = PairOverlap.compute(new GenericArrayData(a), new GenericArrayData(b))
      val want = (for (x <- a; y <- b if x == y) yield 1L).sum
      assert(got == want, s"overlap mismatch for ${a.toSeq} vs ${b.toSeq}")
    }
  }

  test("TermFreqs matches the relational tf/total fixed-point weights") {
    samples.foreach { s =>
      val got = TermFreqs.compute(UTF8String.fromString(s))
      val l = Tok.tokens(s)
      val toks = (0 until l.size).map(l.get)
      if (toks.isEmpty) assert(got.numElements() == 0, s"expected empty for '$s'")
      else {
        val want = toks.groupBy(identity).map { case (t, g) =>
          (Tok.hash60(t),
            math.floor((g.size.toDouble / toks.size.toDouble) * 1000000L + 0.5).toLong)
        }.toSeq.sorted
        val rows = (0 until got.numElements()).map { i =>
          val r = got.getStruct(i, 2); (r.getLong(0), r.getLong(1))
        }
        assert(rows == want, s"term freqs mismatch for '$s'")
        assert(rows.map(_._2).sum >= 999999 || rows.isEmpty) // weights ≈ sum to 1
      }
    }
  }

  test("TermCounts matches the naive token groupBy, term-sorted") {
    import graft.functions.expressions.TermCounts
    samples.foreach { s =>
      val got = TermCounts.compute(UTF8String.fromString(s))
      val l = Tok.tokens(s)
      val toks = (0 until l.size).map(l.get)
      val want = toks.groupBy(identity).map { case (t, g) => (t, g.size.toLong) }
        .toSeq.sortBy(_._1)
      val rows = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getUTF8String(0).toString, r.getLong(1))
      }
      assert(rows == want, s"term counts mismatch for '$s'")
    }
  }

  test("TokenTfs counts query terms like a naive scan, dl first") {
    import graft.functions.expressions.TokenTfs
    val queryTerms = Seq("spark", "vector", "no1such2term")
    val termArr = queryTerms.map(UTF8String.fromString).toArray
    samples.foreach { s =>
      val l = Tok.tokens(s)
      val toks = (0 until l.size).map(l.get)
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val got = TokenTfs.compute(arr, termArr).toLongArray()
      assert(got(0) == toks.size.toLong, s"dl mismatch for '$s'")
      queryTerms.zipWithIndex.foreach { case (t, j) =>
        assert(got(j + 1) == toks.count(_ == t).toLong, s"tf($t) mismatch for '$s'")
      }
    }
  }

  test("TermLookups over a TermCounts sketch agrees with TokenTfs over the tokens") {
    import graft.functions.expressions.{TermCounts, TermLookups, TokenTfs}
    // includes a duplicated query term: both expressions leave the
    // SECOND copy at 0 (first-match-wins), and prfSearch relies on the
    // two derivations agreeing exactly
    val queryTerms = Seq("spark", "vector", "no1such2term", "spark", "a")
    val termArr = queryTerms.map(UTF8String.fromString).toArray
    samples.foreach { s =>
      val sketch = TermCounts.compute(UTF8String.fromString(s))
      val viaSketch = TermLookups.compute(sketch, termArr).toLongArray()
      val l = Tok.tokens(s)
      val toks = (0 until l.size).map(l.get)
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val viaTokens = TokenTfs.compute(arr, termArr).toLongArray()
      queryTerms.indices.foreach { j =>
        assert(viaSketch(j) == viaTokens(j + 1),
          s"tf(${queryTerms(j)}) sketch=${viaSketch(j)} tokens=${viaTokens(j + 1)} for '$s'")
      }
    }
  }

  test("hash60 matches Spark's md5-conv formulation on random tokens") {
    import spark.implicits._
    val toks = samples.flatMap(s => {
      val l = Tok.tokens(s); (0 until l.size).map(l.get)
    }).distinct
    if (toks.nonEmpty) {
      val viaSpark = toks.toDF("t")
        .select(col("t"), graft.functions.TextFunctions.hash60(col("t")).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      toks.foreach(t => assert(viaSpark(t) == Tok.hash60(t), s"hash60 mismatch for '$t'"))
    }
  }

  test("PhraseHits matches the relational position-filter form") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val words = Seq("the", "ab")
    // phrase-dense corpus: random runs over a tiny vocabulary so hits,
    // overlaps, multi-space empties and boundary positions all occur
    val vocab = Array("the", "ab", "THE", "Ab", "x", "", "the ab")
    val phraseSamples = samples ++ (0 until 200).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    } ++ Seq("the ab", " the ab", "the ab ", "the ab the ab", "the the ab",
      "the", "ab the", "THE AB", "the  ab")
    val df = phraseSamples.toDF("text").select(
      column(graft.functions.expressions.PhraseHits(expression(col("text")), words)).as("n"),
      graft.operators.Bm25.phraseHitsRelational(col("text"), words).as("r"))
    df.collect().zip(phraseSamples).foreach { row =>
      val (r, s) = row
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch on '$s'")
    }
  }
}
