package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass document fingerprint sketch (winnowing-style, reference
  * grape-vector-db src/lib.rs document identity + dedup surface):
  * rolling 8-char gram hashes reduced to (min gram hash, distinct
  * gram count) in a single scan of the text.
  *
  * The gram hash is a plain polynomial over character codes,
  * h(g) = sum c_j * 131^(L-1-j), with no modulus: for L <= 8 and
  * ASCII codes the sum stays below 2^58, so the identical integer
  * arithmetic is exact in Java and in the DuckDB oracle (ascii() *
  * BIGINT power literals). This replaces an exploded one-row-per-gram
  * md5 pipeline (explode + 1.5M md5/hex/conv per 5k docs + groupBy
  * shuffle) with a zero-shuffle map: O(len) work per document, no
  * Generate, no aggregation — the operator scales as a pure map at
  * any corpus size.
  *
  * Returns array<long> of [min_gram_hash, n_distinct_grams].
  */
case class GramFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    GramFingerprint.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.GramFingerprint.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The JVM text normalizer: the twin of the relational tokenizer
  * (TextFunctions.tokens) — lowercase, strip non-[a-z0-9 ], split on
  * single spaces, drop len<=1 and stopwords — plus the query-side
  * forms every operator and server uses ([[terms]], [[words]],
  * [[lower]]). Byte-identical output to the Column formulation
  * (verified in TextAnalysisSpec / DedupSpec) so native and
  * relational pipelines interoperate. Case mapping is
  * `Locale.ROOT`, like Spark's `lower`: a driver running in a
  * Turkish locale must not turn a query's "INDEX" into "ındex".
  */
private[graft] object Tok {
  val StopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.functions.TextFunctions.StopWords.foreach(s.add)
    s
  }

  /** md5 per thread — getInstance per call is measurable at millions
    * of rows.
    */
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5 — identical to TextFunctions.hash60
    * (first 15 lowercase-hex chars parsed base 16 = first 8 big-endian
    * bytes >>> 4).
    */
  def hash60(s: String): Long = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Tokenize into the normalized term sequence (order kept,
    * duplicates kept).
    */
  def tokens(text: String): java.util.ArrayList[String] = {
    val sb = new java.lang.StringBuilder(text.length)
    var src = text
    var folded = false
    var i = 0
    while (i < src.length) {
      val c0 = src.charAt(i)
      if (c0 >= 0x80 && !folded) {
        // ASCII fast path over: restart on the full case mapping,
        // which (like Spark's `lower`) maps U+0130 and U+212A into
        // [a-z] — the per-char ASCII fold would drop them
        src = lower(text); folded = true; sb.setLength(0); i = 0
      } else {
        val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ') sb.append(c)
        i += 1
      }
    }
    val out = new java.util.ArrayList[String]()
    var start = 0
    val s = sb
    val n = s.length
    var j = 0
    while (j <= n) {
      if (j == n || s.charAt(j) == ' ') {
        if (j - start > 1) {
          val t = s.substring(start, j)
          if (!StopSet.contains(t)) out.add(t)
        }
        start = j + 1
      }
      j += 1
    }
    out
  }

  /** A query's distinct search terms: [[tokens]], first occurrence
    * kept.
    */
  def terms(q: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    tokens(q).asScala.toSeq.distinct
  }

  /** Locale-independent lowercase — the case mapping of Spark's
    * `lower`, whatever the driver's default locale.
    */
  def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** The raw lowercased words of a query: [[lower]], split on single
    * spaces, empty strings dropped (order and duplicates kept). No
    * stripping — the substring and phrase matchers compare against
    * raw lowercased text.
    */
  def words(s: String): Seq[String] = lower(s).split(" ").toSeq.filter(_.nonEmpty)
}

/** Per-document 60-bit weighted SimHash computed in one pass
  * (tokenize + term frequencies + md5 + 60 weighted bit sums), packed
  * as [lo 32 bits, hi 28 bits]. NULL when the document has no tokens
  * (parity with the relational `WHERE len(toks) > 0`).
  *
  * Replaces an explode + two-shuffle + 60-aggregate relational
  * pipeline with a zero-shuffle map; values are bit-identical (same
  * tokenizer, same md5-derived term hash, same `sum > 0` bit rule;
  * reference semantics grape-vector-db src/sparse.rs tokenizer +
  * simhash-style dedup surface).
  */
case class SimHashWords(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SimHashWords.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("shw")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $v =
         |  graft.functions.expressions.SimHashWords.compute($c);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashWords {
  final val Bits = 60

  def compute(text: UTF8String): GenericArrayData = {
    val toks = Tok.tokens(text.toString)
    if (toks.isEmpty) return null
    val tf = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < toks.size) {
      tf.merge(toks.get(i), 1, (a: Int, b: Int) => a + b)
      i += 1
    }
    val sums = new Array[Long](Bits)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = Tok.hash60(e.getKey)
      val w = e.getValue.toLong
      var b = 0
      while (b < Bits) {
        if (((h >>> b) & 1L) == 1L) sums(b) += w else sums(b) -= w
        b += 1
      }
    }
    var lo = 0L; var hi = 0L
    var b = 0
    while (b < 32) { if (sums(b) > 0) lo |= (1L << b); b += 1 }
    while (b < Bits) { if (sums(b) > 0) hi |= (1L << (b - 32)); b += 1 }
    new GenericArrayData(Array(lo, hi))
  }
}

/** Distinct hashed 3-token shingles of a document in one pass:
  * tokenize, string-distinct the space-joined n-grams, then
  * hash60 % p per distinct shingle (duplicate HASH values are kept if
  * distinct strings collide — exact parity with the relational
  * `array_distinct(shingles)` → md5 pipeline and its DuckDB oracle).
  *
  * The relational formulation costs a posexplode Generate, a window
  * (lead) shuffle and a distinct shuffle over one row per token;
  * this is a map — the only remaining shuffle in minhash/ngram dedup
  * is the one keyed by the posting itself.
  */
case class ShingleHashes(child: Expression, n: Int, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.ShingleHashes.compute($c, $n, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  def compute(text: UTF8String, n: Int, mod: Long): GenericArrayData = {
    val toks = Tok.tokens(text.toString)
    val nSh = toks.size - (n - 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < nSh) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.get(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = Tok.hash60(it.next()) % mod; k += 1 }
    new GenericArrayData(out)
  }
}

/** MinHash signature over a shingle-hash array in one pass: sig_j =
  * min over the array of ((h * (2j+1)) + (7919j + 12345)) mod `mod` —
  * the exact permutation family of the relational formulation
  * (Dedup.minhash 32 min-aggregates) and its DuckDB oracle, NULL for
  * an empty array (parity with a groupBy over zero posting rows).
  * Replaces the 32-aggregate keyed shuffle over the exploded posting
  * with a zero-shuffle map over the per-doc sketch (reference
  * semantics: grape-vector-db near-dup surface, src/lib.rs content
  * identity).
  */
case class MinHashSig(child: Expression, numHashes: Int, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], numHashes, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("mhs")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $v =
         |  graft.functions.expressions.MinHashSig.compute($c, $numHashes, ${mod}L);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  def compute(arr: ArrayData, numHashes: Int, mod: Long): GenericArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = (h * (2 * j + 1) + (7919L * j + 12345L)) % mod
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** Join-multiplicity overlap of two long arrays: for every value v,
  * count_left(v) * count_right(v), summed — exactly the row count of
  * the relational posting self-join `p1 JOIN p2 ON p1.h = p2.h` the
  * Jaccard verify stage used to compute, so hash-collision
  * multiplicities stay oracle-identical. Two sorted merges instead of
  * two shuffled joins + a groupBy.
  */
case class PairOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    PairOverlap.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.PairOverlap.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PairOverlap {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    java.util.Arrays.sort(x)
    java.util.Arrays.sort(y)
    var i = 0; var j = 0; var out = 0L
    while (i < x.length && j < y.length) {
      val xv = x(i); val yv = y(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        var ri = i; while (ri < x.length && x(ri) == xv) ri += 1
        var rj = j; while (rj < y.length && y(rj) == yv) rj += 1
        out += (ri - i).toLong * (rj - j).toLong
        i = ri; j = rj
      }
    }
    out
  }
}

/** Query-term tf lookups against a [[TermCounts]] sketch: given the
  * per-doc (term, tf) struct array and a fixed term list, one linear
  * scan yields [tf_0, ..., tf_{k-1}] (0 for absent terms). Lets a
  * query that already carries the TermCounts sketch (prfSearch's
  * shared corpus pass) score its literal terms as a zero-shuffle map
  * instead of re-tokenizing through [[TokenTfs]] — one corpus
  * materialization serves the feedback pass, the stats aggregate and
  * the final expansion scoring.
  */
case class TermLookups(child: Expression, terms: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    TermLookups.compute(input.asInstanceOf[ArrayData], termArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("terms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.TermLookups.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermLookups {
  def compute(arr: ArrayData, terms: Array[UTF8String]): GenericArrayData = {
    val out = new Array[Long](terms.length)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      val t = row.getUTF8String(0)
      var j = 0
      while (j < terms.length) {
        // sketch terms are per-doc distinct: assign, don't accumulate
        if (terms(j).equals(t)) { out(j) = row.getLong(1); j = terms.length }
        else j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-document query-term frequency counter: given the token array
  * and the query's term list, one linear scan yields
  * [dl, tf_0, ..., tf_{k-1}] (dl = token count, tf_j = occurrences of
  * terms(j)). Feeds the single-aggregate BM25 formulation: corpus
  * stats (n_docs, avgdl, per-term df) become ONE shuffle-free
  * aggregate over these sketches and scoring is a map — replacing the
  * explode + two groupBys + broadcast-join pipeline (reference
  * sparse.rs search_bm25 semantics unchanged).
  */
case class TokenTfs(child: Expression, terms: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    TokenTfs.compute(input.asInstanceOf[ArrayData], termArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("terms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.TokenTfs.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenTfs {
  def compute(arr: ArrayData, terms: Array[UTF8String]): GenericArrayData = {
    val out = new Array[Long](terms.length + 1)
    val n = arr.numElements()
    out(0) = n
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      var j = 0
      while (j < terms.length) {
        if (terms(j).equals(t)) { out(j + 1) += 1; j = terms.length }
        else j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-document sparse TF vector in one pass (reference
  * src/sparse.rs:333 document_to_sparse_vector + :288 tokenize):
  * tokenize, count term frequencies, emit one (term_id, weight)
  * struct per distinct term with term_id = 60-bit md5 hash and
  * weight = round(tf / total_tokens, 6 dp fixed-point) — identical
  * arithmetic to `OracleNum.fx(tf/total, 6)` on the relational path.
  * Structs are sorted by (term_id, weight). Empty/token-less docs
  * return an empty array (explode emits no rows — parity with the
  * groupBy-over-nothing relational form). Replaces an explode +
  * groupBy(doc,term) shuffle + per-doc window with a zero-shuffle map.
  */
case class TermFreqs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term_id", LongType, nullable = false),
      StructField("weight", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TermFreqs.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.TermFreqs.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermFreqs {
  def compute(text: UTF8String): GenericArrayData = {
    val toks = Tok.tokens(text.toString)
    val total = toks.size
    if (total == 0) return new GenericArrayData(Array.empty[Any])
    val tf = new java.util.LinkedHashMap[String, Int]()
    var i = 0
    while (i < total) {
      tf.merge(toks.get(i), 1, (a: Int, b: Int) => a + b)
      i += 1
    }
    val rows = new Array[InternalRow](tf.size)
    val it = tf.entrySet().iterator()
    var k = 0
    val totalD = total.toDouble
    while (it.hasNext) {
      val e = it.next()
      val w = math.floor((e.getValue.toDouble / totalD) * 1000000L + 0.5).toLong
      rows(k) = InternalRow(Tok.hash60(e.getKey), w)
      k += 1
    }
    java.util.Arrays.sort(rows, new java.util.Comparator[InternalRow] {
      override def compare(r1: InternalRow, r2: InternalRow): Int = {
        val c = java.lang.Long.compare(r1.getLong(0), r2.getLong(0))
        if (c != 0) c else java.lang.Long.compare(r1.getLong(1), r2.getLong(1))
      }
    })
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }
}

object GramFingerprint {
  final val Base = 131L
  final val Width = 8

  /** 131^0 .. 131^7 */
  private final val Pow: Array[Long] = {
    val p = new Array[Long](Width)
    p(0) = 1L
    var i = 1
    while (i < Width) { p(i) = p(i - 1) * Base; i += 1 }
    p
  }

  /** Static so generated code calls it directly (one invokestatic per
    * row inside whole-stage codegen).
    *
    * Each UTF-16 code unit is folded into 0..127 (`& 0x7F`) before the
    * polynomial, so every intermediate is provably < 2^57 for ANY
    * input — a raw code unit (<= 0xFFFF) times 131^7 would silently
    * wrap Long here while the DuckDB twin's BIGINT raises, and the
    * cross-engine hashes would diverge. The oracle applies the same
    * `% 128`. The exactness contract remains ASCII-only: for
    * supplementary characters Java charAt iterates UTF-16 units while
    * DuckDB substr iterates codepoints, so gram boundaries differ —
    * the fold just makes non-ASCII input safe and deterministic
    * per-engine rather than crash-or-wrap.
    */
  def compute(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val len = s.length
    val nGrams = math.max(len - (Width - 1), 1)
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val gLen = math.min(Width, len - i)
      var h = 0L
      var j = 0
      while (j < gLen) {
        h += (s.charAt(i + j) & 0x7F).toLong * Pow(gLen - 1 - j)
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var distinct = if (nGrams > 0) 1L else 0L
    var k = 1
    while (k < nGrams) {
      if (hashes(k) != hashes(k - 1)) distinct += 1L
      k += 1
    }
    new GenericArrayData(Array(if (nGrams > 0) hashes(0) else 0L, distinct))
  }
}

/** One-pass repetition-statistics sketch for quality filtering
  * (Gopher-style repetition signals over the reference tokenizer's
  * normalized terms, grape-vector-db src/sparse.rs:288 tokenize):
  * a single scan of the text yields
  * [n_tokens, n_distinct_tokens, max_term_frequency, n_bigrams,
  * n_distinct_bigrams] — the inputs of duplicate-token /
  * most-common-token / duplicate-bigram ratio filters. A zero-shuffle
  * map at any corpus size; the DuckDB oracle replays the identical
  * counts with list functions over the same tokenizer.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.RepetitionStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStats {
  def compute(text: UTF8String): GenericArrayData = {
    val toks = Tok.tokens(text.toString)
    val n = toks.size
    val tf = new java.util.HashMap[String, Int]()
    var maxTf = 0L
    var i = 0
    while (i < n) {
      val c = tf.merge(toks.get(i), 1, (a: Int, b: Int) => a + b)
      if (c > maxTf) maxTf = c.toLong
      i += 1
    }
    val nBi = math.max(n - 1, 0)
    val bi = new java.util.HashSet[String]()
    i = 0
    while (i < nBi) {
      bi.add(toks.get(i) + " " + toks.get(i + 1))
      i += 1
    }
    new GenericArrayData(
      Array(n.toLong, tf.size.toLong, maxTf, nBi.toLong, bi.size.toLong))
  }
}

/** All word n-gram shingles of a text as STRINGS, duplicates kept in
  * order — the corpus-frequency counterpart of [[ShingleHashes]]
  * (which dedupes per doc for set-overlap semantics). One tokenizer
  * pass + one StringBuilder per shingle; replaces the interpreted
  * transform/slice/array_join HOF chain whose per-row re-evaluation
  * under Generate made the exploded form quadratic per document.
  * Identical output to TextFunctions.wordShingles(tokens(text), n)
  * (spec-enforced).
  */
/** Per-document (term, tf) pairs in ONE pass over the text — the
  * string-keyed sibling of [[TermFreqs]] (which emits hashed ids and
  * relative weights). Emitting the counts from a map kernel means the
  * per-doc aggregation needs NO exchange: the relational
  * explode + groupBy(doc, term) twin shuffles every distinct
  * (doc, term) pair just to count within rows that were already
  * co-located. Pairs are sorted by term so downstream explodes are
  * deterministic.
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TermCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.TermCounts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermCounts {
  def compute(text: UTF8String): GenericArrayData = {
    val toks = Tok.tokens(text.toString)
    if (toks.isEmpty) return new GenericArrayData(Array.empty[Any])
    val tf = new java.util.TreeMap[String, java.lang.Long]()
    var i = 0
    while (i < toks.size) {
      val t = toks.get(i)
      val prev = tf.get(t)
      tf.put(t, if (prev == null) 1L else prev + 1L)
      i += 1
    }
    val rows = new Array[Any](tf.size)
    val it = tf.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      rows(k) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(rows)
  }
}

case class ShingleStrings(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleStrings.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.ShingleStrings.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleStrings {
  def compute(text: UTF8String, n: Int): GenericArrayData = {
    val toks = Tok.tokens(text.toString)
    val nSh = toks.size - (n - 1)
    if (nSh <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nSh)
    var i = 0
    while (i < nSh) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.get(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** First-k ordered token prefix in ONE EARLY-EXIT pass: the scan
  * stops as soon as k tokens are emitted, so a prefix over a long
  * document reads a few hundred characters instead of the whole text
  * — the algorithmic half of the win. The other half is the usual
  * kernel story: `slice(tokens(text), 1, k)` crosses an interpreted
  * filter lambda per token over the FULL token array (and builds
  * it); this is a fused codegen'd scan. Bit-parity with the
  * relational form is spec-pinned (NativeExpressionPropertySpec):
  * same lowercase/strip/split/len>1/stopword semantics as
  * [[Tok.tokens]] — punctuation is REMOVED in place (adjacent
  * fragments join), token boundaries are original spaces only.
  */
case class TokenPrefix(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TokenPrefix.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.TokenPrefix.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenPrefix {
  def compute(text: UTF8String, k: Int): GenericArrayData = {
    val s = text.toString
    val out = new java.util.ArrayList[Any](k)
    val tok = new java.lang.StringBuilder(16)
    var i = 0
    var done = false
    while (i <= s.length && !done) {
      val atEnd = i == s.length
      val c0 = if (atEnd) ' ' else s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if (c == ' ') {
        if (tok.length > 1 && !Tok.StopSet.contains(tok.toString)) {
          out.add(UTF8String.fromString(tok.toString))
          if (out.size == k) done = true
        }
        tok.setLength(0)
      } else if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        tok.append(c)
      } // any other char: stripped in place — fragments join
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Membership gate against a Bloom filter of eval-set shingle hashes:
  * true iff ANY element of the child array<long> might be in the
  * filter — the at-scale decontamination form
  * ([[graft.operators.Curation.decontaminateBloom]]) for eval sets
  * too large to ride an `isin`/`arrays_overlap` literal. The filter
  * is carried as a codegen reference object (task-binary broadcast,
  * ~3.6 bytes/item at fpp 1e-6); no join, no state. Bloom
  * semantics keep the contract one-sided: an inserted hash is NEVER
  * missed (no false negatives), so every truly contaminated document
  * is flagged; false positives only ever over-remove — the safe
  * direction for decontamination.
  */
case class BloomContainsAny(child: Expression,
                            bf: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullSafeEval(input: Any): Any =
    BloomContainsAny.compute(input.asInstanceOf[ArrayData], bf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bf,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.BloomContainsAny.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomContainsAny {
  def compute(arr: ArrayData,
              bf: org.apache.spark.util.sketch.BloomFilter): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) return true
      i += 1
    }
    false
  }
}

/** One-pass exact-phrase hit counter over the RAW whitespace token
  * stream (reference: exact quoted-phrase retrieval,
  * grape-vector-db src/query.rs phrase filter): returns
  * array<long> of [n_occurrences, first_pos] where positions are
  * 1-based token indices of `lower(text).split(" ", -1)` — exact
  * parity with the relational `filter(sequence(...), i ->
  * element_at(toks, i+j) = w_j)` formulation and its DuckDB oracle
  * (first_pos = -1 when the phrase does not occur).
  *
  * The relational form pays an interpreted (CodegenFallback)
  * higher-order-function lambda per token position per phrase word;
  * this is a fused codegen'd scan — the same replacement the shingle
  * and simhash pipelines got, applied to the one remaining
  * interpreted-HOF hot path (measured 77× wall at a 100× corpus).
  */
case class PhraseHits(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val wordsArr: Array[String] = words.toArray

  override def nullSafeEval(input: Any): Any =
    PhraseHits.compute(input.asInstanceOf[UTF8String], wordsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseWords", wordsArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.PhraseHits.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PhraseHits {

  /** Mirrors `split(lower(text), " ")`: UTF8String lowercase (the
    * Column `lower` kernel), then a single-space regex split with
    * limit -1 (trailing empties kept, consecutive spaces yield empty
    * tokens that simply never match a phrase word).
    */
  def compute(text: UTF8String, words: Array[String]): GenericArrayData = {
    val toks = text.toLowerCase.toString.split(" ", -1)
    val m = words.length
    var count = 0L
    var first = -1L
    var i = 0
    val last = toks.length - m
    while (i <= last) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        if (toks(i + j) != words(j)) ok = false
        j += 1
      }
      if (ok) {
        count += 1
        if (first < 0) first = i + 1L
      }
      i += 1
    }
    new GenericArrayData(Array(count, first))
  }
}

/** One-pass language-profile scorer (r11, guide §4): over
  * `split(lower(text), " ")` tokens (the [[PhraseHits]] split
  * convention — trailing empties kept, identical to the Column form)
  * count each profile's stopword hits, score s_p = hits_p / n, and
  * emit [pred_idx, conf_fx] where pred_idx is the FIRST profile
  * index attaining the maximum score when that maximum is > 0 (else
  * -1) and conf_fx = floor(max * 1e6 + 0.5) — exactly
  * `fx(greatest(scores), 6)` and the first-match CASE the Column
  * formulation computed. Replaces one interpreted higher-order
  * ArrayFilter per profile over the same token array (HOFs never
  * enter whole-stage codegen) and keeps the derivation tree small —
  * the fused 40-getItem CASE form tripped a janino internal error
  * and dropped the whole stage to interpreted fallback.
  */
case class LangScores(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val profArr: Array[Array[UTF8String]] =
    profiles.map(_.map(UTF8String.fromString).toArray).toArray

  override def nullSafeEval(input: Any): Any =
    LangScores.compute(input.asInstanceOf[UTF8String], profArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("profiles", profArr,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.LangScores.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangScores {
  def compute(text: UTF8String, profiles: Array[Array[UTF8String]]): GenericArrayData = {
    val lowered = text.toLowerCase
    val k = profiles.length
    val hits = new Array[Long](k)
    // manual single-space split walk: token boundaries only — no
    // per-token String materialization; a token may hit SEVERAL
    // profiles (shared stopwords like "la"/"un"), so no cross-profile
    // early exit
    var n = 0L
    val len = lowered.numBytes()
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || lowered.getByte(i) == ' '.toByte) {
        n += 1
        var p = 0
        while (p < k) {
          val words = profiles(p)
          var j = 0
          var matched = false
          while (!matched && j < words.length) {
            val w = words(j)
            if (w.numBytes == i - start && bytesEq(lowered, start, w)) {
              hits(p) += 1
              matched = true
            }
            j += 1
          }
          p += 1
        }
        start = i + 1
      }
      i += 1
    }
    val nd = n.toDouble
    var best = 0.0
    var bestIdx = -1
    var p = 0
    while (p < k) {
      val s = hits(p).toDouble / nd
      if (bestIdx == -1 || s > best) { best = s; bestIdx = p }
      p += 1
    }
    val predIdx = if (best > 0.0) bestIdx.toLong else -1L
    new GenericArrayData(
      Array(predIdx, math.floor(best * 1000000L + 0.5).toLong))
  }

  private def bytesEq(s: UTF8String, off: Int, w: UTF8String): Boolean = {
    val m = w.numBytes
    var j = 0
    while (j < m) {
      if (s.getByte(off + j) != w.getByte(j)) return false
      j += 1
    }
    true
  }
}
