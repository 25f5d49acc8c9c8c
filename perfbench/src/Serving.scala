package graft.perfbench

import java.util.concurrent.{Callable, Executors}

import scala.util.Random

import org.apache.spark.sql.functions.col

import graft.sources.{PointServe, VectorIndex}
import graft.sources.PointServe.Hit

/** The nine point servers of the serving tier, each built and loaded
  * from empty per-run state. Build (`VectorIndex.*IndexReady`) and
  * load (`PointServe.load*From`) are timed apart.
  */
final class Servers(run: Run, val dir: String) {
  private val spark = run.spark

  private def build(kind: String)(f: => String): String = {
    val (p, s) = run.timed(s"vectorindex.build.$kind")(f)
    run.layers(s"vectorindex.build_s.$kind") = s
    p
  }
  private def load[A](index: String)(f: => A): A = {
    val (a, s) = run.timed(s"pointserve.load.$index")(f)
    run.layers(s"pointserve.load_s.$index") = s
    a
  }

  private val pool = Executors.newFixedThreadPool(run.nproc)
  private def async[A](f: => A) = pool.submit(new Callable[A] { def call(): A = f })
  private val fEmb = async(load("embedded")(PointServe.loadEmbedded(spark, dir)))
  private val fGraph = async {
    val p = build("knn_graph")(VectorIndex.knnGraphIndexReady(spark, dir))
    load("graph")(PointServe.loadGraphFrom(spark, p))
  }
  private val fLsh = async {
    val p = build("lsh")(VectorIndex.lshIndexReady(spark, dir))
    load("lsh")(PointServe.loadLshFrom(spark, p))
  }
  private val fIvf = async {
    val p = build("ivf")(VectorIndex.ivfIndexReady(spark, dir))
    (p, load("ivf")(PointServe.loadIvfFrom(spark, p)))
  }
  private val fPq = async {
    val p = build("pq")(VectorIndex.pqIndexReady(spark, dir))
    load("pq")(PointServe.loadPqFrom(spark, p))
  }
  private val fIvfPq = async {
    val p = build("ivfpq")(VectorIndex.ivfPqIndexReady(spark, dir))
    load("ivfpq")(PointServe.loadIvfPqFrom(spark, p))
  }
  private val fDedup = async {
    val p = build("minhash")(VectorIndex.minhashIndexReady(spark, dir))
    (p, load("dedup")(PointServe.loadMinhashDedupFrom(spark, p)))
  }
  private val fDsir = async(load("dsir")(PointServe.loadDsir(spark, dir)))
  private val fBpe = async(load("bpe")(PointServe.loadBpe(spark, dir)))

  val emb: PointServe.Embedded = fEmb.get
  val graph: PointServe.Graph = fGraph.get
  val lsh: PointServe.Lsh = fLsh.get
  val (ivfPath: String, ivf: PointServe.Ivf) = fIvf.get
  val pq: PointServe.Pq = fPq.get
  val ivfpq: PointServe.IvfPq = fIvfPq.get
  val (dedupPath: String, dedup: PointServe.MinhashDedup) = fDedup.get
  val dsir: PointServe.Dsir = fDsir.get
  val bpe: PointServe.Bpe = fBpe.get
  pool.shutdown()

  /** Resident bytes of every server that reports them. */
  def resident: Map[String, Long] = Map(
    "embedded" -> emb.residentBytes, "graph" -> graph.residentBytes,
    "dedup" -> dedup.residentBytes, "dsir" -> dsir.residentBytes, "bpe" -> bpe.residentBytes)
}

/** Seeded serving inputs over the resident corpus: query vectors,
  * common- and rare-term queries, sparse queries, anchors and probe
  * texts. Common terms have long postings; rare terms have df <= 20.
  */
final class Inputs(seed: Long, run: Run, dir: String, val n: Int = 256) {
  private val rng = new Random(seed)
  private val spark = run.spark
  val docs: Array[(Long, String)] = graft.Tables.documents(spark, dir)
    .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
    .map(r => (r.getLong(0), r.getString(1)))
  val vecs: Array[(Long, Array[Double])] = graft.Tables.embeddings(spark, dir)
    .select(col("vec_id"), col("embedding").cast("array<double>")).orderBy(col("vec_id"))
    .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  private val df: Map[String, Int] = docs.iterator
    .flatMap(_._2.split(' ').distinct).toSeq.groupBy(identity).map { case (t, ts) => t -> ts.size }
  val common: Array[String] = df.toSeq.filter(_._2 > 500).map(_._1).sorted.toArray
  val rare: Array[String] = df.toSeq.filter(_._2 <= 20).map(_._1).sorted.toArray
  require(common.length >= 8 && rare.length >= 64, s"corpus vocabulary too small: ${common.length}/${rare.length}")

  private def pick[A](xs: Array[A]): A = xs(rng.nextInt(xs.length))
  private def words(xs: Array[String], lo: Int, hi: Int): String =
    Seq.fill(lo + rng.nextInt(hi - lo + 1))(pick(xs)).mkString(" ")

  val qIdx: Array[Int] = Array.fill(n)(rng.nextInt(vecs.length))
  def qv(i: Int): Array[Double] = vecs(qIdx(i))._2
  def qid(i: Int): Long = vecs(qIdx(i))._1
  val commonQ: Array[String] = Array.fill(n)(words(common, 2, 4))
  val rareQ: Array[String] = Array.fill(n)(words(rare, 1, 2))
  val sparseQ: Array[Seq[(String, Long)]] = Array.fill(n) {
    (words(common, 1, 2) + " " + words(rare, 1, 2)).split(' ').toSeq.distinct
      .map(t => (t, 1L + rng.nextInt(3)))
  }
  val textQ: Array[String] = Array.fill(n)(if (rng.nextBoolean()) pick(common) else pick(rare))
  val anchors: Array[Long] = Array.fill(n)(pick(docs)._1)
  /** Half resident documents (the reject path), half novel text. */
  val probes: Array[String] = Array.tabulate(n) { i =>
    if (i % 2 == 0) pick(docs)._2
    else words(common, 20, 60) + " " + words(rare, 2, 6) + s" novel${rng.nextInt(1 << 20)}"
  }
}

/** The serving mix: one op class per served call, each op a seeded
  * (class, input) pair. `call` runs one op; traced, the hybrid forms
  * are called as their public parts (branches, then `rrfFuse`).
  */
final class Mix(seed: Long, sv: Servers, in: Inputs, tracer: Tracer) {
  import Mix._
  private val rng = new Random(seed ^ 0x5eedL)
  val size = 8192
  val cls: Array[Int] = Array.fill(size)(rng.nextInt(Classes.length))
  val idx: Array[Int] = Array.fill(size)(rng.nextInt(in.n))

  private def span[A](n: String)(f: => A): A = tracer.span(n)(f)

  /** Hybrid RRF from its public parts — equal to the composite forms. */
  def hybridParts(dense: => Seq[Hit], q: String): Seq[Hit] = {
    val d = span("pointserve.hybrid.dense")(dense)
    val b = span("pointserve.hybrid.bm25")(sv.emb.bm25(q, 2 * Limit))
    val t = span("pointserve.hybrid.text")(sv.emb.textSearch(q, 2 * Limit))
    span("pointserve.hybrid.fuse")(PointServe.rrfFuse(Seq(d, b, t), Limit))
  }

  /** Runs op `j`; returns a value derived from the answer. */
  def call(j: Int): Int = {
    val i = idx(j)
    val c = cls(j)
    span(SpanNames(c)) {
      c match {
        case 0 => sv.emb.bm25(in.commonQ(i), Limit).size
        case 1 => sv.emb.bm25(in.rareQ(i), Limit).size
        case 2 => sv.emb.sparse(in.sparseQ(i), Limit).size
        case 3 => sv.emb.textSearch(in.textQ(i), Limit).size
        case 4 => sv.emb.moreLike(in.anchors(i), Limit).size
        case 5 =>
          if (tracer.on) hybridParts(sv.emb.semantic(in.qv(i), 2 * Limit, in.qid(i)), in.commonQ(i)).size
          else sv.emb.hybridRrf(in.qv(i), in.qid(i), in.commonQ(i), Limit).size
        case 6 =>
          if (tracer.on)
            hybridParts(sv.graph.query(in.qv(i), 2 * Limit, excludeId = in.qid(i)), in.commonQ(i)).size
          else sv.emb.hybridRrfDense(sv.graph.query(in.qv(i), 2 * Limit, excludeId = in.qid(i)),
            in.commonQ(i), Limit).size
        case 7 => sv.graph.query(in.qv(i), Limit, excludeId = in.qid(i)).size
        case 8 => sv.ivf.query(in.qv(i), Limit, excludeId = in.qid(i)).size
        case 9 => sv.pq.query(in.qv(i), Limit, excludeId = in.qid(i)).size
        case 10 => sv.ivfpq.query(in.qv(i), Limit, excludeId = in.qid(i)).size
        case 11 => sv.lsh.query(in.qv(i), Limit, excludeId = in.qid(i)).size
        case 12 => sv.dedup.query(in.probes(i)).size
        case 13 => sv.dsir.score(in.probes(i))._1.toInt
        case 14 => sv.bpe.count(in.probes(i))._1.toInt
      }
    }
  }
}

object Mix {
  val Limit = 10
  val Classes: Array[String] = Array("bm25_common", "bm25_rare", "sparse", "text", "more_like",
    "hybrid_rrf", "hybrid_rrf_dense", "graph", "ivf", "pq", "ivfpq", "lsh", "dedup",
    "dsir", "bpe")
  val SpanNames: Array[String] = Classes.map("pointserve." + _)
}

/** Closed-loop clients: each thread sends its next op when the last
  * one returns, cycling through the seeded mix from its own offset.
  */
final class Clients(run: Run, mix: Mix, threads: Int, seconds: Double) {
  val lat: Array[Samples] = Array.fill(threads)(new Samples)
  /** Completion time of each op in `lat`, ns after the start. */
  val done: Array[Samples] = Array.fill(threads)(new Samples)
  val latByClass: Array[Array[Samples]] =
    Array.fill(threads)(Array.fill(Mix.Classes.length)(new Samples))
  val errors = new java.util.concurrent.atomic.AtomicLong
  /** Sum of the answers' sizes, so no call's result is dead code. */
  val answers = new java.util.concurrent.atomic.AtomicLong
  var startNs, endNs = 0L
  var allocBytes = 0L
  var gcS = 0.0

  def run(): Unit = {
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val alloc = new java.util.concurrent.atomic.AtomicLong
    val gc0 = run.gcSeconds
    startNs = System.nanoTime()
    val deadline = startNs + (seconds * 1e9).toLong
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val a0 = tmx.getCurrentThreadAllocatedBytes
        var j = t * (mix.size / threads)
        var sink = 0
        var now = System.nanoTime()
        while (now < deadline) {
          val jj = j % mix.size
          try sink += mix.call(jj)
          catch { case _: Throwable => errors.incrementAndGet() }
          val end = System.nanoTime()
          lat(t).add(end - now)
          done(t).add(end - startNs)
          latByClass(t)(mix.cls(jj)).add(end - now)
          now = end
          j += 1
        }
        alloc.addAndGet(tmx.getCurrentThreadAllocatedBytes - a0)
        answers.addAndGet(sink)
      }, s"client-$t")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    endNs = System.nanoTime()
    gcS = run.gcSeconds - gc0
    allocBytes = alloc.get
  }

  def wallS: Double = (endNs - startNs) / 1e9
  def ops: Long = lat.map(_.size.toLong).sum
  def latMs: Array[Double] = lat.flatMap(_.toArray).map(_ / 1e6).sorted
  def classMs(c: Int): Array[Double] = latByClass.flatMap(_(c).toArray).map(_ / 1e6).sorted
}

/** Checks, layer figures and end-to-end figures of `serve`. */
object ServeChecks {
  /** Inputs each check and recall figure runs over. */
  val Checked = 32

  /** Sharded, decomposed and composite forms agree; graph recall holds
    * the floor `PointServeSpec` pins. Times `mergeHits` as the gather.
    */
  def apply(run: Run, sv: Servers, in: Inputs, mix: Mix): Unit = {
    import Mix.Limit
    val shards = sv.emb.shards(2)
    val gather = new Samples
    def gathered(parts: Seq[Seq[Hit]], k: Int): Seq[Hit] = {
      val t0 = System.nanoTime()
      val r = run.tracer.span("pointserve.gather")(PointServe.mergeHits(parts, k))
      gather.add(System.nanoTime() - t0)
      r
    }
    (0 until Checked).foreach { i =>
      val q = in.commonQ(i)
      run.check(s"bm25 shards(2) == unsharded [$i]") {
        gathered(shards.map(_.bm25(q, Limit)), Limit) == sv.emb.bm25(q, Limit)
      }
      run.check(s"bm25 rare shards(2) == unsharded [$i]") {
        gathered(shards.map(_.bm25(in.rareQ(i), Limit)), Limit) == sv.emb.bm25(in.rareQ(i), Limit)
      }
      run.check(s"sparse shards(2) == unsharded [$i]") {
        gathered(shards.map(_.sparse(in.sparseQ(i), Limit)), Limit) == sv.emb.sparse(in.sparseQ(i), Limit)
      }
      val composite = sv.emb.hybridRrf(in.qv(i), in.qid(i), q, Limit)
      run.check(s"hybridRrf shards(2) + rrfFuse == composite [$i]") {
        val n = 2 * Limit
        PointServe.rrfFuse(Seq(
          gathered(shards.map(_.semantic(in.qv(i), n, excludeId = in.qid(i))), n),
          gathered(shards.map(_.bm25(q, n)), n),
          gathered(shards.map(_.textSearch(q, n)), n)), Limit) == composite
      }
      run.check(s"decomposed hybridRrf == composite [$i]") {
        mix.hybridParts(sv.emb.semantic(in.qv(i), 2 * Limit, in.qid(i)), q) == composite
      }
      run.check(s"decomposed hybridRrfDense == composite [$i]") {
        val g = sv.graph.query(in.qv(i), 2 * Limit, excludeId = in.qid(i))
        mix.hybridParts(g, q) == sv.emb.hybridRrfDense(g, q, Limit)
      }
    }
    run.layers("pointserve.gather_ms") = Stats.median(gather.toArray.map(_ / 1e6))

    // recall@10 against the brute-force Embedded.semantic top-10
    val anns: Seq[(String, (Array[Double], Long) => Seq[Hit])] = Seq(
      "graph" -> ((v, id) => sv.graph.query(v, Limit, excludeId = id)),
      "ivf" -> ((v, id) => sv.ivf.query(v, Limit, excludeId = id)),
      "pq" -> ((v, id) => sv.pq.query(v, Limit, excludeId = id)),
      "ivfpq" -> ((v, id) => sv.ivfpq.query(v, Limit, excludeId = id)),
      "lsh" -> ((v, id) => sv.lsh.query(v, Limit, excludeId = id)))
    anns.foreach { case (name, q) =>
      val recall = (0 until Checked).map { i =>
        val exact = sv.emb.semantic(in.qv(i), Limit, in.qid(i)).map(_.vecId).toSet
        q(in.qv(i), in.qid(i)).map(_.vecId).toSet.intersect(exact).size.toDouble / Limit
      }
      val mean = recall.sum / recall.length
      run.layers(s"pointserve.recall10.$name") = mean
      if (name == "graph") run.check(f"graph recall@10 $mean%.3f >= 0.8")(mean >= 0.8)
    }
  }

  /** Per-op-class medians and hybrid branch medians, from the clients'
    * own timings and, traced, from the spans.
    */
  def layers(run: Run, clients: Clients, sv: Servers): Unit = {
    Mix.Classes.indices.foreach { c =>
      val ms = clients.classMs(c)
      if (ms.nonEmpty) run.layers(s"pointserve.${Mix.Classes(c)}.p50_ms") = Stats.quantile(ms, 0.5)
      run.detail(s"op.${Mix.Classes(c)}") = Stats.summary(ms)
    }
    if (run.tracer.on) {
      val byName = run.tracer.spans
        .filter(s => s.start >= clients.startNs && s.end <= clients.endNs).groupBy(_.name)
      Seq("dense", "bm25", "text", "fuse").foreach { b =>
        byName.get(s"pointserve.hybrid.$b").foreach { ss =>
          run.layers(s"pointserve.hybrid.${b}_ms") = Stats.median(ss.map(s => (s.end - s.start) / 1e6))
        }
      }
    }
    sv.resident.foreach { case (k, b) => run.layers(s"pointserve.resident_mb.$k") = b / 1048576.0 }
    run.layers("jvm.gc_s") = clients.gcS
    run.layers("jvm.alloc_kb_per_op") = clients.allocBytes / 1024.0 / math.max(1L, clients.ops)
  }

  val WindowS = 0.5

  /** The closed-loop figures, each the median over [[WindowS]] windows
    * of the measured phase: a stall that hits a few windows (GC, CPU
    * steal from other tenants of the host) moves the tails of the
    * per-window series, not the medians. The tail is each window's
    * p99, which has at least ten samples beyond it above 1000 ops per
    * window.
    */
  def e2e(run: Run, clients: Clients): Unit = {
    val ms = clients.latMs
    val windows = math.max(1, (clients.wallS / WindowS).toInt)
    val byWindow = Array.fill(windows)(Array.newBuilder[Double])
    clients.lat.indices.foreach { t =>
      val l = clients.lat(t).toArray
      val d = clients.done(t).toArray
      l.indices.foreach { i =>
        val w = (d(i) / 1e9 / WindowS).toInt
        if (w < windows) byWindow(w) += l(i) / 1e6
      }
    }
    val ws = byWindow.map(_.result().sorted)
    run.e2e("ops_per_s") = Stats.median(ws.map(_.length / WindowS))
    run.e2e("p50_ms") = Stats.median(ws.map(Stats.quantile(_, 0.5)))
    run.e2e("tail_ms") = Stats.median(ws.map(Stats.quantile(_, 0.99)))
    run.detail("windows") = windows
    run.detail("window_ops_per_s") = Stats.summary(ws.map(_.length / WindowS))
    run.detail("latency_ms") = Stats.summary(ms)
    run.detail("client_threads") = clients.lat.length
    run.detail("ops") = clients.ops
    run.attempted.addAndGet(clients.ops)
    clients.errors.get match {
      case 0 =>
      case n => run.fail(s"$n serving calls threw")
    }
  }
}

/** `serve`: read-only serving from `nproc - 1` closed-loop client
  * threads over the nine resident servers; no Spark job may run while
  * it is measured. The write path ([[IngestCycle]]) runs after it.
  */
object ServeWorkload {
  def apply(run: Run): Unit = {
    val dir = run.freshCorpus()
    val sv = new Servers(run, dir)
    val in = new Inputs(run.seed, run, dir)
    val mix = new Mix(run.seed, sv, in, run.tracer)
    // one core is left to the JVM's own threads (GC, JIT compilers,
    // Spark's heartbeats): with a client on every core each of them
    // preempts a client for a scheduler slice, and throughput varied
    // by a quarter from run to run
    val threads = math.max(1, run.nproc - 1)
    new Clients(run, mix, threads, seconds = 2.0).run() // JIT warm-up
    run.drainListener()
    val jobs0 = run.listener.jobsTotal.get
    run.setupDone()

    val clients = new Clients(run, mix, threads, run.seconds)
    clients.run()
    run.drainListener()
    val jobs = run.listener.jobsTotal.get - jobs0

    ServeChecks.e2e(run, clients)
    run.check(s"measured phase launched $jobs Spark jobs")(jobs == 0)
    ServeChecks(run, sv, in, mix)
    ServeChecks.layers(run, clients, sv)
    run.e2e("heap_mb") = run.heapAfterGc()
    run.detail("resident_mb_total") = sv.resident.values.sum / 1048576.0
    IngestCycle(run, sv, in)
  }
}
