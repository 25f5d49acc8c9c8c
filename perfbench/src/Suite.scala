package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** `suite`: a fixed panel of `SparkEntry.queries` entries, one or more
  * per operator module, in a seeded order, each run in two regimes.
  * Cold: first execution against a fresh copy of the corpus after
  * `clearCache()`, so no memo from an earlier entry can serve it.
  * Warm: an immediate re-run in the same state.
  */
object SuiteWorkload extends AdaptiveSparkPlanHelper {
  /** Panel entry -> the module that implements it. */
  val Panel: Seq[(String, String)] = Seq(
    "events_cube" -> "Analytics",
    "bm25_search" -> "Bm25",
    "hybrid_rrf" -> "HybridSearch",
    "ann_lsh" -> "VectorSearch",
    "ann_pq_indexed" -> "VectorIndex",
    "dedup_minhash" -> "Dedup",
    "dup_rate_by_source" -> "Curation",
    "bpe_train" -> "TextAnalysis",
    "embed_stats" -> "Clustering",
    "filter_comparison" -> "Filtering",
    "mm_meta" -> "Multimodal",
    "doc_stats" -> "DocOps",
    "mock_embed" -> "Embeddings")

  /** Entries outside the panel, run once on a throwaway copy so the
    * first panel entries do not pay all of the JVM's warm-up.
    */
  val WarmUp: Seq[String] = Seq("q1_agg", "token_count")

  final case class Regime(buildS: Double, planS: Double, execS: Double, cacheScans: Int) {
    def wallS: Double = buildS + planS + execS
  }

  private def cacheScans(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }.size

  /** Row count and an order-insensitive digest of the rows. */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*)))
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  def apply(run: Run): Unit = {
    val spark = run.spark
    val sc = spark.sparkContext
    val goldens = Goldens.load(sys.props.getOrElse("perfbench.goldens", ""))
    def exec(group: String, name: String, dir: String): (DataFrame, Regime) = {
      sc.setJobGroup(group, group)
      try {
        val fn = graft.SparkEntry.queries(name)
        val (df, b) = run.timed(s"operators.build")(fn(spark, dir))
        val (_, p) = run.timed("catalyst.plan")(df.queryExecution.executedPlan)
        val (_, e) = run.timed("exec.run")(df.write.format("noop").mode("overwrite").save())
        (df, Regime(b, p, e, cacheScans(df)))
      } finally sc.clearJobGroup()
    }

    val warmDir = run.freshCorpus()
    WarmUp.foreach(exec("warmup", _, warmDir))
    spark.catalog.clearCache()
    run.setupDone()

    val order = new Random(run.seed).shuffle(Panel)
    val walls = ArrayBuffer.empty[Double]
    val cold = ArrayBuffer.empty[(String, String, Regime)]
    val warm = ArrayBuffer.empty[(String, String, Regime)]
    var storedBytes = 0L
    val gc0 = run.gcSeconds
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || System.nanoTime() - t0 < run.seconds * 1e9) {
      passes += 1
      order.foreach { case (name, module) =>
        val dir = run.freshCorpus()
        spark.catalog.clearCache()
        run.attempted.addAndGet(2)
        try {
          run.tracer.span(s"suite.$name") {
            val (df, c) = run.tracer.span("suite.cold")(exec(s"$name.cold", name, dir))
            val (_, w) = run.tracer.span("suite.warm")(exec(s"$name.warm", name, dir))
            cold += ((name, module, c)); warm += ((name, module, w))
            walls += c.wallS; walls += w.wallS
            storedBytes += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
            sc.setJobGroup(s"$name.digest", "digest")
            val d = try digest(df) finally sc.clearJobGroup()
            run.detail(s"digest.$name") = Seq(d._1, d._2)
            run.check(s"$name rows/digest ${d._1}/${d._2} == golden ${goldens.get(name)}") {
              goldens.get(name).contains(d)
            }
          }
        } catch { case e: Throwable => run.fail(s"$name threw: ${e.getMessage}") }
      }
    }
    run.layers("jvm.gc_s") = run.gcSeconds - gc0
    spark.catalog.clearCache()
    run.drainListener()

    run.e2e("ops_per_s") = walls.size / walls.sum
    val ms = walls.map(_ * 1e3).toArray.sorted
    // the median entry of the warm regime: a median over both regimes
    // falls in the gap between them and moved by a fifth run to run
    run.e2e("p50_ms") = Stats.median(warm.map(_._3.wallS * 1e3))
    // the highest percentile with ten samples beyond it: the panel's
    // 26 executions support no higher one
    run.e2e("tail_ms") = ms(math.max(0, ms.length - 11))
    run.e2e("heap_mb") = run.heapAfterGc()
    run.detail("passes") = passes
    run.detail("entry_ms") = Stats.summary(ms)

    for ((r, rs) <- Seq("cold" -> cold, "warm" -> warm)) {
      run.layers(s"suite.${r}_s") = rs.map(_._3.wallS).sum
      run.layers(s"operators.build_s.$r") = rs.map(_._3.buildS).sum
      run.layers(s"catalyst.plan_s.$r") = rs.map(_._3.planS).sum
      run.layers(s"exec.run_s.$r") = rs.map(_._3.execS).sum
      val aggs = rs.map(e => run.listener.agg(s"${e._1}.$r"))
      def mb(f: GroupListener#Agg => Long) = aggs.map(f).sum / 1048576.0
      run.layers(s"exec.jobs.$r") = aggs.map(_.jobs.sum).sum.toDouble
      run.layers(s"exec.stages.$r") = aggs.map(_.stages.sum).sum.toDouble
      run.layers(s"exec.tasks.$r") = aggs.map(_.tasks.sum).sum.toDouble
      run.layers(s"exec.input_mb.$r") = mb(_.inputBytes.sum)
      run.layers(s"exec.shuffle_write_mb.$r") = mb(_.shuffleWrite.sum)
      run.layers(s"exec.shuffle_read_mb.$r") = mb(_.shuffleRead.sum)
      run.layers(s"exec.spill_mb.$r") = mb(_.spill.sum)
      run.layers(s"exec.peak_mem_mb.$r") = mb(_.peakMem.sum)
      rs.groupBy(_._2).foreach { case (module, es) =>
        run.layers(s"suite.$module.${r}_s") = es.map(_._3.wallS).sum
      }
      run.detail(s"entry_s.$r") = rs.map(e => e._1 -> e._3.wallS).toMap
    }
    run.layers("cache.scans.warm") = warm.map(_._3.cacheScans).sum.toDouble
    run.layers("cache.stored_mb") = storedBytes / 1048576.0
  }
}

/** Golden (rows, digest) per entry, one `name rows digest` line each. */
object Goldens {
  def load(path: String): Map[String, (Long, String)] =
    if (path.isEmpty || !new java.io.File(path).exists()) Map.empty
    else scala.io.Source.fromFile(path).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, d) = l.split("\\s+"); n -> (r.toLong, d) }.toMap
}
