package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the Spark session, the per-run directories,
  * the listener and tracer, and the counters and metrics the run
  * reports.
  */
final class Run(val spark: SparkSession, val seed: Long,
                val seconds: Double, val tracer: Tracer, val listener: GroupListener,
                corpus: String, val work: String) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  val attempted = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String): Unit = failures.add(what)

  /** One correctness check: counted as attempted, and as failed when
    * it is false or throws.
    */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted.incrementAndGet()
    try { if (!ok) fail(what) }
    catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** Wall seconds of `f`, also recorded as a span named `name`. */
  def timed[A](name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(f)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private var copies = 0

  /** A new copy of the corpus directory. Every memo in the program
    * keys on the directory path or its file listing, so nothing an
    * earlier copy built can serve a query on this one.
    */
  def freshCorpus(): String = synchronized {
    copies += 1
    val dst = new File(work, s"corpus-$copies")
    dst.mkdirs()
    new File(corpus).listFiles().filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, new File(dst, f.getName).toPath, StandardCopyOption.COPY_ATTRIBUTES)
    }
    dst.getAbsolutePath
  }

  def drainListener(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Marks the end of set-up: JVM start to the first measured operation. */
  def setupDone(): Unit = e2e("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Collection time of every garbage collector so far, seconds. */
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum / 1e3

  /** Heap in use after a full collection, MB. The pause between the
    * collections lets Spark's ContextCleaner drop the broadcasts and
    * shuffles the first one found unreachable.
    */
  def heapAfterGc(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val out = opts("out")
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(opts("work"), "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(opts("work"), "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, opts("seed").toLong, opts("seconds").toDouble,
      new Tracer(opts("trace") == "1"), listener, opts("corpus"), opts("work"))
    try {
      workload match {
        case "serve" => ServeWorkload(run)
        case "suite" => SuiteWorkload(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.drainListener()
      // every Spark job of the run, set-up included: bytes repeat run to run
      run.e2e("shuffle_mb") =
        listener.groups.map(_.shuffleWrite.sum).sum / 1048576.0
      val spans = run.tracer.spans
      if (run.tracer.on) {
        run.detail("self_s") = run.tracer.selfSeconds
        run.detail("spans") = spans.length
        Files.writeString(Paths.get(out + ".spans.jsonl"), spans.map { s =>
          s"""{"id":${s.id},"parent":${s.parent},"root":${s.root},"name":${Json.str(s.name)},""" +
            s""""start_ns":${s.start},"end_ns":${s.end}}"""
        }.mkString("", "\n", "\n"))
      }
      val failures = run.failures.asScala.toSeq
      val result = Map(
        "attempted" -> run.attempted.get,
        "failed" -> failures.size,
        "failures" -> failures.take(20),
        "e2e" -> run.e2e,
        "layers" -> run.layers,
        "detail" -> run.detail,
        "provenance" -> Map(
          "nproc" -> nproc,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "spark" -> spark.version,
          "java" -> System.getProperty("java.version")))
      Files.writeString(Paths.get(out), Json(result))
    } finally spark.stop()
  }
}
