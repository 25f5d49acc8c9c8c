package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark-side counters the benchmark attaches itself. Every job is
  * attributed to the job group its thread set (`setJobGroup`), so an
  * entry's numbers are exactly the tasks it launched — no time
  * windows.
  */
final class GroupListener extends SparkListener {
  final class Agg {
    val jobs, stages, tasks = new LongAdder
    val inputBytes, outputBytes, shuffleWrite, shuffleRead, spill, peakMem = new LongAdder
  }
  val jobsTotal = new AtomicLong
  private val byGroup = new ConcurrentHashMap[String, Agg]()
  private val stageGroup = new ConcurrentHashMap[Integer, String]()

  def agg(group: String): Agg = byGroup.computeIfAbsent(group, _ => new Agg)
  def groups: Seq[Agg] = byGroup.values().asScala.toSeq

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsTotal.incrementAndGet()
    val g = groupOf(e.properties)
    agg(g).jobs.increment()
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => agg(g).stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = agg(g)
      a.tasks.increment()
      a.inputBytes.add(m.inputMetrics.bytesRead)
      a.outputBytes.add(m.outputMetrics.bytesWritten)
      a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.peakMem.add(m.peakExecutionMemory)
    }
  }
}

/** One traced interval. Spans of one operation share `root`. */
final case class Span(id: Long, parent: Long, root: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder around calls into each layer. Off, `span`
  * is a direct call; on, each thread appends to its own buffer and
  * the buffers are read once, when the run ends.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong
  private val buffers = new java.util.concurrent.ConcurrentLinkedQueue[ArrayBuffer[Span]]()
  private final class Local {
    val buf = ArrayBuffer.empty[Span]
    val stack = new java.util.ArrayDeque[Array[Long]]() // (id, root)
  }
  private val local = ThreadLocal.withInitial[Local] { () =>
    val l = new Local; buffers.add(l.buf); l
  }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val l = local.get()
      val id = ids.incrementAndGet()
      val top = l.stack.peek()
      val (parent, root) = if (top == null) (0L, id) else (top(0), top(1))
      l.stack.push(Array(id, root))
      val t0 = System.nanoTime()
      try f
      finally {
        l.buf += Span(id, parent, root, name, t0, System.nanoTime())
        l.stack.pop()
      }
    }

  def spans: Seq[Span] = buffers.asScala.toSeq.flatMap(_.toSeq)

  /** Self time per span name: duration minus the part of the interval
    * its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        cs.foreach { case (a, b) =>
          val from = math.max(a, hi)
          if (b > from) { covered += b - from; hi = b }
        }
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

/** Timing statistics: medians with their sample count, never minima. */
object Stats {
  def quantile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(q * sorted.length).toInt - 1)))

  def median(xs: Iterable[Double]): Double = quantile(xs.toArray.sorted, 0.5)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it, or None below twenty samples.
    */
  def tail(sorted: Array[Double]): Option[(String, Double)] =
    Seq(99.9 -> "p999", 99.0 -> "p99", 95.0 -> "p95", 90.0 -> "p90", 75.0 -> "p75", 50.0 -> "p50")
      .find { case (p, _) => sorted.length * (1 - p / 100) >= 10 }
      .map { case (p, n) => n -> quantile(sorted, p / 100) }

  /** {median, n, tail} summary of a sample. */
  def summary(xs: Iterable[Double]): Map[String, Any] = {
    val s = xs.toArray.sorted
    val base = Map[String, Any]("median" -> quantile(s, 0.5), "n" -> s.length)
    tail(s).fold(base) { case (p, v) => base + (p -> v) }
  }
}

/** Growable primitive sample buffer for hot loops. */
final class Samples {
  private var a = new Array[Long](1 << 12)
  private var n = 0
  def add(x: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = x; n += 1
  }
  def size: Int = n
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case x => str(x.toString)
  }
}
