package graft.perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.PointServe.Hit
import graft.streaming.EventStreams

/** The write path of the serving tier, run after `serve`'s measured
  * phase: a seeded crawl batch is probed through the dedup gate, the
  * admitted rows staged as parquet, the minhash and IVF index streams
  * driven over them, and the served indexes refreshed.
  */
object IngestCycle {
  final case class Doc(id: Long, text: String, vec: Array[Float])

  val Novel = 24
  val Planted = 8

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** A seeded crawl batch: novel documents plus near-duplicates (one
    * extra token, perturbed vector) of resident documents.
    */
  final class Crawl(seed: Long, in: Inputs) {
    private val rng = new Random(seed ^ 0x1a9e57L)
    private var nextId = 10000000L

    private def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    private def words(xs: Array[String], lo: Int, hi: Int) =
      Seq.fill(lo + rng.nextInt(hi - lo + 1))(xs(rng.nextInt(xs.length))).mkString(" ")
    private def novel(): Doc = {
      nextId += 1
      Doc(nextId, words(in.common, 20, 60) + " " + words(in.rare, 1, 4) + s" crawl$nextId",
        unit(Array.fill(64)(rng.nextGaussian())))
    }
    private def nearDup(text: String, vec: Array[Double]): Doc = {
      nextId += 1
      Doc(nextId, text + s" copy$nextId", unit(vec.map(_ + 0.05 * rng.nextGaussian())))
    }

    /** (novel docs, planted near-duplicates) of the next batch. */
    def next(): (Seq[Doc], Seq[Doc]) = {
      val planted = Seq.fill(Planted) {
        val (id, text) = in.docs(rng.nextInt(in.docs.length))
        nearDup(text, in.vecs((id % in.vecs.length).toInt)._2)
      }
      (Seq.fill(Novel)(novel()), planted)
    }
  }

  def apply(run: Run, sv: Servers, in: Inputs): Unit = {
    val spark = run.spark
    val docStage = new File(run.work, "stage/docs").getAbsolutePath
    val vecStage = new File(run.work, "stage/vecs").getAbsolutePath
    new File(docStage).mkdirs(); new File(vecStage).mkdirs()
    val streams: Seq[(String, StreamingQuery)] = Seq(
      "minhash" -> EventStreams.minhashIndexStream(
        spark.readStream.schema(docSchema).parquet(docStage), sv.dedupPath),
      "ivf" -> EventStreams.ivfIndexStream(
        spark.readStream.schema(vecSchema).parquet(vecStage), sv.ivfPath))
    spark.sparkContext.setJobGroup("ingest.writer", "staging writes and refresh")

    try {
      val (fresh, planted) = new Crawl(run.seed, in).next()
      def probe(d: Doc) = run.tracer.span("pointserve.dedup.admit")(sv.dedup.admit(d.text))
      val admitted = fresh.filter(probe)
      val plantedIn = planted.filter(probe)
      // a planted copy the gate let through is still written: it is
      // what the program admitted, and the checks then hold it to it
      val rows = admitted ++ plantedIn
      run.tracer.span("ingest.stage") {
        spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map(d => Row(d.id, d.text)), 1), docSchema)
          .write.mode("append").parquet(docStage)
        spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map(d => Row(d.id, d.vec.toSeq)), 1), vecSchema)
          .write.mode("append").parquet(vecStage)
      }
      val staged = System.nanoTime()
      streams.foreach { case (k, q) =>
        run.layers(s"eventstreams.batch_s.$k") =
          run.timed(s"eventstreams.batch.$k")(q.processAllAvailable())._2
      }
      run.layers("pointserve.refresh_s.dedup") =
        run.timed("pointserve.refresh.dedup")(sv.dedup.refresh())._2
      run.layers("pointserve.refresh_s.ivf") = run.timed("pointserve.refresh.ivf")(sv.ivf.refresh())._2
      run.layers("ingest.visible_s") = (System.nanoTime() - staged) / 1e9
      run.drainListener()
      run.attempted.addAndGet(Novel + Planted)
      run.layers("eventstreams.rows_appended") =
        streams.map(_._2.recentProgress.map(_.numInputRows).sum).sum.toDouble
      // a stream runs its micro-batch jobs in a job group named by its run id
      run.layers("eventstreams.written_mb") = streams
        .map(q => run.listener.agg(q._2.runId.toString).outputBytes.sum).sum / 1048576.0
      run.layers("ingest.reject_ratio") = (Planted - plantedIn.size).toDouble / Planted
      run.layers("ingest.admit_ratio") = admitted.size.toDouble / Novel

      // every admitted document is now resident: probing it again is a
      // reject, and its vector is served at rank 1 with cosine 1.0 once
      // every cell under its probed coarse centroids is searched. At the
      // default nprobe a vector's own cell can rank below nprobe other
      // cells of a neighbouring coarse group, so that hit rate is
      // reported as a ratio, not checked.
      var selfHits = 0
      rows.foreach { d =>
        val v = d.vec.map(_.toDouble)
        run.check(s"re-probe of admitted doc ${d.id} rejected")(!sv.dedup.admit(d.text))
        run.check(s"appended vector ${d.id} served at rank 1") {
          sv.ivf.query(v, k = 1, nprobe = Int.MaxValue) == Seq(Hit(1, d.id, 10000L))
        }
        if (sv.ivf.query(v, k = 1) == Seq(Hit(1, d.id, 10000L))) selfHits += 1
      }
      run.layers("ingest.self_hit_ratio") = selfHits.toDouble / rows.size
    } finally {
      streams.foreach(_._2.stop())
      spark.sparkContext.clearJobGroup()
    }
  }
}
