package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.IvfIndex
import graft.streaming.IvfStream

/** Streaming write into the IVF layout: one `IvfStream.indexUpsert`
  * call per operation (base-half layout write, streamed odd-half append
  * through foreachBatch, artifact dumps, probe of the layout). */
final class IndexUpsert(root: String) extends Workload(root) {
  val name = "index_upsert"
  val pathA = "upsert"
  val pathB = "probe"
  val nominalOpS = 3.0
  val N = 1200
  val Dim = 64
  val Centres = 90
  val Sigma = 1.2
  val K = 10

  def params: Seq[(String, Any)] = Seq(
    "corpus_vectors" -> N, "dim" -> Dim, "mixture_centres" -> Centres, "sigma" -> Sigma,
    "base_nlist" -> IvfIndex.defaultNlist(N / 2), "k" -> K)

  private var corpus: Array[Array[Float]] = _
  private var lastProbe: Seq[(Long, Double)] = Nil

  private def layout: String = s"${IvfStream.scratchRoot(data)}/index"

  def generate(rng: Random): Unit = {
    val mix = Gen.mixture(rng, Centres, Dim, Sigma)
    val labels = Array.fill(N)(rng.nextInt(Centres))
    corpus = labels.map(mix.point(_, rng))
    Gen.writeEmbeddings(data, corpus, labels)
  }

  /** The untimed first call of each set-up (the warm-up operation) fits
    * the base-half k-means; nothing else precedes it. */
  def setup(s: SparkSession, t: Tracer, last: Boolean): Seq[(String, Double)] = Nil

  private def probeRows(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (IvfCheck.long(r, 0), r.getDouble(1)))

  def op(s: SparkSession, t: Tracer, rec: OpRec): Unit = {
    // one reader call as the operation makes it, timed from outside
    if (t.on) t.span("tables.table")(Tables.embeddings(s, data))
    val probe = path(rec, pathA)(t.span("ivfstream.upsert")(IvfStream.indexUpsert(s, data)))
    val rows = path(rec, pathB)(t.span("ivfstream.probe") {
      if (t.on) t.span("spark.plan")(probe.queryExecution.executedPlan)
      probe.collect()
    })
    rec.items = N
    lastProbe = probeRows(rows)
    if (t.on) {
      val files = scala.util.Using.resource(Files.walk(Paths.get(layout))) {
        _.filter((p: Path) => p.getFileName.toString.endsWith(".parquet")).count()
      }
      rec.counters("ivfstream.index_files") = files.toDouble
    }
  }

  def check(s: SparkSession, rec: OpRec): Unit = {
    val r = s.read.parquet(layout)
      .agg(count(lit(1)), countDistinct(col("vec_id")), min(col("vec_id")), max(col("vec_id")))
      .head()
    val (rows, distinct, lo, hi) = (r.getLong(0), r.getLong(1), IvfCheck.long(r, 2), IvfCheck.long(r, 3))
    expect(rec, "layout_rows_once")(rows == N && distinct == N && lo == 0 && hi == N - 1,
      s"layout holds $rows rows, $distinct distinct vec_ids in [$lo, $hi]; expected each of $N once")
    expect(rec, "probe_order")(lastProbe.size == K &&
      lastProbe.zip(lastProbe.drop(1)).forall { case (a, b) => a._2 < b._2 || (a._2 == b._2 && a._1 < b._1) },
      s"probe returned ${lastProbe.size} rows, expected $K in (dist, vec_id) order")
  }

  /** The streamed layout's probe equals `IvfIndex.search` over a batch
    * `assign` of the whole corpus with the same model: the centroid
    * dictionary the call dumped. */
  def verify(s: SparkSession, rec: OpRec): Unit = {
    val centroids = s.read.parquet(s"${IvfStream.scratchRoot(data)}/dump/centroids.parquet")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).map(_._2)
    expect(rec, "model_size")(centroids.length == IvfIndex.defaultNlist(N / 2),
      s"dumped ${centroids.length} centroids, expected the base-half default nlist")
    val model = org.apache.spark.ml.clustering.BenchKMeans.fromCentres(centroids)
    val index = IvfIndex.assign(model, Tables.embeddings(s, data))
    val expected = probeRows(IvfIndex.search(s, index.filter(col("vec_id") =!= 0), centroids,
      corpus(0), k = K).collect())
    expect(rec, "probe_equals_batch_assign")(expected == lastProbe,
      s"streamed-layout probe ${lastProbe.map(_._1).mkString(",")} != batch ${expected.map(_._1).mkString(",")}")
  }

  def named(ops: Seq[OpRec], setups: Seq[Map[String, Double]]): Seq[(String, Double, String, Int)] =
    Seq(
      ("upsert_rows_per_s", ops.map(_.items).sum / math.max(1e-9, ops.map(_.wallMs).sum / 1e3),
        "rows/s", ops.size),
      ("upsert_call_p50_ms", Main.median(ops.map(_.wallMs)), "ms", ops.size))

  override def layer(op: OpRec): Map[String, Double] = op.counters.toMap
}
