package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.IvfIndex
import graft.plans.KnnJoin

/** Read-heavy batch vector search: a batch of held-out queries through
  * the IVF index (`IvfIndex.searchBatch`), then the same batch through
  * the exact `KnnJoin` operator, whose answers are the recall truth. */
final class AnnBatch(root: String) extends Workload(root) {
  val name = "ann_batch"
  val pathA = "ivf"
  val pathB = "exact"
  val nominalOpS = 1.0
  val N = 3000
  val Dim = 64
  val Centres = 90
  val Sigma = 1.2
  val QBatch = 32
  val Batches = 16
  val ZipfS = 1.1
  val K = 10
  val Nlist: Int = IvfIndex.defaultNlist(N)
  val Nprobe: Int = IvfIndex.defaultNprobe(Nlist)

  def params: Seq[(String, Any)] = Seq(
    "corpus_vectors" -> N, "dim" -> Dim, "mixture_centres" -> Centres, "sigma" -> Sigma,
    "queries_per_batch" -> QBatch, "query_batches" -> Batches,
    "query_cluster_zipf_s" -> ZipfS, "k" -> K, "nlist" -> Nlist, "nprobe" -> Nprobe)

  private var corpus: Array[Array[Float]] = _
  private var queries: Array[Array[Float]] = _
  private var index: DataFrame = _
  private var centroids: Array[Array[Double]] = _
  private var cellSizes: Map[Int, Long] = Map.empty
  private var lastIvf: Map[Long, Seq[(Long, Double, Long)]] = Map.empty
  private var lastExact: Map[Long, Seq[(Long, Double)]] = Map.empty

  private def qid(j: Int): Long = N.toLong + j

  def generate(rng: Random): Unit = {
    val mix = Gen.mixture(rng, Centres, Dim, Sigma)
    val labels = Array.fill(N)(rng.nextInt(Centres))
    corpus = labels.map(mix.point(_, rng))
    Gen.writeEmbeddings(data, corpus, labels)
    // held-out queries; cluster popularity is Zipf-skewed over a
    // seeded permutation of the centres
    val perm = rng.shuffle((0 until Centres).toVector)
    val z = new Gen.Zipf(Centres, ZipfS, rng)
    val qLabels = Array.fill(Batches * QBatch)(perm(z.next()))
    queries = qLabels.map(mix.point(_, rng))
    Gen.writeParquet(s"$data/queries.parquet", "message queries { optional int64 qid; " +
      s"${Gen.floatList("qv")} optional int32 batch; optional int32 label; }", queries.indices) { (g, j) =>
      g.add("qid", qid(j))
      Gen.addFloats(g, "qv", queries(j))
      g.add("batch", j / QBatch)
      g.add("label", qLabels(j))
    }
  }

  private def queryFrame(s: SparkSession, batch: Int): DataFrame =
    s.read.parquet(s"$data/queries.parquet").filter(col("batch") === batch).select("qid", "qv")

  def setup(s: SparkSession, t: Tracer, last: Boolean): Seq[(String, Double)] = {
    if (t.on && last) {
      val emb = t.span("tables.table")(Tables.embeddings(s, data))
      t.span("ivfindex.fit")(IvfIndex.fitModel(emb, Nlist))
    }
    val b0 = System.nanoTime()
    val (ix, cs) = t.span("ivfindex.build")(IvfIndex.build(s, data))
    val buildS = (System.nanoTime() - b0) / 1e9
    index = ix
    centroids = cs
    if (t.on)
      cellSizes = s.read.parquet(s"${IvfIndex.dumpDir(data)}/assign.parquet")
        .groupBy("centroid_id").count().collect()
        .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
    Seq("index_build_s" -> buildS)
  }

  private def collectTimed(t: Tracer, df: DataFrame): Array[Row] = {
    if (t.on) t.span("spark.plan")(df.queryExecution.executedPlan)
    df.collect()
  }

  def op(s: SparkSession, t: Tracer, rec: OpRec): Unit = {
    val batch = Math.floorMod(rec.id, Batches)
    val q = queryFrame(s, batch)
    val ivf = path(rec, pathA) {
      if (t.on) {
        t.span("ivfindex.assign")(t.mat(index))
        t.span("ivfindex.probe")(t.mat(IvfIndex.probePairs(s, q, centroids)))
      }
      t.span("ivfindex.search")(collectTimed(t, IvfIndex.searchBatch(s, index, centroids, q, K)))
    }
    val exact = path(rec, pathB) {
      val right = t.span("tables.table")(Tables.embeddings(s, data))
      t.span("knnjoin")(collectTimed(t,
        KnnJoin(q, right, "qv", "embedding", K, "cosine", 4, Some("vec_id"))
          .select("qid", "vec_id", "dist")))
    }
    rec.items = QBatch
    lastIvf = ivf.toSeq.map(r => (IvfCheck.long(r, 0), IvfCheck.long(r, 1), r.getDouble(2), IvfCheck.long(r, 3)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(x => (x._2, x._3, x._4)) }
    lastExact = exact.toSeq.map(r => (IvfCheck.long(r, 0), IvfCheck.long(r, 1), r.getDouble(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(x => (x._2, x._3)) }
    if (t.on) {
      val cand = (0 until QBatch).map { j =>
        val qv = queries(batch * QBatch + j).map(_.toDouble)
        centroids.indices.map(c => (IvfCheck.cosine(centroids(c), qv), c)).sorted
          .take(Nprobe).map(c => cellSizes.getOrElse(c._2, 0L)).sum.toDouble
      }
      val perQuery = cand.sum / QBatch
      rec.counters("ivfindex.candidates_per_query") = perQuery
      rec.counters("ivfindex.scored_per_result") = perQuery / K
      rec.counters("knnjoin.pairs_per_s") = QBatch.toDouble * N / math.max(1e-9, rec.paths(pathB) / 1e3)
    }
  }

  def check(s: SparkSession, rec: OpRec): Unit = {
    val batch = Math.floorMod(rec.id, Batches)
    val qids = (0 until QBatch).map(j => qid(batch * QBatch + j))
    expect(rec, "ivf_rows")(qids.forall(q => lastIvf.get(q).exists(_.size == K)) &&
      lastIvf.size == QBatch, s"IVF batch $batch: not exactly $K rows for each of $QBatch queries")
    expect(rec, "ivf_order")(lastIvf.values.forall { rows =>
      rows.map(_._3) == (1L to rows.size.toLong) &&
        rows.zip(rows.drop(1)).forall { case (a, b) => a._2 < b._2 || (a._2 == b._2 && a._1 < b._1) }
    }, s"IVF batch $batch: rows not in (dist, vec_id) order with ranks 1..$K")
    expect(rec, "exact_rows")(qids.forall(q => lastExact.get(q).exists(_.size == K)),
      s"KnnJoin batch $batch: not exactly $K rows per query")
    val recall = qids.map { q =>
      val truth = lastExact.getOrElse(q, Nil).map(_._1).toSet
      lastIvf.getOrElse(q, Nil).count(r => truth.contains(r._1)).toDouble / K
    }
    rec.counters("recall_at_10") = recall.sum / QBatch
  }

  def verify(s: SparkSession, rec: OpRec): Unit = {
    val q = queryFrame(s, 0)
    val exact = KnnJoin(q, Tables.embeddings(s, data), "qv", "embedding", K, "cosine", 4, Some("vec_id"))
      .select("qid", "vec_id", "dist").collect()
      .groupBy(IvfCheck.long(_, 0)).map { case (k, rs) => k -> rs.toSeq.map(r => (IvfCheck.long(r, 1), r.getDouble(2))) }
    // exact KnnJoin against the benchmark's own brute force on a sample
    val sample = 0 until 8
    val bad = sample.filterNot { j =>
      exact.getOrElse(qid(j), Nil) == IvfCheck.bruteTopK(corpus, queries(j), K)
    }
    expect(rec, "knnjoin_equals_brute_force")(bad.isEmpty,
      s"KnnJoin top-$K differs from brute force for qids ${bad.map(qid).mkString(",")}")
    // full-probe IVF search equals exact on one batch
    val full = IvfIndex.searchBatch(s, index, centroids, q, K, nprobe = centroids.length)
      .select("qid", "vec_id", "dist").collect()
      .groupBy(IvfCheck.long(_, 0)).map { case (k, rs) => k -> rs.toSeq.map(r => (IvfCheck.long(r, 1), r.getDouble(2))) }
    val diff = exact.keys.filter(k => full.get(k) != exact.get(k))
    expect(rec, "full_probe_equals_exact")(diff.isEmpty && full.size == exact.size,
      s"searchBatch(nprobe = nlist) differs from KnnJoin for qids ${diff.take(5).mkString(",")}")
  }

  def named(ops: Seq[OpRec], setups: Seq[Map[String, Double]]): Seq[(String, Double, String, Int)] = {
    val ivf = ops.map(_.paths.getOrElse(pathA, 0.0))
    val ex = ops.map(_.paths.getOrElse(pathB, 0.0))
    val qs = ops.map(_.items).sum.toDouble
    Seq(
      ("index_build_s", Main.median(setups.map(_.getOrElse("index_build_s", 0.0))), "s", setups.size),
      ("ann_qps", qs / math.max(1e-9, ivf.sum / 1e3), "queries/s", ops.size),
      ("ann_batch_p50_ms", Main.median(ivf), "ms", ops.size),
      ("exact_qps", qs / math.max(1e-9, ex.sum / 1e3), "queries/s", ops.size),
      ("exact_batch_p50_ms", Main.median(ex), "ms", ops.size),
      ("recall_at_10", ops.map(_.counters.getOrElse("recall_at_10", 0.0)).sum / math.max(1, ops.size),
        "fraction", ops.size * QBatch))
  }

  override def layer(op: OpRec): Map[String, Double] =
    op.counters.filter(_._1.contains('.')).toMap
}

/** The benchmark's own exact cosine top-k, for checking `KnnJoin`:
  * left-to-right double accumulation, rounded to 4 dp half-up after a
  * 1e-9 nudge, ties broken on vec_id. */
object IvfCheck {
  def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def round4(d: Double): Double =
    java.math.BigDecimal.valueOf(d + 1e-9).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def bruteTopK(corpus: Array[Array[Float]], q: Array[Float], k: Int): Seq[(Long, Double)] = {
    val qd = q.map(_.toDouble)
    corpus.indices.map(i => (round4(cosine(corpus(i).map(_.toDouble), qd)), i.toLong))
      .sorted.take(k).map { case (d, i) => (i, d) }
  }
}
