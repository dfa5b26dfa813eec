package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DocPipeline}
import graft.sources.{PdfGen, PdfText}

/** Write-heavy document ingest: one shard of PDFs through
  * `PdfText.utlToTextReport`, then `DocPipeline.docPipelineOf` and
  * `Dedup.bandCandidatesOf` on the readable text, both written to
  * parquet. */
final class DocIngest(root: String) extends Workload(root) {
  val name = "doc_ingest"
  val pathA = "pipeline"
  val pathB = "dedup"
  val nominalOpS = 3.5
  val ShardDocs = 60
  val Shards = 4
  val Vocab = 5000
  val ZipfS = 1.0
  val WordsMin = 240
  val WordsMax = 360
  val DupShare = 0.10
  val EditRate = 0.03

  def params: Seq[(String, Any)] = Seq(
    "docs_per_shard" -> ShardDocs, "shards" -> Shards, "vocabulary" -> Vocab,
    "word_zipf_s" -> ZipfS, "words_per_doc" -> s"$WordsMin-$WordsMax",
    "near_duplicate_share" -> DupShare, "near_duplicate_edit_rate" -> EditRate,
    "pdf_class_mix" -> Json.obj(Gen.PdfMix.map { case (k, _, p) => k -> p }: _*),
    "pdf_classes_per_shard" -> Json.obj(Gen.shardKinds(new Random(0), ShardDocs).groupBy(_._1)
      .map { case (k, v) => k -> v.size }.toSeq.sortBy(_._1): _*))

  final case class Doc(id: Long, text: String, kind: String, cls: Int) {
    def status: String = PdfGen.statusOfClass(cls)
    def readable: Boolean = Readable.contains(status)
    def words: Int = text.split(" ").length
  }
  private val Readable = Seq(PdfText.StatusClear, PdfText.StatusRc4, PdfText.StatusAes)

  private var docs: Array[Array[Doc]] = _
  private var pairs: Array[Set[(Long, Long)]] = _
  private var shardBytes: Array[Long] = _

  private def shardPath(k: Int) = s"$data/pdfs_$k.parquet"
  private val statsOut = s"$out/doc_stats"
  private val candsOut = s"$out/doc_candidates"

  def generate(rng: Random): Unit = {
    val vocab = Gen.vocabulary(rng, Vocab)
    val z = new Gen.Zipf(Vocab, ZipfS, rng)
    // every shard gets the same spread of lengths, in a seeded order
    def lengths(): Iterator[Int] = rng.shuffle((0 until ShardDocs).map(i =>
      WordsMin + i * (WordsMax - WordsMin) / math.max(1, ShardDocs - 1))).iterator
    docs = new Array(Shards)
    pairs = new Array(Shards)
    shardBytes = new Array(Shards)
    val allDocs = ArrayBuffer.empty[Doc]
    for (k <- 0 until Shards) {
      // near-duplicate families of 2-3 (a base and edited copies), then
      // singletons; ids are assigned after a shuffle
      val texts = ArrayBuffer.empty[(Array[String], Int)]
      val lens = lengths()
      def words(): Array[String] = Array.fill(lens.next())(vocab(z.next()))
      var family = 0
      while (texts.size < ShardDocs * DupShare) {
        val base = words()
        texts += ((base, family))
        for (_ <- 1 until 2 + rng.nextInt(2))
          texts += ((base.map(w => if (rng.nextDouble() < EditRate) vocab(z.next()) else w), family))
        family += 1
      }
      while (texts.size < ShardDocs) { texts += ((words(), -1 - texts.size)); () }
      val order = rng.shuffle(texts.take(ShardDocs).toVector)
      val kinds = Gen.shardKinds(rng, ShardDocs)
      val shard = order.zipWithIndex.map { case ((ws, _), i) =>
        val (kind, cls) = kinds(i)
        Doc(k.toLong * ShardDocs + i, PdfGen.sanitize(ws.mkString(" ")), kind, cls)
      }.toArray
      docs(k) = shard
      pairs(k) = order.indices.groupBy(i => order(i)._2).values.filter(_.size > 1)
        .flatMap(g => for (a <- g; b <- g if a < b) yield (shard(a).id, shard(b).id)).toSet
      val payloads = shard.map(d => (d.id, Gen.payload(d.kind, d.id, d.text)))
      shardBytes(k) = payloads.map(_._2.length.toLong).sum
      Gen.writeParquet(shardPath(k), "message pdfs { optional int64 doc_id; optional binary payload; }",
        payloads.toSeq) { (g, p) =>
        g.add("doc_id", p._1)
        g.add("payload", Binary.fromConstantByteArray(p._2))
      }
      allDocs ++= shard
    }
    Gen.writeParquet(s"$data/documents.parquet", "message documents { optional int64 doc_id; " +
      "optional binary text (STRING); optional binary lang (STRING); optional binary source (STRING); " +
      "optional int64 n_chars; }", allDocs) { (g, d) =>
      g.add("doc_id", d.id)
      g.add("text", d.text)
      g.add("lang", "en")
      g.add("source", d.kind)
      g.add("n_chars", d.text.length.toLong)
    }
  }

  def setup(s: SparkSession, t: Tracer, last: Boolean): Seq[(String, Double)] = Nil

  private def readableOf(report: DataFrame): DataFrame =
    report.filter(col("extract_status").isin(Readable: _*)).select("doc_id", "text")

  def op(s: SparkSession, t: Tracer, rec: OpRec): Unit = {
    val k = Math.floorMod(rec.id, Shards)
    val pdfs = s.read.parquet(shardPath(k))
    val e0 = System.nanoTime()
    val report = t.span("pdftext.extract")(t.mat(PdfText.utlToTextReport(s, pdfs)))
    val e1 = System.nanoTime()
    val readable = readableOf(report)
    if (t.on) {
      val chunks = t.span("docpipeline.chunk")(t.mat(DocPipeline.chunksOf(readable)))
      t.span("docpipeline.embed")(t.mat(DocPipeline.chunkWeightsOf(chunks)))
    }
    val stats = t.span("docpipeline.stats")(t.mat(DocPipeline.docPipelineOf(readable)))
    if (t.on) {
      val shingles = t.span("dedup.shingle")(t.mat(Dedup.shingleSetOf(readable)))
      t.span("dedup.minhash")(t.mat(Dedup.minhashSigOf(shingles)))
      rec.counters("dedup.shingles_per_doc") =
        shingles.count().toDouble / math.max(1, docs(k).count(_.readable))
    }
    val cands = t.span("dedup.band_join")(t.mat(Dedup.bandCandidatesOf(readable)))
    // untraced, each write runs its whole lazy path from the PDFs
    t.span("io.write") {
      path(rec, pathA)(stats.write.mode("overwrite").parquet(statsOut))
      path(rec, pathB)(cands.write.mode("overwrite").parquet(candsOut))
    }
    rec.items = ShardDocs
    if (t.on) rec.counters("pdftext.mb_per_s") = shardBytes(k) / 1e6 / math.max(1e-9, (e1 - e0) / 1e9)
  }

  def check(s: SparkSession, rec: OpRec): Unit = {
    val k = Math.floorMod(rec.id, Shards)
    val truth = docs(k).map(d => d.id -> d).toMap
    val report = PdfText.utlToTextReport(s, s.read.parquet(shardPath(k)))
      .select("doc_id", "extract_status", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)).getOrElse(""))).toMap
    val badStatus = truth.values.filter(d => !report.get(d.id).exists(_._1 == d.status))
    expect(rec, "extract_status")(badStatus.isEmpty && report.size == truth.size,
      s"shard $k: ${badStatus.size} docs with a status other than PdfGen.statusOfClass " +
        s"(first: ${badStatus.headOption.map(d => s"${d.id} ${d.kind} -> ${report.get(d.id).map(_._1)}")})")
    val readable = truth.values.filter(_.readable)
    val badText = readable.filter(d => !report.get(d.id).exists(_._2 == d.text))
    expect(rec, "extract_text")(badText.isEmpty,
      s"shard $k: ${badText.size} readable docs whose text differs from the sanitised source")
    val unreadable = truth.size - readable.size
    expect(rec, "unreadable_count")(report.values.count(r => !Readable.contains(r._1)) == unreadable,
      s"shard $k: unreadable count differs from the $unreadable planted")

    val chunks = s.read.parquet(statsOut).groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expected(n: Int): Long =
      if (n <= DocPipeline.MaxTokens) 1L
      else (n - DocPipeline.MaxTokens + DocPipeline.Stride - 1) / DocPipeline.Stride + 1L
    val badChunks = readable.filter(d => !chunks.get(d.id).contains(expected(d.words)))
    expect(rec, "chunk_counts")(badChunks.isEmpty && chunks.size == readable.size,
      s"shard $k: ${badChunks.size} docs whose chunk count breaks MaxTokens/Stride; " +
        s"${chunks.size} docs chunked, ${readable.size} readable")

    val cands = s.read.parquet(candsOut).collect().map(r => (r.getLong(0), r.getLong(1)))
    expect(rec, "candidate_pairs")(cands.forall(p => p._1 < p._2) && cands.distinct.length == cands.length,
      s"shard $k: candidate pairs not distinct with doc_a < doc_b")
    val planted = pairs(k).filter(p => truth(p._1).readable && truth(p._2).readable)
    val found = planted.count(cands.toSet.contains)
    rec.counters("planted_pairs") = planted.size.toDouble
    rec.counters("found_pairs") = found.toDouble
    rec.counters("pdftext.unreadable_docs") = unreadable.toDouble
    rec.counters("docpipeline.chunks_per_doc") = chunks.values.sum.toDouble / math.max(1, readable.size)
    rec.counters("dedup.candidates_per_true_pair") = cands.length.toDouble / math.max(1, planted.size)
  }

  def verify(s: SparkSession, rec: OpRec): Unit = ()

  def named(ops: Seq[OpRec], setups: Seq[Map[String, Double]]): Seq[(String, Double, String, Int)] = {
    val planted = ops.map(_.counters.getOrElse("planted_pairs", 0.0)).sum
    Seq(
      ("ingest_docs_per_s", ops.map(_.items).sum / math.max(1e-9, ops.map(_.wallMs).sum / 1e3),
        "docs/s", ops.size),
      ("ingest_shard_p50_ms", Main.median(ops.map(_.wallMs)), "ms", ops.size),
      ("dedup_pair_recall", ops.map(_.counters.getOrElse("found_pairs", 0.0)).sum / math.max(1.0, planted),
        "fraction", planted.toInt))
  }

  override def layer(op: OpRec): Map[String, Double] =
    op.counters.filter(_._1.contains('.')).toMap
}
