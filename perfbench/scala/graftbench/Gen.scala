package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.sources.PdfGen

/** Seeded input generation. Everything the program reads is written
  * here as parquet with graft's table schemas; the ground truth stays
  * in memory with the benchmark. */
object Gen {

  /** Inverse-CDF sampler over ranks 0..n-1 with P(r) ∝ 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double, rng: Random) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A Gaussian-mixture sample: `centres` unit-scale directions, points
    * at `sigma` isotropic noise around the chosen centre. */
  final case class Mixture(centres: Array[Array[Double]], sigma: Double) {
    def point(c: Int, rng: Random): Array[Float] =
      centres(c).map(x => (x + sigma * rng.nextGaussian()).toFloat)
  }

  def mixture(rng: Random, nCentres: Int, dim: Int, sigma: Double): Mixture =
    Mixture(Array.fill(nCentres, dim)(rng.nextGaussian()), sigma)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = scala.util.Using.resource(Files.walk(p)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
      }
      paths.reverse.foreach(Files.delete)
    }

  /** Write rows as ONE parquet file (graft's corpora are single files;
    * the streaming upsert reads exactly that name). Written with the
    * parquet library directly, so generation runs no Spark job. */
  def writeParquet[T](path: String, schema: String, rows: Iterable[T])(fill: (Group, T) => Unit): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(path)))
      .withType(mt).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r => val g = groups.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }

  /** A parquet LIST<float> field, the layout Spark reads as array<float>. */
  def floatList(name: String): String =
    s"optional group $name (LIST) { repeated group list { optional float element; } }"

  def addFloats(g: Group, name: String, xs: Array[Float]): Unit = {
    val l = g.addGroup(name)
    xs.foreach(x => l.addGroup("list").add("element", x))
  }

  /** embeddings(vec_id bigint, embedding array<float>, label int). */
  def writeEmbeddings(dir: String, vecs: Array[Array[Float]], labels: Array[Int]): Unit =
    writeParquet(s"$dir/embeddings.parquet",
      s"message embeddings { optional int64 vec_id; ${floatList("embedding")} optional int32 label; }",
      vecs.indices) { (g, i) =>
      g.add("vec_id", i.toLong)
      addFloats(g, "embedding", vecs(i))
      g.add("label", labels(i))
    }

  // ---------------------------------------------------------------
  // Documents and PDFs
  // ---------------------------------------------------------------

  /** Planted extraction classes: PdfGen's status class index, the
    * builder used, and the class's share of the corpus. */
  val PdfMix: Seq[(String, Int, Double)] = Seq(
    ("clear", 0, 0.80), ("rc4", 1, 0.04), ("aes128", 2, 0.04), ("aes256", 2, 0.04),
    ("locked", 3, 0.02), ("unsupported", 4, 0.03), ("malformed", 5, 0.03))

  def payload(kind: String, docId: Long, text: String): Array[Byte] = kind match {
    case "clear" => PdfGen.clearPdf(text)
    case "rc4" => PdfGen.rc4Pdf(docId, text)
    case "aes128" => PdfGen.aes128Pdf(docId, text)
    case "aes256" => PdfGen.aes256Pdf(docId, text)
    case "locked" =>
      if (docId % 2 == 0) PdfGen.rc4Pdf(docId, text, lock = true)
      else PdfGen.aes256Pdf(docId, text, lock = true)
    case "unsupported" => PdfGen.unsupportedPdf(docId, text)
    case _ => PdfGen.malformedPayload(docId)
  }

  /** The classes of an `n`-document shard in a seeded order: each
    * non-clear class at its share of `n` but at least once, clear for
    * the rest, so every shard carries the same mix. */
  def shardKinds(rng: Random, n: Int): Seq[(String, Int)] = {
    val other = PdfMix.tail.flatMap { case (k, c, p) => Seq.fill(math.max(1, math.round(p * n).toInt))((k, c)) }
    rng.shuffle(Seq.fill(n - other.size)((PdfMix.head._1, PdfMix.head._2)) ++ other)
  }

  /** Lowercase pseudo-words, distinct. */
  def vocabulary(rng: Random, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Iterator.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString
    seen.toArray
  }
}
