package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DfCache

import graft.operators.{Analytics, IvfIndex, Multimodal}
import graft.streaming.{IvfStream, Streaming}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def partFiles(table: String): Seq[Path] =
    scala.util.Using.resource(Files.list(Paths.get(table)))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList.sorted)

  /** Write `df` as ONE parquet file at `path` — the testdata layout —
    * replacing whatever is there. */
  private def writeSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = Files.createTempDirectory("graft_single").toString + "/t"
    df.coalesce(1).write.parquet(tmp)
    Files.move(partFiles(tmp).head, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  /** `n` seeded 8-d vectors with the embeddings table's schema. */
  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    Seq.tabulate(n)(i => (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")
  }

  test("stream_hourly equals batch q_events_hourly") {
    val stream = Streaming.hourly(spark, sf).collect().map(_.toSeq).toSet
    val batch = Analytics.qEventsHourly(spark, sf).collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("watermarked append-mode stream emits a subset of sealed windows") {
    val wm = Streaming.hourlyWatermarked(spark, sf)
      .select("hour", "event_type", "n").collect().map(_.toSeq).toSet
    val batch = Analytics.qEventsHourly(spark, sf)
      .select("hour", "event_type", "n").collect().map(_.toSeq).toSet
    assert(wm.nonEmpty, "watermarked stream emitted nothing")
    assert(wm.subsetOf(batch), "append-mode emitted a window batch disagrees with")
  }

  test("stream_sessionize matches batch sessionization on session sizes") {
    val stream = Streaming.sessionize(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Analytics.qEventsSessionize(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("streaming IVF upsert probes identically to a batch build with the same model") {
    // stream path: base half built in batch, odd half appended per micro-batch
    val streamed = IvfStream.indexUpsert(spark, sf).collect().map(_.toSeq).toSeq
    // batch path: same centroid model (seeded fit on the even half),
    // whole table assigned in one pass
    val emb = Tables.embeddings(spark, sf)
    // same adaptive geometry as IvfStream's base fit (at the spec SF
    // the √N default coincides with the 16-cell floor)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val model = IvfIndex.fitModel(base, IvfIndex.defaultNlist(base.count()))
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val batchIndex = IvfIndex.assign(model, emb).filter(col("vec_id") =!= 0)
    val batch = IvfIndex.search(spark, batchIndex, model.clusterCenters.map(_.toArray),
      query, k = 10).collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.size == 10)

    // tamper negative-control for the STREAMED layout — the same
    // property AnnSpec pins for the batch PQ/IVF builds: serving and
    // oracle both trust the dumped artifacts, so corrupting ONE row in
    // a copy of the dump and re-deriving the answer through the same
    // probe path must change it. Reassigning the clean top-1 to the
    // centroid FARTHEST from the query (never in the nprobe-nearest
    // probe set) guarantees the probe misses it.
    val centroids = model.clusterCenters.map(_.toArray)
    val qd = query.map(_.toDouble)
    val far = centroids.zipWithIndex
      .maxBy { case (c, _) => IvfIndex.cosineDist(c, qd) }._2
    val topHit = streamed.head.head.asInstanceOf[Long]
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_tamper").toString
    spark.read.parquet(IvfStream.scratchRoot(sf) + "/dump/assign.parquet")
      .withColumn("centroid_id",
        when(col("vec_id") === topHit, lit(far)).otherwise(col("centroid_id")))
      .write.mode("overwrite").parquet(s"$tmp/assign.parquet")
    val corrupt = spark.read.parquet(s"$tmp/assign.parquet")
      .join(emb, "vec_id")
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
    val tampered = IvfIndex.search(spark,
      corrupt.filter(col("vec_id") =!= 0), centroids, query, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(tampered != streamed,
      "a corrupted streamed-layout assignment row must change the probed answer")
  }

  test("streaming minhash candidates equal the batch band-candidate set") {
    val streamed = graft.streaming.DedupStream.candidates(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.bandCandidatesOf(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("dedup stream state join: pruned partitioned scan + broadcast batch, equals batch set") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    def bandsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.bandsOf(Dedup.minhashSigOf(Dedup.shingleSetOf(d)))
    val statePath = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    bandsOf(half0).write.partitionBy("band").parquet(statePath)
    val vs = graft.streaming.DedupStream.stateCandidates(bandsOf(half1), statePath)
    val p = vs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the state scan prunes to the batch's band partitions and the
    // batch side is broadcast — no state-side exchange
    assert(p.contains("PartitionFilters: [") && p.contains("band"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    // cross-half ∪ within-half candidates == the batch operator's set
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = pairs(vs.distinct()) ++
      pairs(Dedup.bandCandidatesOf(half0)) ++ pairs(Dedup.bandCandidatesOf(half1))
    assert(all == pairs(Dedup.bandCandidatesOf(docs)))
  }

  test("dedup stream survives a zero-band micro-batch (ADVICE r17)") {
    // every doc under 3 tokens -> shingleSetOf is empty -> the
    // per-batch band scratch is written with NO data files; the
    // explicit-schema read must yield an empty typed frame, not an
    // 'Unable to infer schema' failure, and the drained candidate set
    // is empty.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tinydocs").toString
    Seq((1L, "one two", "en", "syn", 7L), (2L, "ok", "en", "syn", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = graft.streaming.DedupStream.candidates(spark, dir)
    assert(out.columns.toSeq == Seq("doc_a", "doc_b"))
    assert(out.count() == 0)
  }

  test("quality route reports a typed empty frame on an all-empty drain (ADVICE r17)") {
    // a documents.parquet with ZERO rows still fires one micro-batch;
    // the partitioned route write then creates the sink dir with no
    // parquet data files, which used to fail schema inference.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emptydocs").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Streaming.qualityRoute(spark, dir)
    assert(out.columns.toSeq == Seq("route", "n_docs", "avg_quality"))
    assert(out.count() == 0)
  }

  test("a corpus regenerated in place is re-counted, refit and re-indexed in the same session") {
    val dir = Files.createTempDirectory("graft_regen").toString
    val path = s"$dir/embeddings.parquet"
    def streamedCentroids(): Long =
      spark.read.parquet(IvfStream.scratchRoot(dir) + "/dump/centroids.parquet").count()
    def state() = (IvfIndex.corpusCount(spark, dir), IvfIndex.build(spark, dir)._2.length,
      IvfStream.indexUpsert(spark, dir).collect().map(_.toSeq).toSeq, streamedCentroids())
    writeSingleFile(corpus(300), path)
    val (n0, nlist0, _, sNlist0) = state()
    assert((n0, nlist0, sNlist0) == ((300L, 17, 16L)))
    // overwrite the table in place with a corpus three times the size
    writeSingleFile(corpus(900), path)
    val regenerated = state()
    DfCache.clear()
    val fresh = state()
    assert(regenerated._1 == 900L && regenerated._1 == fresh._1, "stale corpus count")
    assert(regenerated._2 == IvfIndex.defaultNlist(900L) && regenerated._2 == fresh._2,
      "stale batch index geometry")
    assert(regenerated._4 == IvfIndex.defaultNlist(450L) && regenerated._4 == fresh._4,
      "stale streamed fit")
    assert(regenerated._3.size == 10)
    assert(regenerated._3 == fresh._3, "stale streamed probe")
  }

  test("a same-size rewrite of a nested part file yields a new Tables.table reader (ADVICE r17)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_nested").toString
    val table = s"$dir/t.parquet"
    Seq(1L, 2L).toDF("v").coalesce(1).write.parquet(table)
    // checksum sidecars would reject the rewritten bytes below
    scala.util.Using.resource(Files.list(Paths.get(table)))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.endsWith(".crc")).foreach(Files.delete)
    val first = Tables.table(spark, dir, "t")
    assert(Tables.table(spark, dir, "t") eq first, "an unchanged table reuses its reader")
    val other = Files.createTempDirectory("graft_nested_src").toString + "/t"
    Seq(3L, 4L).toDF("v").coalesce(1).write.parquet(other)
    val part = partFiles(table).head
    val before = Files.getLastModifiedTime(part).toMillis
    val bytes = Files.readAllBytes(partFiles(other).head)
    assert(bytes.length == Files.size(part), "the rewrite must keep the file size")
    Files.write(part, bytes)
    Files.setLastModifiedTime(part, FileTime.fromMillis(before + 10000L))
    val second = Tables.table(spark, dir, "t")
    assert(second ne first, "a rewritten part file must not reuse the stale reader")
    assert(second.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("dedup stream: a zero-band first micro-batch does not fail the next one (ADVICE r18)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zeroband").toString
    val table = s"$dir/documents.parquet"
    def docs(rows: (Long, String)*) = rows.map { case (id, t) => (id, t, "en", "syn", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
    // file 1: only docs under 3 tokens -> the first batch has no bands
    docs(1L -> "one two", 2L -> "ok").write.parquet(table)
    val tiny = partFiles(table)
    // file 2: a real near-duplicate pair (one word differs)
    val words = (1 to 40).map(i => s"w$i")
    docs(3L -> words.mkString(" "), 4L -> (words.init :+ "other").mkString(" "))
      .write.mode("append").parquet(table)
    // the file source drains oldest first: pin the tiny file first
    val now = System.currentTimeMillis()
    partFiles(table).foreach { f =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(if (tiny.contains(f)) now - 60000L else now))
    }
    val out = graft.streaming.DedupStream.candidates(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((3L, 4L)), s"near-duplicate pair not found: $out")
    val batch = graft.operators.Dedup.bandCandidatesOf(Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == batch)
  }

  test("mm_frame_sample is deterministic and bounded by n_frames") {
    val a = Multimodal.frameSample(spark, sf).collect().map(_.toSeq)
    val b = Multimodal.frameSample(spark, sf).collect().map(_.toSeq)
    assert(a.sameElements(b))
    assert(a.nonEmpty)
    // only vids have frames beyond 1; sampled frames are 1, 7, 13, 19
    val frames = a.map(_(2).asInstanceOf[Long]).toSet
    assert(frames.subsetOf(Set(1L, 7L, 13L, 19L)))
  }

  test("mm decode keeps payload size consistent with metadata") {
    val bad = Multimodal.decoded(spark, sf)
      .filter(m => m.width != m.n_bytes % 640 + 16 || m.n_bytes <= 0)
      .count()
    assert(bad == 0)
  }
}
