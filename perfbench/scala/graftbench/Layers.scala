package graftbench

/** The per-layer metrics of the traced run: each with its unit, its
  * better direction, the end-to-end metric it should move, and the
  * workloads where its layer does most and least of its work. Every
  * metric is reported by every workload; a layer a workload bypasses
  * reads 0 there. Time metrics are self time in milliseconds per
  * operation; `perSetup` ones are taken from the set-up instead. */
final case class Layer(name: String, unit: String, better: String, moves: String,
    heavy: String, light: String, span: String = "", perSetup: Boolean = false)

object Layers {
  private val Ann = "ann_batch"
  private val Doc = "doc_ingest"
  private val Up = "index_upsert"

  val all: Seq[Layer] = Seq(
    Layer("tables.table_ms", "ms", "lower", "path_a_cpu_ms, upsert_call_p50_ms", Up, Doc, span = "tables.table"),
    Layer("spark.plan_ms", "ms", "lower", "op_cpu_ms, ann_batch_p50_ms, exact_batch_p50_ms", Ann, Doc, span = "spark.plan"),
    Layer("spark.driver_ms", "ms", "lower", "critical_cpu_ms, ann_batch_p50_ms, exact_batch_p50_ms", Ann, Doc),
    Layer("ivfindex.fit_ms", "ms", "lower", "setup_s, index_build_s", Ann, Doc, span = "ivfindex.fit", perSetup = true),
    Layer("ivfindex.build_ms", "ms", "lower", "setup_s, index_build_s", Ann, Doc, span = "ivfindex.build", perSetup = true),
    Layer("ivfindex.assign_ms", "ms", "lower", "path_a_cpu_ms, ann_qps, ann_batch_p50_ms", Ann, Doc, span = "ivfindex.assign"),
    Layer("ivfindex.probe_ms", "ms", "lower", "path_a_cpu_ms, ann_qps, ann_batch_p50_ms", Ann, Doc, span = "ivfindex.probe"),
    Layer("ivfindex.search_ms", "ms", "lower", "path_a_cpu_ms, ann_qps, ann_batch_p50_ms", Ann, Doc, span = "ivfindex.search"),
    Layer("ivfindex.candidates_per_query", "count", "lower", "path_a_cpu_ms, ann_qps (against recall_at_10)", Ann, Doc),
    Layer("ivfindex.scored_per_result", "count", "lower", "path_a_cpu_ms, ann_qps (against recall_at_10)", Ann, Doc),
    Layer("knnjoin.ms", "ms", "lower", "path_b_cpu_ms, exact_qps, exact_batch_p50_ms", Ann, Doc, span = "knnjoin"),
    Layer("knnjoin.pairs_per_s", "1/s", "higher", "path_b_cpu_ms, exact_qps", Ann, Doc),
    Layer("pdftext.extract_ms", "ms", "lower", "op_cpu_ms, ingest_docs_per_s", Doc, Ann, span = "pdftext.extract"),
    Layer("pdftext.mb_per_s", "MB/s", "higher", "ingest_docs_per_s", Doc, Ann),
    Layer("pdftext.unreadable_docs", "count", "lower", "ingest_docs_per_s", Doc, Ann),
    Layer("docpipeline.chunk_ms", "ms", "lower", "path_a_cpu_ms, ingest_docs_per_s", Doc, Ann, span = "docpipeline.chunk"),
    Layer("docpipeline.embed_ms", "ms", "lower", "path_a_cpu_ms, ingest_docs_per_s", Doc, Ann, span = "docpipeline.embed"),
    Layer("docpipeline.stats_ms", "ms", "lower", "path_a_cpu_ms, ingest_docs_per_s", Doc, Ann, span = "docpipeline.stats"),
    Layer("docpipeline.chunks_per_doc", "count", "lower", "ingest_docs_per_s", Doc, Ann),
    Layer("dedup.shingle_ms", "ms", "lower", "path_b_cpu_ms, ingest_docs_per_s, ingest_shard_p50_ms", Doc, Ann, span = "dedup.shingle"),
    Layer("dedup.minhash_ms", "ms", "lower", "path_b_cpu_ms, ingest_docs_per_s, ingest_shard_p50_ms", Doc, Ann, span = "dedup.minhash"),
    Layer("dedup.band_join_ms", "ms", "lower", "path_b_cpu_ms, ingest_docs_per_s, ingest_shard_p50_ms", Doc, Ann, span = "dedup.band_join"),
    Layer("dedup.shingles_per_doc", "count", "lower", "ingest_docs_per_s", Doc, Ann),
    Layer("dedup.candidates_per_true_pair", "ratio", "lower", "ingest_shard_p50_ms (against dedup_pair_recall)", Doc, Ann),
    Layer("io.write_ms", "ms", "lower", "ingest_docs_per_s", Doc, Ann, span = "io.write"),
    Layer("ivfstream.upsert_ms", "ms", "lower", "path_a_cpu_ms, upsert_rows_per_s, upsert_call_p50_ms", Up, Ann, span = "ivfstream.upsert"),
    Layer("ivfstream.probe_ms", "ms", "lower", "path_b_cpu_ms, upsert_call_p50_ms", Up, Ann, span = "ivfstream.probe"),
    Layer("ivfstream.batches", "count", "lower", "upsert_call_p50_ms", Up, Ann),
    Layer("ivfstream.batch_ms", "ms", "lower", "upsert_rows_per_s, upsert_call_p50_ms", Up, Ann),
    Layer("ivfstream.batch_plan_ms", "ms", "lower", "upsert_call_p50_ms", Up, Ann),
    Layer("ivfstream.batch_add_ms", "ms", "lower", "upsert_rows_per_s", Up, Ann),
    Layer("ivfstream.batch_commit_ms", "ms", "lower", "upsert_call_p50_ms", Up, Ann),
    Layer("ivfstream.index_files", "count", "lower", "upsert_rows_per_s", Up, Ann),
    Layer("spark.jobs", "count", "lower", "ann_batch_p50_ms, upsert_call_p50_ms", Ann, Doc),
    Layer("spark.stages", "count", "lower", "ann_batch_p50_ms, upsert_call_p50_ms", Ann, Doc),
    Layer("spark.tasks", "count", "lower", "all throughput metrics", Up, Doc),
    Layer("spark.task_ms", "ms", "lower", "all throughput metrics", Doc, Ann),
    Layer("spark.core_util", "ratio", "higher", "critical_cpu_ms, ann_qps, ingest_docs_per_s, upsert_rows_per_s", Doc, Ann),
    Layer("spark.task_skew", "ratio", "lower", "critical_cpu_ms, ann_qps, ingest_docs_per_s, upsert_rows_per_s", Doc, Ann),
    Layer("spark.scheduler_delay_ms", "ms", "lower", "ann_batch_p50_ms, upsert_call_p50_ms", Ann, Doc),
    Layer("spark.shuffle_write_bytes", "bytes", "lower", "ingest_docs_per_s, upsert_rows_per_s", Doc, Ann),
    Layer("spark.shuffle_read_bytes", "bytes", "lower", "ingest_docs_per_s, upsert_rows_per_s", Doc, Ann),
    Layer("spark.spill_bytes", "bytes", "lower", "ingest_docs_per_s, upsert_rows_per_s", Doc, Ann),
    Layer("spark.gc_ms", "ms", "lower", "all throughput metrics", Doc, Ann),
    Layer("trace.overhead_ms", "ms", "lower", "none: traced minus untraced median operation wall", "all", "all"))

  val byName: Map[String, Layer] = all.map(l => l.name -> l).toMap

  private val bySpan: Map[String, String] =
    all.filter(_.span.nonEmpty).map(l => l.span -> l.name).toMap

  def metricOfSpan(span: String): String = bySpan.getOrElse(span, span + "_ms")
}
