package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FloatVecDistance, SafeRound, TopKAgg}
import graft.plans.KnnJoin

/** The KnnJoin operator's input contract: vector columns decode by
  * their type, null vectors never match, exclusions and ranks match
  * the crossJoin + FloatVecDistance + TopKAgg spelling bit for bit, and
  * a bad argument fails in `KnnJoin.apply` with a message naming it. */
class KnnJoinSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val rng = new scala.util.Random(7)
  private def vecs(n: Int, dim: Int): Seq[Array[Float]] =
    Seq.fill(n)(Array.fill(dim)((rng.nextInt(9) - 4) / 4f))

  // small integer-grid coordinates: many exact distance ties, so the
  // (dist, id) tie-break and the rounding are both exercised
  private val left: DataFrame = vecs(40, 6).zipWithIndex
    .map { case (v, i) => (i.toLong, v, s"s${i % 3}") }.toDF("qid", "qv", "qsrc")
  private val right: DataFrame = vecs(60, 6).zipWithIndex
    .map { case (v, i) => (i.toLong, v, s"s${i % 3}") }.toDF("id", "v", "src")

  /** The crossJoin reference spelling the operator replaces. */
  private def viaCrossJoin(l: DataFrame, r: DataFrame, k: Int,
      mask: Column = lit(true)): Set[Seq[Any]] =
    TopKAgg.topKPerKey(
      l.crossJoin(broadcast(r)).filter(mask)
        .select(col("qid"), col("id"),
          SafeRound.round(FloatVecDistance.cosine(col("qv"), col("v")), 4).as("dist")),
      col("qid"), col("dist"), col("id"), k)
      .select("qid", "id", "dist", "rnk").collect().map(_.toSeq).toSet

  private def viaKnn(l: DataFrame, r: DataFrame, k: Int,
      exclude: Seq[(String, String)] = Nil): Set[Seq[Any]] =
    KnnJoin(l, r, "qv", "v", k, "cosine", roundDp = 4, tieBreak = Some("id"),
        exclude = exclude)
      .select("qid", "id", "dist", "rnk").collect().map(_.toSeq).toSet

  test("exclusions and ranks equal the crossJoin + TopKAgg spelling") {
    assert(viaKnn(left, right, 4) == viaCrossJoin(left, right, 4))
    val masked = viaKnn(left, right, 4, Seq("qid" -> "id", "qsrc" -> "src"))
    assert(masked == viaCrossJoin(left, right, 4,
      col("qid") =!= col("id") && col("qsrc") =!= col("src")))
    assert(masked.size == 40 * 4)
  }

  test("the right-side vector is not copied into the output") {
    val cols = KnnJoin(left, right, "qv", "v", 2).columns.toSeq
    assert(cols == Seq("qid", "qv", "qsrc", "id", "src", "dist", "rnk"))
  }

  test("array<double> vectors decode as doubles, bit-identical to the mixed kernel") {
    // [0.5, 0.25, 1.0] read through toFloatArray came back as garbage
    val dl = Seq((0L, Seq(0.5, 0.25, 1.0)), (1L, Seq(1.0, 0.0, -0.5))).toDF("qid", "qv")
    val dr = right.select(col("id"), col("v").cast("array<double>").as("v"))
    val fl = left.select(col("qid"), col("qv"))
    for ((l, r) <- Seq((dl, dr), (fl, dr), (dl, right))) {
      val got = KnnJoin(l, r, "qv", "v", 5, tieBreak = Some("id"))
        .select("qid", "id", "dist", "rnk").collect().map(_.toSeq).toSet
      val want = TopKAgg.topKPerKey(
        l.crossJoin(r).select(col("qid"), col("id"),
          FloatVecDistance.cosine(col("qv"), col("v")).as("dist")),
        col("qid"), col("dist"), col("id"), 5)
        .select("qid", "id", "dist", "rnk").collect().map(_.toSeq).toSet
      assert(got == want)
    }
  }

  test("null vectors never match: no rows for a null query, never a null candidate") {
    val nl = left.select(col("qid"), col("qv"))
      .union(Seq((99L, null.asInstanceOf[Array[Float]])).toDF("qid", "qv"))
    val nr = right.select(col("id"), col("v"))
      .union(Seq((99L, null.asInstanceOf[Array[Float]])).toDF("id", "v"))
    val rows = KnnJoin(nl, nr, "qv", "v", 3, tieBreak = Some("id"))
      .select("qid", "id").collect()
    assert(rows.length == 40 * 3)
    assert(!rows.exists(r => r.getLong(0) == 99L || r.getLong(1) == 99L))
  }

  test("bad arguments fail in apply, naming the column or value") {
    def err(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    assert(err(KnnJoin(left, right, "qv", "v", 0)).contains("got 0"))
    assert(err(KnnJoin(left, right, "qsrc", "v", 3)).contains("column qsrc "))
    val ints = right.select(col("id"), transform(col("v"), _.cast("int")).as("iv"))
    assert(err(KnnJoin(left, ints, "qv", "iv", 3)).contains("column iv "))
    val dblTie = right.withColumn("w", col("id").cast("double"))
    assert(err(KnnJoin(left, dblTie, "qv", "v", 3, tieBreak = Some("w"))).contains("column w "))
  }
}
