package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

import graft.functions.{FastHalfUpRound, VecMath}

/** KNN join as a first-class operator: for every left row, the k
  * nearest right rows by a vector distance — graft's one spelling of
  * "each row of a stream × a broadcast-bounded set → its k nearest"
  * (LogicalPlan + Strategy + SparkPlan, injected via
  * SparkSessionExtensions).
  *
  * Physical topology: the right (index) side is collected and
  * broadcast once with its vectors pre-decoded to primitive arrays;
  * each left partition streams through a bounded per-row heap. No
  * shuffle, no pair rows: output is ≤ left×k rows. Results equal the
  * crossJoin + FloatVecDistance + TopKByDist spelling bit for bit —
  * same double left-to-right accumulation, null vectors never match,
  * exclusions follow SQL `l =!= r` (equal or null keys drop the
  * candidate before the heap). A right side that does not fit a
  * broadcast belongs on the IVF path or under a capped query sample.
  */
case class KnnJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftVec: Attribute,
    rightVec: Attribute,
    k: Int,
    metric: String,
    roundDp: Int,
    rightTie: Option[Attribute],
    // two parallel Seqs, not a Seq of pairs: Catalyst rewrites the
    // attributes inside a Seq when it re-aliases a plan, not in tuples
    excludeLeft: Seq[Attribute],
    excludeRight: Seq[Attribute],
    distAttr: AttributeReference = AttributeReference("dist", DoubleType, nullable = false)(),
    rnkAttr: AttributeReference = AttributeReference("rnk", LongType, nullable = false)())
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.filterNot(_.exprId == rightVec.exprId) :+ distAttr :+ rnkAttr
  override def producedAttributes: AttributeSet = AttributeSet(Seq(distAttr, rnkAttr))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** A right-side candidate: output columns, decoded vector, tie, exclusion keys. */
private[plans] case class KnnCand(row: InternalRow, vec: AnyRef, tie: Long, keys: Array[Any])

case class KnnJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftVec: Attribute,
    rightVec: Attribute,
    k: Int,
    metric: String,
    roundDp: Int,
    rightTie: Option[Attribute],
    excludeLeft: Seq[Attribute],
    excludeRight: Seq[Attribute],
    distAttr: AttributeReference,
    rnkAttr: AttributeReference)
  extends BinaryExecNode {

  private val rightKept = right.output.filterNot(_.exprId == rightVec.exprId)
  override def output: Seq[Attribute] = left.output ++ rightKept :+ distAttr :+ rnkAttr
  override def producedAttributes: AttributeSet = AttributeSet(Seq(distAttr, rnkAttr))

  override protected def doExecute(): RDD[InternalRow] = {
    def bind(a: Attribute, in: Seq[Attribute]): Expression =
      BindReferences.bindReference(a: Expression, in)
    // float[] on both sides only when both are float arrays; any double
    // side widens both (floats widen exactly), as FloatVecDistance does
    val floats = Seq(leftVec, rightVec).forall(a => KnnJoin.elem(a.dataType).contains(FloatType))
    val rVec = bind(rightVec, right.output)
    val rTie = rightTie.map(bind(_, right.output))
    val rKeys = excludeRight.map(bind(_, right.output)).toArray
    val keep = UnsafeProjection.create(rightKept, right.output)
    // tie value: a caller-chosen integral right-side id (so heap order
    // matches an external "(dist, id)" total order), else the collect
    // index (arbitrary but deterministic within a run).
    val cands = right.executeCollect().zipWithIndex.flatMap { case (r, i) =>
      val v = rVec.eval(r)
      val tie = rTie.fold[Any](i.toLong)(_.eval(r))
      if (v == null || tie == null) None
      else Some(KnnCand(keep(r).copy(), KnnJoin.decode(v, rightVec.dataType, floats),
        tie.asInstanceOf[Number].longValue(), rKeys.map(_.eval(r))))
    }
    val bc = sparkContext.broadcast(cands)
    val leftOut = left.output
    val outAttrs = output
    val (lv, lex, m, kk, dp) = (leftVec, excludeLeft, metric, k, roundDp)
    left.execute().mapPartitions { it =>
      val data = bc.value
      val lVec = bind(lv, leftOut)
      val lKeys = lex.map(bind(_, leftOut)).toArray
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joinedLR = new JoinedRow
      val joinedAll = new JoinedRow
      // max-heap of (dist, tie, candidate index): head = worst kept
      val ord = Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Int)
      it.flatMap { lrow =>
        val lvRaw = lVec.eval(lrow)
        if (lvRaw == null) Iterator.empty
        else {
          val q = KnnJoin.decode(lvRaw, lv.dataType, floats)
          val keys = lKeys.map(_.eval(lrow))
          val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int)](ord)
          var i = 0
          while (i < data.length) {
            val c = data(i)
            if (KnnJoin.admits(keys, c.keys)) {
              val d0 = if (floats)
                VecMath.dist(m, q.asInstanceOf[Array[Float]], c.vec.asInstanceOf[Array[Float]])
              else VecMath.distD(m, q.asInstanceOf[Array[Double]], c.vec.asInstanceOf[Array[Double]])
              // SafeRound.round's round(d + 1e-9, dp), applied BEFORE
              // selection so the kept k are the k smallest by the
              // rounded value the consumer ranks on
              val cand = (if (dp < 0) d0 else FastHalfUpRound.round(d0 + 1e-9, dp), c.tie, i)
              if (heap.size < kk) heap.enqueue(cand)
              else if (ord.lt(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
            }
            i += 1
          }
          heap.toArray.sorted(ord).iterator.zipWithIndex.map { case ((d, _, idx), r) =>
            joinedAll(joinedLR(lrow, data(idx).row), InternalRow(d, r + 1L))
            proj(joinedAll).copy(): InternalRow
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(left = newLeft, right = newRight)
}

object KnnJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KnnJoinPlan(l, r, lv, rv, k, m, dp, tie, exL, exR, d, rnk) =>
      KnnJoinExec(planLater(l), planLater(r), lv, rv, k, m, dp, tie, exL, exR, d, rnk) :: Nil
    case _ => Nil
  }
}

object KnnJoin {
  /** Register the strategy on this session (idempotent; also done by
    * GraftExtensions for sessions built with .withExtensions). */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(KnnJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ KnnJoinStrategy

  private[plans] def elem(dt: DataType): Option[DataType] = dt match {
    case ArrayType(e, _) => Some(e)
    case _ => None
  }

  /** SQL `l =!= r` on every exclusion pair: null or equal drops. */
  private[plans] def admits(l: Array[Any], r: Array[Any]): Boolean = {
    var j = 0
    while (j < l.length && l(j) != null && r(j) != null && l(j) != r(j)) j += 1
    j == l.length
  }

  /** A vector by its column type: float[] when both sides are float
    * arrays, else double[]. */
  private[plans] def decode(v: Any, dt: DataType, floats: Boolean): AnyRef = {
    val a = v.asInstanceOf[ArrayData]
    if (floats) a.toFloatArray()
    else if (elem(dt).contains(DoubleType)) a.toDoubleArray()
    else a.toFloatArray().map(_.toDouble)
  }

  /** For every left row: its k nearest right rows by `metric` distance
    * between `leftVecCol` and `rightVecCol` (each array<float> or
    * array<double>), as the left columns, the right columns except
    * `rightVecCol`, `dist` and `rnk` (1..k in ascending order). A left
    * row with a null vector yields no rows; a right row with a null
    * vector or tie value is never a candidate.
    *
    * `roundDp >= 0` rounds the distance inside the operator (Spark
    * `round(d + 1e-9, dp)` semantics) BEFORE heap selection;
    * `tieBreak` names an integral right-side column used as the heap's
    * secondary sort key, making the kept k exactly the k smallest by
    * (rounded dist, tieBreak) — the order an oracle's
    * `ORDER BY dist, id` would produce. `exclude` lists (left column,
    * right column) pairs that must differ for a right row to be a
    * candidate (self matches, same-source pairs). */
  def apply(leftDf: DataFrame, rightDf: DataFrame,
      leftVecCol: String, rightVecCol: String,
      k: Int, metric: String = "cosine",
      roundDp: Int = -1, tieBreak: Option[String] = None,
      exclude: Seq[(String, String)] = Nil): DataFrame = {
    require(VecMath.metrics.contains(metric),
      s"unknown metric $metric (one of ${VecMath.metrics.mkString(",")})")
    require(k >= 1, s"k must be at least 1, got $k")
    val spark = leftDf.sparkSession
    ensureStrategy(spark)
    val l = GraftColumnBridge.analyzed(leftDf)
    val r = GraftColumnBridge.analyzed(rightDf)
    def find(p: LogicalPlan, side: String)(c: String): Attribute =
      p.output.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"no column $c on $side"))
    def check(a: Attribute, ok: Boolean, want: String): Attribute = {
      require(ok, s"column ${a.name} must be $want, got ${a.dataType.simpleString}")
      a
    }
    def vec(a: Attribute): Attribute = check(a,
      elem(a.dataType).exists(e => e == FloatType || e == DoubleType), "array<float> or array<double>")
    val lv = vec(find(l, "left")(leftVecCol))
    val rv = vec(find(r, "right")(rightVecCol))
    val tie = tieBreak.map(find(r, "right")).map(t => check(t,
      Seq(ByteType, ShortType, IntegerType, LongType).contains(t.dataType), "integral"))
    val exL = exclude.map(e => find(l, "left")(e._1))
    val exR = exclude.map(e => find(r, "right")(e._2))
    exL.zip(exR).foreach { case (a, b) => require(a.dataType == b.dataType,
      s"exclusion columns ${a.name} and ${b.name} differ in type") }
    GraftColumnBridge.ofRows(spark,
      KnnJoinPlan(l, r, lv, rv, k, metric, roundDp, tie, exL, exR))
  }
}
