package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Report objects are ordered maps; Jackson (on Spark's classpath)
  * writes them, along with Scala sequences, maps and options. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** One recorded span: `<module>.<function>` of a call made from the
  * benchmark into graft, with its operation id and enclosing span. */
final case class SpanRec(name: String, op: Int, parent: Int, startNs: Long, var endNs: Long)

/** Span recorder for the traced run. With `on = false` every wrapper is
  * a plain call, so untraced operations run the program as shipped.
  * With `on = true`, [[mat]] materialises a layer's output at its
  * boundary (persist + count) so that the enclosing span covers that
  * layer's work; [[release]] unpersists those frames at operation end. */
final class Tracer {
  var on: Boolean = false
  var op: Int = -1
  var sc: SparkContext = _
  val spans = ArrayBuffer.empty[SpanRec]
  private var open: List[Int] = Nil
  private val held = ArrayBuffer.empty[DataFrame]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.length
      spans += SpanRec(name, op, open.headOption.getOrElse(-1), System.nanoTime(), -1L)
      open = idx :: open
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(s"op$op:$name", name)
      try body
      finally {
        spans(idx).endNs = System.nanoTime()
        open = open.tail
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
      }
    }

  def mat(df: DataFrame): DataFrame =
    if (!on) df
    else {
      span("spark.plan")(df.queryExecution.executedPlan)
      df.persist()
      df.count()
      held += df
      df
    }

  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  /** Self time per span name within the spans of operation `op`:
    * each span's duration minus the part covered by its direct children. */
  def selfMs(op: Int): Map[String, Double] = {
    val idx = spans.indices.filter(spans(_).op == op)
    val child = idx.groupBy(i => spans(i).parent).map { case (p, cs) =>
      p -> cs.map(c => spans(c).endNs - spans(c).startNs).sum }
    idx.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => (spans(i).endNs - spans(i).startNs - child.getOrElse(i, 0L)) / 1e6).sum }
  }
}

/** Wall-clock origin shared by spans, operations and listener events
  * (listener events carry epoch milliseconds). */
object Clock {
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def epochMs(ns: Long): Double = ms0 + (ns - ns0) / 1e6
}

/** Job, stage and task counters of one SparkContext. Events are
  * attributed to an operation by the job's submission time, after
  * [[org.apache.spark.BenchBus.drain]] has delivered them all. */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
      schedMs: Long, shuffleW: Long, shuffleR: Long, spill: Long)
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val dur = i.duration
      val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks += Task(e.stageId, dur, m.executorCpuTime + m.executorDeserializeCpuTime, m.jvmGCTime, sched,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def tasksIn(js: Seq[Job]): Seq[Task] = {
    val stageSet = js.flatMap(_.stages).toSet
    tasks.filter(t => stageSet.contains(t.stage)).toSeq
  }

  private def jobsIn(fromMs: Double, toMs: Double): Seq[Job] =
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq

  /** CPU time on the critical path of an operation that ran the jobs
    * submitted within [fromMs, toMs] and used `programCpuMs` of CPU in
    * all: the CPU outside Spark tasks (driver, planning, GC) counted as
    * serial, plus, per stage, the larger of its longest task's CPU and
    * its total task CPU spread over `cores`. A stage whose work
    * collapses into fewer tasks than cores raises it up to `cores`-fold,
    * while the operation's total CPU stays level. */
  def criticalCpuMs(fromMs: Double, toMs: Double, cores: Int, programCpuMs: Double): Double =
    synchronized {
      val ts = tasksIn(jobsIn(fromMs, toMs))
      val perStage = ts.groupBy(_.stage).values.map { st =>
        math.max(st.map(_.cpuNs).max.toDouble, st.map(_.cpuNs).sum.toDouble / cores) / 1e6
      }
      math.max(0.0, programCpuMs - ts.map(_.cpuNs).sum / 1e6) + perStage.sum
    }

  /** Engine counters for the jobs submitted within [fromMs, toMs]. */
  def window(fromMs: Double, toMs: Double, cores: Int): Map[String, Double] = synchronized {
    val js = jobsIn(fromMs, toMs)
    val ts = tasksIn(js)
    val byStage = ts.groupBy(_.stage)
    val wall = math.max(1e-9, toMs - fromMs)
    // union of job intervals, clipped to the window: time a job ran
    val busy = js.map(j => (math.max(fromMs, j.startMs.toDouble),
        math.min(toMs, if (j.endMs < 0) toMs else j.endMs.toDouble)))
      .sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
      }._1
    val skew = byStage.values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> byStage.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_ms" -> ts.map(_.durMs).sum.toDouble,
      "spark.core_util" -> ts.map(_.durMs).sum / (wall * cores),
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.scheduler_delay_ms" -> ts.map(_.schedMs).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleW).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleR).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.driver_ms" -> math.max(0.0, wall - busy))
  }
}

/** Micro-batch phase durations from `StreamingQueryProgress.durationMs`. */
final class StreamListener extends StreamingQueryListener {
  final case class Batch(atMs: Long, totalMs: Double, planMs: Double, addMs: Double, commitMs: Double)
  private val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
      d("triggerExecution"), d("queryPlanning"), d("addBatch"), d("walCommit") + d("commitOffsets"))
  }

  def window(fromMs: Double, toMs: Double): Map[String, Double] = synchronized {
    val bs = batches.filter(b => b.atMs >= fromMs && b.atMs <= toMs)
    Map(
      "ivfstream.batches" -> bs.size.toDouble,
      "ivfstream.batch_ms" -> bs.map(_.totalMs).sum,
      "ivfstream.batch_plan_ms" -> bs.map(_.planMs).sum,
      "ivfstream.batch_add_ms" -> bs.map(_.addMs).sum,
      "ivfstream.batch_commit_ms" -> bs.map(_.commitMs).sum)
  }
}
