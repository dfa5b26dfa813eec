package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Failure(workload: String, operation: String, exception: String,
    message: String, check: String)

/** One operation of a run: its wall and CPU time, the items it
  * processed, the wall and CPU time of its two paths and any failed
  * checks. */
final class OpRec(val id: Int, val kind: String) {
  var startNs = 0L
  var endNs = 0L
  var items = 0L
  var cpuMs = 0.0
  var criticalCpuMs = 0.0
  var stealPct = 0.0
  val paths = mutable.LinkedHashMap.empty[String, Double]
  val pathsCpu = mutable.LinkedHashMap.empty[String, Double]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val failures = ArrayBuffer.empty[Failure]
  def wallMs: Double = (endNs - startNs) / 1e6
  def label: String = s"$kind#$id"
}

/** A workload: its seeded inputs under `root`, set-up, one operation
  * and its checks. An operation runs two named paths, A then B, whose
  * CPU time is reported apart, so that speeding one and slowing the
  * other shows in both directions. */
abstract class Workload(root: String) {
  val data = s"$root/data"
  val out = s"$root/out"
  def name: String
  /** Wall time of one operation on an idle 4-vCPU host, in seconds: a
    * run makes `--seconds` / this many operations, and at least three. */
  def nominalOpS: Double
  /** Names of the operation's two paths, as passed to [[path]]. */
  def pathA: String
  def pathB: String
  /** Sizes and generator parameters, recorded in the output. */
  def params: Seq[(String, Any)]
  /** Write the inputs under `data`; keep their ground truth. */
  def generate(rng: Random): Unit
  /** Work after session start and before the first operation (index
    * build, model fit); returns named set-up timings in seconds. */
  def setup(s: SparkSession, t: Tracer, last: Boolean): Seq[(String, Double)]
  /** One closed-loop operation; fills `rec.items` and runs its two
    * paths through [[path]]. */
  def op(s: SparkSession, t: Tracer, rec: OpRec): Unit
  /** Untimed per-operation output checks. */
  def check(s: SparkSession, rec: OpRec): Unit
  /** Untimed checks run once per run. */
  def verify(s: SparkSession, rec: OpRec): Unit
  /** Workload-named end-to-end metrics: (name, value, unit, samples). */
  def named(ops: Seq[OpRec], setups: Seq[Map[String, Double]]): Seq[(String, Double, String, Int)]
  /** Workload-specific per-layer counters, per traced operation. */
  def layer(op: OpRec): Map[String, Double] = Map.empty

  /** Runs `body` as the operation's path `name`, recording its wall and
    * CPU time in milliseconds. */
  protected def path[T](rec: OpRec, name: String)(body: => T): T = {
    val c0 = Main.programCpuNs()
    val t0 = System.nanoTime()
    try body
    finally {
      rec.paths(name) = (System.nanoTime() - t0) / 1e6
      rec.pathsCpu(name) = (Main.programCpuNs() - c0) / 1e6
    }
  }

  protected def expect(rec: OpRec, check: String)(ok: Boolean, msg: => String): Unit =
    if (!ok) rec.failures += Failure(name, rec.label, "CheckFailed", msg, check)
}

object Main {
  val SetupRepeats = 3

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"graftbench ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** The JIT compiler threads, found once: with
    * -XX:-UseDynamicNumberOfCompilerThreads they live as long as the JVM. */
  private lazy val jitThreads: Seq[java.nio.file.Path] =
    Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty).toSeq
      .map(_.toPath)
      .filter(t => new String(java.nio.file.Files.readAllBytes(t.resolve("comm"))).contains("CompilerThre"))

  /** CPU time of this JVM's threads other than the JIT compilers: the
    * work of the program, its Spark engine and GC. Unlike wall time, it
    * leaves out time in which the program's threads wait: for I/O, a
    * lock or a free core. The process total counts exited threads too but comes in 10 ms
    * clock ticks; the JIT threads' time comes in nanoseconds. */
  def programCpuNs(): Long = {
    val all = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    val jitNs = jitThreads.map { t =>
      new String(java.nio.file.Files.readAllBytes(t.resolve("schedstat"))).split(" ")(0).toLong
    }.sum
    all - jitNs
  }

  def loadavg1(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  def jvmCount(): Long =
    ProcessHandle.allProcesses().filter(p => p.info().command()
      .map[Boolean](c => c == "java" || c.endsWith("/java")).orElse(false)).count()

  def session(cores: Int, work: String, inputBytes: Long): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = GraftSession.configure(b, inputBytes, cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workloadOf(name: String, root: String): Workload = name match {
    case "ann_batch" => new AnnBatch(root)
    case "doc_ingest" => new DocIngest(root)
    case "index_upsert" => new IndexUpsert(root)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def failureOf(w: Workload, rec: OpRec, e: Throwable, check: String): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Failure(w.name, rec.label, root.getClass.getName, String.valueOf(root.getMessage), check)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(4, nproc)
    val load0 = loadavg1()
    val ticks0 = cpuTicks()
    val w = workloadOf(wname, work)
    for (d <- Seq("data", "out")) Gen.deleteTree(java.nio.file.Paths.get(work, d))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(w.data))

    // input generation, counted in no metric
    val g0 = System.nanoTime()
    w.generate(new Random(seed))
    val genS = (System.nanoTime() - g0) / 1e9
    log(f"generated inputs in $genS%.2f s")
    val inputBytes = GraftSession.dirBytes(w.data)

    // one SparkContext per run, started once before the set-ups
    val c0 = System.nanoTime()
    val base = session(cores, work, inputBytes)
    val contextS = (System.nanoTime() - c0) / 1e9
    log(f"spark context started in $contextS%.2f s")
    val engine = new EngineListener
    base.sparkContext.addSparkListener(engine)

    val tracer = new Tracer
    tracer.sc = base.sparkContext
    val failures = ArrayBuffer.empty[Failure]
    var attempted = 0
    val setupS = ArrayBuffer.empty[Double]
    val setupCpuS = ArrayBuffer.empty[Double]
    val setupExtras = ArrayBuffer.empty[Map[String, Double]]
    val setupOps = ArrayBuffer.empty[Int]
    var s: SparkSession = null
    var stream: StreamListener = null

    // set-up, repeated: each a fresh graft session (graft keys its
    // indexes, fits and readers by session, so each starts cold), the
    // workload's build or fit, and one warm-up operation. The first also
    // pays the JVM's warm-up; the median is taken over all three.
    // Set-up is timed in wall time and in CPU time.
    for (r <- 0 until SetupRepeats) {
      val rec = new OpRec(-1 - r, "setup")
      attempted += 1
      tracer.on = trace
      tracer.op = rec.id
      setupOps += rec.id
      System.gc()
      val c0 = programCpuNs()
      val t0 = System.nanoTime()
      try {
        s = base.newSession()
        stream = new StreamListener
        s.streams.addListener(stream)
        val extras = w.setup(s, tracer, last = r == SetupRepeats - 1)
        w.op(s, tracer, rec)
        tracer.release()
        setupS += (System.nanoTime() - t0) / 1e9
        setupCpuS += (programCpuNs() - c0) / 1e9
        log(f"set-up ${r + 1} took ${setupS.last}%.2f s, ${setupCpuS.last}%.2f s CPU ${extras.mkString(" ")}")
        setupExtras += extras.toMap
      } catch {
        case e: Throwable =>
          tracer.release()
          rec.failures += failureOf(w, rec, e, "exception")
      }
      failures ++= rec.failures
    }

    // closed loop, one client: a fixed number of untraced operations,
    // then (trace run) as many traced ones. The count is sized from
    // --seconds by the workload's nominal operation time, so every run
    // measures the same operations at the same point of the JVM's
    // warm-up, whatever the host's speed.
    val ops = ArrayBuffer.empty[OpRec]
    val perKind = math.max(3, math.round(seconds / w.nominalOpS).toInt)
    var i = 0
    if (setupS.size == SetupRepeats) {
      while (i < (if (trace) 2 * perKind else perKind)) {
        val traced = i >= perKind
        val rec = new OpRec(i, if (traced) "traced" else "untraced")
        tracer.on = traced
        tracer.op = i
        s.sparkContext.setJobGroup(s"op$i", s"$wname operation $i")
        // outside the timed region, so that collections fall at the same
        // points of every operation
        System.gc()
        val cpu0 = programCpuNs()
        val ticks = cpuTicks()
        rec.startNs = System.nanoTime()
        try w.op(s, tracer, rec)
        catch { case e: Throwable => rec.failures += failureOf(w, rec, e, "exception") }
        rec.endNs = System.nanoTime()
        rec.cpuMs = (programCpuNs() - cpu0) / 1e6
        rec.stealPct = { val t = cpuTicks(); 100.0 * (t._1 - ticks._1) / math.max(1L, t._2 - ticks._2) }
        tracer.release()
        tracer.on = false
        s.sparkContext.clearJobGroup()
        if (rec.failures.isEmpty)
          try w.check(s, rec)
          catch { case e: Throwable => rec.failures += failureOf(w, rec, e, "check") }
        ops += rec
        failures ++= rec.failures
        attempted += 1
        i += 1
      }
      log(s"ran ${ops.size} operations")
      val vrec = new OpRec(i, "verify")
      attempted += 1
      try w.verify(s, vrec)
      catch { case e: Throwable => vrec.failures += failureOf(w, vrec, e, "verify") }
      failures ++= vrec.failures
    }
    log("verified")
    org.apache.spark.BenchBus.drain(base.sparkContext)
    ops.foreach(o => o.criticalCpuMs = engine.criticalCpuMs(
      Clock.epochMs(o.startNs), Clock.epochMs(o.endNs), cores, o.cpuMs))
    val rssMb = vmHwmMb()
    val failedOps = (setupOps.size - setupS.size) + ops.count(_.failures.nonEmpty) +
      (if (failures.exists(_.operation.startsWith("verify"))) 1 else 0)

    val untraced = ops.filter(_.kind == "untraced")
    val traced = ops.filter(_.kind == "traced")
    val opP50 = median(untraced.map(_.wallMs).toSeq)
    val itemsPerS = untraced.map(_.items).sum / math.max(1e-9, untraced.map(_.wallMs).sum / 1e3)
    val gated: Seq[(String, Double, String, Int)] = Seq(
      ("setup_s", median(setupCpuS.toSeq), "s", setupCpuS.size),
      ("op_cpu_ms", median(untraced.map(_.cpuMs).toSeq), "ms", untraced.size),
      ("path_a_cpu_ms", median(untraced.map(_.pathsCpu.getOrElse(w.pathA, 0.0)).toSeq), "ms", untraced.size),
      ("path_b_cpu_ms", median(untraced.map(_.pathsCpu.getOrElse(w.pathB, 0.0)).toSeq), "ms", untraced.size),
      ("critical_cpu_ms", median(untraced.map(_.criticalCpuMs).toSeq), "ms", untraced.size))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) gated.map { case (n, v, u, _) => (n, v, u) }
      else {
        val perOp = traced.map { rec =>
          val from = Clock.epochMs(rec.startNs)
          val to = Clock.epochMs(rec.endNs)
          val self = tracer.selfMs(rec.id).map { case (k, v) => Layers.metricOfSpan(k) -> v }
          self ++ engine.window(from, to, cores) ++ stream.window(from, to) ++ w.layer(rec)
        }
        val setupSelf = setupOps.map(tracer.selfMs)
        Layers.all.map { l =>
          val v =
            if (l.perSetup) median(setupSelf.flatMap(_.get(l.span)).toSeq)
            else if (l.name == "trace.overhead_ms") median(traced.map(_.wallMs).toSeq) - opP50
            else if (l.name == "spark.task_skew") perOp.map(_.getOrElse(l.name, 1.0)).maxOption.getOrElse(1.0)
            else median(perOp.map(_.getOrElse(l.name, 0.0)).toSeq)
          (l.name, v, l.unit)
        }
      }

    val named = w.named(untraced.toSeq, setupExtras.toSeq)
    val report = Json.obj(
      "workload" -> wname,
      "seed" -> seed,
      "trace" -> trace,
      "host" -> Json.obj(
        "nproc" -> nproc,
        "spark_master" -> s"local[$cores]",
        "loadavg_1m_start" -> load0,
        "loadavg_1m_end" -> loadavg1(),
        "cpu_steal_pct" -> { val t = cpuTicks(); 100.0 * (t._1 - ticks0._1) / math.max(1L, t._2 - ticks0._2) },
        "live_jvms" -> jvmCount(),
        // -Xshare:on: a JVM that cannot map the archive does not start
        "class_data_sharing" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.map(_.toString).filter(a => a.startsWith("-Xshare") || a.startsWith("-XX:SharedArchiveFile"))
          .map(_.replaceAll("=.*/", "=")).toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "seed" -> seed),
      "generator" -> Json.obj(w.params :+ ("generate_s" -> genS) :+ ("input_bytes" -> inputBytes): _*),
      "load_shape" -> "closed loop, one client: next operation issued when the previous returns",
      "context_start_s" -> contextS,
      "setup_wall_s_samples" -> setupS.toSeq,
      "setup_cpu_s_samples" -> setupCpuS.toSeq,
      "paths" -> Json.obj("path_a" -> w.pathA, "path_b" -> w.pathB),
      "end_to_end" -> Json.obj(
        (named ++ gated ++ Seq(
          ("setup_wall_s", median(setupS.toSeq), "s", setupS.size),
          ("op_p50_ms", opP50, "ms", untraced.size),
          ("items_per_s", itemsPerS, "1/s", untraced.size),
          ("error_rate", failedOps.toDouble / math.max(1, attempted), "failed/attempted", attempted),
          ("peak_rss_mb", rssMb, "MB", 1))).map { case (n, v, u, k) =>
          n -> Json.obj("value" -> v, "unit" -> u, "samples" -> k) }: _*),
      "operations" -> ops.map(o => Json.obj("id" -> o.id, "kind" -> o.kind, "wall_ms" -> o.wallMs,
        "cpu_ms" -> o.cpuMs, "critical_cpu_ms" -> o.criticalCpuMs, "cpu_steal_pct" -> o.stealPct,
        "items" -> o.items, "paths_ms" -> o.paths, "paths_cpu_ms" -> o.pathsCpu, "counters" -> o.counters)),
      "per_layer" -> (if (!trace) Json.obj() else Json.obj(metrics.map { case (n, v, u) =>
        val l = Layers.byName(n)
        n -> Json.obj("value" -> v, "unit" -> u, "moves" -> l.moves,
          "heavy_in" -> l.heavy, "light_in" -> l.light) }: _*)),
      "tracing_overhead_ms" -> (if (trace) Some(median(traced.map(_.wallMs).toSeq) - opP50) else None),
      "spans" -> (if (trace) Some(tracer.spans.map(sp => Json.obj("name" -> sp.name, "op" -> sp.op,
        "parent" -> sp.parent, "start_ms" -> Clock.epochMs(sp.startNs),
        "end_ms" -> Clock.epochMs(sp.endNs)))) else None),
      "failures" -> failures.map(f => Json.obj("workload" -> f.workload, "operation" -> f.operation,
        "exception" -> f.exception, "message" -> f.message, "check" -> f.check)))
    base.stop()
    val reportFile = java.nio.file.Paths.get(work, s"report-$wname-seed$seed-trace${if (trace) 1 else 0}.json")
    java.nio.file.Files.write(reportFile, Json.write(report).getBytes("UTF-8"))
    println(Json.write(report))
    println(Json.write(Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
  }
}
