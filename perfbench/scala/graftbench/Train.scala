package graftbench

import scala.util.Random

/** Class-loading run made once per build: every workload's inputs,
  * set-up, one operation and its checks, in one JVM, so that the JVM
  * archives the classes they load (AppCDS) and benchmark runs start
  * without re-loading and re-verifying them. Its timings are not kept. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val base = Main.session(math.min(4, Runtime.getRuntime.availableProcessors()), work, 0L)
    val tracer = new Tracer
    tracer.sc = base.sparkContext
    base.sparkContext.addSparkListener(new EngineListener)
    for (name <- Seq("ann_batch", "doc_ingest", "index_upsert")) {
      val w = Main.workloadOf(name, s"$work/$name")
      Gen.deleteTree(java.nio.file.Paths.get(work, name))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(w.data))
      w.generate(new Random(0))
      val s = base.newSession()
      s.streams.addListener(new StreamListener)
      w.setup(s, tracer, last = true)
      val rec = new OpRec(0, "train")
      w.op(s, tracer, rec)
      w.check(s, rec)
      if (rec.failures.nonEmpty) throw new IllegalStateException(s"$name: ${rec.failures.head}")
      Main.log(s"trained $name")
    }
    base.stop()
  }
}
