package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps batch top-k to two spellings: `KnnJoin` for a stream against
  * a broadcast-bounded vector set, and `TopKAgg.topKPerKey` over an
  * already-scored candidate stream. A hand-written
  * `groupBy(key).agg(topkByDist(…))` + `posexplode(col("top"))` chain
  * anywhere else in `src/main/scala` is a third spelling — call the
  * helper instead. */
class TopKGuardSpec extends AnyFunSuite {

  private val handWritten = """topkByDist\s*\(|posexplode\s*\(\s*col\s*\(\s*"top"\s*\)\s*\)""".r

  private def violations(src: String): Seq[String] = handWritten.findAllIn(src).toSeq

  test("the guard recognizes the hand-written top-k spellings it forbids") {
    assert(violations(""".agg(graft.functions.TopKAgg.topkByDist(col("dist"), col("id"), 5).as("top"))""").nonEmpty)
    assert(violations("TopKAgg.topkByDist (d, i, k)").nonEmpty)
    assert(violations(""".select(col("qid"), posexplode(col("top")))""").nonEmpty)
    assert(violations(""".select(col("qid"), posexplode( col( "top" ) ))""").nonEmpty)
    assert(violations("""TopKAgg.topKPerKey(df, col("qid"), col("dist"), col("vec_id"), 5)""").isEmpty)
    assert(violations(""".select(col("label"), posexplode(col("embedding")))""").isEmpty)
  }

  test("no hand-written per-key top-k outside TopKAgg") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "TopKAgg.scala")
      .toList)
    assert(files.size > 50)
    val found = files.flatMap { (p: Path) =>
      violations(new String(Files.readAllBytes(p), "UTF-8")).map(v => s"$p: $v")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
