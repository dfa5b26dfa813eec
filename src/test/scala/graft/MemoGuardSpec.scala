package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session memo single: DfCache is the one place that may
  * hold per-session state. A concurrent map keyed by SparkSession
  * anywhere else in `src/main/scala` is a second, hand-rolled memo
  * with its own eviction and staleness rules — fold it into
  * DfCache.memo instead. */
class MemoGuardSpec extends AnyFunSuite {

  private val sessionKeyedMap =
    """(?s)(TrieMap|ConcurrentHashMap)\s*(\.\s*empty\s*)?\[\s*\(?\s*(org\.apache\.spark\.sql\.)?SparkSession\b""".r

  private def violations(src: String): Seq[String] =
    sessionKeyedMap.findAllIn(src).toSeq ++
      "SessionEvict".r.findAllIn(src).toSeq

  test("the guard recognizes the session-keyed map spellings it forbids") {
    assert(violations("private val m = TrieMap.empty[(SparkSession, String), Int]").nonEmpty)
    assert(violations("scala.collection.concurrent.TrieMap\n    .empty[(SparkSession, String, Int), Long]").nonEmpty)
    assert(violations("new java.util.concurrent.ConcurrentHashMap[SparkSession, Long]()").nonEmpty)
    assert(violations("graft.functions.SessionEvict.hook(s)").nonEmpty)
    assert(violations("TrieMap.empty[String, EmbedModel]").isEmpty)
  }

  test("no session-keyed memo map or SessionEvict outside DfCache") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "DfCache.scala")
      .toList)
    assert(files.size > 50)
    val found = files.flatMap { (p: Path) =>
      violations(new String(Files.readAllBytes(p), "UTF-8")).map(v => s"$p: $v")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
