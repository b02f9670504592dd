package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards against regrowth of what was unified: session
  * artifacts are cached only through [[graft.functions.Memo]] (plus the
  * [[graft.sources.Pinned]] id set), and sessions are built only through
  * [[GraftSession]], so each decision — how an artifact is keyed, locked and
  * invalidated; which config every session pins — lives in one place.
  */
class SourceHygieneSpec extends AnyFunSuite {
  private def scalaFiles(root: String): Seq[Path] = {
    val p = Path.of(root)
    assert(Files.isDirectory(p), s"$root not found from ${Path.of("").toAbsolutePath}")
    Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private def offenders(root: String, pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    scalaFiles(root).filterNot(f => allowed(f.getFileName.toString))
      .filter(f => re.findFirstIn(Files.readString(f)).isDefined).map(_.toString).sorted
  }

  test("ConcurrentHashMap appears in src/main only in Memo and Pinned") {
    val found = offenders("src/main", "ConcurrentHashMap", Set("Memo.scala", "Pinned.scala"))
    assert(found.isEmpty, s"hand-rolled caches (use graft.functions.Memo): $found")
  }

  test("sessions are built only by GraftSession") {
    val found = offenders("src", """SparkSession\s*\.\s*builder""", Set("GraftSession.scala"))
    assert(found.isEmpty, s"session builders outside GraftSession.local: $found")
  }
}
