package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A doc comment followed, blank lines aside, by another doc comment
  * documents nothing: scaladoc drops it or attaches it to the wrong
  * definition. Scans every main source file; no Spark. */
class DocCommentSpec extends AnyFunSuite {

  /** 1-based first lines of the doc comments in `lines` whose next
    * non-blank line opens another doc comment. */
  private[graft] def orphans(lines: IndexedSeq[String]): Seq[Int] = {
    def opens(i: Int) = lines(i).trim.startsWith("/**")
    (0 until lines.size).filter(opens).flatMap { start =>
      val from = lines(start).indexOf("/**") + 3
      val end = (start until lines.size)
        .find(i => lines(i).indexOf("*/", if (i == start) from else 0) >= 0)
        .getOrElse(lines.size - 1)
      (end + 1 until lines.size).find(lines(_).trim.nonEmpty)
        .filter(opens).map(_ => start + 1)
    }
  }

  test("the check flags a doc comment that another doc comment follows") {
    val src = Vector("/** orphan", "  * text */", "", "/** kept */", "def f = 1",
      "/** one line */ /* inline */", "val x = 2")
    assert(orphans(src) == Seq(1))
  }

  test("no doc comment under src/main is followed directly by another") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty)
    val hits = files.flatMap { f: Path =>
      orphans(Files.readAllLines(f).asScala.toVector).map(l => s"$f:$l")
    }
    assert(hits.isEmpty, s"orphaned doc comments:\n${hits.mkString("\n")}")
  }
}
