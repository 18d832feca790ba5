package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Scaladoc attaches only to the definition that directly follows it: when
  * two `/** */` blocks stack with nothing but blank or `//` lines between
  * them, the first block documents nothing (or, once the second moves, the
  * wrong definition). This spec walks `src/main/scala` and names every
  * such stack by the `file:line` of the first block's closing marker. */
class ScaladocLayoutSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** 1-based lines of every closing marker followed (past blank and `//`
    * lines) by the opening of another Scaladoc block. */
  private[graft] def stackedDocs(lines: IndexedSeq[String]): Seq[Int] =
    lines.indices.filter(i => lines(i).trim.endsWith("*/")).filter { i =>
      lines.indices.drop(i + 1)
        .find(j => lines(j).trim.nonEmpty && !lines(j).trim.startsWith("//"))
        .exists(j => lines(j).trim.startsWith("/**"))
    }.map(_ + 1)

  test("the detector finds a stacked block past blank and line comments") {
    val src = IndexedSeq("/** orphan */", "", "// note", "/** attached */", "def f = 1",
      "/** alone */", "val x = 2", "/* plain */ /** same line is fine */", "val y = 3")
    assert(stackedDocs(src) == Seq(1))
  }

  test("no Scaladoc block in src/main/scala stacks on another") {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no sources under $root")
    val stacked = files.flatMap { p: Path =>
      val lines = new String(Files.readAllBytes(p), UTF_8).split("\n", -1).toIndexedSeq
      stackedDocs(lines).map(n => s"$p:$n")
    }
    assert(stacked.isEmpty,
      s"${stacked.size} Scaladoc block(s) stack on the next one and attach to " +
        s"nothing; move each onto its definition:\n${stacked.mkString("\n")}")
  }
}
