package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Main code that no other main code names is reached only from its own
  * specs: nothing the engine runs can call it. This spec walks
  * `src/main/scala` and names each top-level definition (`class`, `object`,
  * `trait`, `type`) that is reached neither by a token in another main file
  * (comments count: a Scaladoc link is a reader's way in) nor from a
  * reached definition of its own file. A definition is reached also when
  * its body holds a `def main(`, when it is a class named in
  * `src/main/resources/META-INF/services`, or when [[allowlist]] says why
  * it is reached from outside main code. A file is unreached when none of
  * its definitions is. */
class MainReachabilitySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val services = Paths.get("src/main/resources/META-INF/services")

  /** Top-level names reached from outside main code, each with the reason. */
  private val allowlist = Map(
    "GraftExtensions" -> "loaded by class name through `spark.sql.extensions`",
    "ValuesSource" -> "the scripted fixture source the specs share")

  private val topLevel =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:class|object|trait|type)\s+(\w+)""".r
  private val token = "\\w+".r

  /** The unreached top-level definitions among `files` (key -> source), as
    * (file key, name) pairs sorted by both; a definition named in `loaded`
    * is reached. A definition's body runs from its keyword to the next
    * top-level definition of the file. */
  private[graft] def unreachedDefinitions(files: Map[String, String],
      loaded: Set[String]): Seq[(String, String)] = {
    val tokens = files.map { case (f, src) => f -> token.findAllIn(src).toSet }
    files.keys.toSeq.sorted.flatMap { f =>
      val src = files(f)
      val starts = topLevel.findAllMatchIn(src).toSeq
      // a class and its companion are one name with one body
      val texts = starts.zip(starts.drop(1).map(_.start) :+ src.length)
        .groupMapReduce(_._1.group(1)) { case (m, end) => src.substring(m.start, end) }(_ + _)
      val bodies = texts.map { case (n, text) => n -> token.findAllIn(text).toSet }
      var reached = bodies.keySet.filter(n => loaded(n) || texts(n).contains("def main(") ||
        tokens.exists { case (g, ts) => g != f && ts(n) })
      var grown = true
      while (grown) {
        val next = reached ++ reached.flatMap(bodies).intersect(bodies.keySet)
        grown = next != reached
        reached = next
      }
      (bodies.keySet -- reached).toSeq.sorted.map(f -> _)
    }
  }

  /** The files (by key, sorted) none of whose definitions is reached. */
  private[graft] def unreached(files: Map[String, String], loaded: Set[String]): Seq[String] = {
    val partly = unreachedDefinitions(files, loaded).groupMapReduce(_._1)(_ => 1)(_ + _)
    files.keys.toSeq.sorted.filter(f =>
      partly.getOrElse(f, 0) == topLevel.findAllMatchIn(files(f)).map(_.group(1)).toSet.size)
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  test("the detector: a file passes by a use elsewhere, a main, or a by-name load") {
    val files = Map(
      "a" -> "object A { def f = B.g }",
      "b" -> "/** see [[A]] */\nobject B { def g = 1 }",
      "c" -> "object C {\n  object Used }\n// Cx and C_ are other tokens",
      "d" -> "object D { def main(args: Array[String]): Unit = Used.toString }",
      "e" -> "final class E\nobject F { val Cx = 1; val C_ = 2 }")
    assert(unreached(files, loaded = Set("E")) == Seq("c"))
    assert(unreached(files, loaded = Set.empty) == Seq("c", "e"))
  }

  test("the detector: a definition passes by a use elsewhere or from a reached one of its file") {
    val files = Map(
      "a" -> "object A { def f = B.g }\nclass Helper\nobject Lone",
      "b" -> "object B { def g = new Inner }\nfinal class Inner",
      "c" -> "class C\nobject C { def main(args: Array[String]): Unit = Side.run }\nobject Side")
    assert(unreachedDefinitions(files, loaded = Set.empty) ==
      Seq("a" -> "A", "a" -> "Helper", "a" -> "Lone"))
    assert(unreachedDefinitions(files, loaded = Set("A")) == Seq("a" -> "Helper", "a" -> "Lone"))
    assert(unreached(files, loaded = Set.empty) == Seq("a"))
  }

  test("every src/main/scala file is reached from other main code") {
    val paths = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(paths.nonEmpty, s"no sources under $root")
    val files = paths.map(p => p.toString -> read(p)).toMap
    val byName = Files.list(services).iterator().asScala.toSeq
      .flatMap(p => read(p).linesIterator.map(_.trim).filter(_.nonEmpty))
      .map(_.split('.').last).toSet
    val orphans = unreachedDefinitions(files, byName ++ allowlist.keySet)
    assert(orphans.isEmpty,
      s"${orphans.size} top-level definition(s) are reached from no other main code, so " +
        "only their own specs reach them; delete them or wire them in:\n" +
        orphans.map { case (f, n) => s"$f: $n" }.mkString("\n"))
    // an allowlist entry that main code now names is stale
    val stale = allowlist.keySet -- unreachedDefinitions(files, byName).map(_._2)
    assert(stale.isEmpty, s"allowlist entries named by main code: ${stale.mkString(", ")}")
  }
}
