package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Main code that no other main file names is reached only from its own
  * specs: nothing the engine runs can call it. This spec walks
  * `src/main/scala` and names each file none of whose top-level definitions
  * appears as a token in any other main file (comments count: a Scaladoc
  * link is a reader's way in). A file passes also when it defines a
  * `def main(`, when it declares a class named in
  * `src/main/resources/META-INF/services`, or when [[allowlist]] says why
  * it is reached from outside main code. */
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

  /** The files (by key, sorted) that no other file names, among `files`
    * (key -> source); a file defining one of `loaded` passes. */
  private[graft] def unreached(files: Map[String, String], loaded: Set[String]): Seq[String] = {
    val tokens = files.map { case (f, src) => f -> token.findAllIn(src).toSet }
    files.keys.toSeq.sorted.filter { f =>
      val names = topLevel.findAllMatchIn(files(f)).map(_.group(1)).toSet
      !files(f).contains("def main(") && !names.exists(loaded) &&
        !names.exists(n => tokens.exists { case (g, ts) => g != f && ts.contains(n) })
    }
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

  test("every src/main/scala file is reached from other main code") {
    val paths = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(paths.nonEmpty, s"no sources under $root")
    val files = paths.map(p => p.toString -> read(p)).toMap
    val byName = Files.list(services).iterator().asScala.toSeq
      .flatMap(p => read(p).linesIterator.map(_.trim).filter(_.nonEmpty))
      .map(_.split('.').last).toSet
    val orphans = unreached(files, byName ++ allowlist.keySet)
    assert(orphans.isEmpty,
      s"${orphans.size} main file(s) are named by no other main file, so only " +
        s"their own specs reach them; delete them or wire them in:\n${orphans.mkString("\n")}")
    // an allowlist entry that main code now names is stale
    val stale = allowlist.keySet -- unreached(files, byName).flatMap(f =>
      topLevel.findAllMatchIn(files(f)).map(_.group(1)))
    assert(stale.isEmpty, s"allowlist entries named by main code: ${stale.mkString(", ")}")
  }
}
