package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main source file must be reachable from an entry point: a
  * `runMain` class (the CLI, Verify, Bench, PlanDump, StageProfile),
  * `SparkEntry` (the query registry, with its `entry` smoke check) or
  * the benchmark harness. A file nothing reaches is code no query,
  * route, task or command can run, so it is deleted or wired in,
  * never carried.
  *
  * Reachability is over whole files: file A reaches file B when A's
  * text, comments and import lines stripped but string literals kept
  * (so `"graft.plans.GraftExtensions"` in a session conf counts), names
  * a top-level `object`/`class`/`trait` that B declares. A method-level
  * walk would need name resolution, so unused methods of a reached
  * file are out of scope here. */
class ReachabilitySpec extends AnyFunSuite {

  import ReachabilitySpec._

  test("every main source file is reachable from an entry point") {
    val files = Seq(Paths.get("src/main/scala"), Paths.get("perfbench/src"))
      .flatMap(scalaFiles)
      .map(p => p.toString -> Files.readString(p)).toMap
    assert(files.size > 50, s"source roots not found from ${Paths.get("").toAbsolutePath}")
    val missing = EntryPoints.filterNot(e => files.values.exists(declared(_).contains(e)))
    assert(missing.isEmpty, s"entry points not declared anywhere: $missing")
    val unreached = unreachedFrom(files, EntryPoints)
    assert(unreached.isEmpty,
      s"no entry point reaches ${unreached.size} file(s):\n${unreached.mkString("\n")}")
  }

  test("the walk follows names and string literals, never comments or imports") {
    val files = Map(
      "Main.scala" -> "object Main { def main(a: Array[String]) = Used.go() }",
      "Used.scala" ->
        "import x.Dead\nobject Used { val conf = \"x.Plugin\" // see Dead\n def go() = 1 }",
      "Plugin.scala" -> "class Plugin /* Dead */",
      "Dead.scala" -> "object Dead { val url = \"http://a\" }")
    assert(unreachedFrom(files, Seq("Main")) == Seq("Dead.scala"))
  }
}

object ReachabilitySpec {

  /** The top-level names the walk starts from. */
  val EntryPoints: Seq[String] =
    Seq("Main", "Verify", "Bench", "PlanDump", "StageProfile", "SparkEntry", "Harness")

  def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector.sorted
    finally s.close()
  }

  /** Source text without comments; string and char literals kept
    * verbatim (a `//` inside a string is not a comment). Block comments
    * nest, as in Scala. */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        i += 3 // a char literal such as '"' must not open a string
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        i += 4
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val DeclOrBrace = """[{}]|\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** Names declared at brace depth 0 (after the package clause). */
  def declared(src: String): Set[String] = {
    var depth = 0
    DeclOrBrace.findAllMatchIn(stripComments(src)).flatMap { m =>
      m.matched match {
        case "{" => depth += 1; None
        case "}" => depth -= 1; None
        case _ => if (depth == 0) Some(m.group(1)) else None
      }
    }.toSet
  }

  /** Identifiers a file's code and string literals mention, import
    * lines left out: an unused import reaches nothing. */
  def mentioned(src: String): Set[String] =
    Ident.findAllIn(stripComments(src).linesIterator
      .filterNot(_.trim.startsWith("import ")).mkString("\n")).toSet

  /** Files (by key, sorted) that no chain of top-level names starting
    * at `entryPoints` reaches. */
  def unreachedFrom(files: Map[String, String], entryPoints: Seq[String]): Seq[String] = {
    val owners: Map[String, Seq[String]] = files.toSeq
      .flatMap { case (f, src) => declared(src).toSeq.map(_ -> f) }
      .groupMap(_._1)(_._2)
    val seen = scala.collection.mutable.Set.empty[String]
    var frontier = entryPoints.flatMap(owners.getOrElse(_, Nil)).distinct
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(f => mentioned(files(f)).toSeq)
        .flatMap(owners.getOrElse(_, Nil)).distinct.filterNot(seen)
    }
    (files.keySet -- seen).toSeq.sorted
  }
}
