package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source guard against unreachable code: every `src/main` file must be
  * reachable from an entry point. The graph is lexical — after comments
  * are stripped, a file that names another file's top-level
  * `object`/`class`/`trait` has an edge to it. The roots are every file
  * with a `def main(`, the file that defines [[SparkEntry]] (the query
  * registry), and any class a `src/main/resources` file names as
  * `graft.<...>.<Name>`. */
class ReachableSourceSpec extends AnyFunSuite {

  /** Files no entry point reaches that stay on purpose, with the reason. */
  private val allowed = Map(
    "BatchReplay.scala" ->
      "the batch reference that UnificationSpec and BatchReplaySpec compare the stream against",
    "DriftMonitor.scala" ->
      "the streaming Page-CUSUM over ticks, the online form of SeriesQueries.cusum; DriftMonitorSpec",
    "EventTimeOps.scala" ->
      "the watermarked event-time tick operators (windows, OHLC bars, sessions, dedup, joins); EventTimeOpsSpec",
    "StreamingTopK.scala" ->
      "the streaming heavy hitters over the CmsSketch matrix; StreamingTopKSpec")

  private def files(d: File, ext: String): Seq[File] = d.listFiles().toSeq.flatMap { f =>
    if (f.isDirectory) files(f, ext) else if (f.getName.endsWith(ext)) Seq(f) else Nil
  }

  private def read(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** `code` without its `//` and (nested) `/* */` comments. String and
    * character literals are kept whole, so a comment marker inside one
    * (a URL, a SQL comment) is not taken for a comment. */
  private def stripComments(code: String): String = {
    val out = new StringBuilder
    val n = code.length
    var i = 0
    def at(s: String): Boolean = code.startsWith(s, i)
    def copyUntil(close: String, escapes: Boolean): Unit = {
      while (i < n && !at(close)) {
        if (escapes && code(i) == '\\' && i + 1 < n) { out.append(code(i)); i += 1 }
        out.append(code(i)); i += 1
      }
      if (i < n) { out.append(close); i += close.length }
    }
    while (i < n) {
      if (at("//")) {
        while (i < n && code(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < n && !(depth == 1 && at("*/"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        i += 2
        out.append(' ')
      } else if (at("\"\"\"")) {
        out.append("\"\"\""); i += 3; copyUntil("\"\"\"", escapes = false)
      } else if (at("\"")) {
        out.append('"'); i += 1; copyUntil("\"", escapes = true)
      } else if (at("'\\") && code.indexOf('\'', i + 3) > 0) {
        val j = code.indexOf('\'', i + 3) + 1
        out.append(code.substring(i, j)); i = j
      } else if (at("'") && i + 2 < n && code(i + 2) == '\'') {
        out.append(code.substring(i, i + 3)); i += 3
      } else {
        out.append(code(i)); i += 1
      }
    }
    out.toString
  }

  private val topLevel =
    "(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\\[\\w+\\])?)\\s+)*(?:object|class|trait)\\s+(\\w+)".r

  /** File names under `src/main/scala` that no entry point reaches. */
  private def unreachable(): Set[String] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not a directory")
    val code = files(root, ".scala").map(f => f -> stripComments(read(f))).toMap
    val definedIn: Map[String, Seq[File]] = code.toSeq
      .flatMap { case (f, c) => topLevel.findAllMatchIn(c).map(_.group(1) -> f) }
      .groupMap(_._1)(_._2)
    val names = definedIn.keySet
    val word = "\\b\\w+\\b".r
    val edges: Map[File, Set[File]] = code.map { case (f, c) =>
      f -> word.findAllIn(c).filter(names).flatMap(definedIn).toSet
    }
    val resources = new File("src/main/resources")
    val named = if (!resources.isDirectory) Nil else files(resources, "").flatMap { f =>
      "\\bgraft\\.(?:\\w+\\.)*(\\w+)".r.findAllMatchIn(read(f)).map(_.group(1))
    }
    val roots = code.collect { case (f, c) if c.contains("def main(") => f }.toSet ++
      (Seq("SparkEntry") ++ named).flatMap(definedIn.getOrElse(_, Nil))
    var seen = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(edges) -- seen
      seen ++= frontier
    }
    (code.keySet -- seen).map(_.getName)
  }

  test("every src/main file is reachable from an entry point, save the named exceptions") {
    val dead = unreachable()
    val unexpected = dead -- allowed.keySet
    assert(unexpected.isEmpty,
      unexpected.toSeq.sorted.mkString("reached by no entry point:\n  ", "\n  ", ""))
    val stale = allowed.keySet -- dead
    assert(stale.isEmpty, s"now reachable, drop the exception: ${stale.mkString(", ")}")
  }
}
