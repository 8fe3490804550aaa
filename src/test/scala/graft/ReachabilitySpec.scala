package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every public member of a top-level object under `src/main/scala` is
  * referenced from `src/main` or `perfbench/src`, or is named in
  * ARCHITECTURE.md's "Public operators with no caller outside the tests"
  * with the reason it stays. The scan strips comments and string
  * literals first, so a name that only a doc comment or a SQL string
  * mentions has no caller. A use of `member` counts for `Obj.member`
  * only in the file that declares it or in a file that names `Obj` (a
  * qualified use or an import), so `DataFrame.select` is no caller of
  * another object's `select`.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Mirrors ARCHITECTURE.md's no-caller section, entry for entry. */
  private val allowed = Set(
    "Graph.upsertNodes", "Sinks.exportKgCsv", "MovieGraph.companyAncestry",
    "Clean.personDetails", "ExternalRatings.assemble",
    "Fetch.fetch", "Fetch.HttpTransport", "Sinks.appendJdbc", "Sinks.seedFromCsv",
    "Sinks.writeCsv", "Sinks.bulkEdgesFromCsv",
    "SparkEntry.entry", "Materialize.withCapture",
    "Bench.main", "Verify.main", "Explain.main", "Stress.main", "ScaleData.main")

  /** `src` with comments and the text of string and character literals
    * blanked, line breaks kept. The code inside `${...}` of an
    * interpolated string stays: it can call a member.
    */
  private def strip(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def code(inBraces: Boolean): Unit = {
      var depth = 0
      while (i < src.length && !(inBraces && depth == 0 && src(i) == '}')) {
        if (at("//")) while (i < src.length && src(i) != '\n') i += 1
        else if (at("/*")) {
          var nest = 0
          while ({
            if (at("/*")) { nest += 1; i += 2 }
            else if (at("*/")) { nest -= 1; i += 2 }
            else { if (src(i) == '\n') out += '\n'; i += 1 }
            nest > 0 && i < src.length
          }) ()
          out += ' '
        } else if (src(i) == '"') string(interpolated = i > 0 && src(i - 1).isLetter)
        else if (src(i) == '\'' && i + 2 < src.length &&
                 (src(i + 2) == '\'' || src(i + 1) == '\\')) {
          // a character literal: 'x', '\'' or '\u0041'
          i = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1
          out ++= "' '"
        } else {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          out += src(i); i += 1
        }
      }
    }
    def string(interpolated: Boolean): Unit = {
      val triple = at("\"\"\"")
      i += (if (triple) 3 else 1)
      out ++= "\"\""
      while (!(if (triple) at("\"\"\"") && !at("\"\"\"\"") else src(i) == '"')) {
        if (interpolated && at("${")) { i += 2; out += ' '; code(inBraces = true); i += 1 }
        else if (!triple && src(i) == '\\') i += 2
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      }
      i += (if (triple) 3 else 1)
    }
    code(inBraces = false)
    out.toString
  }

  private def sources(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private val ident = """[A-Za-z_][\w$]*""".r
  private val declared = """\b(?:def|val|var|object|class|trait)\s+([A-Za-z_][\w$]*)""".r
  private val topObject = """^(?:(?:final|case) )*object (\w+)""".r.unanchored
  private val member =
    """^  (?:@\w+ )*(?:(?:final|implicit|lazy|sealed|case|abstract) )*(?:def|val|var|object|class|trait) (\w+)""".r.unanchored

  /** (object.member) for every public, non-override member declared
    * directly in a top-level object of the stripped `text`.
    */
  private def members(text: String): Seq[String] = {
    var obj: Option[String] = None
    text.split('\n').toSeq.flatMap { line =>
      line match {
        case topObject(name) if !line.startsWith(" ") => obj = Some(name); None
        case _ if line.startsWith("}") => obj = None; None
        case member(name) => obj.map(o => s"$o.$name")
        case _ => None
      }
    }
  }

  private def unreferenced(): Set[String] = {
    val main = sources("src/main/scala").map(p => p -> strip(Files.readString(p)))
    def tally(names: Iterator[String]) = names.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    // per file: its text, identifier counts and the declarations among them
    val files = (main ++ sources("perfbench/src").map(p => p -> strip(Files.readString(p))))
      .map { case (p, text) =>
        (p, text, tally(ident.findAllIn(text)),
          tally(declared.findAllMatchIn(text).map(_.group(1))))
      }
    main.flatMap { case (home, text) => members(text).map(home -> _) }.filter {
      case (home, m) =>
        val Array(obj, name) = m.split('.')
        files.collect {
          case (p, text, uses, defs) if p == home || uses.contains(obj) =>
            // `Obj(...)` calls `Obj.apply`
            val calls = if (name == "apply") raw"\b$obj\s*\(".r.findAllIn(text).size else 0
            uses.getOrElse(name, 0) - defs.getOrElse(name, 0) + calls
        }.sum <= 0
    }.map(_._2).toSet
  }

  test("every public member under src/main has a caller or a documented reason") {
    // the scanner keeps code, including interpolated code, and nothing else
    val sample = "x // a\n/* b /* c */ d */ y \"e\" s\"f ${g(\"h\")} i\" '\"' \"\"\"j\n\"\"\"\" k"
    assert("\\w+".r.findAllIn(strip(sample)).toSeq == Seq("x", "y", "s", "g", "k"), strip(sample))
    val noCaller = unreferenced()
    assert((noCaller -- allowed).isEmpty,
      s"public members with no caller in src/main or perfbench/src: " +
        s"${(noCaller -- allowed).toSeq.sorted.mkString(", ")} — call, delete or " +
        "document them in ARCHITECTURE.md and this allowlist")
    assert((allowed -- noCaller).isEmpty,
      s"allowlisted but now called or gone: ${(allowed -- noCaller).toSeq.sorted.mkString(", ")}")
    val arch = Files.readString(Paths.get("ARCHITECTURE.md"))
    val section = arch.split("\n## ")
      .find(_.startsWith("Public operators with no caller outside the tests")).get
    val unnamed = allowed.filterNot(_.split('.').forall(section.contains))
    assert(unnamed.isEmpty,
      s"ARCHITECTURE.md's no-caller section does not name ${unnamed.toSeq.sorted.mkString(", ")}")
  }
}
