package graft

import org.scalatest.funsuite.AnyFunSuite

/** Anti-drift guard over the main sources: every program builds its
  * session through [[Sessions]] (no second session builder, no second
  * copy of the broadcast ceiling), only [[Versioned]] moves files into
  * place (one commit protocol), every object with a
  * `main` is listed under the README's "Programs" heading, and every
  * program a main source cites as `tools/<Name>` exists. */
class ProgramsSpec extends AnyFunSuite {

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  private val main = sources(new java.io.File("src/main/scala"))
    .map(f => f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))

  test("only Sessions.scala builds a session or states the broadcast ceiling") {
    assert(main.size > 50, s"main sources not found from ${new java.io.File(".").getAbsolutePath}")
    val strays = main.collect {
      case (f, src) if f.getName != "Sessions.scala" &&
          (src.contains("SparkSession.builder") || src.contains("256m")) => f.getPath
    }
    assert(strays.isEmpty, s"session settings outside Sessions.scala: ${strays.mkString(", ")}")
  }

  test("only Versioned.scala renames or links files: one commit protocol") {
    // rewriting table data in place goes through the manifest log; a
    // second temp-write + rename swap would reopen the crash window in
    // which a table path is missing or sits at a backup name
    val strays = main.collect {
      case (f, src) if f.getName != "Versioned.scala" &&
          (src.contains(".rename(") || src.contains("createLink")) => f.getPath
    }
    assert(strays.isEmpty, s"file renames outside Versioned.scala: ${strays.mkString(", ")}")
  }

  test("only the Store registry and the listed operators persist or checkpoint") {
    // Core.scala's Store.table is the one materialization mechanism; these
    // operators still hold their own pins until they move onto it
    val allowed = Set("Core.scala", "ExactQuantile.scala", "Components.scala",
      "Scale.scala", "Reports.scala")
    val pins = Seq(".persist(", ".cache()", "localCheckpoint", ".checkpoint(")
    val strays = main.collect {
      case (f, src) if !allowed(f.getName) && pins.exists(src.contains) => f.getPath
    }
    assert(strays.isEmpty, s"persists outside the Store registry: ${strays.mkString(", ")}")
    // and the list only shrinks: an operator that moved comes off it
    val stale = allowed.filterNot(n => main.exists { case (f, src) =>
      f.getName == n && pins.exists(src.contains) })
    assert(stale.isEmpty, s"allow-listed files that no longer pin: ${stale.mkString(", ")}")
  }

  /** `src` with comments blanked and string and char literals emptied,
    * so braces and keywords are code only. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(t: String) = src.startsWith(t, i)
    while (i < src.length) {
      if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("/*")) { i = src.indexOf("*/", i + 2) + 2; out += ' ' }
      else if (at("\"\"\"")) { i = src.indexOf("\"\"\"", i + 3) + 3; out ++= "\"\"" }
      else if (src(i) == '"') {
        i += 1
        while (src(i) != '"') {
          if (src(i) == '$' && src(i + 1) == '{') {
            // an interpolated block: to its closing brace, past its strings
            var depth = 0
            while ({ src(i) match {
              case '{' => depth += 1
              case '}' => depth -= 1
              case '"' => i = src.indexOf('"', i + 1)
              case _ =>
            }; i += 1; depth > 0 }) ()
          } else i += (if (src(i) == '\\') 2 else 1)
        }
        i += 1
        out ++= "\"\""
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\' && src(i + 3) == '\'')) {
        i += (if (src(i + 1) == '\\') 4 else 3)
        out ++= "' '"
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** (file:Object.name) of every `var`, and every `val` holding a mutable
    * collection or an atomic, declared directly in an object's body. */
  private val objectState: Seq[String] = {
    val decl = """(?:(?:private|protected)(?:\[\w+\])?\s+|@volatile\s+|lazy\s+|final\s+)*(val|var)\s+(\w+)""".r
    val member = """\b(?:val|var|def|class|object|trait|type)\b""".r
    val mutableInit = """mutable\.|TrieMap|Atomic|Concurrent|ListBuffer|ArrayBuffer|java\.util\.\w*(?:Map|Set|List)\b""".r
    main.flatMap { case (f, src) =>
      val code = codeOnly(src)
      """\bobject\s+(\w+)[^{;=\n]*(?:\n\s*(?:extends|with)\b[^{;=\n]*)*\{""".r.findAllMatchIn(code).flatMap { o =>
        // the body's top level: its text outside any nested braces and
        // parentheses (class parameters), with each declaration's
        // initializer kept whole
        var depth = 0
        var parens = 0
        var i = o.end
        val top = new StringBuilder
        val nested = new StringBuilder
        while (depth >= 0 && i < code.length) {
          val c = code(i)
          c match {
            case '{' => depth += 1
            case '}' => depth -= 1
            case '(' => parens += 1
            case ')' => parens -= 1
            case _ =>
          }
          top += (if (depth == 0 && parens == 0 && c != '}' && c != ')') c else ' ')
          nested += c
          i += 1
        }
        val topText = top.toString
        decl.findAllMatchIn(topText).filter(m => m.start == 0 || !topText(m.start - 1).isLetterOrDigit)
          .flatMap { m =>
            val rest = nested.substring(m.end)
            val next = member.findFirstMatchIn(topText.substring(m.end)).fold(rest.length)(_.start)
            val init = rest.substring(0, math.min(next, rest.length))
            if (m.group(1) == "var" || mutableInit.findFirstIn(init).isDefined)
              Some(s"${f.getName}:${o.group(1)}.${m.group(2)}")
            else None
          }
      }
    }
  }

  test("no object-level mutable state in src/main but the listed entries") {
    // a var, mutable collection or atomic in an object outlives every
    // session; session state belongs in the Store registry
    val allowed = Map(
      "DriverGuard.scala:DriverGuard.everGced" ->
        "the GC rate limiter's stamp: the heap it paces is the process's",
      "DriverGuard.scala:DriverGuard.lastGcNanos" ->
        "the GC rate limiter's stamp: the heap it paces is the process's",
      "Versioned.scala:Versioned.localLocks" ->
        "per-table-path commit locks: a table is shared by every session of the process",
      "Versioned.scala:Versioned.raceInjector" ->
        "a test hook, None outside VersionedSpec's lost-race cases")
    val found = objectState.toSet
    val strays = found -- allowed.keySet
    assert(strays.isEmpty, s"object-level mutable state: ${strays.toSeq.sorted.mkString(", ")}")
    // and the list only shrinks: an entry whose state went comes off it
    val stale = allowed.keySet -- found
    assert(stale.isEmpty, s"allow-listed state that no longer exists: ${stale.mkString(", ")}")
  }

  test("every object with a main is in the README's Programs list") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val programs = readme.split("\n## ").find(_.startsWith("Programs"))
      .getOrElse(fail("README.md has no \"## Programs\" section"))
    val mains = main.flatMap { case (_, src) =>
      val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1))
      """def main\(""".r.findAllMatchIn(src).map { m =>
        val obj = """object (\w+)""".r.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.last
        (pkg.toSeq :+ obj).mkString(".")
      }
    }.distinct
    assert(mains.nonEmpty, "no object with a main found")
    val missing = mains.filterNot(p => programs.contains(s"`$p`"))
    assert(missing.isEmpty, s"not in README's Programs list: ${missing.mkString(", ")}")
  }

  test("every tools/<Name> cited in the main sources exists") {
    // a retired tool's verdict lives in the file the README's "Retired
    // tools" table names; cite that file, not the deleted program
    val exists: String => Boolean = name =>
      new java.io.File(s"src/main/scala/graft/tools/$name.scala").isFile ||
        Option(new java.io.File("tools").listFiles()).toSeq.flatten
          .exists(_.getName.takeWhile(_ != '.') == name)
    val cited = main.flatMap { case (f, src) =>
      """tools/([A-Za-z]\w*)""".r.findAllMatchIn(src).map(m => f.getPath -> m.group(1))
    }.distinct
    val missing = cited.filterNot { case (_, name) => exists(name) }
    assert(missing.isEmpty, s"cited tools that do not exist: ${missing.mkString(", ")}")
  }
}
