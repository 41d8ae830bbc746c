package graft

import org.scalatest.funsuite.AnyFunSuite

/** Anti-drift guard over the main sources: every program builds its
  * session through [[Sessions]] (no second session builder, no second
  * copy of the broadcast ceiling), and every object with a
  * `main` is listed under the README's "Programs" heading. */
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
}
