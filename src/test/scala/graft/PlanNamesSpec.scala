package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Plan and description checks match class names as strings
  * (`plan.contains("GraftBatchScan(")`). A negated check on a name the
  * program no longer has can never fail, so this spec holds every such
  * name to the program's own sources. */
class PlanNamesSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** `src` with line and block comments blanked; string literals kept. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("/*")) {
        val end = src.indexOf("*/", i + 2)
        i = if (end < 0) src.length else end + 2
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (at("'\\") || (src(i) == '\'' && i + 2 < src.length &&
          src(i + 2) == '\'')) { // a char literal, '"' and '\'' included
        val stop = math.min(src.length, i + (if (at("'\\")) 4 else 3))
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(src.length, j + 1)
        out ++= src.substring(i, stop); i = stop
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val Literal = """contains\("(Graft[A-Za-z0-9_]*)""".r

  test("every Graft name a plan check matches still exists in src/main") {
    val root = Paths.get(sys.props("user.dir"))
    val main = root.resolve("src/main")
    val checked = scalaFiles(root.resolve("src/test")) :+
      main.resolve("scala/graft/connector/ConnectorQueries.scala")
    val names = checked.flatMap(p =>
      Literal.findAllMatchIn(code(text(p))).map(m => m.group(1) -> root.relativize(p)))
    assert(names.nonEmpty, "no plan-name literal found: wrong working directory?")
    // the checks themselves do not keep a name alive
    val program = scalaFiles(main).map(p => Literal.replaceAllIn(code(text(p)), ""))
      .mkString("\n")
    val dead = names.distinct.filterNot { case (n, _) =>
      s"\\b$n\\b".r.findFirstIn(program).isDefined }
    assert(dead.isEmpty, "plan checks name classes or descriptions src/main no " +
      s"longer has: ${dead.mkString(", ")}")
  }

  test("no src/main file writes a _COMMIT marker: stores commit to the snapshot log") {
    val root = Paths.get(sys.props("user.dir"))
    val writers = scalaFiles(root.resolve("src/main"))
      .filter(p => code(text(p)).contains("_COMMIT")).map(root.relativize)
    assert(writers.isEmpty, s"_COMMIT marker written by: ${writers.mkString(", ")}")
  }
}
