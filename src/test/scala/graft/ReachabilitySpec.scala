package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every file under `src/main/scala` is reached from an entry point.
  *
  * Roots are the files that define a `def main(` and the classes listed
  * in `META-INF/services`. A file reaches another when its code (comments
  * stripped, string literals kept, so a class named in a conf string
  * counts) mentions a top-level `object`/`class`/`trait` the other
  * defines. Nested names (`Event`, `Doc`, …) recur across files and would
  * hide a dead one, so only top-level names are followed. A file nothing
  * reaches is code only its own spec runs: delete it or wire it in. */
class ReachabilitySpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val servicesDir = Paths.get("src/main/resources/META-INF/services")

  private def files(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(suffix)).toVector.sorted
      finally s.close()
    }

  /** `src` with comments removed; string and char literals are kept when
    * `keepStrings`, else emptied (so their braces do not count). */
  private def strip(src: String, keepStrings: Boolean): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def literal(end: Int): Unit = {
      if (keepStrings) out.append(src.substring(i, end)) else out.append("\"\"")
      i = end
    }
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        literal(j)
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        literal(math.min(j + 1, n))
      } else if (src.charAt(i) == '\'' && i + 1 < n && src.charAt(i + 1) == '\\') {
        val j = src.indexOf('\'', i + 3)
        literal(if (j < 0) n else j + 1)
      } else if (src.charAt(i) == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        literal(i + 3)
      } else {
        out.append(src.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private val Ident = """[A-Za-z_$][A-Za-z0-9_$]*""".r
  private val Token = """[A-Za-z_$][A-Za-z0-9_$]*|[{}]""".r
  private val PackageClause = """(?m)^\s*package\s+([\w.]+)""".r

  /** (package, top-level type names) of one stripped file. */
  private def topLevel(skeleton: String): (String, Seq[String]) = {
    val pkg = PackageClause.findAllMatchIn(skeleton).map(_.group(1)).mkString(".")
    val names = Seq.newBuilder[String]
    var depth = 0
    var named = false // the previous token opened a top-level definition
    Token.findAllIn(skeleton).foreach { t =>
      if (t == "{") depth += 1
      else if (t == "}") depth -= 1
      else if (named) names += t
      named = depth == 0 && (t == "object" || t == "class" || t == "trait")
    }
    (pkg, names.result())
  }

  test("every main source file is reached from an entry point") {
    val sources = files(mainRoot, ".scala")
    assert(sources.nonEmpty, s"no sources under ${mainRoot.toAbsolutePath}")
    val text = sources.map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toMap
    val code = text.view.mapValues(strip(_, keepStrings = true)).toMap
    val defs = text.view.mapValues(t => topLevel(strip(t, keepStrings = false))).toMap
    val definedIn: Map[String, Seq[Path]] = sources
      .flatMap(p => defs(p)._2.map(_ -> p))
      .groupMap(_._1)(_._2)

    val services = files(servicesDir, "").flatMap(p =>
      Files.readAllLines(p).asScala.map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty))
    val serviceRoots = sources.filter { p =>
      val (pkg, names) = defs(p)
      names.exists(n => services.contains(s"$pkg.$n"))
    }
    val roots = sources.filter(p => code(p).contains("def main(")) ++ serviceRoots
    assert(roots.nonEmpty, "no entry point found")

    val reached = scala.collection.mutable.Set.empty[Path]
    val queue = scala.collection.mutable.Queue(roots: _*)
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      if (reached.add(p))
        Ident.findAllIn(code(p)).toSet[String]
          .flatMap(definedIn.getOrElse(_, Seq.empty))
          .foreach(queue.enqueue(_))
    }
    val unreached = sources.filterNot(reached).map(mainRoot.relativize(_).toString)
    if (unreached.nonEmpty)
      fail(s"${unreached.size} main source files are reached from no main or service:\n" +
        unreached.mkString("\n"))
  }
}
