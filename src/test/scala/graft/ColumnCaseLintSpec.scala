package graft

import org.scalatest.funsuite.AnyFunSuite

/** CASE-COLLISION LINT (round-16 verdict task 10): Spark resolves
  * column names CASE-INSENSITIVELY by default, so two internal
  * names differing only by case silently resolve to the same
  * column — exactly the `_Sa`/`_sa` class of bug the coxPh2
  * planted-effect spec caught in round 16 (a `withColumn` REPLACED
  * a sibling sum instead of adding a new one). This spec walks
  * every main-source file's internal column-name string literals
  * (the leading-underscore convention) and the static prefixes of
  * interpolated ones (`s"_w$k"` contributes `_w`), and fails on any
  * case-only duplicate among them WITHIN a file — stricter than the
  * per-plan scope the bug needs, deliberately: the convention is
  * cheap to keep and the lint stays grep-simple. */
class ColumnCaseLintSpec extends AnyFunSuite {

  test("no two internal column names in one source file differ " +
       "only by case") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    // group 1: a literal name; group 2: an interpolated name's prefix
    val pat = java.util.regex.Pattern.compile(
      "\"(_[A-Za-z0-9_]+)\"|s\"(_[A-Za-z0-9_]+)\\$")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "lint must see the main sources")
    val bad = files.flatMap { f =>
      val m = pat.matcher(Files.readString(f))
      val names = scala.collection.mutable.Set[String]()
      while (m.find()) names += Option(m.group(1)).getOrElse(m.group(2))
      names.groupBy(_.toLowerCase).collect {
        case (_, vs) if vs.size > 1 =>
          s"$f: ${vs.toSeq.sorted.mkString(" vs ")}"
      }
    }
    assert(bad.isEmpty,
      "case-only duplicate internal column names (Spark resolves " +
        "case-insensitively — rename one):\n" + bad.mkString("\n"))
  }
}
