package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Lints `src/main` so that each engine frame stays written once: a query
  * derived from another calls its source's def, and shared store rules
  * live in the module that owns the store.
  */
class CodeDupSpec extends AnyFunSuite {

  /** A code line: not blank, not an import or package line, not a comment
    * line and not an oracle line (those have `OracleSqlSpec`).
    */
  private def isCode(t: String): Boolean =
    t.nonEmpty && !Seq("import ", "package ", "//", "/**", "*", "|").exists(t.startsWith)

  test("no window of 8 consecutive code lines appears twice") {
    val dup = MainSources.repeatedWindows(8, isCode, skipped = _ => true)
    assert(dup.size === 0, "repeated windows; call a shared def instead of " +
      "pasting it:\n" + MainSources.describe(dup))
  }

  /** Each code line of `src/main` as (file name, enclosing def, line). */
  private def codeLines: Seq[(String, String, String)] = {
    val defName = """(?:.*\s)?def\s+(\w+).*""".r
    MainSources.files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.toSeq.map(_.trim)
        .filter(isCode)
        .scanLeft(("", "")) { case ((encl, _), l) => l match {
          case defName(d) => (d, l)
          case _ => (encl, l)
        } }.tail
        .map { case (encl, l) => (p.getFileName.toString, encl, l) }
    }
  }

  test("one sink frame and one cell-store fold: .trigger( appears once, and StoreCompaction.foldInto( is called only by CellStore and CurationStream.compactFpHistory") {
    val lines = codeLines
    val triggers = lines.filter(_._3.contains(".trigger("))
    val folds = lines.filter(l => l._3.contains("foldInto(") && !l._3.contains("def foldInto("))
      .filterNot { case (f, encl, _) =>
        f == "CellStore.scala" || (f == "CurationStream.scala" && encl == "compactFpHistory") }
    assert(triggers.size == 1 && folds.isEmpty,
      s"${triggers.size} sink frames; start every streaming sink through " +
        "StoreCompaction.sink:\n" + triggers.mkString("\n") +
        s"\n${folds.size} hand-written folds; declare the store as a CellStore " +
        "and call its compact:\n" + folds.mkString("\n"))
  }
}
