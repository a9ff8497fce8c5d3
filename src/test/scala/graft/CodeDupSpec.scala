package graft

import org.scalatest.funsuite.AnyFunSuite

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
}
