package graft.ops

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Lints `src/main` so that every DuckDB oracle fragment stays written
  * once: shared fragments live in [[OracleSql]] or a module's private
  * def, and an oracle derived from another takes a parameter instead of
  * rewriting the other's SQL text.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def mainSources = graft.MainSources.files

  test("no window of 8 consecutive oracle lines appears twice") {
    val dup = graft.MainSources.repeatedWindows(8, _.startsWith("|"))
    assert(dup.size === 0, "call a shared fragment instead of pasting it:\n" +
      graft.MainSources.describe(dup))
  }

  test("the tokenizer and h60 are spelled only in OracleSql") {
    val literals = Seq("'[a-z0-9]+'", "1, 15) AS BIGINT")
    val hits = mainSources.filter(_.getFileName.toString != "OracleSql.scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if literals.exists(l.contains) => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, s"call OracleSql.tokens / OracleSql.h60:\n${hits.mkString("\n")}")
  }

  test("no oracle is derived by text replacement on another oracle's SQL") {
    val derived = """(\.oracle\.get|OracleSql)\s*\.replace\(""".r
    val hits = mainSources.flatMap { p =>
      derived.findAllMatchIn(Files.readString(p)).map(m => s"$p: ${m.matched.trim}")
    }
    assert(hits.isEmpty, s"give the source oracle a parameter:\n${hits.mkString("\n")}")
  }

  test("the shingle CTEs take their base relation, width and name prefix") {
    val sql = OracleSql.shingleCtes("docs_x")
    assert(sql.contains("FROM docs_x") && sql.contains("t[i:i+2]") &&
      sql.contains("range(1, len(t) - 1)") && sql.contains(OracleSql.h60("s")))
    val wide = OracleSql.shingleCtes(n = 8)
    assert(wide.contains("len(t) >= 8") && wide.contains("t[i:i+7]") && wide.contains("range(1, len(t) - 6)"))
    val prefixed = OracleSql.shingleCtes(prefix = "t")
    assert(Seq("ttk AS", "tsh AS", "ths AS", "FROM ttk", "FROM tsh").forall(prefixed.contains))
  }
}
