package graft.ops

import java.io.File
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Lints `src/main` so that every DuckDB oracle fragment stays written
  * once: shared fragments live in [[OracleSql]] or a module's private
  * def, and an oracle derived from another takes a parameter instead of
  * rewriting the other's SQL text.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the repository root: ${main.getAbsolutePath}")
    val walk = Files.walk(main.toPath)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
    finally walk.close()
  }

  /** The repeated windows of `window` consecutive oracle lines (trimmed
    * lines starting with `|`), at least `window - 1` of them longer than
    * 4 characters, each with the places it occurs.
    */
  private def repeatedWindows(window: Int): Map[Seq[String], Seq[String]] = {
    val at = for {
      p <- mainSources
      run <- oracleRuns(Files.readAllLines(p).asScala.toSeq)
      w <- run.sliding(window) if w.size == window && w.count(_._2.length > 4) >= window - 1
    } yield w.map(_._2) -> s"$p:${w.head._1}"
    at.groupBy(_._1).collect { case (w, hits) if hits.size > 1 => w -> hits.map(_._2) }
  }

  /** Maximal runs of consecutive oracle lines, with 1-based line numbers. */
  private def oracleRuns(lines: Seq[String]): Seq[Seq[(Int, String)]] =
    lines.zipWithIndex.map { case (l, i) => (i + 1, l.trim) }
      .foldLeft(List(List.empty[(Int, String)])) {
        case (cur :: done, (i, t)) if t.startsWith("|") => ((i, t) :: cur) :: done
        case (cur :: done, _) => Nil :: cur :: done
        case (Nil, _) => Nil
      }
      .map(_.reverse).filter(_.nonEmpty).reverse

  test("no window of 8 consecutive oracle lines appears twice") {
    val dup = repeatedWindows(8)
    assert(dup.isEmpty, "call a shared fragment instead of pasting it:\n" +
      dup.toSeq.sortBy(_._2.head).take(10).map { case (w, at) =>
        s"${at.mkString(", ")}\n  ${w.mkString("\n  ")}" }.mkString("\n"))
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
