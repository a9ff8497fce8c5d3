package graft

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Reads `src/main` for the lint specs: the source files, and the windows
  * of consecutive lines of one kind that appear more than once.
  */
object MainSources {

  def files: Seq[Path] = {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the repository root: ${main.getAbsolutePath}")
    val walk = Files.walk(main.toPath)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
    finally walk.close()
  }

  /** The windows of `window` consecutive `kept` lines (trimmed), at least
    * `window - 1` of them longer than 4 characters, that appear more than
    * once in `src/main`, each with the places it occurs. A trimmed line
    * that is neither kept nor `skipped` ends a run of kept lines.
    */
  def repeatedWindows(window: Int, kept: String => Boolean,
      skipped: String => Boolean = _ => false): Map[Seq[String], Seq[String]] = {
    val at = for {
      p <- files
      run <- runs(Files.readAllLines(p).asScala.toSeq, kept, skipped)
      w <- run.sliding(window) if w.size == window && w.count(_._2.length > 4) >= window - 1
    } yield w.map(_._2) -> s"$p:${w.head._1}"
    at.groupBy(_._1).collect { case (w, hits) if hits.size > 1 => w -> hits.map(_._2) }
  }

  /** Maximal runs of kept lines, with 1-based line numbers. */
  private def runs(lines: Seq[String], kept: String => Boolean,
      skipped: String => Boolean): Seq[Seq[(Int, String)]] =
    lines.zipWithIndex.map { case (l, i) => (i + 1, l.trim) }
      .foldLeft(List(List.empty[(Int, String)])) {
        case (cur :: done, (i, t)) if kept(t) => ((i, t) :: cur) :: done
        case (acc, (_, t)) if skipped(t) => acc
        case (cur :: done, _) => Nil :: cur :: done
        case (Nil, _) => Nil
      }
      .map(_.reverse).filter(_.nonEmpty).reverse

  /** The first ten repeated windows, each with its places, for a failure
    * message.
    */
  def describe(dup: Map[Seq[String], Seq[String]]): String =
    dup.toSeq.sortBy(_._2.head).take(10).map { case (w, at) =>
      s"${at.mkString(", ")}\n  ${w.mkString("\n  ")}" }.mkString("\n")
}
