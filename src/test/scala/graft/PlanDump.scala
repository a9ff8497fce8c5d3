package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes each `SparkEntry.allQ` query's optimized logical plan to
  * `<out>/<query>.txt` with the parts that vary from run to run blanked —
  * expression ids (`#123`), derived-store roots (`graft_<name>_<key>`),
  * lambda variable numbers (`x_148`, a JVM-wide counter) and JVM object
  * identities (`$Lambda$4780/0x…@704c3ca2`) — so the plans of two
  * checkouts can be diffed as text:
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump /path/to/sf0.001 /tmp/plans"
  * diff -r /tmp/plans_before /tmp/plans
  * }}}
  *
  * Give both runs the same `SPARK_GRAFT_CPUS` (it sets the session's
  * shuffle partitions). Building a query runs its store builds, as
  * `Verify` does.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <sfDir> <outDir>")
    val Array(sfDir, out) = args
    Files.createDirectories(Paths.get(out))
    val spark = Sessions.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4))
    try SparkEntry.allQ.foreach { q =>
      val text =
        try q.fn(spark, sfDir).queryExecution.optimizedPlan.toString
        catch { case e: Exception => s"failed: $e" }
      val blanked = text.replaceAll("#\\d+", "#")
        .replaceAll("graft_([A-Za-z0-9_]+?)_[0-9a-f]{12}(?![0-9a-f])", "graft_$1_<key>")
        .replaceAll("lambda (\\w+?)_\\d+", "lambda $1_")
        .replaceAll("\\$Lambda\\$?\\d*/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda")
        .replaceAll("@[0-9a-f]{5,8}\\b", "@")
      Files.write(Paths.get(out, s"${q.name}.txt"), blanked.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
