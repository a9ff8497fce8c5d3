package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.util.control.NonFatal

/** The benchmark's JVM side: one workload, one closed-loop client, one
  * result file. `run.py` prepares inputs and private directories, starts
  * this main and prints the result line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --data <tables dir> --work <private dir> --result <json file>
  *     [--expected <checksums json>] [--trace-out <jsonl file>]
  *
  * Timeline of a run: session, the workload's setup, then passes over the
  * workload's ops until `--seconds` have elapsed (at least one pass).
  * `--trace 1` reports per-layer metrics of the timed passes instead of
  * the end-to-end ones.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: File, work: File, result: File, expected: Option[File],
      traceOut: Option[File])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("data")), new File(need("work")), new File(need("result")),
      kv.get("expected").map(new File(_)), kv.get("trace-out").map(new File(_)))
  }

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private implicit val formats: Formats = DefaultFormats

  /** Maps, sequences, strings, numbers and booleans as one line of JSON. */
  def json(v: AnyRef): String = Serialization.write(v)

  /** The recorded checksums, `{"<query>": [xor, rows], ...}`. */
  def checksums(text: String): Map[String, (Long, Long)] =
    JsonMethods.parse(text).extract[Map[String, List[Long]]].map {
      case (q, List(x, n)) => q -> (x, n)
      case (q, other) => throw new IllegalArgumentException(s"checksum of $q: $other")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(a.work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      val expected = a.expected.filter(_.isFile)
        .map(f => checksums(new String(Files.readAllBytes(f.toPath), "UTF-8")))
        .getOrElse(Map.empty)
      val wl: Workload = a.workload match {
        case "curation" => Workloads.curation(spark, a.data.getPath, expected)
        case "medallion" => new Medallion(spark, new File(a.work, "medallion"), a.seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val out = new Runner(spark, tracer, wl, a, cores, sessionS).run()
      Files.write(a.result.toPath, json(out).getBytes("UTF-8"))
    } finally spark.stop()
  }
}

/** Times the ops of a workload, phase by phase, and keeps every span in
  * memory until the run ends.
  */
final class Recorder {
  case class Span(id: Int, parent: Int, kind: String, name: String, start: Long,
      var end: Long = 0L, var ok: Boolean = true, var error: String = "") {
    def secs: Double = (end - start) / 1e9
  }
  val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var attempted = 0
  var failed = 0
  var counting = false

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), kind, name, System.nanoTime())
    spans += s
    stack = s.id :: stack
    try body
    catch { case e: Throwable => s.ok = false; s.error = e.toString; throw e }
    finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  /** One op. A non-fatal failure is logged and counted and the op is
    * marked failed, so it never enters the latency figures.
    */
  def op(name: String)(body: => Unit): Span = {
    if (counting) attempted += 1
    try span("op", name)(body)
    catch {
      case NonFatal(e) =>
        if (counting) failed += 1
        System.err.println(s"[perfbench] op $name failed: $e")
    }
    val s = spans.findLast(s => s.kind == "op" && s.name == name).get
    System.err.println(f"[perfbench] op $name ${s.secs}%.3fs")
    s
  }

  def phase[T](name: String)(body: => T): T = span("phase", name)(body)
}

/** A workload: a setup, a fixed sequence of ops per pass, and its own
  * correctness verdict.
  */
trait Workload {
  def name: String
  /** Whether another pass can run. */
  def more: Boolean = true
  /** Bytes of input one pass consumes. */
  def inputBytes: Long
  /** Ops whose latency is sampled for op_p50_s. */
  def sampled(op: String): Boolean = true
  /** Everything before the first timed pass: derived stores and warm-up. */
  def setup(rec: Recorder): Unit
  def pass(p: Int, rec: Recorder): Unit
  /** Problems found so far (wrong outputs, failed gates). */
  val problems = scala.collection.mutable.ArrayBuffer[String]()
  /** Bytes the workload keeps on disk at the end of a pass. */
  def storedBytes: Long
  /** Per-layer figures only the workload knows, per pass. */
  def layerMetrics(passes: Int): Map[String, Double] = Map.empty
}
