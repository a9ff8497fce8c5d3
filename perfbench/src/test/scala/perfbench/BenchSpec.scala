package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import graft.queries.Q
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val temps = scala.collection.mutable.ArrayBuffer[File]()
  private def tempDir(): File = {
    val d = Files.createTempDirectory("perfbench-spec").toFile
    temps += d
    d
  }

  override def afterAll(): Unit = temps.foreach(Workloads.deleteTree)

  private def filesUnder(root: File): Map[String, Seq[Byte]] = {
    val base = root.toPath
    Files.walk(base).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("the IoT generator is byte-identical for the same seed") {
    val spec = IotSeeds.Spec(devices = 5, batches = 2)
    val a = tempDir(); val b = tempDir(); val c = tempDir()
    IotSeeds.write(a, 7, spec); IotSeeds.write(b, 7, spec); IotSeeds.write(c, 8, spec)
    assert(filesUnder(a).keySet.size == 9)
    assert(filesUnder(a) == filesUnder(b))
    assert(filesUnder(a) != filesUnder(c))
  }

  test("incremental batches then a full refresh over the same inputs give equal tables") {
    val spec = IotSeeds.Spec(devices = 6, batches = 3)
    val root = tempDir()
    val batches = IotSeeds.write(new File(root, "seeds"), 11, spec)
    val csv = new String(Files.readAllBytes(new File(batches.last, "raw_sensor_readings.csv").toPath))
    // The dirty-row mix is present: null values and re-ingested readings.
    assert(csv.linesIterator.exists(_.contains(",,")))
    def run(wh: File, k: Int, full: Boolean) = graft.exec.Pipeline.run(spark, wh.getPath,
      batches(k).getPath, IotSeeds.config(k), fullRefresh = full, threads = 2)
    val inc = new File(root, "incremental")
    batches.indices.foreach { k =>
      val r = run(inc, k, full = k == 0)
      assert(r.goldBuilt && r.allPassed, s"batch $k failed its checks")
    }
    val full = new File(root, "full")
    assert(run(full, batches.size - 1, full = true).allPassed)
    val all = Medallion.Silver ++ Medallion.Gold
    val got = Medallion.tables(spark, inc, all)
    assert(got == Medallion.tables(spark, full, all))
    // Re-ingestion replaced rows rather than appending them.
    assert(got("silver/int_sensor_readings_cleaned")._2 ==
      csv.linesIterator.size - 1)
  }

  test("the checksum file is read as (xor, rows) per query") {
    assert(Main.checksums("""{"q1_a": [-5216540067670206853, 4], "q2_b": [7, 0]}""") ==
      Map("q1_a" -> (-5216540067670206853L, 4L), "q2_b" -> (7L, 0L)))
  }

  test("the checksum gate accepts the recorded output and rejects a perturbed one") {
    import spark.implicits._
    val good = Q.noOracle("q1_fixture")((s, _) => Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val bad = Q.noOracle("q1_fixture")((s, _) => Seq((1L, "a"), (2L, "c")).toDF("k", "v"))
    val want = Workloads.checksum(good.fn(spark, ""))
    val rec = new Recorder
    val ok = new Queries("t", spark, tempDir().getPath, Seq(good), Map("q1_fixture" -> want))
    ok.pass(1, rec)
    assert(ok.problems.isEmpty)
    val wrong = new Queries("t", spark, tempDir().getPath, Seq(bad), Map("q1_fixture" -> want))
    wrong.pass(1, rec)
    assert(wrong.problems.exists(_.contains("q1_fixture checksum")))
    // Duplicate rows cancel in an XOR fold; the row count still tells them apart.
    val dup = Q.noOracle("q1_fixture")((s, _) =>
      Seq((1L, "a"), (2L, "b"), (2L, "b"), (2L, "b")).toDF("k", "v"))
    assert(Workloads.checksum(dup.fn(spark, "")) != want)
  }

  test("a throwing op is counted as failed and never timed") {
    val wl = new Workload {
      val name = "fixture"
      def inputBytes = 1L
      def setup(rec: Recorder): Unit = ()
      def pass(p: Int, rec: Recorder): Unit = {
        rec.op("fast")(Thread.sleep(5))
        rec.op("throws") { Thread.sleep(200); throw new IllegalStateException("boom") }
      }
      def storedBytes = 0L
    }
    val work = tempDir()
    val args = Main.Args("fixture", 1, 0.0, trace = false, work, work, new File(work, "r.json"),
      None, None)
    val tmp = sys.props("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", work.getPath)
    val out = try new Runner(spark, new Tracer, wl, args, 2, 0.0).run()
      finally System.setProperty("java.io.tmpdir", tmp)
    assert(out("attempted") == 2 && out("failed") == 1)
    assert(out("correct") == false)
    // Neither the op's latency nor the pass time includes the failed op.
    val m = out("metrics").asInstanceOf[Map[String, Map[String, Any]]]
    assert(m("op_p50_s")("value").asInstanceOf[Double] < 0.15)
    assert(m("pass_s")("value").asInstanceOf[Double] < 0.15)
    // Only non-fatal errors are absorbed.
    val rec = new Recorder
    intercept[StackOverflowError](rec.op("fatal")(throw new StackOverflowError()))
  }

  test("jobs are attributed to the innermost graft frame of their call site") {
    val stack = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "app//graft.Catalog$.spread(Catalog.scala:70)",
      "graft.ops.Dedup$.$anonfun$q190$1(Dedup.scala:900)",
      "perfbench.Queries.pass(Workloads.scala:80)").mkString("\n")
    assert(Tracer.site(stack).contains("Catalog"))
    assert(Tracer.site(stack.linesIterator.drop(2).mkString("\n")).contains("ops.Dedup"))
    assert(Tracer.site("graft.streaming.LshStream$.fold(LshStream.scala:3)").contains("streaming"))
    assert(Tracer.site("perfbench.Queries.pass(Workloads.scala:80)").isEmpty)
    assert(Tracer.inDag("graft.exec.Pipeline$DagNode.run(Pipeline.scala:31)"))
  }
}
