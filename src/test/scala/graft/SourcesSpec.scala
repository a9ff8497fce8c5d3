package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source-format round trips: the same tables landed as ORC / JSON lines
  * / CSV read back through `Catalog.tableFrom` with the enforced schema
  * must be row-identical to the parquet source of truth — including
  * timestamps (ISO-8601 round trip) and float arrays (ORC/JSON).
  */
class SourcesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String = tmpDir(prefix) + "/t"

  private def roundTrip(src: DataFrame, format: String): DataFrame = {
    val dir = tmp(s"graft-src-$format")
    src.write.format(format).option("header", "true")
      .option("timestampFormat", Catalog.TextTimestampFormat).save(dir)
    Catalog.tableFrom(spark, dir, format, src.schema)
  }

  private def rows(df: DataFrame, key: String): Seq[String] =
    df.orderBy(key).collect().map(_.toString).toSeq

  test("documents round-trips through orc, json, and csv byte-identically") {
    val src = Catalog.table(spark, sf, "documents")
    val expect = rows(src, "doc_id")
    Seq("orc", "json", "csv").foreach { f =>
      assert(rows(roundTrip(src, f), "doc_id") === expect, s"format $f")
    }
  }

  test("events (timestamps) round-trips through orc, json, and csv byte-identically") {
    val src = Catalog.table(spark, sf, "events")
    val expect = rows(src, "event_id")
    Seq("orc", "json", "csv").foreach { f =>
      assert(rows(roundTrip(src, f), "event_id") === expect, s"format $f")
    }
  }

  test("embeddings (float arrays) round-trips through orc and json; csv refuses arrays") {
    val src = Catalog.table(spark, sf, "embeddings")
    val expect = rows(src, "vec_id")
    Seq("orc", "json").foreach { f =>
      assert(rows(roundTrip(src, f), "vec_id") === expect, s"format $f")
    }
    // CSV cannot carry the array column — refused loudly at write time,
    // never silently stringified
    intercept[org.apache.spark.sql.AnalysisException] {
      src.write.format("csv").save(tmp("graft-src-csvarr"))
    }
  }

  test("a JSON-lines landing streams through a sink identically to parquet landings") {
    import graft.streaming.{CorpusStream, OrderStream}
    val landing = tmp("graft-src-stream-landing")
    new java.io.File(landing).mkdirs()
    val deltas = tmp("graft-src-stream-art") + "/deltas"
    val checkpoint = tmp("graft-src-stream-ckpt")
    val docs = Catalog.table(spark, sf, "documents")
    val mid = 250L
    // two JSON-lines chunk files land; the sink drains after each
    Seq(docs.filter(col("doc_id") < mid) -> "c1",
        docs.filter(col("doc_id") >= mid) -> "c2").foreach { case (chunk, name) =>
      val stage = tmp(s"graft-src-stream-$name")
      chunk.coalesce(1).write.format("json").save(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".json")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"$name.json"))
      OrderStream.curriculumStore(deltas).sink(CorpusStream.readDocStreamJson(spark, landing),
        checkpoint).awaitTermination()
    }
    // the manifest served off the JSON-landed store equals batch q151
    // over the parquet source — the landing format must be invisible
    val got = OrderStream.manifestFromDeltas(spark, deltas).collect()
      .map(_.toString).toSeq
    val expect = ops.Mining.q151.fn(spark, sf).collect().map(_.toString).toSeq
    assert(got === expect)
  }

  test("a format-landed source feeds an oracled query identically to parquet") {
    // the whole point of the enforced schema: downstream plans must not
    // notice the landing format — q50's text stats off a JSON landing
    // equal the parquet run row-for-row
    val dir = tmp("graft-src-q50")
    Catalog.table(spark, sf, "documents").write.format("json").save(dir)
    val viaJson = Catalog.tableFrom(spark, dir, "json",
      Catalog.table(spark, sf, "documents").schema)
    viaJson.createOrReplaceTempView("documents_json")
    val a = ops.TextOps.q50.fn(spark, sf).collect().map(_.toString).toSeq
    // rebind q50's input by swapping the table read — the op itself is a
    // pure function of the frame, so run its projection on the JSON frame
    val b = ops.TextOps.textStats(viaJson).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(a === b)
  }
}
