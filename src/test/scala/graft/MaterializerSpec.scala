package graft

import graft.exec.Materializer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaterializerSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tablePath(): String = tmpDir("graft_mat") + "/t"

  test("first upsert creates the target") {
    val path = tablePath()
    val batch = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "name", "v")
    Materializer.incrementalUpsert(batch, path, Seq("id"))
    assert(spark.read.parquet(path).count() === 2)
  }

  test("upsert replaces matched keys and appends new ones (MERGE semantics)") {
    val path = tablePath()
    Materializer.incrementalUpsert(Seq((1, "a", 10), (2, "b", 20)).toDF("id", "name", "v"), path, Seq("id"))
    Materializer.incrementalUpsert(Seq((2, "b2", 21), (3, "c", 30)).toDF("id", "name", "v"), path, Seq("id"))
    val got = spark.read.parquet(path).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got === Seq((1, "a", 10), (2, "b2", 21), (3, "c", 30)))
  }

  test("SCD2 upsert: changed keys close + reopen, unchanged keys untouched, history immutable") {
    val path = tablePath()
    val t1 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2025-02-01 00:00:00")
    val t3 = java.sql.Timestamp.valueOf("2025-03-01 00:00:00")
    Materializer.scd2Upsert(
      Seq(("D1", "plant_a", "active"), ("D2", "plant_b", "active"))
        .toDF("device_id", "location", "status"),
      path, "device_id", Seq("location", "status"), t1)
    // D1 moves plant, D2 unchanged, D3 is new
    Materializer.scd2Upsert(
      Seq(("D1", "plant_c", "active"), ("D2", "plant_b", "active"), ("D3", "plant_a", "active"))
        .toDF("device_id", "location", "status"),
      path, "device_id", Seq("location", "status"), t2)
    val rows = spark.read.parquet(path)
      .select("device_id", "location", "_valid_from", "_valid_to", "_is_current")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2), r.getTimestamp(3), r.getBoolean(4)))
      .toSet
    assert(rows === Set(
      ("D1", "plant_a", t1, t2, false),   // closed version
      ("D1", "plant_c", t2, null, true),  // reopened with the new attribute
      ("D2", "plant_b", t1, null, true),  // unchanged: original row untouched
      ("D3", "plant_a", t2, null, true))) // new key
    // idempotence: re-applying the same state adds no versions
    Materializer.scd2Upsert(
      Seq(("D1", "plant_c", "active"), ("D2", "plant_b", "active"), ("D3", "plant_a", "active"))
        .toDF("device_id", "location", "status"),
      path, "device_id", Seq("location", "status"), t3)
    assert(spark.read.parquet(path).count() === 4, "no new versions for unchanged state")
    assert(spark.read.parquet(path).filter(col("_is_current")).count() === 3)
  }

  test("upsert is idempotent: re-applying the same batch is a no-op") {
    val path = tablePath()
    val batch = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "name", "v")
    Materializer.incrementalUpsert(batch, path, Seq("id"))
    val first = spark.read.parquet(path).orderBy("id").collect().toSeq
    Materializer.incrementalUpsert(batch, path, Seq("id"))
    val second = spark.read.parquet(path).orderBy("id").collect().toSeq
    assert(first === second)
  }

  test("randomized upsert idempotence + key uniqueness (property)") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val path = tablePath()
      val batches = (1 to 3).map { _ =>
        (1 to 20).map(_ => (rnd.nextInt(10), rnd.nextInt(100))).toDF("id", "v")
          .dropDuplicates("id") // a batch has one row per key, like a MERGE source must
      }
      batches.foreach(b => Materializer.incrementalUpsert(b, path, Seq("id")))
      val t = spark.read.parquet(path)
      // key uniqueness invariant
      assert(t.groupBy("id").count().filter(col("count") > 1).count() === 0)
      // re-applying the last batch changes nothing
      val before = t.orderBy("id").collect().toSeq
      Materializer.incrementalUpsert(batches.last, path, Seq("id"))
      assert(spark.read.parquet(path).orderBy("id").collect().toSeq === before)
    }
  }

  test("schema evolution: append_new_columns null-fills old rows") {
    val path = tablePath()
    Materializer.incrementalUpsert(Seq((1, "a")).toDF("id", "name"), path, Seq("id"))
    Materializer.incrementalUpsert(
      Seq((2, "b", 99)).toDF("id", "name", "extra"), path, Seq("id"))
    val t = spark.read.parquet(path).orderBy("id").collect()
    assert(t.length === 2)
    assert(t(0).isNullAt(t(0).fieldIndex("extra")))
    assert(t(1).getInt(t(1).fieldIndex("extra")) === 99)
  }

  test("partitioned upsert only rewrites touched partitions (dynamic overwrite)") {
    val path = tablePath()
    val day1 = Seq((1, "2025-01-01", 10), (2, "2025-01-01", 20), (3, "2025-01-02", 30))
      .toDF("id", "day", "v")
    Materializer.incrementalUpsert(day1, path, Seq("id"), partitionCols = Seq("day"))
    // upsert into day 2 only; day 1 files must be untouched
    val day1Files = new java.io.File(s"$path/day=2025-01-01").listFiles().map(_.lastModified).sorted.toSeq
    Thread.sleep(1100)
    Materializer.incrementalUpsert(
      Seq((3, "2025-01-02", 31), (4, "2025-01-02", 40)).toDF("id", "day", "v"),
      path, Seq("id"), partitionCols = Seq("day"))
    val day1FilesAfter = new java.io.File(s"$path/day=2025-01-01").listFiles().map(_.lastModified).sorted.toSeq
    assert(day1Files === day1FilesAfter, "untouched partition must not be rewritten")
    val got = spark.read.parquet(path).orderBy("id")
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    assert(got === Seq((1, 10), (2, 20), (3, 31), (4, 40)))
  }

  test("partitioned upsert leaves the session's partition overwrite mode unchanged") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val path = tablePath()
      Materializer.incrementalUpsert(
        Seq((1, "2025-01-01", 10), (2, "2025-01-02", 20)).toDF("id", "day", "v"),
        path, Seq("id"), partitionCols = Seq("day"))
      Materializer.incrementalUpsert(Seq((2, "2025-01-02", 21)).toDF("id", "day", "v"),
        path, Seq("id"), partitionCols = Seq("day"))
      assert(spark.conf.get(key) === "static")
      // the upsert itself still overwrites dynamically: day 1 survives
      val got = spark.read.parquet(path).orderBy("id")
        .collect().map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
      assert(got === Seq((1, 10), (2, 21)))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("clusteredWrite: a key-filtered scan touches exactly one file") {
    val path = tablePath()
    val rnd = new scala.util.Random(7)
    val rows = (1 to 5000).map(i => (rnd.nextInt(1000), i)).toDF("k", "v")
    Materializer.clusteredWrite(rows, path, Seq("k"), numFiles = 8)
    val t = spark.read.parquet(path)
    val files = t.filter(col("k") === 77).select(input_file_name()).distinct().count()
    assert(files === 1, "range clustering must confine a key to one file")
    assert(t.count() === 5000)
  }

  test("zorderWrite: point filters on EITHER dimension skip most files; linear clustering cannot") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 20000).map(i => (rnd.nextInt(1024), rnd.nextInt(1024), i)).toDF("x", "y", "v")

    val zPath = tablePath()
    Materializer.zorderWrite(rows, zPath, Seq("x", "y"), numFiles = 16)
    val z = spark.read.parquet(zPath)
    assert(z.count() === 20000)
    val zx = z.filter(col("x") === 5).select(input_file_name()).distinct().count()
    val zy = z.filter(col("y") === 5).select(input_file_name()).distinct().count()
    assert(zx <= 8, s"z-order: x-point query hit $zx of 16 files")
    assert(zy <= 8, s"z-order: y-point query hit $zy of 16 files")

    // linear clustering on (x, y) localizes x but scatters y across all files
    val lPath = tablePath()
    Materializer.clusteredWrite(rows, lPath, Seq("x", "y"), numFiles = 16)
    val l = spark.read.parquet(lPath)
    val ly = l.filter(col("y") === 5).select(input_file_name()).distinct().count()
    assert(ly > 8, s"linear: y-point query should scatter, hit $ly of 16 files")
  }

  test("zorderWrite: a 1000x outlier does not collapse a dimension's pruning (rank scaling)") {
    // min/max scaling would squash x∈[0,1024) into bucket 0 once one row
    // has x = 1,048,576 — every x-point query would then hit every file.
    // Rank buckets are equi-depth, so the outlier occupies the top bucket
    // and the normal range keeps its full resolution.
    val rnd = new scala.util.Random(13)
    val rows = ((1 to 20000).map(i => (rnd.nextInt(1024), rnd.nextInt(1024), i))
      :+ ((1024 * 1024, 1024 * 1024, 0))).toDF("x", "y", "v")
    val path = tablePath()
    Materializer.zorderWrite(rows, path, Seq("x", "y"), numFiles = 16)
    val t = spark.read.parquet(path)
    assert(t.count() === 20001)
    val zx = t.filter(col("x") === 5).select(input_file_name()).distinct().count()
    val zy = t.filter(col("y") === 5).select(input_file_name()).distinct().count()
    assert(zx <= 8, s"outlier-skewed x-point query hit $zx of 16 files")
    assert(zy <= 8, s"outlier-skewed y-point query hit $zy of 16 files")
  }

  test("csv and jsonl exports round-trip typed rows exactly") {
    import org.apache.spark.sql.types._
    val df = Catalog.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .limit(200)
    val want = df.orderBy("event_id").collect().toSeq
    val schema = df.schema
    val base = tablePath()
    graft.exec.Materializer.export(df, s"$base/csv", "csv")
    graft.exec.Materializer.export(df, s"$base/json", "jsonl")
    val fromCsv = spark.read.schema(schema).option("header", "true")
      .csv(s"$base/csv").orderBy("event_id").collect().toSeq
    val fromJson = spark.read.schema(schema).json(s"$base/json")
      .orderBy("event_id").collect().toSeq
    assert(fromCsv === want)
    assert(fromJson === want)
    graft.exec.Materializer.export(df, s"$base/orc", "orc")
    val fromOrc = spark.read.orc(s"$base/orc").orderBy("event_id").collect().toSeq
    assert(fromOrc === want, "orc round-trip must be exact")
  }

  test("binaryFile source: opaque blobs ingest with path/length/content intact") {
    // the multimodal ingest path: raw image/audio files land as binary
    // columns (Multimodal.scala consumes exactly this shape downstream)
    val dir = tmpDir("graft_bin")
    val payloads = Seq("img1.bin" -> Array[Byte](1, 2, 3, 4),
      "img2.bin" -> Array[Byte](9, 8, 7))
    payloads.foreach { case (n, b) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, n), b)
    }
    val read = spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("length"), col("content"))
      .collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    assert(read === payloads.map { case (n, b) => (n, b.length.toLong, b.toSeq) })
  }

  test("a sink's returned schema re-reads the table as a bare read does") {
    val path = tablePath()
    def same(written: org.apache.spark.sql.types.StructType): Unit = {
      val bare = spark.read.parquet(path)
      val typed = spark.read.schema(written).parquet(path)
      assert(typed.schema === bare.schema)
      assert(typed.exceptAll(bare).isEmpty && bare.exceptAll(typed).isEmpty)
    }
    same(Materializer.incrementalUpsert(Seq((1, "a", 10)).toDF("id", "name", "v"), path, Seq("id")))
    same(Materializer.incrementalUpsert(
      Seq((2, "b", 20, 7L)).toDF("id", "name", "v", "extra"), path, Seq("id")))
    same(Materializer.overwriteTable(Seq((3, 1.5)).toDF("id", "x"), path))
  }

  test("upsertInto without a target drops the old rows (full refresh)") {
    val path = tablePath()
    Materializer.incrementalUpsert(Seq((1, "a"), (2, "b")).toDF("id", "name"), path, Seq("id"))
    Materializer.upsertInto(None, Seq((2, "b2"), (3, "c")).toDF("id", "name"), path, Seq("id"))
    val got = spark.read.parquet(path).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got === Seq((2, "b2"), (3, "c")))
  }

  test("overwriteTable swaps atomically and is re-runnable") {
    val path = tablePath()
    Materializer.overwriteTable(Seq((1, "a")).toDF("id", "v"), path)
    Materializer.overwriteTable(Seq((2, "b"), (3, "c")).toDF("id", "v"), path)
    assert(spark.read.parquet(path).count() === 2)
  }
}
