package graft.exec

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class DerivedStoreSpec extends AnyFunSuite {

  private val tmp = new File(sys.props("java.io.tmpdir"))

  /** A fresh source dir holding `t.parquet`, and a store name no other
    * test uses; the roots made under that name are deleted afterwards.
    */
  private def withSource(body: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("derived_store_src").toFile
    val name = s"spec_${java.util.UUID.randomUUID().toString.take(8)}"
    Files.write(new File(dir, "t.parquet").toPath, "a".getBytes("UTF-8"))
    try body(dir.getPath, name)
    finally (dir +: entries(name)).foreach(graft.streaming.StoreCompaction.deleteRecursively)
  }

  private def entries(name: String): Seq[File] =
    Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"graft_${name}_"))

  private def staging(name: String): Seq[File] = entries(name).filter(_.getName.contains(".staging"))

  test("a second call returns the same root and does not build") {
    withSource { (dir, name) =>
      var builds = 0
      def get() = DerivedStore.cached(name, dir, "t") { root =>
        builds += 1
        Files.write(new File(root, "v").toPath, "1".getBytes("UTF-8"))
      }
      val first = get()
      assert(new File(first).getParentFile.toPath == tmp.toPath &&
        new File(first).getName.startsWith(s"graft_${name}_"))
      assert(new File(first, "v").isFile)
      assert(get() == first)
      assert(builds == 1)
      assert(staging(name).isEmpty)
    }
  }

  test("rewriting the source table gives a new root") {
    withSource { (dir, name) =>
      val before = DerivedStore.cached(name, dir, "t")(_ => ())
      Files.write(new File(dir, "t.parquet").toPath, "bb".getBytes("UTF-8"))
      val after = DerivedStore.cached(name, dir, "t")(_ => ())
      assert(after != before)
      assert(new File(before).isDirectory && new File(after).isDirectory)
    }
  }

  test("the key follows the code fingerprint, the name and the source dir") {
    withSource { (dir, name) =>
      val k = DerivedStore.key(name, dir, "t", "code-a")
      assert(DerivedStore.key(name, dir, "t", "code-a") == k)
      assert(DerivedStore.key(name, dir, "t", "code-b") != k)
      assert(DerivedStore.key(name + "x", dir, "t", "code-a") != k)
      assert(DerivedStore.key(name, dir + "/", "t", "code-a") != k)
      assert(DerivedStore.codeFingerprint.matches("[0-9a-f]{32}"))
    }
  }

  test("a build that throws leaves no root and no staging dir, and the next call builds") {
    withSource { (dir, name) =>
      val e = intercept[IllegalStateException] {
        DerivedStore.cached(name, dir, "t") { root =>
          Files.write(new File(root, "partial").toPath, Array[Byte](1))
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(entries(name).isEmpty, entries(name))
      var built = false
      val root = DerivedStore.cached(name, dir, "t") { _ => built = true }
      assert(built && new File(root).isDirectory && !new File(root, "partial").exists())
    }
  }

  test("two builders racing on one key build apart and both get the one committed root") {
    withSource { (dir, name) =>
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val start = new CountDownLatch(1)
      try {
        val racers = (1 to 2).map { i =>
          Future {
            start.await()
            DerivedStore.cached(name, dir, "t") { root =>
              Files.write(new File(root, s"builder_$i").toPath, Array[Byte]())
              Thread.sleep(300)
            }
          }
        }
        start.countDown()
        val roots = racers.map(Await.result(_, 30.seconds))
        assert(roots.distinct.size == 1)
        assert(entries(name).map(_.getPath) == Seq(roots.head))
        assert(staging(name).isEmpty)
        // each builder had a private dir: the root holds the winner's file only
        assert(new File(roots.head).list().count(_.startsWith("builder_")) == 1)
      } finally {
        pool.shutdown()
        pool.awaitTermination(10, TimeUnit.SECONDS)
      }
    }
  }

  test("no main code but DerivedStore names the temp dir or a store commit marker") {
    val banned = Seq("java.io.tmpdir", "_STORE_COMMITTED", "_STORES_COMMITTED",
      "_ARTIFACT_COMMITTED", "_INDEX_COMMITTED")
    import scala.jdk.CollectionConverters._
    val hits = graft.MainSources.files
      .filter(_.getFileName.toString != "DerivedStore.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) => s"$p:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty,
      s"cache a derived store through DerivedStore.cached:\n${hits.mkString("\n")}")
  }
}
