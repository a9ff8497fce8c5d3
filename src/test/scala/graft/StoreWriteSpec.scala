package graft

import java.io.File
import java.nio.file.Files
import graft.streaming.StoreCompaction
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Store markers and manifests are written through
  * `StoreCompaction.writeAtomic`: a tmp sibling renamed onto the target.
  */
class StoreWriteSpec extends AnyFunSuite with TempDirs {

  private def read(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")

  test("overwriting a marker replaces its content and leaves no tmp file") {
    val store = tmpDir("store_write")
    StoreCompaction.registerPin(store, "r1", 3L)
    StoreCompaction.registerPin(store, "r1", 7L)
    assert(StoreCompaction.livePins(store) == Map("r1" -> 7L))
    StoreCompaction.declareReplayDepth(store, 2)
    StoreCompaction.declareReplayDepth(store, 5)
    assert(StoreCompaction.replayDepthOf(store).contains(5))
    val left = Files.walk(new File(store).toPath).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".tmp")).toList
    assert(left.isEmpty, left)
  }

  test("a stale tmp file from a crashed write is ignored by readers and overwritten") {
    val store = tmpDir("store_write")
    val pins = new File(store, "_pins")
    pins.mkdirs()
    // a crash inside the tmp write: an empty (or truncated) tmp file
    val stalePin = new File(pins, ".r1.tmp")
    Files.write(stalePin.toPath, Array.emptyByteArray)
    val staleDepth = new File(store, "._replay_depth.tmp")
    Files.write(staleDepth.toPath, "9".getBytes("UTF-8"))
    assert(StoreCompaction.livePins(store).isEmpty)
    assert(StoreCompaction.replayDepthOf(store).isEmpty)
    StoreCompaction.registerPin(store, "r1", 4L)
    assert(StoreCompaction.livePins(store) == Map("r1" -> 4L))
    assert(!stalePin.exists())
    StoreCompaction.declareReplayDepth(store, 1)
    assert(StoreCompaction.replayDepthOf(store).contains(1) && !staleDepth.exists())
    val marker = new File(store, "m")
    Files.write(new File(store, ".m.tmp").toPath, "old".getBytes("UTF-8"))
    StoreCompaction.writeAtomic(marker, "new")
    assert(read(marker) == "new" && !new File(store, ".m.tmp").exists())
  }

  test("streaming code writes files only through writeAtomic") {
    val dir = new File("src/main/scala/graft/streaming")
    assert(dir.isDirectory, s"run from the repository root: ${dir.getAbsolutePath}")
    val lines = dir.listFiles().toSeq.filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap(f => Files.readAllLines(f.toPath).asScala.zipWithIndex.map { case (l, i) => (f.getName, i + 1, l) })
    val helper = lines.collectFirst { case (f, i, l) if l.contains("def writeAtomic(") => (f, i) }
    val hits = lines.collect {
      case (f, i, l) if l.contains("Files.write(") && !helper.exists(h => h._1 == f && i - h._2 <= 2 && i > h._2) =>
        s"$f:$i: ${l.trim}"
    }
    assert(helper.nonEmpty, "StoreCompaction.writeAtomic is gone")
    assert(hits.isEmpty, s"write store files with StoreCompaction.writeAtomic:\n${hits.mkString("\n")}")
  }
}
