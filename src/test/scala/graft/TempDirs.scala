package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.streaming.StoreCompaction
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs that live as long as their suite: `tmpDir(prefix)` creates
  * one, and every dir made so is deleted recursively after the suite.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[File]()

  protected def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.getPath
  }

  override protected def afterAll(): Unit =
    try made.forEach(d => StoreCompaction.deleteRecursively(d)) finally super.afterAll()
}
