package graft.exec

import java.io.{File, IOException}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.jar.JarFile
import scala.jdk.CollectionConverters._

import graft.streaming.StoreCompaction

/** The one way to cache a derived store: an artifact that queries build
  * from a source table once and then reuse (index stores, sketch
  * registers, forget and amendment fixtures).
  *
  * '''Key.''' A store lives at `${java.io.tmpdir}/graft_<name>_<key>`,
  * where `key` is the MD5 of `name`, `dir`, the `lastModified` and
  * `length` of `$dir/$table.parquet`, and [[codeFingerprint]], a digest of
  * every compiled `graft` class. A rewritten source table or any change to
  * the code gives a new root, so a stale store is never served after its
  * builder changes. Parameters that change what a store holds go into
  * `name`.
  *
  * '''Commit.''' If the root exists it is returned as it is. Otherwise
  * `build` writes into a fresh sibling staging dir, which is then renamed
  * onto the root atomically. A partial build is never visible: a `build`
  * that throws leaves only its staging dir, which is deleted. When two
  * builders race on one key, both build privately, the first rename wins
  * and the loser deletes its copy and returns the winner's root. Because
  * the staging dir is renamed, a build must not record absolute paths
  * under it in the data it writes (erasure certificates name their
  * stores relative to the marker root for this reason).
  *
  * Stores mutated after the build (leases, tombstones and the forget
  * markers of `Forget`, `Amend` and `StoreCompaction`) keep their own
  * protocols; this module only decides when a store is built.
  */
object DerivedStore {

  def cached(name: String, dir: String, table: String)(build: String => Unit): String = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val root = tmp.resolve(s"graft_${name}_${key(name, dir, table, codeFingerprint)}")
    if (!Files.isDirectory(root)) {
      val staging = Files.createTempDirectory(tmp, s"${root.getFileName}.staging")
      try {
        build(staging.toString)
        try Files.move(staging, root, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: IOException if Files.isDirectory(root) => () } // another builder won
      } finally StoreCompaction.deleteRecursively(staging.toFile)
    }
    root.toString
  }

  private[exec] def key(name: String, dir: String, table: String, code: String): String = {
    val src = new File(dir, s"$table.parquet")
    hex(MessageDigest.getInstance("MD5")
      .digest(s"$name:$dir:${src.lastModified}:${src.length}:$code".getBytes("UTF-8"))).take(12)
  }

  /** MD5 over the name and bytes of every `graft/` class file under this
    * module's own code source (a classes directory or a jar), in name
    * order.
    */
  private[exec] lazy val codeFingerprint: String = {
    val source = Option(getClass.getProtectionDomain.getCodeSource).map(_.getLocation)
      .getOrElse(throw new IllegalStateException(
        "DerivedStore has no code source, so derived stores cannot be keyed by code"))
    val path = Paths.get(source.toURI)
    val md = MessageDigest.getInstance("MD5")
    def add(name: String, bytes: Array[Byte]): Unit = {
      md.update(name.getBytes("UTF-8")); md.update(bytes)
    }
    if (Files.isDirectory(path)) {
      val walk = Files.walk(path.resolve("graft"))
      try walk.iterator.asScala
        .map(p => path.relativize(p).toString.replace(File.separatorChar, '/') -> p)
        .filter(_._1.endsWith(".class")).toList.sortBy(_._1)
        .foreach { case (n, p) => add(n, Files.readAllBytes(p)) }
      finally walk.close()
    } else {
      val jar = new JarFile(path.toFile)
      try jar.entries.asScala
        .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
        .toList.sortBy(_.getName)
        .foreach(e => add(e.getName, jar.getInputStream(e).readAllBytes()))
      finally jar.close()
    }
    hex(md.digest())
  }

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString
}
