package org.apache.spark

/** Gives Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
  * read once per JVM when `CodeGenerator` is first initialised) the
  * engine's default size. Lives in Spark's package because
  * `SparkContext.getActive` and `SparkContext.conf` are package-private.
  */
object CodegenCacheDefault {
  val Key = "spark.sql.codegen.cache.maxEntries"

  /** The engine's working set of generated classes, with headroom. With
    * an unbounded cache, one `Bench` run at sf0.01 (index builds and a
    * pass of all 236 queries) compiles 4642 distinct classes and 4800
    * after a second pass; a `perfbench` run 223 (`medallion`) or 666
    * (`curation`). An LRU smaller than a pass's working set misses on
    * every class of the next pass.
    */
  val Entries = 8000

  /** Sets [[Key]] to [[Entries]] unless `conf` has a value; true when it
    * did. A value set explicitly always wins.
    */
  def defaultIfUnset(conf: SparkConf): Boolean =
    !conf.contains(Key) && { conf.set(Key, Entries.toString); true }

  /** [[defaultIfUnset]] on the active context's conf, the one a new
    * session's shared state clones.
    */
  def onActiveContext(): Boolean = SparkContext.getActive.exists(sc => defaultIfUnset(sc.conf))
}
