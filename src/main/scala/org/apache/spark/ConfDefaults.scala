package org.apache.spark

/** The conf defaults the engine gives the active `SparkContext`, which
  * every session then inherits; a value set explicitly always wins.
  * Lives in Spark's package because `SparkContext.getActive` and
  * `SparkContext.conf` are package-private.
  */
object ConfDefaults {

  /** Spark's codegen cache size, read once per JVM when `CodeGenerator`
    * is first initialised (Spark's own default is 100).
    */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The engine's working set of generated classes, with headroom. With
    * an unbounded cache, one `Bench` run at sf0.01 (index builds and a
    * pass of all 236 queries) compiles 4642 distinct classes and 4800
    * after a second pass; a `perfbench` run 223 (`medallion`) or 666
    * (`curation`). An LRU smaller than a pass's working set misses on
    * every class of the next pass.
    */
  val CodegenCacheEntries = 8000

  /** Reads an INT64 TIMESTAMP(NANOS) parquet column as its raw long, which
    * `graft.Catalog.table` converts for the `events` table; without it
    * Spark refuses the column.
    */
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  val Defaults: Map[String, String] = Map(
    CodegenCacheKey -> CodegenCacheEntries.toString,
    NanosAsLongKey -> "true")

  /** Sets each key of [[Defaults]] that `conf` has no value for; returns
    * the keys it set.
    */
  def applyTo(conf: SparkConf): Set[String] =
    Defaults.collect { case (k, v) if !conf.contains(k) => conf.set(k, v); k }.toSet

  /** [[applyTo]] on the active context's conf, the one a new session's
    * shared state clones.
    */
  def onActiveContext(): Set[String] =
    SparkContext.getActive.map(sc => applyTo(sc.conf)).getOrElse(Set.empty)
}
