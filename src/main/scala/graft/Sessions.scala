package graft

import org.apache.spark.sql.SparkSession

/** The one way this engine builds a session: `local[cpus]` with `cpus`
  * shuffle partitions, the UTC session time zone, no UI, WARN logging and
  * [[GraftExtensions]], so every kernel resolves in it and in each
  * `newSession()` of it, and Spark's generated-class cache gets the size the
  * extension defaults it to, unless one is set explicitly.
  */
object Sessions {
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `local` sized by `SPARK_GRAFT_CPUS` (default 4), as the mains run. */
  def fromEnv(): SparkSession = local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
}
