package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one JVM for tests). */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.local(4)
}
