package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Collects Spark job and stage metrics for the benchmark's own session.
  *
  * Untraced, it keeps only the per-stage byte counters that the
  * end-to-end `bytes_written_per_input_byte` needs. With `detail` on, it
  * also records every job with its call site: the innermost `graft.*`
  * frame of the job's stack, taken from the SQL execution that launched it
  * when there is one (so AQE, broadcast and subquery jobs started on other
  * threads land on their execution's call site) and from the job's result
  * stage otherwise.
  *
  * Listener calls arrive on Spark's listener thread; readers call
  * [[drain]] first and then read under the same lock. [[busy]] is the time
  * spent inside the callbacks, the tracer's own cost.
  */
final class Tracer extends SparkListener {
  @volatile var detail = false
  private var busyNs = 0L
  def busy: Long = synchronized(busyNs)

  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    busyNs += System.nanoTime() - t
  }

  case class Job(id: Int, start: Long, site: Option[String], dag: Boolean) {
    var end: Long = start
    def secs: Double = (end - start) / 1000.0
  }

  case class StageRun(job: Option[Int], end: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long, inBytes: Long, inRecords: Long, outBytes: Long) {
    def written: Long = shuffleWrite + spill + outBytes
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.ArrayBuffer[StageRun]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execDetails = mutable.Map[Long, String]()

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.BusDrain(spark.sparkContext)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if detail => timed {
      execDetails(s.executionId) = s.details
    }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (detail) timed {
    val fromExec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execDetails.get(id.toLong))
    val fromStage = j.stageInfos.sortBy(_.stageId).lastOption.map(_.details)
    val stack = (fromExec.toSeq ++ fromStage).find(Tracer.site(_).isDefined)
      .orElse(fromExec).orElse(fromStage).getOrElse("")
    jobs(j.jobId) = Job(j.jobId, j.time, Tracer.site(stack), Tracer.inDag(stack))
    j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.jobId))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = if (detail) timed {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = timed {
    val i = s.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRun(stageJob.get(i.stageId),
      i.completionTime.getOrElse(System.currentTimeMillis()), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten)
  }
}

object Tracer {
  private val Frame = """(?:^|[\s/])(graft\.[A-Za-z0-9_$.]+)\(""".r

  /** The module of the innermost `graft.*` frame in a call-site stack, as
    * `ops.Dedup`, `Catalog`, `exec.Materializer`; every `graft.streaming`
    * object reports as `streaming`.
    */
  def site(stack: String): Option[String] =
    stack.linesIterator.flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1))).nextOption()
      .map { cls =>
        val parts = cls.split('.').toList.drop(1)
        val (pkgs, rest) = parts.span(p => p.nonEmpty && p.head.isLower)
        val obj = rest.headOption.map(_.takeWhile(_ != '$')).getOrElse("")
        if (pkgs.headOption.contains("streaming")) "streaming" else (pkgs :+ obj).mkString(".")
      }

  /** Whether the job ran inside a node of `exec.Pipeline.runDag`. */
  def inDag(stack: String): Boolean = stack.contains("graft.exec.Pipeline$DagNode.run")
}
