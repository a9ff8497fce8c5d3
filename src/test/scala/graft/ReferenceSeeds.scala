package graft

import java.nio.file.{Files, Paths}
import org.scalactic.source
import org.scalatest.Assertions

/** The reference project's seed CSVs, kept outside this repository at
  * [[dir]]. Golden-value specs over the reference data pass `dir` to the
  * seed readers and run only where all three files are present; elsewhere
  * they are canceled, naming the missing files.
  */
object ReferenceSeeds {
  val dir = "/root/reference/seeds"

  private val files = Seq("raw_sensor_readings.csv", "raw_devices.csv", "raw_alerts.csv")

  /** Cancels the running test unless each seed file is a regular file. */
  def assumePresent()(implicit pos: source.Position): Unit = {
    val absent = files.map(Paths.get(dir, _)).filterNot(Files.isRegularFile(_))
    if (absent.nonEmpty) Assertions.cancel(s"reference seeds absent: ${absent.mkString(", ")}")
  }
}
