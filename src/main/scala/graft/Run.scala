package graft

import graft.exec.Pipeline

/** CLI entry for the medallion pipeline — the `dbt seed && dbt run &&
  * dbt test` lifecycle (SURVEY §3) as one command:
  *
  *   runMain graft.Run <warehouseDir> <seedDir> [--full-refresh]
  *
  * `seedDir` holds `raw_sensor_readings.csv`, `raw_devices.csv` and
  * `raw_alerts.csv` in the `Catalog` seed schemas.
  */
object Run {
  def main(args: Array[String]): Unit = {
    val paths = args.filterNot(_.startsWith("--"))
    if (paths.length != 2) {
      System.err.println("usage: graft.Run <warehouseDir> <seedDir> [--full-refresh]")
      sys.exit(2)
    }
    val (warehouseDir, seedDir) = (paths(0), paths(1))
    val fullRefresh = args.contains("--full-refresh")

    val spark = Sessions.fromEnv()

    val res = Pipeline.run(spark, warehouseDir, seedDir, fullRefresh = fullRefresh)
    val silverFail = res.silverChecks.filterNot(_.passed)
    val goldFail = res.goldChecks.filterNot(_.passed)
    println(s"[graft] silver checks: ${res.silverChecks.count(_.passed)}/${res.silverChecks.size} passed")
    silverFail.foreach(c => println(s"[graft]   FAIL ${c.model} :: ${c.test} (${c.violations} violations)"))
    if (!res.goldBuilt) println("[graft] GOLD SKIPPED — silver checks failed (gate)")
    else {
      println(s"[graft] gold checks: ${res.goldChecks.count(_.passed)}/${res.goldChecks.size} passed")
      goldFail.foreach(c => println(s"[graft]   FAIL ${c.model} :: ${c.test} (${c.violations} violations)"))
      println(s"[graft] warehouse at $warehouseDir")
    }
    spark.stop()
    if (!res.goldBuilt || !res.allPassed) sys.exit(1)
  }
}
