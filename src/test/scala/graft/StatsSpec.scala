package graft

import org.scalatest.funsuite.AnyFunSuite

/** ANALYZE TABLE / CBO surface (SURVEY §4): table and column statistics
  * feed Catalyst's cost-based join planning; at 100 TB they are what let
  * the optimizer pick broadcast vs shuffle and reorder joins correctly.
  */
class StatsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("ANALYZE TABLE computes row and column statistics the optimizer can see") {
    val dir = tmpDir("graft_stats")
    spark.sql("DROP TABLE IF EXISTS stats_nation")
    val p = new org.apache.hadoop.fs.Path("spark-warehouse/stats_nation")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    Catalog.table(spark, "/root/testdata/sf0.001", "nation")
      .write.mode("overwrite").saveAsTable("stats_nation")
    spark.sql("ANALYZE TABLE stats_nation COMPUTE STATISTICS FOR ALL COLUMNS")
    // row/column stats only reach plan costing with CBO on (off by default)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val stats = spark.table("stats_nation").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(25)), s"row count stat missing: $stats")
    val colStats = stats.attributeStats.map { case (a, s) => a.name -> s }
    assert(colStats.get("n_nationkey").exists(_.distinctCount.contains(BigInt(25))),
      s"column NDV stat missing: $colStats")
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS stats_nation")
  }

  test("CBO join reorder: ANALYZE stats demonstrably change the join order") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val tables = Seq("lineitem", "orders", "customer")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS stats_$t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/stats_$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Catalog.table(spark, "/root/testdata/sf0.001", t)
        .write.mode("overwrite").saveAsTable(s"stats_$t")
      spark.sql(s"ANALYZE TABLE stats_$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    // written in a deliberately bad syntactic order: the 6k-row lineitem
    // joins 1.5k orders FIRST, and the selective customer filter (~1/5 of
    // 150 rows) is applied last
    val sql =
      """SELECT count(*) AS n
        |FROM stats_lineitem l
        |JOIN stats_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN stats_customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin
    def innermostJoinLeaves(): String = {
      val joins = spark.sql(sql).queryExecution.optimizedPlan.collect { case j: Join => j }
      joins.last.collectLeaves().map(_.toString).mkString("\n") // pre-order: last = deepest
    }
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    val ruleBased = innermostJoinLeaves()
    assert(ruleBased.contains("stats_lineitem") && ruleBased.contains("stats_orders"),
      s"without CBO the syntactic order must hold:\n$ruleBased")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val costBased = innermostJoinLeaves()
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    // with row/NDV stats the optimizer builds the small filtered
    // orders⋈customer side first and joins the big fact last
    assert(costBased.contains("stats_customer"),
      s"stats-driven reorder must join the selective dimension first:\n$costBased")
    assert(costBased != ruleBased, "ANALYZE stats must change the join order")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS stats_$t"))
  }
}
