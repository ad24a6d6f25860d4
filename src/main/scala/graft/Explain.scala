package graft

/** Dev tool: dump formatted physical plans for the declared queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val run = args.contains("--run") // execute first, dump the FINAL (AQE) plan
    val names = {
      val n = args.toSeq.filterNot(_ == "--run")
      if (n.nonEmpty) n else Seq("space_scan_index_limit")
    }
    val spark = engine.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      val df = Queries.queries(n)(spark,
        sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_DIR", "/root/testdata/sf0.01"))
      if (run) {
        df.collect(): Unit
        println(df.queryExecution.executedPlan.toString)
      } else
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
