package graft

/** Plan audit for the named queries (every query when none is named).
  * By default it prints each formatted physical plan without running
  * the query, so scan pushdown, join strategy and codegen coverage can
  * be inspected. With `--executed` it runs each query first and prints
  * the final adaptive plan's exchange, reused-exchange and parquet-scan
  * counts and its scan/reuse lines (ReusedExchange only appears after
  * execution).
  * Run: sbt "runMain graft.ExplainAudit [--executed] q01_agg_filter ..." */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val executed = args.contains("--executed")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val named = args.toSeq.filterNot(_ == "--executed")
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (!executed) df.explain("formatted")
      else {
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        Seq("ReusedExchange", "Exchange", "Scan parquet").foreach(k =>
          println(s"$k count: " + k.r.findAllIn(p).length))
        println(p.linesIterator
          .filter(l => l.contains("Scan parquet") || l.contains("ReusedExchange"))
          .take(20).mkString("\n"))
      }
    }
    spark.stop()
  }
}
