package graft.tools

/** Dev tool: run catalog queries and print each one's post-execution
  * physical plan (`runMain graft.tools.PlanDump <query> [<query> ...]
  * [sfDir]`; sfDir defaults to the sf0.001 test data) — the view
  * PlanQualitySpec asserts against, for iterating on plan pins
  * without a test-cycle round trip. With several queries each plan
  * follows a `========== <query> ==========` header. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // fail fast BEFORE paying session startup: no args → usage; a
    // typo'd name → the valid names, not a bare map-lookup error
    if (args.isEmpty) {
      System.err.println("usage: PlanDump <query> [<query> ...] [sfDir]")
      sys.exit(2)
    }
    val queries = graft.api.QueryCatalog.queries
    val (names, dir) =
      if (args.length > 1 && new java.io.File(args.last).isDirectory)
        (args.init.toSeq, args.last)
      else (args.toSeq, "/root/testdata/sf0.001")
    names.filterNot(queries.contains).foreach { n =>
      System.err.println(s"unknown query '$n'; valid names:\n  " +
        queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      if (names.size > 1) println(s"\n========== $n ==========")
      val df = queries(n)(spark, dir)
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
