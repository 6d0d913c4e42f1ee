package graft.operators

import org.apache.spark.sql.execution.FormattedMode

/** Plan-identity dump for registered queries (Test/runMain):
  *
  * {{{
  * sbt "Test/runMain graft.operators.PlanDump <sfDir> [query ...]"
  * }}}
  *
  * For each named query (full registry key, or its `qNN` prefix) it prints
  * the formatted physical plan with expression ids, RDD ids, lambda names,
  * object hash codes and source line numbers stripped, then the number of
  * Spark jobs run while the query is built and while its rows are
  * collected. Codegen and query-stage ids are blanked too: AQE numbers
  * independent stages in the order they finish. Two checkouts' dumps
  * diff cleanly unless a plan or a job count changed. `q244_loop` names
  * q244 forced onto the distributed label-propagation loop (the
  * registered q244 takes the driver tier on small graphs).
  *
  * `etl_run` names `EtlJob.run` on EtlJobSpec's job-floor fixture (its own
  * files, whatever `sfDir` is): the normalized plan of every query the run
  * executes (the dob collect and the two envelope writes), caught by a
  * `QueryExecutionListener` and sorted (the two envelope streams finish in
  * either order), then the run's job and EAV chunk-fetch counts.
  *
  * With no query named it prints the scan inventory instead: one
  * `MULTI <query> <table>=<n>,…` line per query that scans a parquet
  * table two or more times (the input of NoRecomputeSweepSpec's
  * allowlist).
  */
object PlanDump {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Formatted plan text with run-to-run noise removed. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")                     // expression ids
    .replaceAll("\\[\\d+\\](?= at )", "[]")         // RDD ids: Foo[12] at …
    .replaceAll("RDD\\[\\d+\\]", "RDD[]")
    .replaceAll("\\$\\$Lambda\\$?[\\w/$.@]*", "\\$\\$Lambda") // lambda classes
    .replaceAll("\\.scala:\\d+", ".scala")          // source line numbers
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("@[0-9a-f]{4,8}\\b", "@")          // object hash codes
    // whole-stage codegen and AQE query-stage ids follow the order in
    // which AQE materializes independent stages, which races run to run
    .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : ]")
    .replaceAll("(QueryStage\\nOutput [^\\n]*\\nArguments: )\\d+", "$1")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val spark = graft.GraftSession.builder("plan-dump", Some("local[4]"))
      .config("spark.sql.shuffle.partitions", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = graft.SparkEntry.queries ++ Map(
      "q244_loop" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
        graft.ops.GraphSpec.loopLabelPropagation(EntityQueries.q244Edges(s, d),
          3, true).orderBy("node")))
    try {
      if (names.isEmpty) scanInventory(spark, sfDir, graft.SparkEntry.queries)
      else names.foreach {
        case "etl_run" => etlRun(spark)
        case n =>
          val key = Some(n).filter(queries.contains)
            .orElse(graft.SparkEntry.queries.keys.find(_.startsWith(n + "_")))
            .getOrElse(sys.error(s"no registered query $n"))
          var df: org.apache.spark.sql.DataFrame = null
          val built = graft.SparkSpec.jobsIn(spark) { df = queries(key)(spark, sfDir) }
          val plan = df.queryExecution.explainString(FormattedMode)
          val run = graft.SparkSpec.jobsIn(spark) { df.collect() }
          println(s"==== $key")
          println(normalize(plan).trim)
          println(s"jobs build=$built run=$run")
      }
    } finally spark.stop()
  }

  private def etlRun(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    val dir = java.nio.file.Files.createTempDirectory("plandump-etl").toString
    val cfg = graft.etl.EtlJobSpec.floorConfig(dir)
    // warm: first-use jobs stay out of the count; jobsIn also drains the
    // listener bus, so none of the warm run's plans reaches the listener
    graft.SparkSpec.jobsIn(spark)(graft.etl.EtlJob.run(spark, cfg))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(normalize(qe.explainString(FormattedMode)).replace(dir, "<fixture>").trim)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val fetch0 = graft.sources.EavSource.chunkFetches.get
    // jobsIn drains the listener bus, so every plan has been seen after it
    val jobs = try graft.SparkSpec.jobsIn(spark)(graft.etl.EtlJob.run(spark, cfg))
      finally spark.listenerManager.unregister(listener)
    val fetches = graft.sources.EavSource.chunkFetches.get - fetch0
    println("==== etl_run")
    plans.toArray(Array.empty[String]).sorted.foreach(println)
    println(s"jobs run=$jobs chunk_fetches=$fetches")
  }

  private def scanInventory(spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame]): Unit =
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val counts = tables.flatMap { t =>
          val n = s"$t\\.parquet".r.findAllIn(plan).size
          if (n >= 2) Some(s"$t=$n") else None
        }
        if (counts.nonEmpty) println(s"MULTI $name ${counts.mkString(",")}")
      } catch { case e: Throwable => println(s"ERR $name ${e.getMessage}") }
    }
}
