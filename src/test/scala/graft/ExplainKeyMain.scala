package graft

/** Dev probe: print the plans of registry keys over a given sf dir.
  * Runs each key once so AQE finalizes, then prints
  * either the executed plan (`executed`) or the
  * `.explain("formatted")` text (`formatted`) — the artifact the
  * optimization rounds commit under plans/rN/. Tracked persists are
  * released between keys, so one key's caches never show up in the
  * next key's plan.
  *
  * Usage: Test/runMain graft.ExplainKeyMain <sfDir> <executed|formatted> <key> [key ...]
  */
object ExplainKeyMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainKeyMain <sfDir> <executed|formatted> <key> [key ...]")
    val Array(sfDir, mode) = args.take(2)
    require(mode == "executed" || mode == "formatted", s"unknown mode '$mode'")
    val spark = Sessions.local("explain")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      for (key <- args.drop(2)) {
        println(s"===== $key")
        val df = Registry.byName(key).build(spark, sfDir)
        // run df's OWN query execution (a write would plan a new one)
        // so AQE finalizes the plan printed below
        org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(df.queryExecution) {
          df.queryExecution.toRdd.foreach(_ => ())
        }
        if (mode == "formatted")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        else
          println(df.queryExecution.executedPlan.toString)
        Caches.release()
      }
    } finally spark.stop()
  }
}
