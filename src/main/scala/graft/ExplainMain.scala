package graft
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.1"
    val spark = GraftSession.local(32)
    // SPARK_GRAFT_EXPLAIN_RUN=1: execute with the noop sink first and
    // print the FINAL adaptive plan — the only way to see runtime
    // ReusedExchange/ReusedSubquery nodes, which the static formatted
    // plan (isFinalPlan=false) hides
    val run = sys.env.get("SPARK_GRAFT_EXPLAIN_RUN").contains("1")
    for (n <- args) {
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (run) {
        // collect(), not the noop sink: the sink spawns a NEW
        // QueryExecution, leaving this df's adaptive plan un-finalized
        // (isFinalPlan=false, no Reused* nodes). Inspection tool only —
        // use on LIMIT-bounded or aggregate queries.
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
