package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in query SQL would otherwise make a
    * strict JSON reader reject the whole artifact. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 limits the run (local iteration; the driver
    // always runs the full surface)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    var nOk = 0
    var failed = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nOk += 1
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failed ::= (name, msg)
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    // one grep-able line — a rows-only query that crashes has no oracle
    // entry, so this is its only aggregate signal
    System.err.println(s"[verify] SUMMARY ok=$nOk failed=${failed.size}" +
      (if (failed.nonEmpty) s" (${failed.map(_._1).mkString(",")})" else ""))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query failure artifact: a query that throws writes no result
    // parquet and would otherwise be an ABSENCE in the driver's
    // correctness JSON rather than a failure (round-6 lesson: 18 crashed
    // queries read as "435/440 green" when 458 were declared). This file
    // is written on every run — an empty {} is the positive "nothing
    // crashed" signal.
    val failJson = failed.reverse
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    // exit 0 even on failures: the artifact is the signal — a nonzero
    // exit could make the driver discard the 400+ good results.
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    spark.stop()
  }
}
