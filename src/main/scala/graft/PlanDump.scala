package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for selected declared queries to files —
  * the round-14 optimization evidence trail (`plans/r14/<q>_{before,after}.txt`).
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
  * Plans are built, not executed (no actions beyond what a query's
  * builder itself runs to embed fitted literals).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, sel) = args.take(4)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (sel == "all") SparkEntry.queries.keys.toSeq.sorted
      else sel.split(",").toSeq
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        println(s"[plandump] $n ok (${plan.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: $e")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
