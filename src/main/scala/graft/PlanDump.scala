package graft
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

/** Dump `.explain("formatted")` for selected declared queries to files —
  * the round-14 optimization evidence trail (`plans/r14/<q>_{before,after}.txt`).
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
  * Plans are built, not executed (no actions beyond what a query's
  * builder itself runs to embed fitted literals). Session counters are
  * renumbered ([[normalize]]), so "plan unchanged" is a plain `diff`.
  */
object PlanDump {

  /** The session-wide counters a formatted plan prints: plan ids
    * (exchange `[plan_id=N]`, subquery `[id=#N]`), expression ids `#N`,
    * and lambda variables `x_N` (`y_N`, `z_N` share their counter). */
  private val Counter = """(\[plan_id=|\[id=#|#|\b[xyz]_)(\d+)""".r

  /** `plan` with each [[Counter]] family renumbered 0, 1, ... in order of
    * first appearance. References within one plan stay intact; the same
    * plan built after different work in its session reads the same. */
  def normalize(plan: String): String = {
    val families = mutable.Map.empty[String, mutable.Map[String, Int]]
    Counter.replaceAllIn(plan, m => {
      val prefix = m.group(1)
      val ids = families.getOrElseUpdate(prefix match {
        case "[plan_id=" | "[id=#" => "plan"
        case "#"                   => "expr"
        case _                     => "lambda"
      }, mutable.Map.empty)
      Regex.quoteReplacement(prefix + ids.getOrElseUpdate(m.group(2), ids.size))
    })
  }

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
        val plan = normalize(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
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
