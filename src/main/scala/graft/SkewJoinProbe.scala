package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Joins

/** Dev probe behind docs/SCALE.md's skew rows: time the events×customer
  * enrichment through (a) a plain SHUFFLED hash join and (b) the salted
  * join, on a uniform vs a hot-key corpus (one user owning 10% of all
  * events — built by tools/make_10x.py --skew). The declared query
  * (q_salted_join) proves semantics; this probe isolates the skew cost
  * the salting exists to remove.
  *
  * Usage: runMain graft.SkewJoinProbe <dir1> [dir2 ...]
  */
object SkewJoinProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder()
      // AQE's skew-join mitigation would mask exactly the effect under
      // measurement; the declared queries keep it on (see Bench)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (dir <- args) {
      val t = Tables(spark, dir)
      def agg(j: org.apache.spark.sql.DataFrame) = j
        .groupBy(window(col("ts"), "1 hour"), col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
      def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
        def pass(): Double = {
          val t0 = System.nanoTime
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime - t0) / 1e9
        }
        pass() // warm
        println(f"SKEWPROBE $label%-14s $dir%-24s ${pass()}%.2f s")
      }
      time("plain-shuffle") {
        agg(t.events.join(
          t.customer.hint("shuffle_hash"), col("user_id") === col("c_custkey")))
      }
      time("salted") {
        agg(Joins.saltedJoin(
          t.events, t.customer, col("user_id"), col("c_custkey"),
          col("event_id"), buckets = 8))
      }
    }
    spark.stop()
  }
}
