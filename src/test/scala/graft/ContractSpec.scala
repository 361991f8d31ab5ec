package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Driver-contract invariants: the round harness reads
  * `SparkEntry.queries` / `oracleSql` / `entry` — breakage here silently
  * zeroes the round's correctness, so it fails the suite instead. Also
  * pins [[GraftSession]] as the one session factory, so the gate, the
  * bench and the tests all run the same session.
  */
class ContractSpec extends SparkSpec {

  test("query names are unique across families") {
    // the name-keyed maps keep only the last of two equal names
    val names = SparkEntry.families.flatten.map(_.name)
    val dupes = names.diff(names.distinct).distinct
    assert(dupes.isEmpty, s"declared more than once: ${dupes.mkString(", ")}")
  }

  test("every query runs at smoke scale and entry returns rows") {
    val dir = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, dir).limit(1).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${Verify.cause(e).take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("only GraftSession builds a session") {
    val call = """SparkSession\s*\.\s*builder""".r
    val offenders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => call.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
    assert(offenders.isEmpty, s"build the session with GraftSession.builder: ${offenders.mkString(", ")}")
  }

  test("withConf restores a set key, unsets an unset key, also when the body throws") {
    val (set, unset) = ("spark.sql.shuffle.partitions", "spark.graft.test.scoped")
    val before = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(unset))
    def check(body: => Unit): Unit = {
      GraftSession.withConf(spark, set -> 7, unset -> true) {
        assert(spark.conf.get(set) == "7" && spark.conf.get(unset) == "true")
        body
      }
    }
    check(())
    assert(spark.conf.get(set) == before && !spark.conf.getAll.contains(unset))
    assertThrows[IllegalStateException](check(throw new IllegalStateException("body")))
    assert(spark.conf.get(set) == before && !spark.conf.getAll.contains(unset))
    // a caller's own provider survives the RocksDB scope
    val (provider, rocksDb) = GraftSession.rocksDbState
    GraftSession.withConf(spark, provider -> "caller.Provider") {
      GraftSession.withRocksDb(spark)(assert(spark.conf.get(provider) == rocksDb))
      assert(spark.conf.get(provider) == "caller.Provider")
    }
  }
}
