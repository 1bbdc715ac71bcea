package graft

import graft.plans.{TopKPushdownRule, TopKStrategy}

/** The harness session every main and suite runs on, and the guard that
  * keeps it the only one. */
class GraftSessionSpec extends SparkSpec {

  test("harness session: local[cores], one shuffle partition per core, UTC, checkpoint dir") {
    val s = GraftSession.harness(cores = 4)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getCheckpointDir.nonEmpty)
  }

  test("two harness builds install the top-k pushdown exactly once") {
    GraftSession.harness(cores = 4)
    val s = GraftSession.harness(cores = 4)
    val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(exp.extraStrategies.count(_ == TopKStrategy) == 1)
    assert(exp.extraOptimizations.count(_ == TopKPushdownRule) == 1)
  }

  // ExtensionsSpec builds its own session because spark.sql.extensions
  // is a static conf; every other session comes from GraftSession.harness.
  test("sessions are built only in GraftSession and ExtensionsSpec") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val needle = "SparkSession" + ".builder"
    val found = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).contains(needle))
      .map(_.toString).toSet
    assert(found == Set(
      "src/main/scala/graft/GraftSession.scala",
      "src/test/scala/graft/ExtensionsSpec.scala"),
      s"$needle outside the harness: $found")
  }
}
