package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class KeyTimerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dir = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$dir/spark-local")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del))
      f.delete(): Unit
    }
    del(dir)
  }

  // Stated tolerance: the four calls cover the key's wall time up to the
  // bookkeeping between them (job-group tags, clock reads; class loading
  // on a process's first key): 10 ms or 1% of the wall time.
  private def tolerance(wallS: Double) = math.max(0.010, 0.01 * wallS)

  private def query() = {
    val df = spark.range(200000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v")
    df.cache().count() // an eager build-time job and a block for the sweep
    df
  }

  test("build + plan + exec + sweep add up to the key's wall time") {
    for (action <- Seq(Count, Write(s"$dir/out"))) {
      val t = KeyTimer.run(spark, "k1", () => query(), action).toOption.get
      assert(t.phases.map(_.name) == KeyTimer.Phases)
      val sum = t.phases.map(_.seconds).sum
      assert(math.abs(t.wallS - sum) <= tolerance(t.wallS), s"$action: wall ${t.wallS} vs sum $sum")
      assert(t.phases.forall(_.seconds > 0))
    }
  }

  test("count returns the row count; the sweep drops the cached blocks") {
    val t = KeyTimer.run(spark, "k2", () => query(), Count).toOption.get
    assert(t.rowsOut.contains(97L))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a key that throws is Failed, with the call it threw in, and has no time") {
    val inBuild = KeyTimer.run(spark, "bad", () => sys.error("boom"), Count)
    assert(inBuild == Left(Failed("bad", "build", "java.lang.RuntimeException: boom")))
    val inExec = KeyTimer.run(spark, "bad2",
      () => spark.range(10).toDF().where("assert_true(id < 5) IS NULL"), Count)
    assert(inExec.left.toOption.map(_.phase).contains("exec"))
  }

  test("a traced key's spans share its id and self time is span minus children") {
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    try {
      val t = KeyTimer.run(spark, "k3", () => query(), Count).toOption.get
      org.apache.spark.sql.perfbench.Shim.drainListeners(spark.sparkContext)
      val (jobs, plans, peak) = tracer.take()
      assert(jobs.exists(j => j.group == "k3" && j.phase == "build"))
      assert(jobs.exists(j => j.group == "k3" && j.phase == "exec"))
      assert(plans.nonEmpty)
      val rec = KeyTrace.record("0:0:k3", t, jobs, plans, peak, 0, 0).fields.toMap
      val spans = rec("spans").asInstanceOf[Seq[Obj]].map(_.fields.toMap)
      assert(spans.forall(_("key_id") == "0:0:k3"))
      assert(spans.map(_("name")).count(_ == "key") == 1)
      assert(spans.filter(_("parent") == "key").map(_("name")) == KeyTimer.Phases)
      assert(spans.exists(s => s("name") == "job" && s("parent") == "build"))
      assert(rec("build_jobs").asInstanceOf[Int] >= 1)
      assert(rec("cached_mb_peak").asInstanceOf[Double] > 0)
    } finally {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
  }

  test("covered time is the union of the children, clipped to the parent") {
    assert(KeyTrace.covered(0, 100, Seq((10, 30), (20, 40), (90, 150))) == 40)
    assert(KeyTrace.covered(0, 100, Nil) == 0)
    assert(KeyTrace.covered(50, 60, Seq((0, 100))) == 10)
  }
}
