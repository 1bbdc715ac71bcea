package perfbench

import graft.{GraftSession, SparkEntry}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Shim
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The JVM half of the benchmark. `run.py` picks the keys and writes a
  * plan file; this runs the plan in one closed loop (one key at a time,
  * each swept before the next starts) and writes every raw timing and
  * trace record to the plan's `out` file. Metrics are computed by run.py.
  *
  * Plan file: one `name value` pair per line; `key` repeats, in run order.
  *   sf_dir, work_dir, out, cores, warmups, passes, trace (0|1),
  *   action (count|write), check (0|1), key... (none: every key)
  * A plan with no check, warm-up or timed pass only measures set-up.
  */
object Runner {

  final case class Plan(sfDir: String, workDir: String, out: String, cores: Int,
      warmups: Int, passes: Int, trace: Boolean, write: Boolean, check: Boolean,
      keys: Seq[String])

  def readPlan(path: String): Plan = {
    val kv = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val i = l.indexOf(' ')
        (l.take(i), l.drop(i + 1))
      }
    def one(k: String) = kv.find(_._1 == k).map(_._2)
      .getOrElse(sys.error(s"plan has no '$k'"))
    Plan(one("sf_dir"), one("work_dir"), one("out"), one("cores").toInt,
      one("warmups").toInt, one("passes").toInt, one("trace") == "1",
      one("action") == "write", one("check") == "1",
      kv.filter(_._1 == "key").map(_._2))
  }

  /** A session as Bench and Verify build it, with its scratch space kept
    * under the work directory, warmed by one trivial job and one scan. */
  def session(p: Plan): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${p.cores}]")
      .config("spark.sql.shuffle.partitions", p.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"${p.workDir}/checkpoints")
    GraftSession.ensureCheckpointDir(spark)
    graft.plans.TopKPushdown.install(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${p.sfDir}/nation.parquet").count()
    spark
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val p = readPlan(args(0))
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val unknown = p.keys.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val keys = if (p.keys.nonEmpty) p.keys else queries.keys.toSeq.sorted

    // Set-up: process start to a warm session.
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(p)
    val setupS = (System.currentTimeMillis() - processStartMs) / 1e3
    val sc = spark.sparkContext

    // Untimed check pass: each key's rows as parquet for the oracle
    // compare, written by the same KeyTimer call as a timed `load` pass
    // (part files keep the rows in produced order).
    val checks = if (!p.check) Nil else keys.map { k =>
      val r = KeyTimer.run(spark, k, () => queries(k)(spark, p.sfDir),
        Write(s"${p.workDir}/check"))
      Obj("key" -> k, "ok" -> r.isRight,
        "error" -> r.left.toOption.map(f => s"in ${f.phase}: ${f.error}"))
    }

    val outDir = s"${p.workDir}/out"
    val action = if (p.write) Write(outDir) else Count
    // Untimed warm-up passes: the timed passes find the JIT and Spark's
    // codegen cache warm, as in a long-lived session. A key's first two
    // runs are still measurably slower than its third. The first warm-up
    // pass also measures the heap each key holds live once its action is
    // done: a full GC, then the heap in use, before the sweep drops the
    // key's blocks. Peak RSS cannot show this: it follows when the GC
    // happens to run more than what the engine keeps.
    val liveHeapMb = ArrayBuffer[Double]()
    val heap = ManagementFactory.getMemoryMXBean
    for (w <- 1 to p.warmups; k <- keys) {
      val measure: () => Unit = if (w > 1) () => () else () => {
        System.gc()
        liveHeapMb += heap.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      }
      KeyTimer.run(spark, k, () => queries(k)(spark, p.sfDir), action, measure)
      deleteTree(new File(s"$outDir/$k"))
    }
    // Every run's timed passes start from a collected heap, so garbage
    // left by the untimed passes does not decide when the next GC comes.
    System.gc()

    val tracer = new Tracer
    val passes = (0 until p.passes).map { pass =>
      // A traced run alternates untraced and traced passes in one
      // session, so the two can be compared for tracing overhead; a
      // single-pass traced run traces its one pass.
      val traced = p.trace && (pass % 2 == 1 || p.passes == 1)
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        tracer.take()
      }
      var untimedNs = 0L
      val t0 = System.nanoTime()
      val records = keys.zipWithIndex.map { case (k, i) =>
        val keyId = s"$pass:$i:$k"
        var blocks = 0
        val before: () => Unit =
          if (traced) () => { Shim.drainListeners(sc); blocks = tracer.cachedBlocks }
          else () => ()
        val r = KeyTimer.run(spark, k, () => queries(k)(spark, p.sfDir), action, before)
        val u0 = System.nanoTime()
        val outFiles = Option(new File(s"$outDir/$k").listFiles()).toSeq.flatten
          .count(_.getName.startsWith("part-"))
        deleteTree(new File(s"$outDir/$k"))
        val rec = r match {
          case Left(f) =>
            if (traced) { Shim.drainListeners(sc); tracer.take() }
            Obj("key_id" -> keyId, "key" -> k, "failed_phase" -> f.phase,
              "error" -> f.error)
          case Right(t) if traced =>
            t.written.foreach(tracer.recordPlan)
            Shim.drainListeners(sc)
            val (jobs, plans, peak) = tracer.take()
            KeyTrace.record(keyId, t, jobs, plans, peak, blocks, outFiles)
          case Right(t) =>
            Obj("key_id" -> keyId, "key" -> k, "wall_s" -> t.wallS,
              "build_s" -> t.phase("build"), "plan_s" -> t.phase("plan"),
              "exec_s" -> t.phase("exec"), "sweep_s" -> t.phase("sweep"),
              "rows_out" -> t.rowsOut)
        }
        untimedNs += System.nanoTime() - u0
        rec
      }
      val wallS = (System.nanoTime() - t0 - untimedNs) / 1e9
      if (traced) {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      Obj("pass" -> pass, "traced" -> traced, "wall_s" -> wallS, "keys" -> records)
    }

    val result = Obj(
      "cores" -> p.cores,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> liveHeapMb,
      "oracle_sql" -> Obj(keys.distinct.map(k => k -> oracle.get(k)): _*),
      "checks" -> checks,
      "passes" -> passes)
    Files.writeString(Paths.get(p.out), Json(result))
    spark.stop()
  }
}
