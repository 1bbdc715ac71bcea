package perfbench

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Shim
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** What a key's result is used for after its DataFrame is built. */
sealed trait Action
/** `count()`, as a user asking "how many rows" runs it. */
case object Count extends Action
/** Every column written as parquet under `dir/<key>`. */
final case class Write(dir: String) extends Action

/** One timed call: its name, wall-clock bounds (epoch ms, to line up with
  * listener events) and its duration from the monotonic clock. */
final case class Phase(name: String, startMs: Long, endMs: Long, seconds: Double)

/** A key that finished: its wall time and the four calls that make it up.
  * `rowsOut` is the count for [[Count]]; a write learns it from a trace.
  * `written` is the query a [[Write]] planned, whose planning no action
  * reports to a QueryExecutionListener. */
final case class Timed(key: String, wallS: Double, startMs: Long, endMs: Long,
    phases: Seq[Phase], rowsOut: Option[Long], written: Option[QueryExecution]) {
  def phase(name: String): Double =
    phases.find(_.name == name).map(_.seconds).getOrElse(0.0)
}

/** A key that threw, with the call it threw in. It has no time. */
final case class Failed(key: String, phase: String, error: String)

/** Runs one key as four timed calls: the DataFrame build, the planning of
  * the action, the action itself and the block sweep. Every Spark job is
  * tagged with `setJobGroup(key, phase)`, so a listener can put it under
  * the right call. */
object KeyTimer {
  val Phases: Seq[String] = Seq("build", "plan", "exec", "sweep")

  /** `beforeSweep` runs untimed between the action and the sweep; a
    * traced pass uses it to count the blocks the sweep will drop. */
  def run(spark: SparkSession, key: String, build: () => DataFrame,
      action: Action, beforeSweep: () => Unit = () => ()): Either[Failed, Timed] = {
    val sc = spark.sparkContext
    val phases = ArrayBuffer[Phase]()
    var current = Phases.head
    def timed[T](name: String)(body: => T): T = {
      current = name
      sc.setJobGroup(key, name)
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = body
      phases += Phase(name, ms, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9)
      r
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result: Either[Failed, (Option[Long], Option[QueryExecution])] =
      try {
        val df = timed("build")(build())
        action match {
          case Count =>
            // Dataset.count() is exactly this aggregate; building it here
            // lets its planning (the aggregate's analysis included) be
            // timed apart from its execution.
            val c = timed("plan") {
              val c = df.groupBy().count().asInstanceOf[classic.Dataset[Row]]
              c.queryExecution.executedPlan
              c
            }
            Right((Some(timed("exec")(c.collect().head.getLong(0))), None))
          case Write(dir) =>
            val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
            timed("plan")(qe.executedPlan)
            timed("exec")(Shim.writePlanned(spark, qe, s"$dir/$key"))
            Right((None, Some(qe)))
        }
      } catch {
        case NonFatal(e) =>
          Left(Failed(key, current, s"${e.getClass.getName}: ${e.getMessage}"))
      }
    beforeSweep()
    // The sweep runs after a failure too, so the next key starts clean.
    timed("sweep")(GraftSession.dropLeftoverBlocks(spark))
    sc.clearJobGroup()
    val wallS = (System.nanoTime() - t0) / 1e9
    result.map { case (rows, written) =>
      Timed(key, wallS, startMs, System.currentTimeMillis(), phases.toSeq, rows, written)
    }
  }
}
