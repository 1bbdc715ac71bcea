package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, WindowGroupLimit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import graft.plans.{TopKPerGroupNode, TopKPushdownRule, TopKStrategy}

/** Unit tests for the top-k pushdown optimizer rule. Baselines are
  * captured with the kill switch OFF, because the harness session has
  * the rule installed — without the guard these tests would compare the
  * operator against itself. The rule is then applied
  * MANUALLY to the frozen window-form plan. End-to-end installed
  * behavior is covered by the declared key (oracle gate + PlanAuditSpec
  * pin).
  */
class TopKPushdownSpec extends SparkSpec {

  private val Flag = "spark.graft.topk.pushdown.enabled"

  /** Genuine window-form optimized plan + rows, pushdown disabled. */
  private def baseline(df: DataFrame): (LogicalPlan, Seq[Row]) = {
    spark.conf.set(Flag, "false")
    try (df.queryExecution.optimizedPlan, df.collect().toSeq)
    finally spark.conf.unset(Flag)
  }

  private def ordersRankLimited(pred: DataFrame => DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    pred(Tables.t(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn")))
  }

  private def execute(plan: LogicalPlan): DataFrame = {
    graftshim.addStrategy(spark, TopKStrategy)
    graftshim.ofRows(spark, plan)
  }

  test("Filter(rn<=3, Window) rewrites to TopKPerGroupNode and matches the window form") {
    val df = ordersRankLimited(_.filter(col("rn") <= 3))
    val (opt, expected) = baseline(df)
    assert(opt.collect { case t: TopKPerGroupNode => t }.isEmpty,
      "baseline is not a genuine window plan: " + opt.toString.take(1500))
    val rewritten = TopKPushdownRule(opt)
    assert(rewritten.collect { case t: TopKPerGroupNode => t }.nonEmpty,
      rewritten.toString.take(1500))
    // the native InferWindowGroupLimit node must be subsumed, not stacked
    assert(rewritten.collect { case w: WindowGroupLimit => w }.isEmpty,
      rewritten.toString.take(1500))
    val key = (r: Row) => (r.getLong(0), r.getInt(3))
    assert(execute(rewritten).collect().toSeq.sortBy(key) == expected.sortBy(key))
  }

  test("cast-wrapped comparison (cast(rn as bigint) <= 2L) still rewrites") {
    val df = ordersRankLimited(d =>
      d.withColumn("rn", col("rn").cast("long")).filter(col("rn") <= 2L))
    val (opt, expected) = baseline(df)
    val rewritten = TopKPushdownRule(opt)
    assert(rewritten.collect { case t: TopKPerGroupNode => t }.nonEmpty,
      rewritten.toString.take(1500))
    assert(execute(rewritten).count() == expected.size)
  }

  test("rn = 2 keeps a residual equality filter over TopK(2)") {
    val df = ordersRankLimited(_.filter(col("rn") === 2))
    val (opt, expected) = baseline(df)
    val rewritten = TopKPushdownRule(opt)
    val topks = rewritten.collect { case t: TopKPerGroupNode => t }
    assert(topks.map(_.k) == Seq(2), rewritten.toString.take(1500))
    val key = (r: Row) => (r.getLong(0), r.getInt(3))
    assert(execute(rewritten).collect().toSeq.sortBy(key) == expected.sortBy(key))
  }

  test("rn <= 0 folds to an empty relation") {
    val df = ordersRankLimited(_.filter(col("rn") <= 0))
    val (opt, _) = baseline(df)
    val rewritten = TopKPushdownRule(opt)
    assert(rewritten.isInstanceOf[LocalRelation] ||
      rewritten.collect { case l: LocalRelation => l }.nonEmpty,
      rewritten.toString.take(1500))
    assert(execute(rewritten).count() == 0)
  }

  test("narrowing cast (cast(rn as byte)) is NOT seen through") {
    // cast(rn as byte) wraps for rn > 127 (or throws under ANSI), so the
    // comparison does not bound the true rank; rewriting would change
    // results for groups with > 127 rows.
    val df = ordersRankLimited(d =>
      d.withColumn("rnb", col("rn").cast("byte")).filter(col("rnb") <= 2)
        .drop("rnb"))
    val (opt, _) = baseline(df)
    val rewritten = TopKPushdownRule(opt)
    assert(rewritten.collect { case t: TopKPerGroupNode => t }.isEmpty,
      rewritten.toString.take(1500))
  }

  test("rank()-based filters are left alone (ties may exceed k rows)") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val df = Tables.t(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rk"))
      .filter(col("rk") <= 3)
    val (opt, _) = baseline(df)
    val rewritten = TopKPushdownRule(opt)
    assert(rewritten.collect { case t: TopKPerGroupNode => t }.isEmpty,
      rewritten.toString.take(1500))
  }

  test("multi-expression windows are left alone (siblings need all rows)") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val df = Tables.t(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
      .filter(col("rn") <= 3)
    val (opt, _) = baseline(df)
    val rewritten = TopKPushdownRule(opt)
    assert(rewritten.collect { case t: TopKPerGroupNode => t }.isEmpty,
      rewritten.toString.take(1500))
  }

  test("kill switch: spark.graft.topk.pushdown.enabled=false disables the rewrite") {
    val df = ordersRankLimited(_.filter(col("rn") <= 3))
    val (opt, _) = baseline(df)
    spark.conf.set(Flag, "false")
    try {
      val rewritten = TopKPushdownRule(opt)
      assert(rewritten.collect { case t: TopKPerGroupNode => t }.isEmpty)
    } finally spark.conf.unset(Flag)
  }

  test("idempotent: re-applying the rule to a rewritten plan is a no-op") {
    val df = ordersRankLimited(_.filter(col("rn") === 2))
    val (opt, _) = baseline(df)
    val once = TopKPushdownRule(opt)
    val twice = TopKPushdownRule(once)
    assert(once == twice, twice.toString.take(1500))
  }
}
