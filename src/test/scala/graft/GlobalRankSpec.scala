package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GlobalRank

/** The scalable two-pass operations must agree exactly with their
  * single-partition window forms — including tie groups — while actually
  * running on multiple range partitions, and on the inputs fixtures lack:
  * more partitions than rows, no rows, one key for every row, and
  * NaN/±Inf/−0.0/null doubles.
  */
class GlobalRankSpec extends SparkSpec {

  /** Run `f` with the range exchange cut into `parts` partitions. */
  private def withParts[T](parts: Int)(f: => T): T = {
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try f
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  /** Rows as id (first column) → the remaining columns. */
  private def byId(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  /** A double cycling through the values whose sort equality differs from
    * boxed equality: −0.0 next to 0.0, NaN, ±Inf, and null. */
  private def special(id: Column): Column = {
    val keys = Seq(-0.0, 0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0, 2.0).map(lit) :+ lit(null).cast("double")
    element_at(array(keys: _*), (id % keys.size + 1).cast("int"))
  }

  private def docs: DataFrame = Tables.t(spark, sf, "documents")
    .select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"),
      col("n_chars").cast("long").as("m"),
      md5(col("doc_id").cast("string").cast("binary")).as("skey"))

  /** Inputs of the running sum and max checks, each with a unique order:
    * the fixture, 5 rows, no rows, one `skey` for every row, and
    * NaN-bearing doubles ordered descending (NaN first, nulls last). */
  private def prefixInputs: Seq[(String, DataFrame, Seq[Column])] = {
    val byKey = Seq(col("skey"), col("doc_id"))
    Seq(
      ("documents", docs, byKey),
      ("5 rows", docs.orderBy("doc_id").limit(5), byKey),
      ("no rows", docs.filter(lit(false)), byKey),
      ("one key", docs.withColumn("skey", lit("k".getBytes)), byKey),
      ("doubles desc", docs.withColumn("x", special(col("doc_id"))),
        Seq(col("x").desc, col("doc_id"))))
  }

  test("two-pass percent_rank/cume_dist == window form on orders") {
    val orders = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("k"))
    val inputs = Seq(
      "orders" -> orders,
      "5 rows" -> orders.orderBy("id").limit(5),
      "no rows" -> orders.filter(lit(false)),
      "one key" -> orders.withColumn("k", lit(1.0)),
      // −0.0 and 0.0 alternate in input order, so they interleave inside
      // the sorted tie run; they, and NaN with NaN, must tie as in the sort.
      "-0.0/0.0, NaN, ±Inf, null" ->
        spark.range(2000).select(col("id"), special(col("id")).as("k")))
    for ((name, df) <- inputs) {
      val w = Window.orderBy(col("k"))
      val windowed = byId(df.select(col("id"),
        percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd")))
      for (parts <- Seq(1, 3, 7, 32)) {
        val twoPass = withParts(parts)(byId(
          GlobalRank.percentCume(df, Seq(col("k"))).select("id", "pr", "cd")))
        assert(twoPass.size == windowed.size, s"$name at $parts partitions")
        val bad = windowed.collect {
          case (k, v) if twoPass(k) != v => (k, v, twoPass(k))
        }
        assert(bad.isEmpty, s"$name at $parts partitions: ${bad.size} " +
          s"mismatches, first: ${bad.headOption}")
      }
    }
  }

  test("ties share percent_rank and cume_dist across partition boundaries") {
    // Heavy ties: 1000 rows over 5 distinct keys, forced through many
    // partitions — every tie group must still get one (pr, cd) pair.
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 5).cast("double").as("k"))
    withParts(13) {
      val got = GlobalRank.percentCume(df, Seq(col("k")))
      val perKey = got.groupBy("k")
        .agg(countDistinct(col("pr")).as("nPr"), countDistinct(col("cd")).as("nCd"),
          count(lit(1)).as("n"))
        .collect()
      perKey.foreach { r =>
        assert(r.getLong(1) == 1 && r.getLong(2) == 1,
          s"tie group ${r.getDouble(0)} split: $r")
        assert(r.getLong(3) == 200)
      }
      // Spot-check exact values: key 0 ranks rows 0..199 → pr = 0.
      val k0 = got.filter(col("k") === 0.0).select("pr", "cd").head()
      assert(k0.getDouble(0) == 0.0 && k0.getDouble(1) == 200.0 / 1000.0)
    }
  }

  test("binary-typed keys tie correctly (deep equality, not reference)") {
    // BINARY keys surface as Array[Byte] in external Rows, where == is
    // REFERENCE equality; ties must compare them by value.
    val df = spark.range(100)
      .select(col("id"), expr("cast(cast(id % 4 AS STRING) AS BINARY)").as("k"))
    val perKey = withParts(5) {
      GlobalRank.percentCume(df, Seq(col("k")))
        .selectExpr("cast(k AS STRING) AS k0", "pr", "cd")
        .groupBy("k0")
        .agg(countDistinct(col("pr")).as("nPr"), countDistinct(col("cd")).as("nCd"))
        .collect()
    }
    perKey.foreach { r =>
      assert(r.getLong(1) == 1 && r.getLong(2) == 1,
        s"array-key tie group ${r.getString(0)} split: $r")
    }
  }

  test("two-pass runningSum == window cumsum, invariant across partitionings") {
    for ((name, df, order) <- prefixInputs) {
      val w = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val windowed = byId(df.select(col("doc_id"), sum(col("n")).over(w)))
      for (parts <- Seq(1, 7, 32)) {
        val twoPass = withParts(parts)(byId(
          GlobalRank.runningSum(df, order, Seq("n"), Seq("cum"))
            .select("doc_id", "cum")))
        assert(twoPass == windowed, s"$name: prefix sums diverge at $parts partitions")
      }
    }
  }

  test("two-pass runningMaxExclusive == window exclusive max, invariant across partitionings") {
    for ((name, df, order) <- prefixInputs) {
      val w = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val windowed = byId(df.select(col("doc_id"),
        coalesce(max(col("n")).over(w), lit(Long.MinValue))))
      for (parts <- Seq(1, 7, 32)) {
        val twoPass = withParts(parts)(byId(
          GlobalRank.runningMaxExclusive(df, order, "n", "pm")
            .select("doc_id", "pm")))
        assert(twoPass == windowed, s"$name: prefix maxes diverge at $parts partitions")
      }
    }
  }

  test("two-pass runningSums (multi-column) == window cumsums, invariant across partitionings") {
    for ((name, df, order) <- prefixInputs) {
      val w = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val windowed = byId(df.select(col("doc_id"),
        sum(col("n")).over(w), sum(col("m")).over(w)))
      for (parts <- Seq(1, 7, 32)) {
        val twoPass = withParts(parts)(byId(
          GlobalRank.runningSum(df, order, Seq("n", "m"), Seq("cn", "cm"))
            .select("doc_id", "cn", "cm")))
        assert(twoPass == windowed,
          s"$name: multi prefix sums diverge at $parts partitions")
      }
    }
  }

  test("runningSum rejects non-long values and clashing output columns") {
    val df = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars").cast("int").as("v"))
    intercept[IllegalArgumentException] {
      GlobalRank.runningSum(df, Seq(col("doc_id")), Seq("v"), Seq("cum"))
    }
    val dfl = df.select(col("doc_id"), col("v").cast("long").as("v"),
      lit(0L).as("cum"))
    intercept[IllegalArgumentException] {
      GlobalRank.runningSum(dfl, Seq(col("doc_id")), Seq("v"), Seq("cum"))
    }
  }
}
