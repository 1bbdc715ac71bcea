package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Ordered prefix operations over a GLOBAL ordering: `percent_rank` /
  * `cume_dist`, running sums and exclusive running maxima.
  *
  * The window forms (`Window.orderBy(...)`) funnel every row through ONE
  * partition — correct at fixture scale, a non-starter at 100 TB. All
  * three operations here are thin definitions over one two-pass [[scan]],
  * the shape Spark itself uses for a global sort, and equal their window
  * forms including ties (GlobalRankSpec).
  */
object GlobalRank {

  /** Append `pr` (percent_rank) and `cd` (cume_dist) over the global
    * `order`, with SQL window semantics: a row's rank is that of the first
    * row of its tie run, pr = (rank − 1)/(N − 1) and cd = (rows up to the
    * end of its tie run)/N. Rows tie when the sort's own ordering compares
    * them equal (−0.0 = 0.0, NaN = NaN, binary and arrays by value), as in
    * `percent_rank() OVER (ORDER BY ...)`. Any order works: equal keys
    * never straddle a range boundary, and memory per task is
    * O(largest tie run).
    */
  def percentCume(df: DataFrame, order: Seq[Column]): DataFrame = {
    val ordering =
      df.sortWithinPartitions(order: _*).queryExecution.analyzed match {
        case s: Sort => new LazilyGeneratedOrdering(s.order, s.child.output)
      }
    val schema = df.schema
    val count = Fold(1, 0L, _ + _, (_, _) => 1L)
    val appended = Seq(field("pr", DoubleType), field("cd", DoubleType))
    scan(df, order, count, appended) { (start, total, rows) =>
      val n = total(0)
      val prDenom = math.max(n - 1L, 1L).toDouble
      val toKey = CatalystTypeConverters.createToCatalystConverter(schema)
      val keyed = rows.map(r => (r, toKey(r).asInstanceOf[InternalRow])).buffered
      new Iterator[Row] {
        // Rows are buffered only within a tie run: pr and cd are
        // constant over a run, and cd needs the run's end.
        private var run = Array.empty[Row]
        private var runStart = start(0)
        private var emitted = 0
        override def hasNext: Boolean = emitted < run.length || keyed.hasNext
        override def next(): Row = {
          if (emitted == run.length) {
            runStart += run.length
            val (first, key) = keyed.next()
            val b = ArrayBuffer(first)
            while (keyed.hasNext && ordering.equiv(keyed.head._2, key))
              b += keyed.next()._1
            run = b.toArray
            emitted = 0
          }
          val r = run(emitted)
          emitted += 1
          Row.fromSeq(r.toSeq ++
            Seq(runStart / prDenom, (runStart + run.length).toDouble / n))
        }
      }
    }
  }

  /** Append `outCols(i)` = INCLUSIVE running sum of LONG `valueCols(i)`
    * over the global `order`, for every pair at once — a global
    * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` per pair without
    * the single-partition window. Integer arithmetic, so the sums are
    * exact. `order` must be a unique key (see [[scan]]).
    */
  def runningSum(df: DataFrame, order: Seq[Column], valueCols: Seq[String],
      outCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty && valueCols.size == outCols.size,
      s"valueCols/outCols must pair up, got $valueCols vs $outCols")
    val idx = longColumns(df, valueCols)
    val sums = Fold(idx.length, 0L, _ + _, (r, c) => r.getLong(idx(c)))
    scan(df, order, sums, outCols.map(field(_, LongType))) { (acc, _, rows) =>
      rows.map(r => Row.fromSeq(r.toSeq ++ sums.add(acc, r)))
    }
  }

  /** Append `outCol` = EXCLUSIVE running MAX of LONG `valueCol` over the
    * global `order`: the max over STRICTLY preceding rows, `Long.MinValue`
    * for the global first row — a global `max() OVER (ORDER BY ... ROWS
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)` without the
    * single-partition window. The exclusive form is what dominance tests
    * (sort-filter SKYLINE: keep a row iff no strictly-earlier row beats
    * its value) consume directly. `order` must be a unique key (see
    * [[scan]]).
    */
  def runningMaxExclusive(df: DataFrame, order: Seq[Column], valueCol: String,
      outCol: String): DataFrame = {
    val Array(i) = longColumns(df, Seq(valueCol))
    val max = Fold(1, Long.MinValue, math.max(_, _), (r, _) => r.getLong(i))
    scan(df, order, max, Seq(field(outCol, LongType))) { (acc, _, rows) =>
      rows.map { r =>
        val prev = acc(0)
        max.add(acc, r)
        Row.fromSeq(r.toSeq :+ prev)
      }
    }
  }

  /** A scan state of `width` longs: each starts at `zero` and folds the
    * row contributions `value(row, c)` with the associative `op`, so the
    * states of consecutive partitions combine with `op` too. */
  private final case class Fold(width: Int, zero: Long,
      op: (Long, Long) => Long, value: (Row, Int) => Long) {
    def empty: Array[Long] = Array.fill(width)(zero)
    def add(acc: Array[Long], r: Row): Array[Long] = {
      var c = 0
      while (c < width) { acc(c) = op(acc(c), value(r, c)); c += 1 }
      acc
    }
  }

  /** The one two-pass ordered prefix scan:
    *   1. range-exchange `df` on `order` into `spark.sql.shuffle.partitions`
    *      partitions — an explicit count, so the exchange is
    *      REPARTITION_BY_NUM, which AQE does not coalesce — and sort each
    *      partition;
    *   2. fold each partition into one `fold` state; the driver receives
    *      one state per partition, independent of data size;
    *   3. prefix the states on the driver and ship the offsets to every
    *      task;
    *   4. stream each partition through `emit(state, total, rows)`, where
    *      `state` is a private copy of the state of all earlier partitions
    *      and `total` the state of all rows; emitted rows append
    *      `appended` to the input's columns.
    *
    * Order contract: each partition reaches the fold and `emit` in
    * `order`, but rows that tie on the whole of `order` arrive in stream
    * order, so an operation whose result depends on row order (sums,
    * maxima) needs `order` to be a unique key — append a row id. Rows that
    * tie never straddle a partition boundary, so an operation that treats
    * a tie run as one unit (percentCume) may use any order.
    *
    * Lifetime contract: the ranged input is stored once (MEMORY_AND_DISK)
    * and both passes read it for as long as the OUTPUT lives. A second
    * execution of the range exchange re-samples its boundaries (reservoir
    * order depends on upstream shuffle order), and offsets counted against
    * one partitioning but applied to another would be silently wrong.
    * Spark's ContextCleaner frees the blocks once the result is
    * unreferenced on the driver; long-lived sessions running many queries
    * should sweep leftovers at unit-of-work boundaries via
    * GraftSession.dropLeftoverBlocks (the harness drivers do this between
    * keys).
    */
  private def scan(df: DataFrame, order: Seq[Column], fold: Fold,
      appended: Seq[StructField])(
      emit: (Array[Long], Array[Long], Iterator[Row]) => Iterator[Row]): DataFrame = {
    require(order.nonEmpty, "GlobalRank needs at least one order column")
    appended.foreach(f => require(!df.columns.contains(f.name),
      s"GlobalRank appends column '${f.name}' — rename the input's clashing " +
        s"column first (input: ${df.columns.mkString(", ")})"))
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // One state per partition, in partition order.
    val states = ranged
      .mapPartitions(rows => Iterator(rows.foldLeft(fold.empty)(fold.add)))
      .collect()
    val offsets = states.scanLeft(fold.empty)((a, s) =>
      Array.tabulate(fold.width)(c => fold.op(a(c), s(c))))
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val out = ranged.mapPartitionsWithIndex((pid, rows) =>
      emit(bOffsets.value(pid).clone(), bOffsets.value.last, rows))
    spark.createDataFrame(out, StructType(df.schema.fields ++ appended))
  }

  private def longColumns(df: DataFrame, names: Seq[String]): Array[Int] =
    names.map { c =>
      require(df.schema(c).dataType == LongType,
        s"exact prefix sums and maxima need LONG value columns, got " +
          s"${df.schema(c).dataType.simpleString} for '$c'")
      df.schema.fieldIndex(c)
    }.toArray

  private def field(name: String, t: DataType) =
    StructField(name, t, nullable = false)
}
