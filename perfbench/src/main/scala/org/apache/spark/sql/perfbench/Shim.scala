package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.QueryExecution

/** The two Spark internals the benchmark needs, kept in one place. */
object Shim {

  /** Block until every listener has seen every event posted so far, so a
    * key's trace is complete before the next key starts. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Write the rows of an already-planned query as parquet. Going through
    * the query's RDD keeps the planning of the query in the caller's plan
    * call: `Dataset.write` would analyze and optimize it a second time
    * inside the write command. Every column is computed and the file
    * commit protocol runs, as for `df.write.parquet`. */
  def writePlanned(spark: SparkSession, qe: QueryExecution, path: String): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(qe.toRdd, qe.analyzed.schema, isStreaming = false)
      .write.mode("overwrite").parquet(path)
}
