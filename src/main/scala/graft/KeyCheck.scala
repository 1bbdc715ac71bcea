package graft
/** Local iteration harness (dev tool, not a driver surface): run named
  * declared keys at both small SFs and print row counts + head. */
object KeyCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.harness()
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         k <- args) {
      val rows = SparkEntry.queries(k)(spark, dir).collect()
      println(s"$k @ $dir -> ${rows.length} rows; head=${rows.headOption}")
    }
    spark.stop()
  }
}
