package graft

/** Local twin of the driver's t1 smoke: run SparkEntry.entry, print rows. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localBuilder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
