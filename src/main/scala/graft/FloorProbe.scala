package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Guide §1 measurement harness for the per-key floor: the bench's warm
  * total is dominated by ~500 sub-second keys (r15: 181 of 234 s), so
  * before touching any single key this probe decomposes what a "simple"
  * key actually spends: job-submission floor, parquet scan, shuffle
  * aggregate, exact-decimal aggregation, and the final orderBy's range
  * sampling pass. Dev tool, not a surface.
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localBuilder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(tag: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk // analysis warm-up outside the loop? keep inside: plan each time
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        noop(mk)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"FLOOR $tag%-28s ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    val li = () => t(spark, sfDir, "lineitem")
    val ev = () => t(spark, sfDir, "events")
    // absolute job floor: no scan, no shuffle
    timed("range_sum")(spark.range(1000000).agg(sum("id")))
    // map-only parquet scan, all columns
    timed("lineitem_scan")(li().select("l_orderkey", "l_quantity"))
    // shuffle agg, long sums
    timed("groupby_long") {
      li().groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum((col("l_quantity") * 100).cast("long")).as("sq"))
    }
    // shuffle agg, exact decimal sums (the house determinism style)
    timed("groupby_decimal") {
      li().groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum4(col("l_quantity")).as("sq"),
          sum4(col("l_extendedprice")).as("sp"),
          sum(revenue).cast("double").as("rev"),
          sum(charge.cast(DecimalType38_6)).cast("double").as("chg"))
    }
    // + final orderBy (range-partitioned sort over the 4-row aggregate)
    timed("groupby_decimal_sorted") {
      li().groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum4(col("l_quantity")).as("sq"))
        .orderBy("l_returnflag", "l_linestatus")
    }
    // big-output sort: window + orderBy over 10k rows (the win_* shape)
    timed("window_sorted") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("ts", "event_id")
      ev().select(col("event_id"), col("event_type"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 1000)
        .orderBy("event_type", "rn")
    }
    // events scan with the ts normalization expression
    timed("events_scan")(ev().select("event_id", "ts"))
    // ---- decimal decomposition: where does groupby_decimal's 1.4 s go? ----
    import org.apache.spark.sql.Column
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction("unscaled_val",
        (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          org.apache.spark.sql.catalyst.expressions.UnscaledValue(es.head),
        "scala_udf")
    def unscaled(c: Column): Column = call_function("unscaled_val", c)
    // B: same quantization (decimal cast per row) but LONG sum buffers
    timed("gb_unscaled_longsum") {
      li().groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(unscaled(dec4(col("l_quantity")))).as("sq"),
          sum(unscaled(dec4(col("l_extendedprice")))).as("sp"),
          sum(unscaled(money(col("l_extendedprice"))) *
            (lit(100L) - unscaled(col("l_discount").cast(D42)))).as("rev"),
          sum(unscaled(money(col("l_extendedprice"))) *
            (lit(100L) - unscaled(col("l_discount").cast(D42))) *
            (lit(100L) + unscaled(col("l_tax").cast(D42)))).as("chg"))
    }
    // C: decimal sums but NO decimal multiplies (isolate the multiply cost)
    timed("gb_decimal_nomul") {
      li().groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum4(col("l_quantity")).as("sq"),
          sum4(col("l_extendedprice")).as("sp"),
          sum4(col("l_discount")).as("sd"),
          sum4(col("l_tax")).as("st"))
    }
    // D: one sum4 only
    timed("gb_one_sum4") {
      li().groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum4(col("l_quantity")).as("sq"))
    }
    // the flagship declared key, for anchoring against BENCH numbers
    timed("agg_group_q1")(SparkEntry.queries("agg_group_q1")(spark, sfDir))
    spark.stop()
  }
  private val DecimalType38_6 = org.apache.spark.sql.types.DecimalType(38, 6)
}
