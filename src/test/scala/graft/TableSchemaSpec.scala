package graft

import graft.sources.Tables
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.t` binds each table's schema from the parquet footer on the
  * driver, with no Spark job, and binds exactly the schema Spark's own
  * inference (`spark.read.parquet(p).schema`) gives. */
class TableSchemaSpec extends SparkSpec {

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")
  private val scales =
    Seq("sf0.001", "sf0.01", "sf0.1").map(n => s"${new java.io.File(sf).getParent}/$n")

  private def assertInferred(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Tables.parquet(spark, path).schema == inferred, path)
    assert(jobsOf(Tables.parquet(spark, path)).isEmpty, path)
  }

  test("every fixture table binds the inferred schema, with no job") {
    for (d <- scales; t <- tables) assertInferred(s"$d/$t.parquet")
    // the fixtures' events.ts is TIMESTAMP_MICROS, read as TIMESTAMP_NTZ
    for (d <- scales)
      assert(Tables.t(spark, d, "events").schema("ts").dataType == TimestampNTZType)
    val jobs = jobsOf(scales.foreach(d => tables.foreach(Tables.t(spark, d, _))))
    assert(jobs.isEmpty, jobs)
  }

  test("a TIMESTAMP(NANOS) events.ts binds as nanos and reads as NTZ micros") {
    val dir = Staging.trackedTempDir("graft_nanos_")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 user_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional binary event_type (STRING);
        |  optional double value;
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(conf).build()
    val g = new SimpleGroupFactory(schema)
    // 2024-01-02 03:04:05.123456 UTC, at nanosecond precision
    val micros = Seq(1704164645123456L, 1704164646000001L)
    try micros.zipWithIndex.foreach { case (us, i) =>
      w.write(g.newGroup().append("event_id", i.toLong).append("user_id", 7L)
        .append("ts", us * 1000L).append("event_type", "click").append("value", 1.5))
    } finally w.close()
    val path = s"$dir/events.parquet"
    assertInferred(path)
    assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
    val ev = Tables.t(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampNTZType)
    assert(ev.orderBy("event_id")
      .select(expr("unix_micros(cast(ts as timestamp))")).collect().map(_.getLong(0))
      .toSeq == micros)
  }

  test("a Spark-written file binds the Spark schema stored in its footer") {
    val out = Staging.trackedTempDir("graft_sparkwritten_") + "/t"
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(3).select(col("id"), timestamp_seconds(col("id")).as("at"),
        col("id").cast(StringType).as("s", meta))
      .coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    assertInferred(part)
    assert(Tables.parquet(spark, part).schema("s").metadata == meta)
    // a directory keeps Spark's own inference
    assert(Tables.parquet(spark, out).schema == spark.read.parquet(out).schema)
  }
}
