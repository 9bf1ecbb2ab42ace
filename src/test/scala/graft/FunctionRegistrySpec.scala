package graft

import org.apache.spark.sql.graft.SqlText

/** Running engine queries must not touch the caller's session catalog:
  * the operators call their native kernels as Column functions and bind
  * their SQL text's tables and 128-bit sums by plan, so a user's own temp
  * views and functions that share an engine name keep resolving to the
  * user's. */
class FunctionRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val userFns = Seq("cosine_sim", "vec_centroid", "shingles3", "bigrams")

  // the catalog lists built-ins as temporary too; they never change
  private def tempFunctions: Set[(String, String)] =
    spark.catalog.listFunctions().collect()
      .filter(_.isTemporary).map(f => (f.name, f.className)).toSet

  test("kernel-backed keys leave user temp functions of the same names intact") {
    spark.udf.register("cosine_sim", (_: Seq[Double], _: Seq[Double]) => -7.0)
    spark.udf.register("vec_centroid", (_: Seq[Double]) => -7.0)
    spark.udf.register("shingles3", (_: Seq[String]) => "user")
    spark.udf.register("bigrams", (_: Seq[String]) => "user")
    try {
      val before = tempFunctions
      assert(userFns.forall(n => before.exists(_._1 == n)))
      Seq("dedup_semdedup", "dedup_lsh_pairs", "text_ngram_bigram",
          "emb_energy_distance")
        .foreach(k => SparkEntry.queries(k)(spark, sf).collect())
      val after = tempFunctions
      assert(after.diff(before).isEmpty && before.diff(after).isEmpty,
        s"temp functions added ${after.diff(before)}, replaced or dropped ${before.diff(after)}")
      val row = spark.sql(
        """SELECT cosine_sim(array(1D, 0D), array(1D, 0D)),
          |  vec_centroid(array(1D)), shingles3(array('a', 'b', 'c')),
          |  bigrams(array('a', 'b'))""".stripMargin).head()
      assert(row.getDouble(0) === -7.0 && row.getDouble(1) === -7.0)
      assert(row.getString(2) === "user" && row.getString(3) === "user")
    } finally userFns.foreach(n => spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $n"))
  }

  // every key that runs SQL text, plus the one whose cutoff was a
  // temp-view subquery
  private val sqlTextKeys = Seq(
    "sql_pipe_syntax", "sql_grouping_id", "sql_udf_inline", "sql_lateral_view",
    "sql_order_by_all", "sql_filter_agg", "sql_star_except", "sql_parameterized",
    "sql_recursive_cte", "sql_lateral_alias", "sql_lateral_topk", "sql_not_in_null",
    "sql_scalar_subquery", "sql_text_tpch_q3", "sql_unpivot", "sql_group_by_all",
    "sql_identifier_clause", "sql_inline_values", "sql_exists_correlated",
    "sql_named_window", "maint_vacuum_ttl")

  private val userViews = Seq("g_lineitem", "g_orders", "g_customer", "g_nation",
    "g_events_idc", "events_iv", "orders_se", "g_li_oba", "g_docs_lv",
    "g_cust_ex", "g_ord_ex", "g_ev_nw", "__vac_src")

  private val userSums = Seq("g_sum4u", "g_revsum4u", "g_revrow4u", "g_sumu4")

  // sql_udf_inline declares SQL functions of these names, on a clone
  private val userUdfs = Seq("g_disc_price", "g_qty_band")

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("SQL-text keys leave user temp views and functions of the same names intact") {
    userViews.foreach(n => Seq(s"user:$n").toDF("sentinel").createOrReplaceTempView(n))
    spark.udf.register("g_sum4u", (_: Double) => -7.0)
    spark.udf.register("g_revsum4u", (_: Double, _: Double) => -7.0)
    spark.udf.register("g_revrow4u", (_: Double, _: Double) => -7.0)
    spark.udf.register("g_sumu4", (_: Long) => -7.0)
    spark.udf.register("g_disc_price", (_: Double, _: Double) => -7.0)
    spark.udf.register("g_qty_band", (_: Double) => "user")
    try {
      val viewsBefore = tempViews
      val fnsBefore = tempFunctions
      sqlTextKeys.foreach(k =>
        assert(SparkEntry.queries(k)(spark, "/root/testdata/sf0.01").collect().nonEmpty, k))
      assert(tempViews === viewsBefore, "temp views added or dropped")
      val fnsAfter = tempFunctions
      assert(fnsAfter.diff(fnsBefore).isEmpty && fnsBefore.diff(fnsAfter).isEmpty,
        s"temp functions added ${fnsAfter.diff(fnsBefore)}, replaced or dropped ${fnsBefore.diff(fnsAfter)}")
      userViews.foreach(n =>
        assert(spark.table(n).as[String].collect().toSeq === Seq(s"user:$n"), n))
      val row = spark.sql(
        "SELECT g_sum4u(1D), g_revsum4u(1D, 1D), g_revrow4u(1D, 1D), g_sumu4(1L)").head()
      assert((0 until 4).map(row.getDouble) === Seq.fill(4)(-7.0))
      val udfs = spark.sql("SELECT g_disc_price(1D, 0D), g_qty_band(1D)").head()
      assert(udfs.getDouble(0) === -7.0 && udfs.getString(1) === "user")
    } finally {
      userViews.foreach(spark.catalog.dropTempView)
      (userSums ++ userUdfs).foreach(n => spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $n"))
    }
  }

  test("SqlText: an unbound relation fails instead of reading the session catalog") {
    Seq("user").toDF("sentinel").createOrReplaceTempView("g_unbound_probe")
    try {
      val e = intercept[IllegalArgumentException](
        SqlText.on(spark, "SELECT * FROM g_unbound_probe")("src" -> spark.range(3).toDF()))
      assert(e.getMessage.contains("g_unbound_probe"), e.getMessage)
      intercept[IllegalArgumentException](SqlText.on(spark,
        "SELECT (SELECT count(*) FROM g_unbound_probe) FROM src")("src" -> spark.range(3).toDF()))
    } finally spark.catalog.dropTempView("g_unbound_probe")
  }

  test("SqlText: CTE names resolve as CTEs, bound names as their plans, in every scope") {
    val src = spark.range(10).toDF("id")
    val out = SqlText.on(spark,
      """WITH small AS (SELECT id FROM src WHERE id < :k)
        |SELECT count(*) AS n, (SELECT max(id) FROM src) AS top,
        |  CAST(g_sum4u(id) AS DOUBLE) AS total
        |FROM small""".stripMargin, Map("k" -> 4))("src" -> src)
    assert(out.as[(Long, Long, Double)].collect().toSeq === Seq((4L, 9L, 6.0)))
    assert(!tempViews.exists(_.equalsIgnoreCase("small")))
  }
}
