package graft

/** Running engine queries must not touch the caller's session function
  * registry: the operators call their native kernels as Column
  * functions, so a user's own temp functions that share a kernel's SQL
  * name keep resolving to the user's code. */
class FunctionRegistrySpec extends SparkSpec {

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
}
