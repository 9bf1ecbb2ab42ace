package graft

/** Round-9 wave-54 gates (SURVEY §2.28). */
class Round9bcSpec extends SparkSpec {

  test("scan_agg_pushdown: the V2 reader answers from footer stats") {
    // the key's own session: a clone with the pushdown confs set
    val df = operators.QRound9bc.pushdownFrame(
      operators.QRound9bc.pushdownSession(spark), sf)
    val plan = df.queryExecution.executedPlan.toString
    // the whole aggregate must reach the scan: no row decode at all
    assert(plan.contains("PushedAggregation: [COUNT(*)"),
      s"aggregates not pushed:\n$plan")
    val r = df.collect()(0)
    assert(r.getAs[Long]("n_rows") > 0)
    assert(r.getAs[Long]("min_key") <= r.getAs[Long]("max_key"))
    assert(r.getAs[Double]("min_price") <= r.getAs[Double]("max_price"))
  }

  test("scan_agg_pushdown: the caller's session never sees the key's confs") {
    val keys = Seq("spark.sql.parquet.aggregatePushdown",
      "spark.sql.sources.useV1SourceList")
    def confs: Seq[Option[String]] = keys.map(spark.conf.getOption)
    val before = confs
    assert(before.head != Some("true"))
    val changed = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Option[String]]]()
    val polls = new java.util.concurrent.atomic.AtomicLong()
    @volatile var running = true
    // polls the caller's confs the way a query planned beside the key would
    val observer = new Thread(() =>
      while (running) {
        val now = confs
        if (now != before) changed.add(now)
        polls.incrementAndGet()
        Thread.sleep(1)
      })
    observer.start()
    try (1 to 3).foreach(_ =>
      assert(SparkEntry.queries("scan_agg_pushdown")(spark, sf).collect().length === 1))
    finally { running = false; observer.join() }
    assert(polls.get() > 0)
    assert(changed.isEmpty, s"caller's confs changed to ${changed.peek()}")
    assert(confs === before)
  }

  test("chp_permutation_test: p-value well-formed, null split not extreme") {
    val out = SparkEntry.queries("chp_permutation_test")(spark, sf).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_perms") === 20L)
    val ex = r.getAs[Long]("n_extreme")
    assert(ex >= 0 && ex <= 20)
    val p = r.getAs[Double]("p_value")
    // add-one estimator bounds
    assert(p >= 1.0 / 21 - 1e-9 && p <= 1.0)
    // the observed md5 split is itself a null labeling: it must not be
    // wildly more extreme than its 20 siblings
    assert(p > 0.04)
  }

  test("text_gazetteer_tag: counts consistent, all terms found") {
    val out = SparkEntry.queries("text_gazetteer_tag")(spark, sf).collect()
    assert(out.length === 8)
    out.foreach { r =>
      val nd = r.getAs[Long]("n_docs")
      val nm = r.getAs[Long]("n_mentions")
      assert(nd >= 1 && nm >= nd) // mentions at least once per doc
      val share = r.getAs[Double]("doc_share")
      assert(share > 0.0 && share <= 1.0)
    }
    val terms = out.map(_.getAs[String]("term")).toSeq
    assert(terms === terms.sorted)
  }
}
