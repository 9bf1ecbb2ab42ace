package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Connected components — the pairs → clusters stage of a dedup pipeline
  * (and any other entity-resolution grouping). Every node is labeled with
  * the minimum node id of its component.
  *
  * Two paths, one result (same rows, same schema), switched by the state
  * gate `graft.graph.broadcastStateMaxRows` ([[StateGate]]):
  *  - at most gate-many edges: one job collects the edge list and the
  *    driver runs union-find, rooting each component at its minimum id.
  *    A near-dup graph of a day's corpus is a few hundred edges, so this
  *    is the path the dedup chain takes: a constant number of jobs.
  *  - more edges: distributed min-label propagation. Every node starts
  *    labeled with its own id; each round sets label(v) := min(label(v),
  *    min over neighbors u of label(u)) until a fixpoint, which takes
  *    diameter(G) rounds (near-dup components are near-cliques, 2-3 rounds
  *    in practice). Each round is one equi-join (edges ⋈ labels on src,
  *    both sides shuffle-partitioned on uniform ids) plus one combining
  *    groupBy with map-side partial min, and no driver-side graph state.
  *    Convergence detection is one tiny sum aggregate per round: labels
  *    only ever decrease, so an unchanged label sum IS the fixpoint.
  */
object ConnectedComponents {

  /** Label every node reachable from `edgesIn` (cols (src, dst), treated
    * as undirected) with the minimum node id in its component. Returns
    * (id, lab). Nodes not in any edge are absent — callers union/left-join
    * singletons back (their label is their own id). `maxRounds` caps the
    * distributed propagation only; union-find needs no rounds. */
  def labels(edgesIn: DataFrame, maxRounds: Int = 20): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst"))
    val integral = edges.schema.forall(f => f.dataType == IntegerType || f.dataType == LongType)
    (if (integral) StateGate.collectAtMost(edges, StateGate.maxRows(edgesIn.sparkSession))
     else None)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      .map(unionFind(edges, _))
      .getOrElse(propagate(edges, maxRounds))
  }

  /** Driver-side union-find over collected integral, non-null edges
    * (anything else takes the distributed path). Union links the larger
    * root under the smaller, so every root is its component's minimum id.
    * The schema is the distributed path's (analysis only, no job). */
  private def unionFind(edges: DataFrame, rows: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]() // roots have no entry
    def find(x: Any): Any = {
      var r = x
      while (parent.containsKey(r)) r = parent.get(r)
      var y = x
      while (y != r) { val up = parent.get(y); parent.put(y, r); y = up }
      r
    }
    rows.foreach { r =>
      val a = find(r.get(0))
      val b = find(r.get(1))
      if (a != b) {
        if (a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue)
          parent.put(b, a)
        else parent.put(a, b)
      }
    }
    val ids = rows.flatMap(r => Seq(r.get(0), r.get(1))).distinct
    val schema = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy("id").agg(min("id").as("lab")).schema
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(ids.map(id => Row(id, find(id))): _*), schema)
  }

  /** Distributed min-label propagation (the over-the-gate path). */
  private def propagate(edgesIn: DataFrame, maxRounds: Int): DataFrame = {
    // materialize the (possibly expensive — e.g. a full LSH pipeline) edge
    // source ONCE, and TRUNCATE its logical lineage (localCheckpoint, not
    // just persist): `next` references `lab` twice (union + join), so with
    // lineage intact round r's logical plan nests 2^r copies of the edge
    // source's tree — persist caches the DATA but Catalyst still analyzes
    // the exponentially growing plan every round (measured: 9 s for round
    // 1 over a 500-edge graph at sf0.1, all of it analysis). Checkpointed,
    // each round's plan is two leaf scans; rounds are ~0.2 s. On a
    // durability-sensitive cluster job use checkpoint() to the reliable
    // store instead — same lineage truncation, survives executor loss.
    val half = edgesIn.localCheckpoint()
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
    var lab = edges.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id")).localCheckpoint()
    var prevSum = -1L
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val viaEdge = edges.join(lab.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lab"))
      val next = lab.select("id", "lab").union(viaEdge)
        .groupBy("id").agg(min("lab").as("lab")).localCheckpoint()
      val labSum = next.agg(sum("lab")).head.getLong(0)
      converged = labSum == prevSum
      prevSum = labSum
      lab.unpersist()
      lab = next
      rounds += 1
    }
    half.unpersist()
    // ADVICE r4: exiting on the round cap would hand callers partially
    // propagated (wrong) labels with no signal — fail loudly instead.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds " +
          "(component diameter exceeds the cap); raise maxRounds")
    lab
  }
}
