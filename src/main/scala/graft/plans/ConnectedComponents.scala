package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components (A5) by alternating min-label
  * propagation with pointer jumping (large-star/small-star style): labels
  * converge in O(log n) rounds instead of O(diameter). The matcher uses the
  * driver-side union-find on the collected broadcast graph; this operator
  * is the scale path for graphs too large to collect. */
object ConnectedComponents {

  /** edges(a, b) undirected -> (node, comp) with comp = min reachable id.
    * Convergence (changed == 0) is guaranteed within maxRounds for
    * diameters the pointer jumping can halve down in that many rounds;
    * callers whose CORRECTNESS depends on complete labels (DistGraphBuild:
    * an under-merged component split across bins silently truncates
    * routes at the bin boundary) must verify the fixpoint — at it, the
    * two endpoints of every edge share a label (`assertConverged`). */
  def run(edges: DataFrame, maxRounds: Int = 16): DataFrame = {
    import edges.sparkSession.implicits._
    val sym = edges.select($"a", $"b")
      .unionByName(edges.select($"b".as("a"), $"a".as("b")))
      .distinct().cache()
    var labels = sym.select($"a".as("node")).distinct()
      .withColumn("comp", $"node").cache()
    var round = 0
    var changed = 1L
    while (round < maxRounds && changed > 0) {
      // propagate: comp via neighbors
      val viaNeighbors = sym.join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .select($"a".as("node"), $"comp")
      // lazy boundaries: the round's single action (the `changed` count
      // below) materializes both. They cut the lineage, which otherwise
      // grows every round, and avoid self-join attribute ambiguity (the
      // DataFrame is re-rooted at marking time, not at materialization).
      val step1 = Boundary.lazily(labels.unionByName(viaNeighbors)
        .groupBy($"node").agg(min($"comp").as("comp")))
      // pointer jumping: comp -> comp(comp)
      val right = step1.select($"node".as("jnode"), $"comp".as("comp2"))
      val jumped = step1
        .join(right, step1("comp") === right("jnode"), "left_outer")
        .select(step1("node"), coalesce(least(step1("comp"), right("comp2")),
          step1("comp")).as("comp"))
      val newLabels = Boundary.lazily(jumped)
      changed = newLabels.as("n").join(labels.as("o"), Seq("node"))
        .filter(col("n.comp") =!= col("o.comp")).count()
      // after the count, newLabels holds the round's whole state: free the
      // consumed inputs now, not at the next GC (the Dataset-level
      // unpersist is for the round-0 cached labels)
      labels.unpersist()
      Boundary.release(labels, by = newLabels)
      Boundary.release(step1, by = newLabels)
      labels = newLabels
      round += 1
    }
    sym.unpersist()
    labels
  }

  /** Fixpoint check: every edge's endpoints carry one label. Returns the
    * mismatch count (0 = converged; callers with correctness riding on
    * complete components must require 0). */
  def endpointMismatches(edges: DataFrame, labels: DataFrame): Long = {
    import edges.sparkSession.implicits._
    edges.select($"a", $"b")
      .join(labels.select($"node".as("a"), $"comp".as("ca")), Seq("a"))
      .join(labels.select($"node".as("b"), $"comp".as("cb")), Seq("b"))
      .filter($"ca" =!= $"cb").count()
  }
}
