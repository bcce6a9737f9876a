package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan audit: prints formatted physical plans for the load-bearing queries
  * and greps them for the properties we claim (pushed filters, pruned
  * scans, broadcast joins) AND for the anti-patterns we claim to avoid
  * (cartesian products / nested-loop joins in the pair-generating dedup
  * and ANN paths — the all-pairs shapes that do not survive 100x). Run
  * manually; findings recorded in README. Exits non-zero on any failure
  * so it can gate a release. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // bound AQE plan-description stringification: with deep lineage,
      // onUpdatePlan -> explainString is quadratic and can dominate the
      // driver (minutes of CPU inside StringConcat at toy data sizes)
      .config("spark.sql.maxPlanStringLength", "1048576").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(spark)
    // audit mode: the boundaries would otherwise root the plan at an
    // ExistingRDD scan and hide exactly the join shapes this audit checks
    graft.plans.Boundary.audit = true
    val dir = "/root/testdata/sf0.001"
    var failures = 0

    def audit(name: String, wanted: Seq[String], banned: Seq[String] = Nil): Unit = {
      val df = graft.queries.GraftQueries.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val missing = wanted.filterNot(plan.contains)
      val present = banned.filter(plan.contains)
      val ok = missing.isEmpty && present.isEmpty
      if (!ok) failures += 1
      println(s"=== $name: " + (if (ok) "OK"
        else (if (missing.nonEmpty) s"MISSING ${missing.mkString(", ")} " else "") +
             (if (present.nonEmpty) s"BANNED ${present.mkString(", ")}" else "")))
      if (!ok) println(plan.take(4000))
    }
    // every pair-generating path must be an equi-join on a bounded key
    // (gram hash, LSH band, sign bucket, cell), never an all-pairs scan
    val allPairs = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

    // pushdown + pruning reach the parquet scan
    // (codegen ids are not annotated pre-execution under AQE; assert the
    // scan-level properties instead). The allPairs ban is applied
    // uniformly, including paths where the operator cannot appear —
    // harmless there, and a regression that introduces one fails loudly.
    audit("q_bbox_filter", Seq("PushedFilters", "ReadSchema: struct<c_custkey:bigint>"),
      allPairs)
    // broadcast join picked for the k-ring spatial join
    audit("q_kring_join", Seq("BroadcastHashJoin", "gcell"), allPairs)
    // pruned read schema on a projection-only query
    audit("q_cell_assign", Seq("ReadSchema: struct<c_custkey:bigint>"), allPairs)
    // distance join = k-ring cell equi-join (BroadcastHashJoin), NOT a
    // cartesian BroadcastNestedLoopJoin (r1's scale-killer anti-pattern)
    audit("q_dist_join", Seq("BroadcastHashJoin", "kring"), allPairs)
    // window agg stays codegen'd
    audit("q_running_sum", Seq("Window", "Sort"), allPairs)
    // dedup pair generation is JOINLESS since r6: per-key sorted member
    // arrays + chained codegen explodes (Generate) + the (a, b) hash
    // aggregate; an all-pairs operator in the pair path would be a bug.
    // Exception, asserted explicitly: ngramJaccard's hot-gram cut and the
    // IVF paths use a DELIBERATE BroadcastNestedLoopJoin whose build side
    // is bounded by construction (a 1-row count scalar; the
    // ~sqrt(N)-capped anchor table) — an O(N * K) scan, not all-pairs;
    // CartesianProduct (both sides data-sized) stays banned there too.
    audit("q_ngram_jaccard",
      Seq("Generate", "BroadcastHashJoin", "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct"))
    audit("q_minhash_lsh", Seq("minhash_sigs", "Generate", "HashAggregate"),
      allPairs)
    audit("q_embed_cosine", Seq("Join", "vec_lsh_bucket"), allPairs)
    audit("q_ann_lsh_topk", Seq("Join", "vec_lsh_bucket"), allPairs)
    audit("q_ann_ivf_topk", Seq("Join", "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct"))
    // exact dedup is one hash aggregate, no join at all
    audit("q_dedup_exact", Seq("HashAggregate"), allPairs :+ "SortMergeJoin")
    // doc-table text ops are scans + projections: no shuffle operators
    audit("q_lang_id", Seq("ReadSchema"), Seq("Exchange") ++ allPairs)
    // in-row signatures since r6: the only exchange left in
    // q_fingerprint/q_simhash is the final presentation sort
    audit("q_fingerprint", Seq("gram_fingerprint", "ReadSchema"), allPairs)
    audit("q_simhash", Seq("simhash_bits", "ReadSchema"), allPairs)
    spark.stop()
    if (failures > 0) {
      System.err.println(s"ExplainAudit: $failures failing audits")
      sys.exit(1)
    }
  }
}
