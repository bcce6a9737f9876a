package graft.tools

import org.apache.spark.sql.SparkSession
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig}
import graft.router.{CompactGraph, Matcher, MatcherKernel}

/** Kernel-only microbench: times solveOne over all distinct sequences,
  * serially and with a parallel collection, bypassing Spark scheduling —
  * isolates kernel scaling from Spark overhead. */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      // bound AQE plan-description stringification: with deep lineage,
      // onUpdatePlan -> explainString is quadratic and can dominate the
      // driver (minutes of CPU inside StringConcat at toy data sizes)
      .config("spark.sql.maxPlanStringLength", "1048576").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val cfg = OsmConfig.bus
    val world = SyntheticWorld.build(36, 60, tripsPerRoute = 400, variedTrips = true)
    val t = WorldTables(spark, world)
    val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
    val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
    val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions)
    val cands = Matcher.buildCands(spark, t.stops, gt.edges, cfg)
    val candMap = cands.select($"stop_id", $"edge_id", $"progr", $"pen10",
        $"py", $"px", $"oneway").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getInt(6))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seqs = Matcher.distinctSeqGroups(Matcher.tripStopsWithKey(WorldTables.tripStops(t)))
      .select($"seq_key", $"stops")
      .as[(String, Seq[Matcher.TS])].collect()
    println(s"graph edges=${graph.numEdges} distinct seqs=${seqs.length}")
    spark.stop()

    def runAll(par: Int): Double = {
      val t0 = System.nanoTime()
      if (par == 1) seqs.foreach { case (k, st) =>
        MatcherKernel.solveOne(k, st.toArray, graph, candMap, cfg) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
        val futs = seqs.map { case (k, st) =>
          pool.submit(new Runnable {
            def run(): Unit = { MatcherKernel.solveOne(k, st.toArray, graph, candMap, cfg); () }
          })
        }
        futs.foreach(_.get())
        pool.shutdown()
      }
      (System.nanoTime() - t0) / 1e9
    }
    runAll(1) // warm-up
    for (p <- Seq(32, 8, 32, 8, 1)) {
      val sec = runAll(p)
      println(f"threads=$p%2d  time=$sec%.2f s  solves/s=${seqs.length / sec}%.0f")
    }
    val it0 = graft.router.Dijkstra.Iters.sum()
    println(s"dijkstra iters total=$it0")
  }
}
