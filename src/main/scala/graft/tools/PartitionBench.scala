package graft.tools

import org.apache.spark.sql.SparkSession

import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig}
import graft.plans.Boundary
import graft.router.{CompactGraph, GraphPartitions, Matcher}

/** Evidence for the component-partitioned graph broadcast (SURVEY §7.3):
  * on a multi-city world, compare the bytes a solver task must hold under
  * (a) the full-graph broadcast vs (b) per-component-bin broadcasts where
  * a task fetches only the bins its candidates touch. Also counts how
  * often the cross-bin merge path fires (should be ~never on a
  * well-separated world) and asserts the matched-trip count is identical
  * under both paths. Prints one JSON line + a markdown snippet. */
object PartitionBench {
  def serializedBytes(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o); oos.close()
    bos.size().toLong
  }

  def main(args: Array[String]): Unit = {
    val cities = sys.env.getOrElse("SPARK_GRAFT_CITIES", "8").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_ROWS", "16").toInt
    val cols = sys.env.getOrElse("SPARK_GRAFT_COLS", "24").toInt
    val tpr = sys.env.getOrElse("SPARK_GRAFT_TPR", "8").toInt
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", graft.Bench.benchLocalDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(spark)

    val cfg = OsmConfig.bus
    val world = SyntheticWorld.buildMulti(cities, rows, cols,
      tripsPerRoute = tpr, variedTrips = true)
    val t = WorldTables(spark, world)
    val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
    val gt0 = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
    gt0.edges.cache().count()
    val gt = graft.osm.StationSnap.refine(spark, gt0, cfg, gt0.blockers)._1
    gt.edges.cache().count()
    val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions,
      gt.wayLines, gt.transitLines, gt.turnCycles)
    val cands = Boundary.eagerly(Matcher.buildCandsWithStations(spark, t.stops, gt.edges,
      gt.stations, cfg))
    val keyed = Boundary.eagerly(Matcher.tripStopsWithKey(WorldTables.tripStops(t)))

    val parts = GraphPartitions.build(spark, graph,
      minBinEdges = math.max(64, graph.numEdges / (4 * cities)))
    val fullBytes = serializedBytes(graph)
    val binBytes = parts.bins.map(b => serializedBytes(b.get))
    val idxBytes = serializedBytes(parts.binOfEdge.value)

    def trips(p: GraphPartitions): Long = {
      graft.router.HopCache.clear()
      Matcher.solveKeyedSeqs(spark, keyed, cands, p, cfg)
        .select("seq_key").distinct().count()
    }
    val m0 = GraphPartitions.MergedResolves.sum()
    val nPart = trips(parts)
    val merged = GraphPartitions.MergedResolves.sum() - m0
    val nFull = trips(GraphPartitions.single(spark, graph))
    require(nPart == nFull, s"partitioned/full mismatch: $nPart vs $nFull")

    val maxBin = binBytes.max
    val md =
      f"""## Component-partitioned graph broadcast ($cities cities, ${graph.numEdges} edges)
         |
         || graph shipping | bytes an executor holds |
         ||---|---|
         || full-graph broadcast | ${fullBytes / 1024}%d KiB (every executor) |
         || per-component bins (${parts.bins.length}) | max ${maxBin / 1024}%d KiB per touched bin + ${idxBytes / 1024}%d KiB edge->bin index |
         |
         |Cross-bin merged resolutions: $merged of ${graft.router.MatcherKernel.KernelGroups.sum()} solver groups.
         |Identical distinct-sequence solves under both paths: $nPart.
         |""".stripMargin
    println(md)
    println(s"""{"metric":"partition_bytes","full":$fullBytes,"bins":${parts.bins.length},"max_bin":$maxBin,"index":$idxBytes,"merged_resolves":$merged,"solves":$nPart}""")
    spark.stop()
  }
}
