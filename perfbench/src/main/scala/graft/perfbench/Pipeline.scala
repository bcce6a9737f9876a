package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.eval.Shapevl
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.images.ImageFixtures
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.overlay.ImageOverlay
import graft.router.{CompactGraph, Matcher}

/** The map-matching pipeline workloads: feed -> graph -> snap -> candidates
  * -> match -> tiles assigned and verified. Wired by calling the same public
  * functions, in the same order, as the default (broadcast graph) path of
  * `graft.Bench.runPipeline`; each call is timed here as its own span. */
final class Pipeline(rows: Int, cols: Int, tripsPerRoute: Int, noiseTiles: Int)
    extends Workload {
  private val cfg = OsmConfig.bus
  /** accuracy is scored on every this-many-th trip of each route */
  private val accuracyEvery = 48

  private var t: WorldTables.Tables = _
  private var images: DataFrame = _
  private var nTrips = 0L
  private var nStops = 0L
  private var nImages = 0L
  private var noiseIds: Set[String] = Set.empty
  private var seed = 0L
  // the last rep's outputs, checked after the rep's timed region
  private var shapes: DataFrame = _
  private var anchors: DataFrame = _
  private var assigned: DataFrame = _
  private var badTiles = 0L
  private var nCands = 0L

  /** Inputs are materialized as RDD-level local checkpoints: they are not
    * in the CacheManager, so clearing the cache between reps leaves them. */
  private def materialize(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  def setup(spark: SparkSession, seed: Long): Unit = {
    this.seed = seed
    val world = SyntheticWorld.build(rows, cols, seed, tripsPerRoute = tripsPerRoute,
      variedTrips = true)
    val t0 = WorldTables(spark, world)
    t = WorldTables.Tables(materialize(t0.osmNodes), materialize(t0.osmWays),
      materialize(t0.osmRels), materialize(t0.stops), materialize(t0.routes),
      materialize(t0.trips), materialize(t0.stopTimes), materialize(t0.truthShapes))
    images = materialize(ImageFixtures.table(spark, world, cfg.cellRes, seed, noiseTiles))
    nTrips = world.trips.size
    nStops = world.stops.size
    nImages = images.count()
    // ImageFixtures captions its off-map noise tiles with the stop name
    // "nowhere"; the ids come from the table, so the check follows the fixture
    noiseIds = images.filter(col("caption").endsWith(ImageFixtures.caption("", "nowhere")))
      .select("image_id").collect().map(_.getString(0)).toSet
    require(noiseIds.size == noiseTiles,
      s"expected $noiseTiles noise tiles in the image table, found ${noiseIds.size}")
  }

  def rep(spark: SparkSession, span: Spans): Unit = {
    import spark.implicits._
    val (g0, bbox) = span("osm.graph_build") {
      val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val g = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
      g.edges.cache().count()
      (g, bbox)
    }
    val g = span("osm.station_snap") {
      val (g2, _) = StationSnap.refine(spark, g0, cfg, g0.blockers)
      g2.edges.cache().count()
      g2
    }
    val graph = span("router.graph_collect") {
      CompactGraph.fromEdges(g.edges, g.restrictions, g.wayLines, g.transitLines,
        g.turnCycles)
    }
    val cands = span("router.cands_join") {
      val c = Matcher.buildCandsWithStations(spark, t.stops, g.edges, g.stations, cfg,
        maxAbsLat = Some(math.max(math.abs(bbox.latMin), math.abs(bbox.latMax))))
        .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
      nCands = c.count()
      c
    }
    val mr = span("router.match") {
      val mr = Matcher.matchTripsFull(spark, WorldTables.tripStops(t), cands, graph, cfg)
      mr.shapes.cache().count()
      mr
    }
    shapes = mr.shapes
    anchors = mr.anchors
    assigned = span("overlay.assign") {
      val a = ImageOverlay.assign(images, shapes, cfg.cellRes).cache()
      a.count()
      a
    }
    badTiles = span("overlay.verify") {
      ImageOverlay.verify(spark, images, seed)
        .agg(sum(when($"psnr_ok" && $"phash_ok" && $"caption_ok", 0L).otherwise(1L)))
        .head().getLong(0)
    }
  }

  /** every trip matched, no noise tile assigned, every tile verified */
  def check(spark: SparkSession): RepResult = {
    val matched = shapes.select("shape_id").distinct().count()
    // one failed operation per noise image row, however many shapes took it
    val noiseAssigned = assigned.filter(col("image_id").isin(noiseIds.toSeq: _*))
      .select("image_id").distinct().count()
    val notes = Seq(
      if (matched != nTrips) Some(s"matched $matched of $nTrips trips") else None,
      if (noiseAssigned > 0) Some(s"$noiseAssigned noise tiles assigned") else None,
      if (badTiles > 0) Some(s"$badTiles tiles failed verification") else None).flatten
    RepResult(attempted = nTrips + nImages,
      failed = (nTrips - matched) + noiseAssigned + badTiles, units = matched,
      extra = Map("router.cands_per_stop" -> nCands.toDouble / math.max(1L, nStops)),
      notes = notes)
  }

  /** shapevl share of trips with AN = 0 against the ground-truth rows, as
    * in EvalSpec, scored on the last rep's shapes for every
    * `accuracyEvery`-th trip of each route (trip ids T<row>_<t> with
    * t % accuracyEvery == 0): scoring every trip costs several times a rep. */
  def accuracy(spark: SparkSession): Double = {
    import spark.implicits._
    val sampled = (c: org.apache.spark.sql.Column) =>
      pmod(regexp_extract(c, "_(\\d+)$", 1).cast("int"), lit(accuracyEvery)) === 0
    val trips = t.trips.filter(sampled($"trip_id"))
    val truthByTrip = trips.select($"trip_id", $"route_id")
      .join(t.truthShapes.withColumn("route_id", regexp_replace($"shape_id", "SHP_R", "R")),
        Seq("route_id"))
      .select($"trip_id".as("shape_id"), $"seq", $"lat", $"lng", $"travel_dist")
    val stopDists = t.stopTimes.filter(sampled($"trip_id"))
      .select($"trip_id", $"seq", $"shape_dist")
    val gen = shapes.filter(sampled($"shape_id"))
    val stopDistsGen = anchors.filter(sampled($"trip_id"))
      .join(gen, anchors("trip_id") === gen("shape_id") && anchors("point_seq") === gen("seq"))
      .select(anchors("trip_id"), $"stop_idx".as("seq"), $"travel_dist".as("shape_dist"))
    val scores = Shapevl.evaluate(spark, truthByTrip, gen, stopDists, stopDistsGen)
    // a sampled trip with no score was not matched; it counts as AN > 0
    val an0 = scores.filter(!$"skipped" && $"an" === 0.0).count()
    an0.toDouble / math.max(1L, trips.count())
  }
}
