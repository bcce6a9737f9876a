package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.geo.Geo
import graft.osm.{GraphBuilder, OsmConfig}
import graft.router.{CompactGraph, Matcher}

/** End-to-end slice (SURVEY §7.2): synthetic OSM grid + GTFS feed ->
  * graph build -> candidate join -> Viterbi match -> shapes with monotone
  * measure that follow the known ground-truth rows. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val world = SyntheticWorld.build(rows = 8, cols = 12)
  lazy val t = WorldTables(spark, world)
  lazy val cfg = OsmConfig.bus
  lazy val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
  lazy val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)

  test("graph build: bbox drops outliers, tag filter drops rivers/rail for bus") {
    val nodes = gt.nodes.cache()
    assert(nodes.filter($"node_id" >= 1000000L).count() == 0) // outliers dropped
    // rail rows (r%4==0) excluded by bus keep-filter: nodes on rail-only
    // rows still appear via vertical residential ways
    val edges = gt.edges.cache()
    assert(edges.count() > 0)
    // no edge may come from the river way (it has no highway tag)
    val badWays = world.ways.filter(w => w.tags.contains("waterway")).map(_.id).toSet
    assert(edges.filter($"way_id".isin(badWays.toSeq: _*)).count() == 0)
    // oneway rows flagged
    assert(edges.filter($"oneway" === 1).count() > 0)
  }

  test("edge costs: decisecond fixed point from level speed") {
    val e = gt.edges.filter($"lvl" === 3).select($"len_m", $"cost10").head()
    val expect = Geo.costToInt(e.getDouble(0) / (40.0 / 3.6))
    assert(e.getLong(1) == expect)
  }

  test("station nodes extracted") {
    assert(gt.stations.count() > 0)
    assert(gt.stations.filter($"name".startsWith("Stop")).count() == gt.stations.count())
  }

  test("restrictions extracted from relations") {
    val r = gt.restrictions.collect()
    assert(r.length == 2)
    assert(r.forall(!_.getBoolean(3))) // no_left_turn => negative
  }

  test("transit line dimension + way mapping") {
    assert(gt.transitLines.count() > 0)
    assert(gt.wayLines.count() > 0)
  }

  test("O5 multi-MOT: one shared scan serves bus + rail with per-MOT speeds") {
    val gts = GraphBuilder.buildShared(spark, t.osmNodes, t.osmWays, t.osmRels,
      bbox, Seq("bus" -> OsmConfig.bus, "rail" -> OsmConfig.rail))
    val bus = gts("bus"); val rail = gts("rail")
    // the union keep-filter feeds both MOTs, but each keeps only its ways:
    // rail rows (r%4==0, railway=rail) for rail, highway ways for bus
    val railWays = world.ways.filter(_.tags.get("railway").contains("rail"))
      .map(_.id).toSet
    assert(rail.edges.count() > 0)
    assert(rail.edges.filter(!$"way_id".isin(railWays.toSeq: _*)).count() == 0)
    assert(bus.edges.filter($"way_id".isin(railWays.toSeq: _*)).count() == 0)
    // per-MOT level speeds survive the shared scan: rail lvl 0 = 120 km/h
    val e = rail.edges.filter($"lvl" === 0).select($"len_m", $"cost10").head()
    assert(e.getLong(1) == Geo.costToInt(e.getDouble(0) / (120.0 / 3.6)))
    // per-MOT outputs: the bus graph from the shared scan still matches
    // every trip (identical to a standalone build)
    val graph = CompactGraph.fromEdges(bus.edges, bus.restrictions,
      bus.wayLines, bus.transitLines, bus.turnCycles)
    val cands = Matcher.buildCands(spark, t.stops, bus.edges, cfg)
    val shapes = Matcher.matchTrips(spark, WorldTables.tripStops(t), cands, graph, cfg)
    assert(shapes.select("shape_id").distinct().count() == t.trips.count())
  }

  test("candidate join finds nearby edges for every stop") {
    val cands = Matcher.buildCands(spark, t.stops, gt.edges, cfg).cache()
    val nStops = t.stops.count()
    val stopsWithCands = cands.select("stop_id").distinct().count()
    assert(stopsWithCands == nStops, s"$stopsWithCands of $nStops stops have candidates")
    // every stop's best candidate should be ~25 m away (the row street)
    val worstBest = cands.groupBy($"stop_id").agg(min($"dist_m").as("best"))
      .agg(max($"best")).head().getDouble(0)
    assert(worstBest < 50.0, s"worst best-candidate distance $worstBest")
  }

  test("end-to-end: matched shapes follow the row streets with monotone measure") {
    val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions)
    val cands = Matcher.buildCands(spark, t.stops, gt.edges, cfg)
    val shapes = Matcher.matchTrips(spark, WorldTables.tripStops(t), cands, graph, cfg)
      .cache()
    val nTrips = t.trips.count()
    assert(shapes.select("shape_id").distinct().count() == nTrips)

    // measure monotone (GTFS requirement, ShapeBuilder.cpp:1157)
    val viol = shapes
      .withColumn("prev", lag($"travel_dist", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"shape_id").orderBy($"seq")))
      .filter($"prev".isNotNull && $"travel_dist" < $"prev")
      .count()
    assert(viol == 0)

    // every shape point must lie within ~40 m of its trip's row street
    val rowLat = world.trips.map(tr => tr.trip_id -> {
      val r = tr.route_id.drop(1).toInt; SyntheticWorld.latOf(r)
    }).toMap
    val pts = shapes.select($"shape_id", $"lat").collect()
    val maxDev = pts.map { r =>
      math.abs(r.getDouble(1) - rowLat(r.getString(0))) * Geo.MPerDeg
    }.max
    assert(maxDev < 40.0, s"max deviation from row street: $maxDev m")

    // shape length ~ street distance between first and last stop
    val lens = shapes.groupBy($"shape_id").agg(max($"travel_dist").as("len")).collect()
    lens.foreach { r =>
      val expect = 9 * SyntheticWorld.SpacingM // cols=12, stops at 0,3,6,9
      assert(math.abs(r.getFloat(1) - expect) < 100.0,
        s"${r.getString(0)}: len ${r.getFloat(1)} vs $expect")
    }
  }

  // one min-trip_id payload per seq_key
  test("identical stop sequences solved once") {
    val ts = WorldTables.tripStops(t)
    val withKey = Matcher.tripStopsWithKey(ts)
    val (seqKeys, distinctSeqs) = Matcher.tripSeqTables(ts)
    val keyOf = withKey.select($"trip_id", $"seq_key").as[(String, String)].collect().toMap
    // every trip listed exactly once, under tripStopsWithKey's seq_key
    val members = seqKeys.select(explode($"trip_ids").as("trip_id"), $"seq_key")
      .as[(String, String)].collect()
    assert(members.length == keyOf.size)
    assert(members.toMap == keyOf)
    // trips sharing a sequence exist, so the representative choice matters
    assert(keyOf.values.toSet.size < keyOf.size)
    // one payload row per key: the smallest member trip's keyed row
    val payload = Seq("seq_key", "line_name", "stops", "from_name", "to_name").map(col)
    val got = distinctSeqs.select(payload: _*).collect()
    assert(got.map(_.getString(0)).toSet.size == got.length)
    assert(got.map(_.getString(0)).toSet == keyOf.values.toSet)
    val minTrip = keyOf.groupBy(_._2).map { case (_, m) => m.keys.min }.toSeq
    val expect = withKey.filter($"trip_id".isin(minTrip: _*)).select(payload: _*).collect()
    assert(got.toSet == expect.toSet)
  }

  /** Plans built with every boundary passed through (plan inspection) */
  private def audited[T](f: => T): T = {
    graft.plans.Boundary.audit = true
    try f finally graft.plans.Boundary.audit = false
  }

  test("plan guard: keying scans the stop_times source once") {
    // a source scan is identified by the RDD it reads (self-join
    // deduplication re-instantiates the leaf with fresh attribute ids)
    def scannedRdds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().collect {
        case e: org.apache.spark.sql.execution.ExternalRDD[_] => e.rdd.id
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }
    val stopTimesRdd = scannedRdds(t.stopTimes).head
    val (seqKeys, distinctSeqs) = audited(Matcher.tripSeqTables(WorldTables.tripStops(t)))
    for (df <- Seq(seqKeys, distinctSeqs))
      assert(scannedRdds(df).count(_ == stopTimesRdd) == 1, df.queryExecution.optimizedPlan)
  }

  test("plan guard: the solver input has no join keyed on seq_key") {
    val parts = graft.router.GraphPartitions.build(spark,
      CompactGraph.fromEdges(gt.edges, gt.restrictions))
    val cands = Matcher.buildCands(spark, t.stops, gt.edges, cfg)
    val solverIn = audited(Matcher.solveSeqs(spark,
      Matcher.tripSeqTables(WorldTables.tripStops(t))._2, cands, parts, cfg))
    val seqKeyJoins = solverIn.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name == "seq_key")) => j
    }
    assert(seqKeyJoins.isEmpty, seqKeyJoins.flatMap(_.condition).mkString("; "))
  }
}

class ContractionSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("G8 collapseEdges: deg-2 shape-point chains merge, intersections split") {
    // way 1: nodes 1-2-3-4 (2,3 are shape points, deg 2)
    // way 2: crosses at node 4 (so 4 is an intersection, deg 3)
    // way 1 continues 4-5
    val rows = Seq(
      // edge_id, way_id, pos, from, to, f_lat, f_lon, t_lat, t_lon, len, cost, lvl, ow
      (100L, 1L, 0, 1L, 2L, 48.00, 7.80, 48.00, 7.81, 100.0, 50L, 3, 0),
      (101L, 1L, 1, 2L, 3L, 48.00, 7.81, 48.01, 7.81, 100.0, 50L, 3, 0),
      (102L, 1L, 2, 3L, 4L, 48.01, 7.81, 48.01, 7.82, 100.0, 50L, 3, 0),
      (103L, 1L, 3, 4L, 5L, 48.01, 7.82, 48.01, 7.83, 100.0, 50L, 3, 0),
      (200L, 2L, 0, 4L, 6L, 48.01, 7.82, 48.02, 7.82, 100.0, 50L, 3, 0))
      .toDF("edge_id", "way_id", "pos", "from_id", "to_id",
        "from_lat", "from_lon", "to_lat", "to_lon", "len_m", "cost10", "lvl", "oneway")
    val c = graft.osm.GraphBuilder.contractDeg2Chains(rows).cache()
    assert(c.count() == 3) // (1-2-3-4), (4-5), (4-6)
    val chain = c.filter($"edge_id" === 100L).head()
    assert(chain.getAs[Long]("from_id") == 1L && chain.getAs[Long]("to_id") == 4L)
    assert(chain.getAs[Double]("len_m") == 300.0)
    assert(chain.getAs[Long]("cost10") == 150L)
    val geom = chain.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("geom")
    assert(geom.length == 4) // 1,2,3,4
    assert(geom.head.getDouble(0) == 48.00 && geom.last.getDouble(1) == 7.82)
    // the crossing edge survives untouched
    assert(c.filter($"edge_id" === 200L).count() == 1)
  }
}
