package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.StringSim
import graft.plans.{Boundary, ConnectedComponents, Snapshots}

class StringSimSpec extends AnyFunSuite {
  test("normalizer: ordered regex chain, lowercase, memo") {
    val n = StringSim.stationNormalizer
    assert(n.norm("Hauptbahnhof (Nord)") == "hauptbahnhof")
    assert(n.norm("Bhf. Littenweiler") == "bahnhof littenweiler")
    assert(n.norm("A,B;C/D") == "a b c d")
  }

  test("jaccard / edit / prefix / bts similarities") {
    assert(StringSim.jaccardSimi("Main Station", "Station Main") == 1.0)
    assert(StringSim.jaccardSimi("Main Station", "Other Stop") == 0.0)
    assert(StringSim.editDist("kitten", "sitting") == 3)
    assert(StringSim.editSimi("abcd", "abcd") == 1.0)
    assert(StringSim.prefixEditSimi("Haupt", "Hauptbahnhof") == 1.0)
    assert(StringSim.btsSimi("Littenweiler", "Freiburg Littenweiler Bahnhof") >= 0.85)
    assert(StringSim.lineSimi("L5", "L5") == 1.0)
    assert(StringSim.lineSimi("5", "Bus 5") > 0.5)
  }

  test("combined geo-distance classifier") {
    assert(StringSim.stationsSimilar("Stop 2/0", "Stop 2/0", 50.0))
    assert(StringSim.stationsSimilar("Stop 2/0 (Platform A)", "Stop 2/0", 10.0))
    assert(!StringSim.stationsSimilar("Stop 2/0", "Completely Different", 500.0))
  }

  test("hex colors + text color + gtfs time") {
    assert(StringSim.parseHexColor("#ff0000") == 0xff0000)
    assert(StringSim.parseHexColor("#f00") == 0xff0000)
    assert(StringSim.parseHexColor("red") == 0xff0000)
    assert(StringSim.parseHexColor("nope!") == -1)
    assert(StringSim.textColorFor(0x000080) == 0xffffff)
    assert(StringSim.textColorFor(0xffff00) == 0x000000)
    assert(StringSim.gtfsTimeToSec("08:30:15") == 30615)
    assert(StringSim.gtfsTimeToSec("26:00:00") == 93600) // > 24 h valid in GTFS
    assert(StringSim.gtfsTimeToSec("bad") == -1)
  }
}

class PlansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("distributed connected components: two chains + isolated pair") {
    // chain 1: 1-2-3-4-5 ... long chain tests pointer jumping
    val chain = (1L until 20L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L))
    val edges = (chain ++ extra).toDF("a", "b")
    val comps = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 20L).forall(comps(_) == 1L))
    assert(comps(100L) == 100L && comps(101L) == 100L)
  }

  test("connected components free consumed per-round checkpoint blocks") {
    // Dataset.unpersist is a no-op for localCheckpoint blocks (it goes
    // through the CacheManager), so before the RDD-level unpersist every
    // round LEAKED its step1 + previous-labels blocks until a GC ran the
    // ContextCleaner. The long chain forces several pointer-jumping
    // rounds; afterwards only the final labels checkpoint (plus nothing
    // else from this run) may remain persisted.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (1L until 40L).map(i => (i, i + 1))
    val labels = ConnectedComponents.run(chain.toDF("a", "b"))
    assert(labels.count() == 40)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"per-round checkpoint blocks leaked: $leaked")
  }

  test("boundary release refuses to free blocks before the consumer is materialized") {
    def rdd(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    val consumed = Boundary.lazily(spark.range(0, 100, 1, 4).toDF("id"))
    // the blocks are labeled with the caller's line, not the helper's
    assert(rdd(consumed).toString.contains("localCheckpoint at OpsSpec.scala"),
      rdd(consumed).toString)
    val next = Boundary.lazily(consumed.groupBy(($"id" % 10).as("k")).count())
    val e = intercept[IllegalStateException](Boundary.release(consumed, by = next))
    assert(e.getMessage.contains("OpsSpec.scala"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd(consumed).id))
    assert(next.count() == 10)
    Boundary.release(consumed, by = next)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd(consumed).id))
    assert(next.count() == 10)
  }

  test("snapshots: stage computes once, resumes from manifest") {
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    var computes = 0
    def run() = Snapshots.stage(spark, dir, "stage1", "fp1") {
      computes += 1
      Seq((1, "a"), (2, "b")).toDF("id", "v")
    }
    val d1 = run()
    assert(d1.count() == 2 && computes == 1)
    val d2 = run() // same fingerprint -> snapshot read, no recompute
    assert(d2.count() == 2 && computes == 1)
    val m = Snapshots.readManifest(dir, "stage1").get
    assert(m.rows == 2 && m.fingerprint == "fp1" && m.partitions.map(_._2).sum == 2)
    // changed fingerprint -> recompute
    Snapshots.stage(spark, dir, "stage1", "fp2") { computes += 1; Seq((3, "c")).toDF("id", "v") }
    assert(computes == 2)
    assert(Snapshots.readManifest(dir, "stage1").get.rows == 1)
  }

  test("writers: geojson + gtfs shapes csv round") {
    val shapes = Seq(("T1", 0, 48.0, 7.8, 0.0f), ("T1", 1, 48.0, 7.81, 100.0f))
      .toDF("shape_id", "seq", "lat", "lng", "travel_dist")
    val gj = graft.sources.Writers.shapesToGeoJson(shapes)
    assert(gj.contains("\"LineString\"") && gj.contains("[7.8,48.0]"))
    val dir = java.nio.file.Files.createTempDirectory("gtfs").toString
    graft.sources.Writers.writeGtfsShapes(shapes, dir)
    val back = spark.read.option("header", "true").csv(s"$dir/shapes")
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("shape_id", "shape_pt_lat", "shape_pt_lon",
      "shape_pt_sequence", "shape_dist_traveled"))
  }

  test("overpass + osmfilter generators emit keep rules") {
    val cfg = graft.osm.OsmConfig.bus
    val bbox = graft.osm.GraphBuilder.BBox(47.9, 7.7, 48.1, 7.9)
    val xml = graft.sources.FilterQueryGen.overpassXml(cfg, bbox)
    assert(xml.contains("highway") && xml.contains("secondary") && xml.contains("bbox-query"))
    val of = graft.sources.FilterQueryGen.osmfilterRules(cfg)
    assert(of.contains("highway=residential"))
  }
}

/** The distributed stop_times expansion must be row-identical to the
  * driver-built Seq — both for a single world and for the multi-city
  * (prefixed trip id) world. */
class FixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def assertSame(w: graft.fixtures.SyntheticWorld.World): Unit = {
    val distDf = graft.fixtures.WorldTables.distributedStopTimes(
      spark, w, w.spec.get)
    val got = distDf.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3),
        r.getInt(4), r.getFloat(5))).sortBy(x => (x._1, x._2))
    val want = w.stopTimes
      .map(st => (st.trip_id, st.seq, st.stop_id, st.arr_s, st.dep_s, st.shape_dist))
      .sortBy(x => (x._1, x._2))
    assert(got.length == want.length)
    assert(got.sameElements(want))
  }

  test("distributed stop_times == driver stop_times (single city, varied)") {
    assertSame(graft.fixtures.SyntheticWorld.build(8, 18, tripsPerRoute = 7,
      variedTrips = true))
  }

  test("distributed stop_times == driver stop_times (multi-city prefix ids)") {
    assertSame(graft.fixtures.SyntheticWorld.buildMulti(3, 8, 12,
      tripsPerRoute = 3, variedTrips = true))
  }
}
