package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GeoFunctions
import graft.geo.{Cell, Geo}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a codegen compile failure fails the test instead of falling back
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GeoFunctions.register(s)
    s
  }
}

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("gcell expression matches Cell.encode, codegen path") {
    val df = Seq((47.9976, 7.8403), (-33.9, 151.2), (0.0, 0.0))
      .toDF("lat", "lon")
      .withColumn("cell", GeoFunctions.gcell(col("lat"), col("lon"), 12))
    val got = df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    got.foreach { case (lat, lon, c) => assert(c == Cell.encode(lat, lon, 12)) }
    // SQL registration
    val viaSql = spark.sql("SELECT gcell(CAST(47.9976 AS DOUBLE), CAST(7.8403 AS DOUBLE), 12) c")
      .head().getLong(0)
    assert(viaSql == Cell.encode(47.9976, 7.8403, 12))
  }

  test("kring explode joins neighbors") {
    val df = Seq((1L, 47.9976, 7.8403)).toDF("id", "lat", "lon")
      .withColumn("cell", GeoFunctions.gcell(col("lat"), col("lon"), 12))
      .withColumn("ring", explode(GeoFunctions.kring(col("cell"), 1)))
    assert(df.count() == 9)
  }

  test("haversine_m expression equals scala impl") {
    val d = Seq((47.9976, 7.8403, 47.9953, 7.8496)).toDF("a", "b", "c", "d")
      .select(GeoFunctions.haversineM(col("a"), col("b"), col("c"), col("d")))
      .head().getDouble(0)
    assert(d == Geo.haversineM(47.9976, 7.8403, 47.9953, 7.8496))
  }

  test("gcell_parent hierarchy in SQL") {
    val r = spark.sql(
      "SELECT gcell_parent(gcell(CAST(47.99 AS DOUBLE), CAST(7.84 AS DOUBLE), 14), 10) p")
      .head().getLong(0)
    assert(r == Cell.parent(Cell.encode(47.99, 7.84, 14), 10))
  }

  test("nulls propagate") {
    val r = spark.sql("SELECT gcell(CAST(NULL AS DOUBLE), CAST(7.84 AS DOUBLE), 12) c").head()
    assert(r.isNullAt(0))
  }
}
