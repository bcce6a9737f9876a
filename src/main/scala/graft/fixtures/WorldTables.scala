package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** SyntheticWorld -> Spark DataFrames.
  *
  * Tables go through sc.parallelize, NOT Seq.toDF: toDF embeds every row
  * as a literal LocalRelation inside the logical plan — at bench world
  * sizes that made MULTI-MEGABYTE plans (11.7M chars at 96x192/tpr900)
  * that every optimizer pass and AQE update re-walked. */
object WorldTables {
  case class Tables(osmNodes: DataFrame, osmWays: DataFrame, osmRels: DataFrame,
                    stops: DataFrame, routes: DataFrame, trips: DataFrame,
                    stopTimes: DataFrame, truthShapes: DataFrame)

  /** Above this row count, stop_times is regenerated ON THE EXECUTORS from
    * the slim trips table instead of parallelized from the driver Seq —
    * shipping the driver-built rows serialized millions of objects into a
    * handful of 100 MB tasks (driver CPU + network, measured inside the
    * match phase at bench world sizes). */
  val StopTimesDistRows = 200000

  def apply(spark: SparkSession, w: SyntheticWorld.World): Tables = {
    import spark.implicits._
    def dist[T: org.apache.spark.sql.Encoder : scala.reflect.ClassTag](s: Seq[T]): DataFrame = {
      val slices = math.min(spark.sparkContext.defaultParallelism,
        math.max(1, s.length / 10000))
      spark.createDataset(spark.sparkContext.parallelize(s, slices)).toDF()
    }
    val stopTimesDf = w.spec match {
      case Some(spec) if w.stopTimes.length > StopTimesDistRows =>
        distributedStopTimes(spark, w, spec)
      case _ => dist(w.stopTimes)
    }
    Tables(
      osmNodes = dist(w.nodes),
      osmWays = dist(w.ways),
      osmRels = dist(w.rels),
      stops = dist(w.stops),
      routes = dist(w.routes),
      trips = dist(w.trips),
      stopTimes = stopTimesDf,
      truthShapes = dist(w.truthShapes))
  }

  /** Executor-side stop_times expansion: ship only trip ids (a few bytes
    * each), regenerate the rows via SyntheticWorld.stopTimesOfTrip in a
    * flatMap. Row-identical to the driver path (pinned by FixtureSpec);
    * sliced well past defaultParallelism so generation parallelizes and no
    * single task carries a whole city. */
  def distributedStopTimes(spark: SparkSession, w: SyntheticWorld.World,
                           spec: SyntheticWorld.WorldSpec): DataFrame = {
    import spark.implicits._
    val ids = w.trips.map(_.trip_id)
    val slices = math.max(spark.sparkContext.defaultParallelism,
      math.min(256, math.max(1, ids.length / 2000)))
    spark.createDataset(spark.sparkContext.parallelize(ids, slices))
      .flatMap(tid => SyntheticWorld.stopTimesOfTrip(tid, spec))
      .toDF()
  }

  /** J7: trip_id -> ordered stop rows with coordinates + line identity. */
  def tripStops(t: Tables): DataFrame = {
    import t.stopTimes.sparkSession.implicits._
    // broadcast: stops are bounded by the feed, not by trips, and these RDD
    // scans carry no size statistics, so the planner would otherwise
    // shuffle every stop_times row by stop_id to attach coordinates
    t.stopTimes
      .join(broadcast(t.stops.select($"stop_id", $"name".as("stop_name"), $"lat", $"lng")),
        Seq("stop_id"))
      .join(t.trips.select($"trip_id", $"trip_short_name".as("line_name")), Seq("trip_id"))
      .select($"trip_id", $"seq", $"stop_id", $"arr_s", $"dep_s", $"lat", $"lng",
        $"line_name", $"stop_name")
  }
}
