package graft.tools

import org.apache.spark.sql.functions._

/** Bin-locality evidence (the GraphPartitions scaladoc's cluster
  * optimization, now implemented as Matcher.BinBlockPartitioner): on a
  * multi-city world with file-backed bins, count the DISTINCT bins each
  * executor resolves during the solve — with the default hash shuffle
  * every executor touches nearly every bin (fetched bytes ~= whole
  * graph); with bin-block placement an executor's tasks concentrate on
  * few bins (fetched bytes ~= its bins). Run under real executor
  * processes: SPARK_GRAFT_CLUSTER=1, N executors x 2 cores.
  *
  * Env: SPARK_GRAFT_N executors (default 4), SPARK_GRAFT_CITIES (8),
  * SPARK_GRAFT_ROWS/COLS/TPR (16/24/8). */
object LocalityProbe {
  def main(args: Array[String]): Unit = {
    val nExec = sys.env.getOrElse("SPARK_GRAFT_N", "4").toInt
    val cities = sys.env.getOrElse("SPARK_GRAFT_CITIES", "8").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_ROWS", "16").toInt
    val cols = sys.env.getOrElse("SPARK_GRAFT_COLS", "24").toInt
    val tpr = sys.env.getOrElse("SPARK_GRAFT_TPR", "8").toInt
    val cfg = graft.osm.OsmConfig.bus

    val spark = ScalingBench.session(nExec * 2)
    try {
      import spark.implicits._
      val world = graft.fixtures.SyntheticWorld.buildMulti(cities, rows, cols,
        tripsPerRoute = tpr, variedTrips = true)
      val t = graft.fixtures.WorldTables(spark, world)
      val bbox = graft.osm.GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val gt = graft.osm.GraphBuilder.build(spark, t.osmNodes, t.osmWays,
        t.osmRels, bbox, cfg)
      val binDir = new java.io.File("target/binstore/locality").getAbsolutePath
      val dist = graft.router.DistGraphBuild.build(spark, gt, cfg, binDir,
        minBinEdges = 64)
      println(s"[locality] bins=${dist.nBins}")
      val binBytes = dist.parts.bins.map {
        case graft.router.FileBin(p, _) => new java.io.File(
          new java.net.URI(if (p.startsWith("file:")) p else "file://" + p).getPath).length
        case _ => 0L
      }
      val cands = graft.plans.Boundary.eagerly(graft.router.DistGraphBuild.tagCands(
        graft.router.Matcher.buildCandsWithStations(spark, t.stops, dist.edges,
          dist.stations, cfg), dist.edges))
      val keyed = graft.plans.Boundary.eagerly(graft.router.Matcher.tripStopsWithKey(
        graft.fixtures.WorldTables.tripStops(t)))

      def run(locality: Boolean): Map[String, Set[Int]] = {
        graft.router.Matcher.BinLocalityDisabled = !locality
        graft.router.HopCache.clear()
        val acc = spark.sparkContext.collectionAccumulator[(String, Int)]("binTouch")
        dist.parts.touchAcc = acc
        val n = graft.router.Matcher.solveKeyedSeqs(spark, keyed, cands,
          dist.parts, cfg).count()
        dist.parts.touchAcc = null
        import scala.jdk.CollectionConverters._
        val touches = acc.value.asScala.toSeq
        println(s"[locality] locality=$locality solves=$n touches=${touches.size}")
        touches.groupBy(_._1).map { case (e, xs) => e -> xs.map(_._2).toSet }
      }

      for (locality <- Seq(false, true); rep <- 1 to 2) {
        val perExec = run(locality).filter(_._1 != "driver")
        val lines = perExec.toSeq.sortBy(_._1).map { case (e, bins) =>
          f"exec $e: ${bins.size} bins, ${bins.toSeq.map(binBytes(_)).sum / 1024} KiB"
        }
        val avgBins = if (perExec.isEmpty) 0.0
          else perExec.values.map(_.size).sum.toDouble / perExec.size
        val avgKiB = if (perExec.isEmpty) 0L
          else perExec.values.map(_.toSeq.map(binBytes(_)).sum).sum / math.max(1, perExec.size) / 1024
        println(f"[locality] rep=$rep locality=$locality avgBinsPerExec=$avgBins%.1f " +
          f"avgKiBPerExec=$avgKiB (graph total ${binBytes.sum / 1024} KiB)")
        lines.foreach(l => println(s"[locality]   $l"))
      }
    } finally spark.stop()
  }
}
