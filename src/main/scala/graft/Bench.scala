package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.images.ImageFixtures
import graft.osm.{GraphBuilder, OsmConfig}
import graft.overlay.ImageOverlay
import graft.router.{CompactGraph, Matcher}

/** Bench harness (driver-run): headline = the map-match + tile-assignment
  * pipeline on a larger synthetic world, plus every catalog query on
  * SPARK_GRAFT_SF_DIR. Prints ONE JSON line. */
object Bench {
  /** Shuffle/checkpoint block directory for bench sessions. Default is
    * tmpfs (/dev/shm): this sandbox has ONE shared virtual disk, so at 32
    * concurrent tasks the shuffle writers serialize on it — an artifact of
    * the single-node proxy (a real N-executor cluster brings N local disks
    * whose aggregate bandwidth scales with the executors measured). Gated:
    * SPARK_GRAFT_LOCAL_DIR overrides (set it to a disk path when the bench
    * world's shuffle volume would compete with the heap for physical
    * memory), and the directory is wiped at session start — tmpfs blocks
    * from a crashed previous run are pure RAM waste. */
  def benchLocalDir(): String = {
    // a user-supplied dir gets a fixed subdirectory appended so reclaiming
    // stale siblings below can never touch unrelated contents of an
    // existing, non-dedicated directory
    val base = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .map(_ + "/graft-spark-local")
      .getOrElse(
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir") + "/graft-spark-local")
    // per-JVM subdir named by pid: wiping the SHARED path at session start
    // deleted the live block-manager dirs of any concurrently running
    // bench (measured as a mid-run NoSuchFileException crash). Instead
    // each JVM owns pid-<n>, and stale siblings are reclaimed only when
    // their owning pid is dead — crashed runs still cannot leak tmpfs RAM.
    val pid = ProcessHandle.current().pid()
    def rm(x: java.io.File): Unit = {
      val cs = x.listFiles(); if (cs != null) cs.foreach(rm); x.delete(); ()
    }
    val bf = new java.io.File(base)
    val sib = bf.listFiles()
    if (sib != null) sib.foreach { d =>
      val nm = d.getName
      if (nm.startsWith("pid-")) {
        val alive = nm.drop(4).toLongOption
          .exists(p => ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        if (!alive) rm(d)
      } // non-pid entries are left alone: base is always a dedicated subdir
    }
    val f = new java.io.File(bf, s"pid-$pid")
    f.mkdirs()
    f.getAbsolutePath
  }

  /** per-phase Spark task metrics: (executor task ms, executor GC ms,
    * task count, longest single task ms) — wall >> taskMs/cores means the
    * phase is driver- or scheduling-bound; maxTaskMs close to the phase
    * wall means one straggler task gates the phase (skew). */
  case class PhaseM(taskMs: Long, gcMs: Long, nTasks: Long, maxTaskMs: Long = 0,
                    fetchMs: Long = 0, shufWriteMs: Long = 0,
                    serMs: Long = 0, deserMs: Long = 0)
  case class PipelineStats(rows: Long, tiles: Long, phases: Seq[(String, Double)],
                           metrics: Map[String, PhaseM] = Map.empty)

  /** accumulates executor task metrics across all jobs (thread-safe), plus
    * per-stage totals so a phase's time can be attributed to the exact
    * operator (stage names carry the first line of the stage's call site) */
  final class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
    val taskMs = new java.util.concurrent.atomic.LongAdder
    val gcMs = new java.util.concurrent.atomic.LongAdder
    val nTasks = new java.util.concurrent.atomic.LongAdder
    // shuffle/serialization attribution: fetch wait + shuffle write time
    // are INSIDE executorRunTime, so a phase whose taskMs balloons with
    // executor count but whose kernel CPU is flat is localized here
    val fetchMs = new java.util.concurrent.atomic.LongAdder
    val shufWriteMs = new java.util.concurrent.atomic.LongAdder
    val serMs = new java.util.concurrent.atomic.LongAdder
    val deserMs = new java.util.concurrent.atomic.LongAdder
    /** longest single task since the last snapWindowMax() — straggler/skew
      * evidence per phase */
    private val maxMs = new java.util.concurrent.atomic.AtomicLong(0)
    private val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageMs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      stageName.put(e.stageInfo.stageId, e.stageInfo.name.takeWhile(_ != '\n').take(80))
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskMs.add(m.executorRunTime); gcMs.add(m.jvmGCTime); nTasks.increment()
        fetchMs.add(m.shuffleReadMetrics.fetchWaitTime)
        shufWriteMs.add(m.shuffleWriteMetrics.writeTime / 1000000L) // ns -> ms
        serMs.add(m.resultSerializationTime)
        deserMs.add(m.executorDeserializeTime)
        maxMs.getAndAccumulate(m.executorRunTime, math.max)
        val nm = stageName.getOrDefault(e.stageId, s"stage-${e.stageId}")
        stageMs.computeIfAbsent(nm, _ => new java.util.concurrent.atomic.LongAdder)
          .add(m.executorRunTime)
      }
    }
    def snap(): Array[Long] = Array(taskMs.sum(), gcMs.sum(), nTasks.sum(),
      fetchMs.sum(), shufWriteMs.sum(), serMs.sum(), deserMs.sum())
    /** max task ms since last call (phase-window scoped), then reset */
    def snapWindowMax(): Long = maxMs.getAndSet(0)
    /** top-k stages by task ms since the given snapshot (approximate:
      * whole-run totals; call once per run for clean attribution) */
    def topStages(k: Int): Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      stageMs.asScala.toSeq.map { case (n, a) => (n, a.sum()) }
        .sortBy(-_._2).take(k)
    }
  }

  /** Host CPU-steal meter (/proc/stat): this sandbox is a microVM guest
    * with bursty multi-minute steal episodes (measured up to ~18% of all
    * cores) that inflate executor wall AND task times. Benchmarks sample
    * it around every measured run so contaminated reps are identified
    * objectively instead of by surprise. */
  object StealMeter {
    /** cumulative (stealTicks, totalTicks) since boot */
    def sample(): (Long, Long) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }
    /** steal percentage of all-core time between two samples */
    def pct(a: (Long, Long), b: (Long, Long)): Double =
      if (b._2 <= a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The headline pipeline at a given world size; returns phase timings. */
  def runPipeline(spark: SparkSession, rows: Int, cols: Int,
                  tripsPerRoute: Int): PipelineStats = {
    import spark.implicits._
    val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val metrics = scala.collection.mutable.Map[String, PhaseM]()
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    var last = listener.snap()
    def mark(name: String): Unit = {
      // listener events are async; a short drain keeps phase attribution
      // honest without reaching into the private listener bus
      Thread.sleep(60)
      val cur = listener.snap()
      metrics(name) = PhaseM(cur(0) - last(0), cur(1) - last(1), cur(2) - last(2),
        listener.snapWindowMax(),
        cur(3) - last(3), cur(4) - last(4), cur(5) - last(5), cur(6) - last(6))
      last = cur
    }
    val world = SyntheticWorld.buildCached(rows, cols, tripsPerRoute = tripsPerRoute,
      variedTrips = true)
    val t = WorldTables(spark, world)
    val cfg = OsmConfig.bus

    val (gbx, tGraph) = timed {
      val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val g = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
      g.edges.cache().count(); (g, bbox)
    }
    val (gt0, bbox) = gbx
    phases += ("graph_build" -> tGraph)
    mark("graph_build")

    // SPARK_GRAFT_DIST_BUILD=1: the fully distributed construction path —
    // CC + per-bin snap cogroup + executor-built file-backed bins
    // (DistGraphBuild); no O(numEdges) driver materialization. Default:
    // the driver-side snap + collect + broadcast path.
    val distBuild = sys.env.contains("SPARK_GRAFT_DIST_BUILD")
    val (edgesR, stationsR, partsOrNull, graphOrNull) = if (distBuild) {
      val binDir = new java.io.File(
        sys.env.getOrElse("SPARK_GRAFT_BIN_DIR", "target/binstore/bench"))
        .getAbsolutePath
      val (res, tSnap) = timed {
        val r = graft.router.DistGraphBuild.build(spark, gt0, cfg, binDir)
        r.edges.cache().count(); r
      }
      phases += ("station_snap" -> tSnap)
      mark("station_snap")
      phases += ("graph_collect" -> 0.0) // no driver collect on this path
      mark("graph_collect")
      (res.edges, res.stations, res.parts, null: CompactGraph)
    } else {
      // J4/J6/F4: orphan-station snap + edge splitting (bounded dimension)
      val (gt, tSnap) = timed {
        val (g2, _) = graft.osm.StationSnap.refine(spark, gt0, cfg, gt0.blockers)
        g2.edges.cache().count(); g2
      }
      phases += ("station_snap" -> tSnap)
      mark("station_snap")
      val (graph, tCollect) = timed(CompactGraph.fromEdges(gt.edges, gt.restrictions,
        gt.wayLines, gt.transitLines, gt.turnCycles))
      phases += ("graph_collect" -> tCollect)
      mark("graph_collect")
      (gt.edges, gt.stations, null: graft.router.GraphPartitions, graph)
    }

    val (cands, tCands) = timed {
      // flagship path: station-aware candidates (J4/J5 + statsimi).
      // boundary: the cands DAG (kring explode x edge cells x
      // station simi joins) is referenced by the solve AND the join-backs;
      // truncating keeps downstream AQE plan strings bounded.
      val c0 = Matcher.buildCandsWithStations(spark, t.stops, edgesR,
        stationsR, cfg,
        maxAbsLat = Some(math.max(math.abs(bbox.latMin), math.abs(bbox.latMax))))
      // lazy: the count() below is the materializing action — an eager
      // boundary would run the identical work as its own job and then pay
      // a second scheduler round-trip for the count
      val c = graft.plans.Boundary.lazily(
        if (distBuild) graft.router.DistGraphBuild.tagCands(c0, edgesR) else c0)
      c.count(); c
    }
    phases += ("cands_join" -> tCands)
    mark("cands_join")

    val (shapes, tMatch) = timed {
      val mr =
        if (distBuild) Matcher.matchTripsFull(spark, WorldTables.tripStops(t),
          cands, partsOrNull, cfg)
        else Matcher.matchTripsFull(spark, WorldTables.tripStops(t),
          cands, graphOrNull, cfg)
      val s = mr.shapes.cache()
      s.count(); s
    }
    phases += ("viterbi_match" -> tMatch)
    mark("viterbi_match")
    val nTrips = shapes.select("shape_id").distinct().count()

    // images materialization is its own phase: its executor tasks used to
    // land inside tile_overlay's listener window (untimed in wall but
    // charged to the overlay's task/GC attribution)
    val (images, tImages) = timed {
      val im = ImageFixtures.table(spark, world, cfg.cellRes, noiseTiles = 64).cache()
      im.count(); im
    }
    phases += ("images_build" -> tImages)
    mark("images_build")
    val (assigned, tOverlay) = timed {
      val a = ImageOverlay.assign(images, shapes, cfg.cellRes).cache()
      a.count(); a
    }
    phases += ("tile_overlay" -> tOverlay)
    mark("tile_overlay")
    val (nVerified, tVerify) = timed(ImageOverlay.verify(spark, images).count())
    phases += ("tile_verify" -> tVerify)
    mark("tile_verify")

    spark.sparkContext.removeSparkListener(listener)
    if (sys.env.contains("SPARK_GRAFT_STAGE_ATTRIB"))
      listener.topStages(12).foreach { case (n, ms) =>
        println(f"[stage-attrib] ${ms / 1000.0}%8.1f s  $n")
      }
    PipelineStats(nTrips, assigned.count() + nVerified, phases.toSeq, metrics.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan strings are structurally bounded now (lineage checkpoints at
      // the diamond choke points cut the r2-era 45M-char expansions to
      // <~120k); the cap is a backstop against regressions, set above the
      // legitimate maximum so a default run logs zero truncation warnings
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", benchLocalDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(spark)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    // headline: map-match + tile assignment pipeline. FULL-SIZE warm-up
    // first (same discipline as the scaling harness): the r1 headline
    // measured cold-JIT kernel time and disagreed with BENCH/BASELINE.md
    // by 140x on the same code, and a toy-size warm-up (8x12/tpr2) left
    // C2 still compiling through rep 3 of the measured world — r5's reps
    // printed monotone-decreasing 5.3/3.6/2.9 s, i.e. the "best of 3" was
    // still a warm-up gradient, not steady state. Per-phase BEST of 3
    // reps: this host has bursty CPU steal (a single-shot phase time can
    // be 10x off); the minimum is the uncontended measurement.
    runPipeline(spark, rows = 24, cols = 40, tripsPerRoute = 40)
    spark.catalog.clearCache()
    graft.router.HopCache.clear()
    runPipeline(spark, rows = 24, cols = 40, tripsPerRoute = 40)
    // reset the A9 stats adders so the published counters cover exactly
    // the measured reps — warm-up iterations would otherwise inflate
    // dijkstra_iters/kernel_solves and break their round-over-round
    // determinism (the regression signal the r4->r5 bisect relied on)
    graft.router.Dijkstra.Iters.reset()
    graft.router.MatcherKernel.KernelSolves.reset()
    graft.router.MatcherKernel.KernelNanos.reset()
    // steal-screened reps: a rep whose window saw > 1.5% all-core steal is
    // contaminated (historical bursts inflate a phase up to 3x) — run a
    // replacement rep, up to 6 total, so the published minima come from
    // clean windows whenever the host allows any.
    val repBuf = scala.collection.mutable.ArrayBuffer[(PipelineStats, Double)]()
    var cleanReps = 0
    while (cleanReps < 3 && repBuf.size < 6) {
      spark.catalog.clearCache()
      graft.router.HopCache.clear()
      val s0 = StealMeter.sample()
      val st = runPipeline(spark, rows = 24, cols = 40, tripsPerRoute = 40)
      val steal = StealMeter.pct(s0, StealMeter.sample())
      repBuf += ((st, steal))
      if (steal <= 1.5) cleanReps += 1
      else println(f"[bench-steal] pipeline rep ${repBuf.size} saw $steal%.1f%% steal; re-running")
    }
    val usable = {
      val clean = repBuf.filter(_._2 <= 1.5)
      if (clean.nonEmpty) clean else repBuf
    }
    println(f"[bench-reps] viterbi_match=${usable.map(r => f"${r._1.phases.toMap.apply("viterbi_match")}%.2f").mkString(",")} " +
      f"steal=${usable.map(r => f"${r._2}%.1f").mkString(",")}%% (${repBuf.size} reps, ${usable.size} used)")
    val reps = usable.map(_._1).toSeq
    val stats = reps.head
    val phaseMin = reps.flatMap(_.phases).groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).min }
    phaseMin.toSeq.sortBy(_._1).foreach { case (k, v) => results(s"pipeline_$k") = v }
    val matchSec = phaseMin("viterbi_match")
    val throughput = stats.rows / math.max(1e-9, matchSec)

    // catalog queries on the sf dir — a broken query must FAIL the bench,
    // not silently record the time-to-throw as a fast run. MEDIAN of 3
    // interleaved reps per query (same discipline as the pipeline phases):
    // a single cold shot on this host cannot distinguish an 8x regression
    // from a steal burst (r3 printed q_simhash at 18 s with a byte-
    // identical plan). Interleaving spreads a burst across queries instead
    // of concentrating it on one.
    val catNames = graft.queries.GraftQueries.all.keys.toSeq.sorted
    val catTimes = scala.collection.mutable.Map[String, Vector[Double]]()
    for (_ <- 1 to 3; name <- catNames) {
      val (fn, _) = graft.queries.GraftQueries.all(name)
      val (_, sec) = timed {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      catTimes(name) = catTimes.getOrElse(name, Vector.empty) :+ sec
    }
    // one automatic re-run pass for spread-flagged queries: their first
    // window demonstrably contained a stall, so the median itself is
    // suspect — three more interleaved reps, median over all six.
    val flagged = catNames.filter { n =>
      val ts = catTimes(n).sorted; ts.last > 3 * ts.head
    }
    if (flagged.nonEmpty) {
      println(s"[bench-rerun] re-running ${flagged.size} spread-flagged " +
        s"queries: ${flagged.mkString(",")}")
      for (_ <- 1 to 3; name <- flagged) {
        val (fn, _) = graft.queries.GraftQueries.all(name)
        val (_, sec) = timed {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        catTimes(name) = catTimes(name) :+ sec
      }
    }
    catNames.foreach { name =>
      val ts = catTimes(name).sorted
      results(name) = ts(ts.length / 2)
      if (ts.last > 3 * ts.head)
        println(f"[bench-outlier] $name reps=${ts.map(t => f"$t%.2f").mkString(",")} " +
          "(spread > 3x: host stall hit a rep; median reported)")
    }

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.values.sum
    // A9 stats surface (reference stats.json: dijkstra iters, solve counts)
    val iters = graft.router.Dijkstra.Iters.sum()
    val solves = graft.router.MatcherKernel.KernelSolves.sum()
    val hcHits = graft.router.HopCache.Hits.sum()
    val hcMiss = graft.router.HopCache.Misses.sum()
    val kernelSec = graft.router.MatcherKernel.KernelNanos.sum() / 1e9
    println(f"""{"metric":"match_throughput_trips_per_sec","value":$throughput%.2f,"unit":"rows/sec","total_sec":$total%.2f,"matched_trips":${stats.rows},"tiles":${stats.tiles},"dijkstra_iters":$iters,"kernel_solves":$solves,"kernel_cpu_sec":$kernelSec%.2f,"hopcache_hits":$hcHits,"hopcache_misses":$hcMiss,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
