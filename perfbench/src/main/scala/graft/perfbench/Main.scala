package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one rep did: operations attempted and failed (trips + image rows,
  * or queries), useful units for the throughput metric, per-layer values
  * that are not spans, and a note per failed check. */
case class RepResult(attempted: Long, failed: Long, units: Long,
                     extra: Map[String, Double] = Map.empty, notes: Seq[String] = Nil)

trait Workload {
  /** generate this workload's inputs from the seed and hand them to Spark */
  def setup(spark: SparkSession, seed: Long): Unit
  /** one closed-loop rep, each layer call wrapped in a span */
  def rep(spark: SparkSession, span: Spans): Unit
  /** checks the last rep's outputs, outside its timed region */
  def check(spark: SparkSession): RepResult
  /** quality of the last rep's outputs as a share in [0, 1], scored outside
    * the timed region */
  def accuracy(spark: SparkSession): Double
}

/** One measured rep: its result, per-rep readings, spans, and (traced reps
  * only) the Spark work and codegen fallbacks per span. */
case class Rep(traced: Boolean, result: RepResult, sample: Map[String, Double],
               spans: Seq[Span], work: Map[String, SpanWork],
               codegen: (Long, Long))

/** The benchmark entry point: one JVM at local[Cores], set-up, warm-up, then
  * back-to-back reps for the requested number of seconds. Prints one JSON
  * line per rep (sample, host steal, process CPU and GC) and the result
  * object as the last line of standard output. */
object Main {
  val Cores = 4
  val SetupRounds = 3
  val WarmupReps = 1
  val MinReps = 2
  /** A measured rep whose window saw more all-core CPU steal than this (%)
    * is re-run, as in graft.Bench; timings use the clean reps when any. */
  val StealLimitPct = 1.5
  /** re-runs stop once the measured loop has run this many times --seconds */
  val ScreenBudget = 2.5

  /** per-workload sizes; perfbench/README.md says why each exists */
  def workload(name: String): Option[Workload] = name match {
    case "match-dense" => Some(new Pipeline(rows = 24, cols = 96, tripsPerRoute = 1800,
      noiseTiles = 64))
    case "catalog" => Some(new Catalog(new java.io.File("perfbench/data/sf0.01")))
    case _ => None
  }

  /** Spans of the pipeline workloads, in call order. */
  val pipelineSpans = Seq("osm.graph_build", "osm.station_snap", "router.graph_collect",
    "router.cands_join", "router.match", "overlay.assign", "overlay.verify")

  def session(work: java.io.File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(spark)
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val seed = opts.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(10.0)
    val traced = opts.get("trace").contains("1")
    val work = new java.io.File(opts.getOrElse("work", ".bench_build/work"))
    val wl = workload(name).getOrElse {
      System.err.println(s"unknown workload '$name'")
      sys.exit(2)
    }
    wl match {
      case c: Catalog => c.recordTo = opts.get("record")
      case _ =>
    }

    // set-up: session start + input generation, several times; median
    var spark: SparkSession = null
    val setupTimes = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      wl.setup(spark, seed)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val spans = new Spans
    val listener = new SpanListener
    if (traced) {
      CodegenLog.spanOf = () => spans.current
      CodegenLog.install()
    }

    def oneRep(label: String, tracedRep: Boolean): Rep = {
      spark.catalog.clearCache()
      graft.router.HopCache.clear()
      Counters.reset()
      CodegenLog.reset()
      spans.startRep()
      if (tracedRep) sc.addSparkListener(listener)
      def workCpu() = Host.cpuSeconds() - Host.jitCpuSeconds()
      val steal0 = Host.stealTicks()
      val cpu0 = workCpu()
      val gc0 = Host.gcSeconds()
      val t0 = System.nanoTime()
      wl.rep(spark, spans)
      val repS = (System.nanoTime() - t0) / 1e9
      val cpu = workCpu() - cpu0
      val gc = Host.gcSeconds() - gc0
      val steal = Host.stealPct(steal0, Host.stealTicks())
      val counters = Counters.read().map { case (c, v) => c -> v.toDouble }
      val work = if (!tracedRep) Map.empty[String, SpanWork] else {
        listener.awaitQuiet()
        sc.removeSparkListener(listener)
        listener.attribute(spans.done.toSeq)
      }
      val r = wl.check(spark)
      val sample = Map("rep_s" -> repS, "cpu_s" -> cpu, "gc_s" -> gc, "steal_pct" -> steal,
        "spans_s" -> spans.done.map(_.wallS).sum) ++ counters
      println(s"""{"sample": ${str(label)}, "traced": $tracedRep, """ +
        sample.toSeq.sortBy(_._1).map { case (a, b) => s"${str(a)}: ${num(b)}" }.mkString(", ") +
        s""", "failed": ${r.failed}, "notes": [${r.notes.map(str).mkString(", ")}]}""")
      Rep(tracedRep, r, sample, spans.done.toSeq, work,
        (CodegenLog.total(CodegenLog.fallbacks), CodegenLog.total(CodegenLog.compileErrors)))
    }

    val tw0 = System.nanoTime()
    (1 to WarmupReps).foreach(k => oneRep(s"warmup-$k", tracedRep = false))
    val warmupS = (System.nanoTime() - tw0) / 1e9

    // measured loop: closed, one client, reps back to back. Traced runs
    // alternate untraced and traced reps and end on an untraced one, so
    // each traced rep can be compared with the mean of its neighbours.
    // Untraced runs re-run a rep that saw steal, within ScreenBudget.
    val reps = scala.collection.mutable.ArrayBuffer[Rep]()
    val tm0 = System.nanoTime()
    def elapsed = (System.nanoTime() - tm0) / 1e9
    def clean = reps.count(_.sample("steal_pct") <= StealLimitPct)
    while (reps.size < MinReps || elapsed < seconds ||
           (traced && (reps.size < 3 || reps.last.traced)) ||
           (!traced && clean < MinReps && elapsed < ScreenBudget * seconds)) {
      val k = reps.size + 1
      reps += oneRep(s"rep-$k", tracedRep = traced && k % 2 == 0)
    }

    val ta0 = System.nanoTime()
    val accuracy = wl.accuracy(spark)
    val accuracyS = (System.nanoTime() - ta0) / 1e9
    val peakRss = Host.peakRssMb()
    spark.stop()

    val attempted = reps.map(_.result.attempted).sum
    val failed = reps.map(_.result.failed).sum
    val plain = {
      val all = reps.filterNot(_.traced).toSeq
      val screened = all.filter(_.sample("steal_pct") <= StealLimitPct)
      if (screened.nonEmpty) screened else all
    }
    def med(rs: Seq[Rep], f: Rep => Double): Double = median(rs.map(f))

    // work counters are deterministic: reps that disagree are flagged
    val workCounters = Counters.names.map(_._1)
      .filterNot(c => c.endsWith("_ns") || Counters.missing.contains(c))
    val disagree = workCounters.filter(c => reps.map(_.sample.getOrElse(c, 0.0)).distinct.size > 1)
    println(s"""{"workload": ${str(name)}, "seed": $seed, "reps": ${reps.size}, """ +
      s""""reps_timed": ${if (traced) 0 else plain.size}, """ +
      s""""setup_rounds_s": [${setupTimes.map(num).mkString(", ")}], "warmup_s": ${num(warmupS)}, """ +
      s""""accuracy": ${num(accuracy)}, "accuracy_s": ${num(accuracyS)}, """ +
      s""""counters_missing": [${Counters.missing.map(str).mkString(", ")}], """ +
      s""""counters_disagree": [${disagree.map(str).mkString(", ")}]}""")

    val metrics: Seq[(String, (Double, String))] =
      if (traced) perLayer(reps.toSeq)
      else Seq(
        "setup_s" -> (median(setupTimes), "s"),
        "rep_s" -> (med(plain, _.sample("rep_s")), "s"),
        "ops_per_s" -> (med(plain, r => r.result.units / r.sample("rep_s")), "1/s"),
        "cpu_s" -> (med(plain, _.sample("cpu_s")), "s"),
        "peak_rss_mb" -> (peakRss, "MB"),
        "accuracy" -> (accuracy, "share"),
        "ok_pct" -> (100.0 * (attempted - failed) / math.max(1L, attempted), "%"))
    val correct = failed == 0
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (k, (v, u)) => s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString("{", ", ", "}") + "}")
    sys.exit(if (correct) 0 else 1)
  }

  /** Per-layer metrics: medians over the traced reps. Every name is printed
    * on every workload; a layer a workload does not run reads 0. */
  private def perLayer(reps: Seq[Rep]): Seq[(String, (Double, String))] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, (Double, String))]()
    val traced = reps.filter(_.traced)
    def med(f: Rep => Double): Double = median(traced.map(f))
    def wall(r: Rep, span: String): Double = r.spans.filter(_.name == span).map(_.wallS).sum
    def work(f: SpanWork => Double)(r: Rep, span: String): Double =
      r.work.get(span).map(f).getOrElse(0.0)
    val taskS = work(_.taskMs / 1e3) _

    pipelineSpans.foreach { s =>
      val w = med(wall(_, s))
      out += s"$s.wall_s" -> (w, "s")
      out += s"$s.jobs" -> (med(work(_.jobs.toDouble)(_, s)), "count")
      out += s"$s.tasks" -> (med(work(_.tasks.toDouble)(_, s)), "count")
      out += s"$s.task_s" -> (med(taskS(_, s)), "s")
      out += s"$s.gc_s" -> (med(work(_.gcMs / 1e3)(_, s)), "s")
      out += s"$s.max_task_s" -> (med(work(_.maxTaskMs / 1e3)(_, s)), "s")
      out += s"$s.shuffle_mb" -> (med(work(_.shuffleBytes / 1048576.0)(_, s)), "MB")
      out += s"$s.busy" -> (med(r => if (wall(r, s) > 0) taskS(r, s) / (wall(r, s) * Cores) else 0.0), "share")
    }

    def counter(c: String): Double = med(_.sample.getOrElse(c, 0.0))
    out += "router.cands_per_stop" -> (med(_.result.extra.getOrElse("router.cands_per_stop", 0.0)), "count")
    Counters.names.map(_._1).filterNot(Counters.missing.contains).foreach { c =>
      if (c.endsWith("_ns")) out += c.stripSuffix("_ns") + "_s" -> (counter(c) / 1e9, "s")
      else out += c -> (counter(c), "count")
    }
    val hits = counter("router.hopcache_hits"); val misses = counter("router.hopcache_misses")
    out += "router.hopcache_hit_ratio" -> (if (hits + misses > 0) hits / (hits + misses) else 0.0, "share")
    val solves = counter("router.kernel_solves")
    out += "router.trips_per_solve" -> (if (solves > 0) med(_.result.units.toDouble) / solves else 0.0, "count")

    // catalog: one wall per query, and the Spark work of all query spans
    val queries = graft.queries.GraftQueries.all.keys.toSeq.sorted.map("queries." + _)
    queries.foreach(q => out += s"$q.wall_s" -> (med(wall(_, q)), "s"))
    def qsum(f: SpanWork => Double): Double = med(r => queries.map(work(f)(r, _)).sum)
    out += "queries.jobs" -> (qsum(_.jobs.toDouble), "count")
    out += "queries.task_s" -> (qsum(_.taskMs / 1e3), "s")
    out += "queries.gc_s" -> (qsum(_.gcMs / 1e3), "s")
    out += "queries.shuffle_mb" -> (qsum(_.shuffleBytes / 1048576.0), "MB")
    out += "queries.max_task_s" -> (med(r => (0.0 +: queries.map(work(_.maxTaskMs / 1e3)(r, _))).max), "s")

    out += "functions.codegen_fallbacks" -> (med(_.codegen._1.toDouble), "count")
    out += "functions.codegen_compile_errors" -> (med(_.codegen._2.toDouble), "count")
    out += "rep.wall_s" -> (med(_.sample("rep_s")), "s")
    out += "rep.uncovered_s" -> (med(r => r.sample("rep_s") - r.sample("spans_s")), "s")
    out += "rep.unspanned_jobs" -> (med(work(_.jobs.toDouble)(_, "unspanned")), "count")
    out += "host.steal_pct" -> (median(reps.map(_.sample("steal_pct"))), "%")
    // traced rep k against the mean of untraced reps k-1 and k+1, which
    // cancels a warm-up trend that is linear over the three reps
    val overhead = reps.indices.filter(i => reps(i).traced && i + 1 < reps.size).map { i =>
      val base = (reps(i - 1).sample("rep_s") + reps(i + 1).sample("rep_s")) / 2
      100.0 * (reps(i).sample("rep_s") - base) / base
    }
    out += "trace.overhead_pct" -> (median(overhead), "%")
    out.toSeq
  }
}
