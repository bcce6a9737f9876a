package graft.tools

import org.apache.spark.sql.SparkSession

/** Extra per-query micro-bench + plan dumper for the optimization rounds
  * (guide §1.4: noop-sink isolation; §7.2: read the plan). The driver
  * contract harness (graft.Bench) is frozen; this main exists so query-level
  * before/after evidence can be produced without touching it.
  *
  * Usage:
  *   sbt "runMain graft.tools.BenchExtra [reps] [query ...]"
  *     — times each named catalog query (default: all) with a noop sink,
  *       printing one line per rep + the median.
  *   sbt "runMain graft.tools.BenchExtra explain <outDir> [query ...]"
  *     — writes <outDir>/<query>.txt with .explain("formatted") output.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", graft.Bench.benchLocalDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(spark)

    val all = graft.queries.GraftQueries.all
    if (args.headOption.contains("explain")) {
      // dump the full operator tree: without this the boundaries root the
      // visible plan at an ExistingRDD scan (the executed plan differs by
      // the boundaries only: under the final Sort and inside dedup/ANN)
      graft.plans.Boundary.audit = true
      val outDir = new java.io.File(args(1))
      outDir.mkdirs()
      val names = if (args.length > 2) args.drop(2).toSeq else all.keys.toSeq.sorted
      names.foreach { name =>
        val (fn, _) = all(name)
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(new java.io.File(outDir, s"$name.txt"))
        try w.print(plan) finally w.close()
        println(s"[explain] wrote ${outDir}/${name}.txt (${plan.length} chars)")
      }
    } else {
      val reps = args.headOption.flatMap(_.toIntOption).getOrElse(3)
      val qargs = if (args.headOption.exists(_.toIntOption.isDefined)) args.drop(1) else args
      val names = if (qargs.nonEmpty) qargs.toSeq else all.keys.toSeq.sorted
      val results = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
      for (r <- 1 to reps; name <- names) {
        val (fn, _) = all(name)
        spark.sparkContext.setJobDescription(s"benchextra:$name rep $r")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        results(name) = results.getOrElse(name, Vector.empty) :+ sec
      }
      names.foreach { name =>
        val ts = results(name).sorted
        println(f"[benchextra] $name%-22s median=${ts(ts.length / 2)}%6.3f  reps=${results(name).map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
