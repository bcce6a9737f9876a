package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work attributed to one span: summed over the span's jobs. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var maxTaskMs = 0L
}

/** The benchmark's own listener. It sums task metrics per job and records
  * when each job was submitted; after a rep, jobs are attributed to the span
  * whose interval holds their submission time. Time attribution is used
  * because engine code may submit jobs from its own threads, which a
  * thread-local job tag would not follow. */
final class SpanListener extends SparkListener {
  private val jobTime = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobWork = new ConcurrentHashMap[Int, SpanWork]()
  private val events = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.increment()
    jobTime.put(e.jobId, e.time)
    e.stageIds.foreach(id => stageJob.putIfAbsent(id, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.increment()
    val m = e.taskMetrics
    if (m != null && stageJob.containsKey(e.stageId)) {
      val w = jobWork.computeIfAbsent(stageJob.get(e.stageId), _ => new SpanWork)
      w.synchronized {
        w.tasks += 1
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.maxTaskMs = math.max(w.maxTaskMs, m.executorRunTime)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = events.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.increment()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = events.increment()

  /** Returns once no event has arrived for `quietMs` (bounded by 5 s). The
    * bus is asynchronous; the last task-end events of a rep may still be
    * queued when the rep's final action returns. */
  def awaitQuiet(quietMs: Long = 150): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = events.sum()
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
           System.nanoTime() - stableSince < quietMs * 1000000L) {
      Thread.sleep(20)
      val now = events.sum()
      if (now != last) { last = now; stableSince = System.nanoTime() }
    }
  }

  /** Work per span name for the given spans (name, start ms, end ms); jobs
    * submitted outside every span go to "unspanned". Clears the listener. */
  def attribute(spans: Seq[Span]): Map[String, SpanWork] = {
    val out = scala.collection.mutable.Map[String, SpanWork]()
    jobTime.asScala.foreach { case (job, t) =>
      val name = spans.find(s => t >= s.startMs && t <= s.endMs).map(_.name)
        .getOrElse("unspanned")
      val acc = out.getOrElseUpdate(name, new SpanWork)
      acc.jobs += 1
      Option(jobWork.get(job)).foreach { w =>
        acc.tasks += w.tasks; acc.taskMs += w.taskMs; acc.gcMs += w.gcMs
        acc.shuffleBytes += w.shuffleBytes
        acc.maxTaskMs = math.max(acc.maxTaskMs, w.maxTaskMs)
      }
    }
    jobTime.clear(); stageJob.clear(); jobWork.clear()
    out.toMap
  }
}

case class Span(name: String, wallS: Double, startMs: Long, endMs: Long)

/** Named spans around each layer call, kept in memory for the current rep.
  * Traced and untraced reps time the same calls; only traced reps have the
  * listener installed. */
final class Spans {
  val done = scala.collection.mutable.ArrayBuffer[Span]()
  @volatile var current: String = "setup"

  def startRep(): Unit = done.clear()

  def apply[T](name: String)(f: => T): T = {
    current = name
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(name, (System.nanoTime() - t0) / 1e9, m0, System.currentTimeMillis())
      current = "unspanned"
    }
  }
}

/** Engine work counters, read by name at run time. The counters are public
  * JVM-static LongAdders today; if one is renamed, moved or replaced it is
  * reported missing instead of failing the benchmark. Valid in local mode,
  * where executor tasks run in the same JVM. */
object Counters {
  /** metric name -> (object class, field) */
  val names: Seq[(String, String, String)] = Seq(
    ("router.dijkstra_iters", "graft.router.Dijkstra$", "Iters"),
    ("router.kernel_solves", "graft.router.MatcherKernel$", "KernelSolves"),
    ("router.kernel_groups", "graft.router.MatcherKernel$", "KernelGroups"),
    ("router.kernel_cpu_ns", "graft.router.MatcherKernel$", "KernelCpuNanos"),
    ("router.kernel_trie_ns", "graft.router.MatcherKernel$", "TrieNanos"),
    ("router.kernel_params_ns", "graft.router.MatcherKernel$", "ParamsNanos"),
    ("router.hopcache_hits", "graft.router.HopCache$", "Hits"),
    ("router.hopcache_misses", "graft.router.HopCache$", "Misses"),
    ("router.viterbi_layers_relaxed", "graft.router.Viterbi$", "LayersRelaxed"),
    ("router.viterbi_ladder_passes", "graft.router.Viterbi$", "LadderPasses"))

  private lazy val adders: Map[String, Option[LongAdder]] = names.map { case (m, cls, f) =>
    m -> (try {
      val c = Class.forName(cls)
      val inst = c.getField("MODULE$").get(null)
      c.getMethod(f).invoke(inst) match {
        case a: LongAdder => Some(a)
        case _ => None
      }
    } catch { case _: ReflectiveOperationException | _: LinkageError => None })
  }.toMap

  def missing: Seq[String] = names.map(_._1).filter(adders(_).isEmpty)
  def reset(): Unit = adders.values.flatten.foreach(_.reset())
  def read(): Map[String, Long] = adders.collect { case (m, Some(a)) => m -> a.sum() }
}

/** Counts Spark's codegen fallbacks from outside the engine: a log4j2
  * appender on the root logger config that matches the messages Spark logs
  * when generated code fails to compile and a plan or expression falls back
  * to the interpreter. Counts are keyed by the span open at the time. */
object CodegenLog {
  val fallbacks = new ConcurrentHashMap[String, LongAdder]()
  val compileErrors = new ConcurrentHashMap[String, LongAdder]()
  @volatile var spanOf: () => String = () => "unspanned"

  private def bump(m: ConcurrentHashMap[String, LongAdder]): Unit =
    m.computeIfAbsent(spanOf(), _ => new LongAdder).increment()

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (msg.contains("Failed to compile the generated Java code")) bump(compileErrors)
        else if (msg.contains("Whole-stage codegen disabled for plan") ||
                 msg.contains("falling back to interpreter mode")) bump(fallbacks)
      }
    }
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.addAppender(app)
    cfg.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }

  def total(m: ConcurrentHashMap[String, LongAdder]): Long = m.values.asScala.map(_.sum()).sum
  def reset(): Unit = { fallbacks.clear(); compileErrors.clear() }
}

/** Process and host readings taken next to every sample. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** user+sys CPU of the JIT compiler threads (from /proc/self/task), so
    * that per-rep CPU can exclude compilation that is still settling after
    * warm-up. run.py keeps the compiler thread count fixed. */
  def jitCpuSeconds(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val src = scala.io.Source.fromFile(new java.io.File(t, "stat"))
        val line = try src.mkString finally src.close()
        val comm = line.substring(line.indexOf('(') + 1, line.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          val f = line.substring(line.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime, stime (fields 14, 15 of stat)
        }
      } catch { case _: Exception => 0L }
    }.sum / 100.0 // /proc counts in USER_HZ ticks, 100 per second
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** cumulative (steal ticks, all ticks) from /proc/stat */
  def stealTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)

  /** VmHWM (peak resident set) of this JVM in MB */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  } catch { case _: Exception => 0.0 }
}
