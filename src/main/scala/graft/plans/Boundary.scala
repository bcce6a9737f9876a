package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The materialization boundary: the one place that decides how a subtree
  * consumed more than once is materialized. The reference holds its graph
  * and candidate sets in RAM (SURVEY §7.3); here a boundary is a local
  * checkpoint, which both stores the rows and cuts the logical lineage, so
  * downstream plans (and AQE's per-update plan strings) stay shallow.
  *
  * Policy:
  *  - '''Serialized blocks, always''' (`MEMORY_AND_DISK_SER`). The default
  *    level keeps rows as deserialized JVM objects, whose footprint Spark's
  *    SizeEstimator undercounts badly for nested-array payloads (shape
  *    points, hop edge lists): a heavy checkpoint can fill an executor's
  *    old generation while the memory manager believes it is under budget
  *    (measured: a permanent full-GC spiral, 3-4 full GCs/s, solver threads
  *    at 10% of a core). A serialized block is one byte[]: exactly
  *    accounted, GC-opaque, spillable.
  *  - '''Lazy''' (`lazily`) marks the plan and lets the FIRST consuming
  *    action write the blocks, folding what would be a dedicated job (plan
  *    compile + AQE + scheduler round-trip, ~0.2-0.3 s of driver floor) into
  *    a job that runs anyway. It is safe when the consumers run one after
  *    another on one driver thread, so no two actions race to materialize
  *    the same blocks; a concurrent first touch only recomputes
  *    deterministic rows. '''Eager''' (`eagerly`) runs the dedicated job now:
  *    use it when the boundary must be a job of its own (the solver wants
  *    every core) or is read by concurrent or timed consumers.
  *  - '''Blocks are RDD-level''', not in the CacheManager: no cross-run
  *    reuse by plan key, and `Dataset.unpersist` is a no-op for them. They
  *    are freed when the ContextCleaner collects the dropped plan, or at
  *    once by `release`.
  *  - '''`audit` is for plan inspection only.''' While set, every boundary
  *    passes its input through unchanged, so the full operator tree is
  *    visible instead of an ExistingRDD scan (`tools.ExplainAudit`,
  *    `BenchExtra explain`). Never run a loop that executes actions under
  *    it: ConnectedComponents' per-round plans would then grow
  *    geometrically. No audited or dumped catalog query runs
  *    ConnectedComponents. */
object Boundary {
  @volatile var audit: Boolean = false

  def lazily[T](ds: Dataset[T]): Dataset[T] = checkpoint(ds, eager = false)

  def eagerly[T](ds: Dataset[T]): Dataset[T] = checkpoint(ds, eager = true)

  /** Frees `consumed`'s blocks now instead of at the next GC. `by` must be
    * the boundary that read it, already materialized: once its blocks
    * exist nothing recomputes `consumed`; before that, freeing it would
    * force a recompute or lose the rows. */
  def release(consumed: Dataset[_], by: Dataset[_]): Unit =
    if (!audit) {
      if (!rddOf(by).exists(_.isCheckpointed))
        throw new IllegalStateException(s"Boundary.release at $caller: the " +
          "consuming boundary is not materialized yet; run its action first")
      rddOf(consumed).foreach(_.unpersist(blocking = false))
    }

  private def checkpoint[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    if (audit) ds
    else {
      // label the checkpoint RDD and any eager job with the caller's line,
      // as Spark would without this module in between
      val sc = ds.sparkSession.sparkContext
      val prev = sc.getLocalProperty(CallSiteKey)
      sc.setCallSite(s"localCheckpoint at $caller")
      try ds.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
      finally sc.setLocalProperty(CallSiteKey, prev)
    }

  private val CallSiteKey = "callSite.short"

  /** The RDD a boundary persisted (Dataset.unpersist goes through the
    * CacheManager, which does not track checkpoint blocks). */
  private def rddOf(ds: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** file:line of the first frame outside this module */
  private def caller: String =
    Thread.currentThread.getStackTrace.iterator.drop(1)
      .find(f => !f.getClassName.startsWith("graft.plans.Boundary"))
      .map(f => s"${f.getFileName}:${f.getLineNumber}").getOrElse("unknown")
}
