package graft.functions

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracked eager checkpoints ("pins") for operators that must
  * materialize an intermediate to avoid re-running an expensive scan
  * kernel for every downstream consumer (Spark re-executes a lazy
  * subtree once PER consumer branch — a count table referenced by a
  * join AND a totals aggregate re-tokenizes the corpus twice).
  *
  * `pin` checkpoints eagerly (reliable when a checkpoint dir is set,
  * local otherwise — localCheckpoint blocks are executor-resident and
  * lost on executor failure, so set a checkpoint dir on real
  * clusters) and returns the RDD block ids it created; `register`
  * — NB: a RELIABLE checkpoint materializes to files, not cached
  * blocks, so in that mode the returned id set is empty and
  * [[unpin]] is a no-op; the files live until application end unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled
  * (checkpoint-dir deployments should plan directory hygiene) —
  * associates surviving pins with the operator's RESULT frame so a
  * caller can release them with [[unpin]] once the result has been
  * materialized or persisted. The registry is weakly keyed by the
  * result's logical plan: an unreferenced result can be GC'd and its
  * blocks then linger only until session end.
  */
private[graft] object Pins {

  def pin(df: DataFrame): (DataFrame, Set[Int]) = pin(df, eager = true)

  /** `eager = false` defers materialization to the FIRST action that
    * touches the pinned frame — an operator whose very next step is a
    * full-coverage action (a count/collect over every partition) fuses
    * the pin into that job instead of paying a separate one. Only safe
    * when that first action covers ALL partitions (a `limit`-style
    * partial action would checkpoint a partial subset lazily — Spark
    * handles it, but the pin's cost then resurfaces later).
    *
    * Id attribution is EXACT, not a persistent-RDD set-diff: the
    * Dataset returned by `checkpoint(eager=false)` is a `LogicalRDD`
    * over the internal RDD the checkpoint persisted, so its id is read
    * straight off the returned plan. A set-diff (pre-r15) could
    * capture a checkpoint RDD registered concurrently by ANOTHER
    * thread — even one outside any lock here (operators call eager
    * `localCheckpoint` directly) — and a later release of that foreign
    * id is fatal: an unpersisted localCheckpoint's lineage is
    * truncated and cannot be recomputed. Exact capture needs no lock
    * at all; concurrent pins cannot observe each other.
    */
  def pin(df: DataFrame, eager: Boolean): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val out =
      if (reliable) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // Reliable checkpoints materialize to FILES, not cached blocks —
    // the id set stays empty there (release is a no-op, per scaladoc).
    val ids: Set[Int] =
      if (reliable) Set.empty
      else out.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => Set(lr.rdd.id)
        case other =>
          // fail loud: silently returning no ids would leak the pinned
          // blocks for the session lifetime on every release
          throw new IllegalStateException(
            s"Pins.pin: localCheckpoint returned ${other.getClass.getName}, " +
              "not LogicalRDD — cannot attribute the pinned RDD id")
      }
    // materialize at the RDD level — the job Dataset.checkpoint(eager
    // = true) runs internally (and what finalizes a reliable
    // checkpoint's write). NOT Dataset.count(): that plans a SQL
    // aggregate with an Exchange SinglePartition, which the plan-shape
    // specs (correctly) forbid near operators.
    if (eager) out.queryExecution.toRdd.count()
    (out, ids)
  }

  /** RDD twin of [[pin]] for operators that iterate on RDDs (the
    * [[Graphs]] rounds): marks `rdd` for a checkpoint and runs NO
    * job. The first action over it — or over anything computed from it
    * — fills the pin, so a chain of pinned rounds runs as the stages of
    * one job; after that job only the pin nearest its end is truncated
    * (Spark checkpoints the last marked RDD of a lineage), the others
    * are plain cached blocks. Blocks are stored deserialized: a
    * [[Graphs]] partition is ONE record of a few primitive arrays, so
    * Spark sizes it in O(arrays) and a reader gets the arrays without
    * a copy (graftbench `graph_iterate` on a 4-core host: 0.49 s of
    * executor CPU per pass, against 0.63 s with the blocks stored
    * serialized). An RDD of many small records pinned here pays
    * Spark's per-record size sampling instead. The RDD's own id is
    * returned for [[release]]; with a checkpoint dir the blocks are
    * cached as well, so the checkpoint write reads them instead of
    * recomputing, and the checkpoint files stay as with [[pin]].
    */
  def pinRdd[T](rdd: RDD[T]): (RDD[T], Set[Int]) = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    if (rdd.sparkContext.getCheckpointDir.isDefined) rdd.checkpoint()
    else rdd.localCheckpoint()
    (rdd, Set(rdd.id))
  }

  def release(df: DataFrame, ids: Set[Int]): Unit =
    release(df.sparkSession.sparkContext, ids)

  def release(sc: SparkContext, ids: Set[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

  private val registry =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Set[Int]]())

  /** Associate `pins` with `result` for a later [[unpin]]; merges with
    * any pins already registered for the same plan.
    */
  def register(result: DataFrame, pins: Set[Int]): Unit = {
    val key = result.queryExecution.logical
    val prior = registry.get(key)
    registry.put(key, if (prior == null) pins else prior ++ pins)
  }

  /** Release the cached blocks behind a frame returned by a pinning
    * operator; no-op (and idempotent) for any other frame.
    */
  def unpin(df: DataFrame): Unit = {
    val pins = registry.remove(df.queryExecution.logical)
    if (pins != null) release(df, pins)
  }

  /** Release EVERY pin currently registered — the hygiene backstop
    * for long-lived (cluster) sessions whose callers skipped per-result
    * [[unpin]] calls: pinned blocks otherwise live until the result
    * frame is GC'd AND the session ends. Safe at any point where no
    * registered result is still awaiting materialization (a released
    * pin behind an un-materialized localCheckpoint result cannot be
    * recomputed — its lineage was truncated). Returns the number of
    * RDDs actually unpersisted.
    *
    * Reliable-checkpoint deployments (checkpoint dir set): pins are
    * FILES there, not blocks — this cannot remove them. Enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints` or clean the
    * checkpoint directory between pipeline runs.
    */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Int = {
    val ids = registry.synchronized {
      val all = scala.jdk.CollectionConverters
        .CollectionHasAsScala(registry.values()).asScala.toSet.flatten
      registry.clear()
      all
    }
    val sc = spark.sparkContext
    ids.count(id => sc.getPersistentRDDs.get(id).exists { r => r.unpersist(false); true })
  }

  /** Pin ids registered for `df` (test hook: lets a spec assert on
    * exactly the ids an operator created, immune to pins other
    * concurrently-running suites add — a global persistent-RDD
    * set-diff races under parallel test execution).
    */
  private[graft] def registered(df: DataFrame): Set[Int] = {
    val pins = registry.get(df.queryExecution.logical)
    if (pins == null) Set.empty else pins
  }
}
