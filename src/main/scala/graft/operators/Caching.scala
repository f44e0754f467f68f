package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Repo-wide cache-lifetime convention, so that repeated operator calls
  * neither leak cached blocks nor free a cache a caller still reads.
  * Operators that `persist()` internal scaffolding fall into exactly two
  * tiers:
  *
  * '''Tier 1 — release-before-return (the default).''' If the operator's
  * returned plan no longer needs the scaffolding cache — because the
  * result is bounded (top-k, per-day, per-group grids) or its lineage
  * was already cut by an eager `localCheckpoint` (the Pregel loops) —
  * the operator MUST release every internal cache before returning.
  * [[Caching.materializeAndRelease]] is the house helper: it lineage-cuts
  * the result with an eager local checkpoint, then unpersists the
  * scaffolding, so repeated calls leave `sc.getPersistentRDDs` exactly
  * where they found it. Use it only when the result is bounded (collect-
  * safe scale: top-k rows, day counts, group grids) or already
  * materialized — never to checkpoint a corpus-sized output.
  * A corpus-sized input that several actions read is cut with
  * [[Caching.cutLineage]] instead, which adds no CacheManager entry:
  * [[graft.algorithms.Bqsr.apply]] cuts its reads once so that both BQSR
  * passes and every action on its result share one materialization,
  * whose blocks the ContextCleaner frees with the result.
  *
  * '''Tier 2 — plan-owned cache (the documented exception).''' When the
  * RETURNED corpus-sized plan must re-read one materialization of a
  * nondeterministic intermediate (e.g. [[Quantiles.globalNtile]]'s
  * range-partitioned `monotonically_increasing_id` table, or
  * [[GraphOps.triangleCounts]]'s oriented edge tables read from multiple
  * branches), eager unpersist would either break correctness or force a
  * second full materialization. These operators keep the cache alive and
  * say so in their scaladoc ("plan-owned cache"). Lifetime is then the
  * caller's: drop it with `spark.catalog.clearCache()` /
  * `getPersistentRDDs.values.foreach(_.unpersist())` (what Bench, Verify
  * and the specs do between queries), or simply let the driver's
  * `ContextCleaner` reclaim it once the returned Dataset is garbage
  * collected — the cache cannot leak past the result's own lifetime.
  *
  * CacheLifetimeSpec pins both tiers: tier-1 operators must not grow the
  * persisted-RDD registry across repeated calls; tier-2 operators must
  * grow it only by caches that a standard session cleanup fully returns
  * to baseline.
  */
object Caching {

  /** Executed plan of the most recent [[materializeAndRelease]] result —
    * the PRE-checkpoint plan that actually ran. Spec hook: PlanSpec pins
    * operator plan shapes that the checkpoint otherwise hides behind a
    * `Scan ExistingRDD`. */
  @volatile private[graft] var lastMaterializedPlan: String = ""

  /** Materialize `result` with an eager local checkpoint (cutting its
    * lineage off the scaffolding) and then release the `scaffolding`
    * caches. Use for BOUNDED results only — the checkpoint stores the
    * result's partitions on executor-local storage. */
  def materializeAndRelease(
      result: DataFrame, scaffolding: Dataset[_]*): DataFrame = {
    lastMaterializedPlan = result.queryExecution.executedPlan.toString
    val out = result.localCheckpoint(eager = true)
    scaffolding.foreach(_.unpersist(blocking = false))
    out
  }

  /** Release caches whose consumers are already fully materialized
    * (e.g. after a Pregel loop whose state was localCheckpointed). */
  def release(scaffolding: Dataset[_]*): Unit =
    scaffolding.foreach(_.unpersist(blocking = false))

  /** Eager lineage cut for per-iteration state (Pregel loops, pointer
    * jumping, BPE rounds). Local by default — `localCheckpoint` blocks are
    * executor-local and non-replicated, which is exactly right on
    * `local[*]` — but on a real cluster a single lost executor kills the
    * job once lineage is truncated, because nothing can recompute the
    * lost blocks. When
    * the deployment sets a checkpoint directory
    * (`spark.graft.checkpoint.reliable=true` plus
    * `sc.setCheckpointDir(...)`), iteration state is cut with a RELIABLE
    * checkpoint to that directory instead, so iterative operators survive
    * executor loss. Local defaults (flag unset) are byte-identical to the
    * previous behavior. A local cut is recorded so that
    * [[freeSuperseded]] can later free it. */
  def cutLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.conf
      .get("spark.graft.checkpoint.reliable", "false").toBoolean)
      df.checkpoint()
    else {
      val cut = df.localCheckpoint()
      cut.queryExecution.analyzed.foreach {
        case lr: LogicalRDD => cutRdds.put(lr.rdd, java.lang.Boolean.TRUE)
        case _ => ()
      }
      cut
    }

  /** The RDDs behind the local checkpoints [[cutLineage]] made and
    * [[freeSuperseded]] has not freed yet. Weak keys: an unfreed cut is
    * forgotten with its RDD. */
  private val cutRdds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], java.lang.Boolean]())

  /** Free a SUPERSEDED iteration checkpoint's storage once its successor
    * is materialized (ADVICE r16: per-round checkpoint blocks otherwise
    * accumulate across rounds — up to 50 in clusterDuplicates — until the
    * ContextCleaner happens to run). Only call this on a checkpoint whose
    * every consumer has already been EAGERLY materialized: the blocks are
    * deleted and, lineage being truncated, cannot be recomputed. Frees
    * only the local checkpoints that [[cutLineage]] made: any other
    * persisted relation in the plan (a caller's own checkpoint, say)
    * keeps its blocks, and reliable (directory-backed) checkpoints keep
    * their files, which are the fault-tolerance story. Idempotent. */
  def freeSuperseded(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD if cutRdds.remove(lr.rdd) != null =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
