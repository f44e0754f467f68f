package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Repo-wide cache-lifetime convention, so that repeated operator calls
  * neither leak cached blocks nor free a cache a caller still reads.
  * Every operator-side `unpersist` and local checkpoint lives here
  * (CacheScopeScanSpec). Operators that cache internal state fall into
  * exactly two tiers:
  *
  * '''Tier 1 — release-before-return (the default).''' The operator
  * releases every internal cache its returned plan no longer needs:
  *
  *  - A bounded result (top-k, per-day, per-group grids) ends with
  *    [[Caching.materializeAndRelease]]: an eager local checkpoint of the
  *    result, then the scaffolding unpersisted, so repeated calls leave
  *    `sc.getPersistentRDDs` where they found it. Never use it to
  *    checkpoint a corpus-sized output.
  *  - An iterative operator (the Pregel loops, connected components, BPE
  *    training), or any call holding caches across several actions, runs
  *    in one [[Caching.scope]]. The scope persists the scaffolding
  *    ([[Scope.persist]]), makes each round's eager cut ([[Scope.cut]]),
  *    frees the cuts the live state no longer reads ([[Scope.keepOnly]])
  *    and releases the scaffolding when the call returns. It frees only
  *    what it made: a caller's own checkpoint or cache keeps its blocks.
  *    The cuts the result reads belong to its RDD lineage, not to a
  *    cache-manager entry, so the ContextCleaner frees them with it.
  *
  * A corpus-sized input that several actions read is cut once with
  * [[Caching.cutLineage]], which adds no CacheManager entry:
  * [[graft.algorithms.Bqsr.apply]] cuts its reads once so that both BQSR
  * passes and every action on its result share one materialization.
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

  /** Eager lineage cut. Local by default — `localCheckpoint` blocks are
    * executor-local and non-replicated, which is exactly right on
    * `local[*]` — but on a real cluster a single lost executor kills the
    * job once lineage is truncated, because nothing can recompute the
    * lost blocks. When the deployment sets a checkpoint directory
    * (`spark.graft.checkpoint.reliable=true` plus
    * `sc.setCheckpointDir(...)`), the cut is a RELIABLE checkpoint to that
    * directory instead, so the state survives executor loss. */
  def cutLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.conf
      .get("spark.graft.checkpoint.reliable", "false").toBoolean)
      df.checkpoint()
    else df.localCheckpoint()

  /** The caches of one operator call: the scaffolding it persists and the
    * lineage cuts it makes. Open one with [[Caching.scope]]; a handle
    * whose caches outlive the call that made it closes its own. */
  final class Scope private[operators] () {
    private val scaffolding = scala.collection.mutable.ArrayBuffer[Dataset[_]]()
    private var cuts = Vector.empty[RDD[_]]

    /** Persist `ds` (MEMORY_AND_DISK) until the scope closes. */
    def persist[T](ds: Dataset[T]): Dataset[T] = own(ds.persist())

    /** Release the already persisted `ds` when the scope closes. */
    def own[T](ds: Dataset[T]): Dataset[T] = { scaffolding += ds; ds }

    /** [[Caching.cutLineage]] of `df`, which [[keepOnly]] may later free. */
    def cut(df: DataFrame): DataFrame = { val c = cutLineage(df); cuts ++= rdds(c); c }

    /** Free every cut this scope made that no `live` dataset reads. Call it
      * only once every consumer of those cuts is EAGERLY materialized (a
      * successor cut): lineage being truncated, freed blocks cannot be
      * recomputed. A reliable cut keeps its checkpoint files. */
    def keepOnly(live: Dataset[_]*): Unit = {
      val (kept, dead) = cuts.partition(live.flatMap(rdds).toSet)
      dead.foreach(_.unpersist(blocking = false))
      cuts = kept
    }

    /** Release the scaffolding; the cuts left are the ones the result reads. */
    def close(): Unit = scaffolding.foreach(_.unpersist(blocking = false))
  }

  /** Run `body` in a fresh [[Scope]], closed when `body` returns or throws. */
  def scope[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.close()
  }

  /** The RDDs behind the lineage cuts and checkpoints `ds`'s plan reads. */
  private def rdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
}
