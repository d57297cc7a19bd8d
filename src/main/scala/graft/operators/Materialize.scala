package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Reuse-point materialization for multi-consumer intermediates.
  *
  * Operators that feed one intermediate DataFrame to several consumers
  * (a tokenization shared by a model fit and a scoring pass, a gated
  * corpus feeding both sides of an anti-join) must cut the plan once,
  * or every consumer replays the whole upstream subtree. Rounds 1-8
  * used `localCheckpoint(false)` for this, which has the right reuse
  * shape but the wrong failure mode at cluster scale: it truncates
  * lineage AND keeps the blocks on executor-local storage only, so one
  * lost executor fails the job unrecoverably. The default here is
  * `persist(MEMORY_AND_DISK)`: blocks are still computed once and
  * reused by every consumer, but lineage survives, so an executor loss
  * recomputes the lost partitions instead of killing the run.
  *
  * One spelling per intent:
  *   - `.materialized` — lazy reuse cut (persist);
  *   - [[cutEager]] — reuse cut populated now (persist + count);
  *   - [[pin]] — eager truncating cut of a result, freeing the cuts
  *     its plan read;
  *   - [[cutLoop]] — one generation of an iterative loop;
  *   - [[release]] — free a cut.
  *
  * Persisted blocks are pinned by the session's cache manager until
  * `spark.catalog.clearCache()` or `unpersist()`. `Bench` and `Verify`
  * both clear the cache after every query so a 100-query run does not
  * accumulate blocks; any other long-lived session embedding these
  * operators owns the same contract (clear, or [[release]] cuts it
  * obtained).
  */
object Materialize {
  /** The reuse cut: lazy `persist(MEMORY_AND_DISK)`, populated by the
    * first consumer.
    */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Eager reuse cut, for a caller that needs the blocks computed NOW
    * (e.g. a bounded probe about to be collected): `persist` + a
    * `count()` action to force population; lineage survives executor
    * loss.
    */
  def cutEager(df: DataFrame): DataFrame = {
    val p = df.materialized
    p.count()
    p
  }

  /** Pin `out` with an eager `localCheckpoint`, then [[release]] every
    * `free` cut, and return the pin. Two uses:
    *   - an operator's final result whose plan reads cuts the operator
    *     made itself: the pin truncates the lineage, so those cuts can
    *     be freed before the caller consumes the result (a persist cut
    *     of `out` would keep them in its plan and could recompute
    *     through freed blocks);
    *   - a read-modify-commit cycle, where the operator is about to
    *     WRITE a path its own plan READS (e.g.
    *     [[graft.operators.Dedup.incrementalDedupRun]]): a persist cut
    *     keeps its lineage, so the commit write triggers
    *     `CacheManager.recacheByPath` on that path and the cached
    *     result is recomputed against the just-mutated store — the
    *     operator's own commit invalidates its own output (observed as
    *     0-row results). Only a true lineage truncation removes the
    *     store scan from the plan.
    */
  def pin(out: DataFrame, free: DataFrame*): DataFrame = {
    val pinned = out.localCheckpoint(eager = true)
    free.foreach(release)
    pinned
  }

  /** Loop-iteration cut — eager, truncating, and frees the PREVIOUS
    * generation's blocks. Iterative refinement (`Bpe.train`'s merge
    * rounds, k-means passes) must not stack lineage: each
    * `.materialized` persist keeps the full plan, so round k nests k `InMemoryRelation`s (quadratic
    * analyzer work, eventual StackOverflow) and pins k generations of
    * cache with no unpersist. Mirrors the RDD persist/unpersist
    * discipline of the connected-components fixpoint
    * ([[graft.operators.Dedup.connectedComponents]]): checkpoint the new
    * generation, then release the old one — its blocks are dead the
    * moment the new generation is materialized.
    */
  def cutLoop(df: DataFrame, previous: Option[DataFrame]): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    previous.foreach(release)
    cp
  }

  /** Free a cut's storage. A persist cut unpersists through the cache
    * manager; a localCheckpoint cut unpersists the checkpointed RDD
    * directly (its blocks otherwise live until the RDD is GC'd).
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist(blocking = false)
    }
}
