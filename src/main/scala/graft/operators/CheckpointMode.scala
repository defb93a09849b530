package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Per-round persistence policy for the iterative operator family
 * ([[Graphs.pagerank]] / [[Graphs.hits]] /
 * [[Graphs.personalizedPagerank]], [[Dedup.clusters]],
 * [[Embeddings.kmeansRun]]): each round materializes its state frame
 * so the loop's lineage stays flat instead of growing exponentially.
 *
 * [[CheckpointMode.Local]] (the default) is `localCheckpoint` —
 * executor block storage, no distributed write, the right choice for
 * local mode and short loops. Its durability caveat on a REAL
 * cluster: a truncated lineage cannot recompute lost blocks, so any
 * executor death kills the job mid-loop, and dynamic de-allocation
 * must be fenced off for the loop's lifetime.
 *
 * [[CheckpointMode.Reliable]] switches the SAME call sites to
 * `DataFrame.checkpoint()` into a fault-tolerant directory (HDFS /
 * object store): each round's state survives executor loss at the
 * cost of one distributed write per round — the production setting
 * for a 100 TB corpus where hundreds of iterative tasks otherwise
 * gamble on zero executor churn.
 *
 * [[CheckpointMode.Local]] and [[CheckpointMode.Reliable]] are EAGER
 * materializations of the identical frame — a checkpoint changes
 * where blocks live, never values — asserted by `CheckpointModeSpec`.
 * [[CheckpointMode.Lazy]] persists the same blocks with the same
 * truncated lineage but defers materialization to the first action:
 * a FIXED-iteration loop (pagerank/hits/ppr — no per-round
 * convergence action) then runs as ONE job DAG instead of one job
 * per round, which removes iterations-many scheduling barriers.
 * Convergence loops ([[Dedup.clusters]]' label propagation, kmeans)
 * may use it for their in-loop steps too, when the per-round
 * convergence count is a full scan of the step: that count then
 * materializes the blocks inside its own job (one job per round
 * instead of two), and nothing else reads the step before it
 * returns — `Dedup.clustersLabelProp` states the full argument.
 */
sealed trait CheckpointMode {
  def apply(df: DataFrame): DataFrame
}

object CheckpointMode {

  /** Executor-local blocks: fast, not fault-tolerant. */
  case object Local extends CheckpointMode {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint()
  }

  /** Executor-local blocks, materialized at first action instead of
   * at the call — same storage and lineage truncation as [[Local]],
   * no per-call job barrier (see object scaladoc for when). */
  case object Lazy extends CheckpointMode {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
  }

  /** No materialization — the raw lazy frame. For plan introspection
   * (a checkpoint collapses the build plan to a Scan ExistingRDD) and
   * for callers that persist the artifact themselves anyway. The
   * multi-consumer operators re-run their corpus pass per read under
   * this mode; production paths keep [[Local]]/[[Reliable]]. */
  case object Off extends CheckpointMode {
    def apply(df: DataFrame): DataFrame = df
  }

  /**
   * Reliable checkpoint under `dir`. The directory is installed on
   * the SparkContext once, only if none is set — an
   * already-configured `spark.checkpoint.dir` (or an earlier
   * Reliable instance) wins, since the setting is context-global.
   */
  final case class Reliable(dir: String) extends CheckpointMode {
    def apply(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint()
    }
  }
}
