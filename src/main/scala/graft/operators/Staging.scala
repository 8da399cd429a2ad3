package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge

/** Composition-point pinning for multi-stage pipelines.
  *
  * A reused stage output must be materialized once or its DAG
  * re-executes per downstream consumer. Two pinning tiers:
  *
  *  - `localCheckpoint` (the default, `staging = None`): blocks live
  *    in executor storage — fastest, but they DIE WITH THEIR EXECUTOR.
  *    Right for interactive/short jobs where a retry is cheap.
  *  - manifest-snapshot staging (`staging = Some(dir)`): each pinned
  *    stage commits a [[Layout.snapshotWrite]] table under
  *    `dir/<stage>` and downstream reads resolve the manifest — the
  *    durable tier. At 100 TB a 7-stage pipeline on preemptible
  *    executors must survive losing a machine hours in: staged outputs
  *    are object-store files with an atomic commit, so a restarted job
  *    (or a surviving driver re-running an action) RE-READS completed
  *    stages instead of recomputing them, and a writer crash mid-stage
  *    leaves no torn table (the manifest never referenced the partial
  *    files). Re-running a pipeline appends a new snapshot per stage;
  *    [[Layout.vacuum]] reclaims retired attempts.
  *
  * Same trade Spark's own `reliableCheckpoint` makes against
  * `localCheckpoint`, with the engine's own table primitive (atomic
  * manifest commit + time travel) instead of raw RDD block dumps.
  */
object Staging {

  /** Pin `df` as the named composition point: localCheckpoint when no
    * staging root is configured, else a committed snapshot table at
    * `root/<stage>` re-read through its manifest.
    */
  def pin(df: DataFrame, staging: Option[String], stage: String): DataFrame =
    staging match {
      case None => localPin(df)
      case Some(root) =>
        val dir = s"$root/$stage"
        Layout.snapshotWrite(df, dir)
        Layout.snapshotRead(df.sparkSession, dir)
    }

  /** localCheckpoint `df` and hand the planner the bytes its blocks
    * hold ([[Bridge.withStoredSize]], no extra job), so a join against
    * a small pin plans a broadcast of it and one against a wide pin
    * does not.
    */
  private[graft] def localPin(df: DataFrame): DataFrame =
    Bridge.withStoredSize(df.localCheckpoint())
}
