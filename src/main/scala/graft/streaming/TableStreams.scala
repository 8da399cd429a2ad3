package graft.streaming

import graft.functions.Digest
import graft.operators.Layout
import org.apache.spark.sql.DataFrame

/** Streaming ingestion INTO a manifest-committed snapshot table — the
  * Delta-style streaming table sink reduced to the engine's own
  * primitive: each micro-batch commits one [[Layout.snapshotAppend]],
  * so the table advances one atomic snapshot per batch, readers always
  * see a complete committed prefix of the stream, and time travel /
  * diff / vacuum all apply to the live ingestion table.
  *
  * Exactly-once table state under retries: a micro-batch sink is
  * at-least-once (a batch re-runs if the commit raced a crash), so
  * each commit writes a `_batch-<id>` marker AFTER its manifest
  * commit and a replayed batch whose marker exists is skipped
  * ([[commitOnce]]) — the transactional-idempotence trick every
  * table-format streaming sink uses (Delta records txn ids in the log;
  * the marker file is that record). A crash BETWEEN manifest commit and
  * marker write re-runs the batch once; the re-run re-appends over the
  * previous attempt's manifest — callers needing hard exactly-once
  * under that window vacuum by batch key downstream, and the window is
  * one rename wide.
  */
object TableStreams {

  /** The marker prefix for a checkpoint lineage — exposed so tests and
    * maintenance tooling can reason about a table's committed batches.
    */
  def sinkId(checkpoint: String): String =
    Digest.md5Hex(checkpoint).take(12)

  /** Run `commit` as micro-batch `batchId` of checkpoint lineage
    * `lineage` ([[sinkId]]) unless the batch's `_batch-<lineage>-<batchId>`
    * marker under `dir` says it already committed; the marker lands
    * AFTER the commit. The one marker protocol of [[snapshotSink]]
    * (`writeStream.format("snapshot")`) and [[upsertSink]].
    */
  private[graft] def commitOnce(spark: org.apache.spark.sql.SparkSession,
                                dir: String, lineage: String,
                                batchId: Long)(commit: => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, s"_batch-$lineage-$batchId")
    if (!fs.exists(marker)) {
      commit
      fs.create(marker, true).close()
    }
  }

  /** The CONSUMER side of the streaming-table story — tail a snapshot
    * table incrementally, the Delta-streaming-source shape on the
    * engine's own manifest primitive: each committed snapshot id is an
    * offset; a call processes every snapshot past the checkpoint's
    * stored offset IN ORDER, handing `process` the snapshot's added
    * rows ([[Layout.snapshotChangesSince]] — resolved from two
    * manifest reads, no data diffed), and durably advances the offset
    * AFTER the callback returns. Crash between callback and offset
    * write replays that one snapshot — at-least-once delivery with
    * exactly-once easily recovered by idempotent/marker-keyed sinks
    * (the mirror of [[snapshotSink]]'s one-rename window). Polling
    * this in a loop is the deployment mode; each call drains whatever
    * has committed since the last. Returns the snapshots processed.
    *
    * Why not a file-glob `readStream` over the data directory: data
    * files land BEFORE their manifest commits, so a directory-watching
    * source would consume uncommitted (possibly orphaned) files —
    * manifest-driven discovery is what makes the feed transactional.
    */
  def consumeSnapshots(spark: org.apache.spark.sql.SparkSession,
                       dir: String, checkpoint: String,
                       resumeFromOldest: Boolean = false)
                      (process: (DataFrame, Long) => Unit): Int = {
    val ckPath = new org.apache.hadoop.fs.Path(checkpoint)
    val fs = ckPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ckPath)
    // VERSIONED offsets (one empty marker per consumed snapshot, read
    // max): commits are pure creates — no delete-then-rename window
    // where a crash could lose the whole offset state and replay the
    // table from the beginning; the worst crash now replays exactly
    // the one in-flight snapshot (the documented at-least-once window)
    def committed(): Seq[Long] =
      Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(checkpoint, "_graft_offset-*")))
        .getOrElse(Array.empty)
        .map(_.getPath.getName.stripPrefix("_graft_offset-").toLong)
        .toSeq
    val last: Long = committed().maxOption.getOrElse(0L)
    val ids = Layout.snapshotIds(spark, dir)
    // An offset pointing at an EXPIRED snapshot must not silently fall
    // back to an older id — snapshotChangesSince(olderId, …) would
    // re-deliver rows the consumer already processed, far beyond the
    // documented one-snapshot replay window. Loud by default; opting
    // in accepts an explicit full re-delivery from what's available.
    if (last > 0L && !ids.contains(last)) {
      require(resumeFromOldest,
        s"stored offset snapshot $last has been expired/vacuumed from " +
          s"$dir; resuming from an older snapshot would re-deliver " +
          "already-consumed rows. Pass resumeFromOldest=true to accept " +
          "a re-delivery from the oldest available snapshot, or reset " +
          "the checkpoint.")
      System.err.println(s"[consumeSnapshots] offset $last expired " +
        s"from $dir — re-delivering from the oldest available snapshot")
    }
    val todo = ids.filter(_ > last)
    var prev = ids.filter(_ <= last).lastOption.getOrElse(0L)
    todo.foreach { sid =>
      process(Layout.snapshotChangesSince(spark, dir, prev, sid), sid)
      fs.create(new org.apache.hadoop.fs.Path(checkpoint,
        s"_graft_offset-$sid"), true).close()
      prev = sid
    }
    // Marker compaction: the max marker alone carries the offset, so
    // everything below it is dead weight that would otherwise grow one
    // file per consumed snapshot forever. Deleting strictly-below-max
    // is crash-safe in any prefix (reads take the max); the threshold
    // just avoids delete churn on every call.
    val cur = committed()
    if (cur.size > 8) {
      val mx = cur.max
      cur.filter(_ < mx).foreach(o => fs.delete(
        new org.apache.hadoop.fs.Path(checkpoint, s"_graft_offset-$o"),
        false))
    }
    todo.size
  }

  /** Streaming UPSERT into a snapshot table — [[snapshotSink]]'s
    * sibling for KEYED CDC streams: each micro-batch applies through
    * ONE atomic [[Layout.upsertKeysMoR]] commit (position-delete the
    * batch's keys, append its rows — no intermediate deleted-state
    * snapshot, no rewrite), so the table is always the latest value
    * per key over the stream's committed prefix. The very first batch
    * on a fresh table bootstraps it via [[Layout.snapshotAppend]].
    *
    * Same idempotence contract as [[snapshotSink]]: a per-(checkpoint
    * lineage, batchId) marker written AFTER the commit skips replayed
    * batches; the at-least-once window is one rename wide — and a
    * re-applied upsert batch is VALUE-idempotent anyway (same keys,
    * same rows: the replay replaces the first attempt's rows with
    * identical ones), so the window costs duplicate work, never
    * duplicate keys. Batches must be key-unique (CDC compaction
    * upstream, the upsertKeysMoR contract).
    */
  def upsertSink(stream: DataFrame, dir: String, checkpoint: String,
                 keyCols: Seq[String], statsCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    require(keyCols.nonEmpty, "upsertSink needs at least one key column")
    val id = sinkId(checkpoint)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        commitOnce(spark, dir, id, batchId) {
          if (Layout.snapshotIds(spark, dir).isEmpty)
            Layout.snapshotAppend(batch, dir, statsCols)
          else Layout.upsertKeysMoR(spark, dir, batch, keyCols)
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming MULTI-TABLE publish: each micro-batch fans out into N
    * derived tables (per-table transform of the batch), every derived
    * frame appends to its snapshot dir, and then ONE
    * [[Layout.catalogCommit]] pins all N new snapshots together —
    * readers resolving through the catalog see each batch's outputs
    * all-or-nothing, never a torn cross-table view.
    *
    * Idempotence is STRONGER than [[snapshotSink]]'s marker-file
    * contract: the batch id rides INSIDE the catalog version as its
    * `note`, so the commit and the replay marker are one atomic
    * rename — no at-least-once window at all. A crash after the
    * appends but before the commit leaves table snapshots that no
    * catalog version references: invisible to catalog readers (the
    * publish/land isolation property) and superseded by the replay's
    * appends; expireSnapshots reclaims the orphaned attempt. A
    * concurrent committer racing the version slot surfaces as the
    * loud catalogCommit error — the batch retries on a re-read base.
    */
  def catalogSink(stream: DataFrame, catalogDir: String, checkpoint: String,
                  tables: Map[String, (String, DataFrame => DataFrame)]): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    require(tables.nonEmpty, "catalogSink needs at least one table")
    val id = sinkId(checkpoint)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val noteVal = s"$id-$batchId"
        if (!Layout.catalogNotes(spark, catalogDir).contains(noteVal)) {
          val pinned = batch.localCheckpoint() // N consumers, one compute
          val updates = tables.toSeq.sortBy(_._1).map {
            case (name, (dir, derive)) =>
              val sid = Layout.snapshotAppend(derive(pinned), dir)
              name -> ((dir, sid))
          }.toMap
          // Bounded retry with linear backoff: a LIVE race resolves in
          // one or two re-reads (the winner published, our base
          // advances), so a commit still failing after maxAttempts is
          // environmental — most likely a stale lock from a crashed
          // committer (catalogCommit names that case explicitly) — and
          // busy-spinning on it would wedge the stream forever. Fail
          // the batch loudly instead; the checkpoint replays it once
          // the operator clears the debris.
          val maxAttempts = 8
          var committed = false
          var attempt = 0
          while (!committed) {
            attempt += 1
            try {
              Layout.catalogCommit(spark, catalogDir, updates,
                note = Some(noteVal))
              committed = true
            } catch {
              case e: RuntimeException
                  if e.getMessage != null &&
                    e.getMessage.contains("concurrent") &&
                    attempt < maxAttempts =>
                // lost the version slot to another committer: our note
                // is still unpublished — retry on the advanced base
                committed =
                  Layout.catalogNotes(spark, catalogDir).contains(noteVal)
                if (!committed) Thread.sleep(200L * attempt)
            }
          }
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain `stream` (Trigger.AvailableNow — one file per micro-batch
    * when the source is configured so) into the snapshot table at
    * `dir` through `writeStream.format("snapshot")`
    * ([[graft.io.SnapshotStreamSink]]), one snapshot per batch.
    * Returns when the available input is fully committed.
    *
    * Markers are keyed by (checkpoint identity, batch id) — batch ids
    * alone would be a data-loss trap: a job restarted with a FRESH
    * checkpoint renumbers batches from 0 over a possibly-different
    * file split, and bare `_batch-0..N` markers from the old run would
    * silently skip genuinely new data (Delta keys txn ids by app
    * identity for exactly this reason). Same checkpoint ⇒ same prefix
    * ⇒ replays dedupe; new checkpoint ⇒ new prefix ⇒ everything
    * commits (appending again whatever the old run already wrote —
    * at-least-once across checkpoint changes, exactly-once within a
    * checkpoint lineage; don't point two different checkpoints at one
    * table unless re-appends are acceptable).
    */
  def snapshotSink(stream: DataFrame, dir: String, checkpoint: String,
                   statsCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val q = stream.writeStream.format("snapshot")
      .option("path", dir)
      .option("statsCols", statsCols.mkString(","))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
