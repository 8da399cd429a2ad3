package graft.io

import graft.operators.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a manifest-committed snapshot
  * table — `spark.readStream.format("snapshot").option("path", dir)`,
  * the missing half of the streaming-table story ([[SnapshotStreamSink]]
  * writes one; this tails one). Completes the reference's
  * register-then-query lifecycle (SQLQueryFastq.java:99) for
  * continuously-growing tables: a downstream pipeline subscribes to the
  * table instead of polling [[graft.streaming.TableStreams.consumeSnapshots]]
  * by hand, and Spark's own checkpoint WAL carries the offsets —
  * end-to-end exactly-once with any idempotent sink, no marker files.
  *
  * Offset model: one committed snapshot id per offset (the manifest IS
  * the log — same design point as Delta's streaming source, whose
  * offsets are table versions). Delivery semantics, Delta-style:
  *
  *  - The FIRST batch of a fresh stream is an initial scan: the full
  *    content of the latest snapshot, served as pinned manifest files
  *    (history is NOT replayed — at 100 TB the history may be many
  *    times the live table). `startingSnapshotId` opts out: deliver
  *    only commits AFTER that id, no initial scan.
  *  - Every subsequent batch delivers the rows APPENDED by the
  *    snapshots in `(start, end]` — per-commit file-set deltas read as
  *    pinned parquet files, an insert-only feed.
  *  - `replace` (compaction/OPTIMIZE) and `evolve` (metadata-only
  *    schema change) commits rewrite or relabel without changing
  *    logical content — they deliver NOTHING, so maintenance never
  *    re-delivers rows (the trap a bare file-set diff falls into).
  *  - Row-CHANGING commits (delete/update/merge/overwrite/rollback)
  *    REFUSE loudly by default — an insert-only consumer silently
  *    missing deletes is corruption, not convenience. Opt in with
  *    `skipChangeCommits` (Delta's knob of the same name) to skip
  *    them; row-level change consumption is [[Layout.changeFeed]].
  *
  * Options: `path` (required); `startingSnapshotId` (tail after this
  * id, no initial scan); `skipChangeCommits` (default false);
  * `maxSnapshotsPerTrigger` (admission control: at most N commits per
  * micro-batch — the initial scan counts as one batch regardless).
  *
  * Scale shape: each poll is one directory listing; each batch reads
  * one manifest per delivered commit (metadata-bounded, no data I/O)
  * and opens exactly the files those commits added. The batch plan is a
  * pinned-file HadoopFsRelation inside Spark's vectorized parquet
  * scan, so pushed filters/column pruning in the streaming query still
  * reach the parquet reader.
  *
  * Refusals (all loud): outstanding EQUALITY tombstones (they mask
  * appended rows at view time — a row feed cannot honor a
  * right-to-be-forgotten mask; settle with materializeDeletes);
  * initial scan over outstanding POSITION deletes (the pinned-file
  * read cannot apply them — tailing past them is fine, since old DVs
  * never reference newly appended files); rename-era files (by-name
  * parquet reads would null-fill renamed columns — heal with
  * compactSnapshot).
  */
class SnapshotStreamSource(spark: SparkSession, dir: String,
                           fixedSchema: StructType,
                           startingSnapshotId: Option[Long],
                           skipChangeCommits: Boolean,
                           maxSnapshotsPerTrigger: Option[Int])
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // Highest snapshot id this source has reported or delivered — the
  // admission-control cursor. NOT recovery state: Spark's checkpoint
  // WAL owns the committed offset; this only rate-limits getOffset,
  // and getBatch re-syncs it from the engine-supplied range.
  @volatile private var lastSeen: Long = startingSnapshotId.getOrElse(-1L)

  // Trigger.AvailableNow contract (the FileStreamSource pattern): at
  // query start the engine snapshots "available" — batches then drain
  // UP TO this id (respecting maxSnapshotsPerTrigger across several
  // micro-batches) and the query terminates; commits landing after
  // prepare are the next run's work.
  @volatile private var availableNowCap: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Layout.snapshotIds(spark, dir)
      .maxOption.getOrElse(-1L)

  override def schema: StructType = fixedSchema

  private def toId(o: Offset): Long = o.json.trim.toLong

  /** Next batch's end offset, from `base` (exclusive): capped by the
    * AvailableNow snapshot and the per-trigger commit budget.
    */
  private def nextTarget(base: Long): Option[Long] = {
    val ids = Layout.snapshotIds(spark, dir).filter(_ <= availableNowCap)
    if (ids.isEmpty) None
    else if (base < 0) Some(ids.max) // initial scan: one full batch
    else {
      val pending = ids.filter(_ > base)
      if (pending.isEmpty) None
      else Some(maxSnapshotsPerTrigger match {
        case Some(k) => pending.take(k).max
        case None => pending.max
      })
    }
  }

  override def getOffset: Option[Offset] = {
    val t = nextTarget(lastSeen)
    // re-reporting the cursor itself means "no new data" to the engine
    t.orElse(if (lastSeen >= 0) Some(lastSeen) else None)
      .map(LongOffset(_))
  }

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val base = Option(startOffset)
      .map(o => o.json.trim.toLong).getOrElse(lastSeen)
    nextTarget(math.max(base, lastSeen)) match {
      case Some(t) => LongOffset(t)
      case None => startOffset // unchanged ⇒ no batch
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endId = toId(end)
    val startId = start.map(toId).orElse(startingSnapshotId).getOrElse(-1L)
    // fold BOTH bounds into the cursor: after a restart the engine's
    // start offset is the recovered truth — reporting anything below
    // it from a stale cursor would regress the offset log
    lastSeen = math.max(lastSeen, math.max(startId, endId))
    if (startId >= 0 && endId <= startId)
      return Bridge.emptyStreaming(spark, fixedSchema)
    // ONE manifest of the end snapshot serves the debt checks, the
    // initial scan's listing and the rename guard's schemas
    val m = SnapshotSource.manifest(spark, dir, endId)
    require(m.eqDeletes.isEmpty,
      s"snapshot table at $dir carries outstanding equality tombstones " +
        "— they mask rows at view time, which an insert-only stream " +
        "cannot honor. Settle with Layout.materializeDeletes first.")
    val entries =
      if (startId < 0) { // initial scan: full content of snapshot endId
        require(m.deletes.isEmpty,
          s"snapshot table at $dir has outstanding position deletes; " +
            "the streaming initial scan serves pinned manifest files " +
            "and cannot apply them — settle with " +
            "Layout.materializeDeletes, then start the stream")
        m.entries
      } else {
        // one manifest per delivered commit: each append's added files
        // are its entries minus the previous commit's paths (the range's
        // base is read only if the first append needs it)
        lazy val basePaths =
          if (startId > 0) paths(SnapshotSource.manifest(spark, dir, startId))
          else Set.empty[String]
        var prev: Option[Layout.Manifest] = None
        Layout.snapshotIds(spark, dir)
          .filter(id => id > startId && id <= endId)
          .flatMap { sid =>
            val cur = if (sid == endId) m
              else SnapshotSource.manifest(spark, dir, sid)
            val added = cur.op match {
              case Some("append") =>
                val before = prev.fold(basePaths)(paths)
                cur.entries.filterNot(e => before.contains(e.path))
              case Some("replace") | Some("evolve") => Nil // no logical change
              case other =>
                require(skipChangeCommits,
                  s"snapshot $sid at $dir is a row-changing commit " +
                    s"(op=${other.getOrElse("unknown")}); an insert-only " +
                    "stream would miss its deletes/updates. Consume " +
                    "row-level changes via Layout.changeFeed, or skip " +
                    "such commits with .option(\"skipChangeCommits\", true)")
                Nil
            }
            prev = Some(cur)
            added
          }
      }
    SnapshotSource.requireByNameSafe(dir, entries, m.schemas)
    if (entries.isEmpty) Bridge.emptyStreaming(spark, fixedSchema)
    else Bridge.ofRows(spark, LogicalRelation(
      SnapshotSource.relation(spark,
        new SnapshotFileIndex(spark, dir, entries, endId), fixedSchema,
        Map.empty),
      isStreaming = true))
  }

  private def paths(m: Layout.Manifest): Set[String] =
    m.entries.map(_.path).toSet

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"SnapshotStreamSource[$dir]"
}

object SnapshotStream {
  /** The stream's fixed schema — the table's CURRENT schema from a
    * bounded read (one manifest + one parquet footer, mirroring
    * snapshotRead's derivation; never a full-directory listing).
    */
  def tableSchema(spark: SparkSession, dir: String): StructType =
    Layout.footerSchema(spark, dir,
      SnapshotSource.manifest(spark, dir, -1L).entries, mergeSchema = false)
}
