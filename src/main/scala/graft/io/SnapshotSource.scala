package graft.io

import graft.operators.Layout
import graft.operators.Layout.{FileEntry, SchemaInfo, StatPred}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.{LongType, StructType}

/** SQL/DataFrame-reader access to the manifest snapshot table format —
  * the registration → arbitrary-SQL lifecycle the reference is built
  * around (SQLQueryFastq.java:99 registers a table then runs free-form
  * SQL), extended to the engine's own storage layer:
  *
  * {{{
  *   spark.read.format("snapshot").option("path", dir).load()
  *   // or, SQL-only:
  *   spark.sql(s"CREATE TEMPORARY VIEW t USING snapshot OPTIONS (path '$dir')")
  *   spark.sql("SELECT ... FROM t WHERE n_chars BETWEEN 150 AND 350")
  * }}}
  *
  * and the WHERE prunes manifest-listed files at PLANNING time: Spark
  * hands the scan's data filters to [[SnapshotFileIndex.listFiles]],
  * which compiles them through the same PredNode → StatPred pipeline
  * `snapshotReadWhere` uses, so the kept-file set is IDENTICAL to
  * `Layout.snapshotFilesWhere` (SnapshotSqlSpec pins the equality).
  *
  * Architecture note — why a `FileIndex` and not a hand-rolled
  * DataSourceV2 `PartitionReader`: the physical scan stays Spark's own
  * vectorized parquet reader inside WholeStageCodegen, with its
  * parquet-level PushedFilters/ReadSchema intact — a custom
  * `SupportsPushDownFilters` Batch reader would have to reimplement
  * (or row-wrap) that reader and lose all of it. The manifest tier
  * only decides WHICH files the scan opens, which is precisely the
  * `FileIndex.listFiles(partitionFilters, dataFilters)` contract —
  * the same seam Delta Lake's data skipping uses. Options: `path`
  * (required), `snapshotId` (time travel; default latest),
  * `asOfTimestamp` (calendar time travel — epoch millis, ISO-8601
  * instant, or session-zone datetime), `ref` (a named tag/branch —
  * [[graft.operators.Layout.createTag]]), `mergeSchema` (union schema
  * across widening appends).
  *
  * Scale shape: planning cost is one manifest read (the entries carry
  * byte sizes, so NO per-file round trips — at object-store latency a
  * per-file HEAD across 10⁵ files is minutes before the first task);
  * pruning is an in-memory fold over entries; the scan itself opens
  * only surviving files.
  */
class SnapshotSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {
  override def shortName(): String = "snapshot"

  /** `spark.readStream.format("snapshot")` — the streaming SOURCE half
    * (see [[SnapshotStreamSource]] for semantics): committed snapshot
    * ids are the offsets, batches serve per-commit appended files as
    * pinned parquet scans, maintenance commits deliver nothing, and
    * row-changing commits refuse unless `skipChangeCommits`.
    */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val dir = pathOf(lower(parameters), "stream source")
    ("snapshot",
      schema.getOrElse(SnapshotStream.tableSchema(sqlContext.sparkSession, dir)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val opts = lower(parameters)
    val dir = pathOf(opts, "stream source")
    new SnapshotStreamSource(spark, dir,
      schema.getOrElse(SnapshotStream.tableSchema(spark, dir)),
      startingSnapshotId = opts.get("startingsnapshotid").map(_.toLong),
      skipChangeCommits =
        opts.get("skipchangecommits").exists(_.toBoolean),
      maxSnapshotsPerTrigger =
        opts.get("maxsnapshotspertrigger").map(_.toInt))
  }

  /** `df.writeStream.format("snapshot")` — idempotent manifest
    * commits per micro-batch: each batch appends through
    * [[Layout.snapshotAppend]] guarded by a per-(checkpoint, batchId)
    * marker ([[graft.streaming.TableStreams.commitOnce]]). The marker
    * lands AFTER the manifest commit, so the at-least-once window is
    * exactly one rename wide — a crash between the commit and the
    * marker re-appends that one batch on recovery; every other replay
    * is a no-op. [[graft.streaming.TableStreams.snapshotSink]] is this
    * sink drained once. Append mode only; options: `path` (required),
    * `statsCols` (comma-separated).
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"snapshot sink supports Append output mode only, got $outputMode")
    require(partitionColumns.isEmpty,
      "snapshot sink does not take partitionBy — use Layout layouts")
    val opts = lower(parameters)
    val dir = pathOf(opts, "sink")
    val lineage = graft.streaming.TableStreams.sinkId(
      opts.getOrElse("checkpointlocation", dir))
    new SnapshotStreamSink(dir, colsOf(opts, "statscols"), lineage)
  }

  /** The WRITER half of the lifecycle — `df.write.format("snapshot")
    * .option("path", dir).mode(...).save()` commits through the
    * manifest protocol, never raw files:
    *  - Append → [[Layout.snapshotAppend]] (prior files reused
    *    verbatim, stats/bloom columns inherited from the table);
    *  - Overwrite → [[Layout.snapshotWrite]] (new snapshot replaces
    *    the file list; old snapshots stay time-travelable);
    *  - ErrorIfExists / Ignore → standard SaveMode semantics against
    *    manifest existence.
    * Options: `path` (required), `statsCols` / `bloomCols`
    * (comma-separated; which columns get range / bloom manifests —
    * on append they default to whatever the table already tracks).
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val opts = lower(parameters)
    val dir = pathOf(opts, "sink")
    val stats = colsOf(opts, "statscols")
    val blooms = colsOf(opts, "bloomcols")
    val exists = Layout.tableExists(spark, dir)
    mode match {
      case SaveMode.Append =>
        if (exists) Layout.snapshotAppend(data, dir, stats, blooms)
        else Layout.snapshotWrite(data, dir, stats, blooms)
      case SaveMode.Overwrite =>
        Layout.snapshotWrite(data, dir, stats, blooms)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"snapshot table already exists at $dir (mode ErrorIfExists)")
        Layout.snapshotWrite(data, dir, stats, blooms)
      case SaveMode.Ignore =>
        if (!exists) Layout.snapshotWrite(data, dir, stats, blooms)
    }
    createRelation(sqlContext, Map("path" -> dir))
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    // DSv1 hands options through CaseInsensitiveMap, but be explicit
    val opts0 = lower(parameters)
    // CATALOG resolution: `catalog` + `table` (+ optional
    // `catalogVersion`) resolve to the dir and snapshot id the catalog
    // version pinned — the multi-table-consistent read surface. The
    // catalog IS the time-travel authority here, so the per-table
    // travel options are refused.
    val opts = opts0.get("catalog") match {
      case Some(cat) =>
        val tbl = opts0.getOrElse("table",
          throw new IllegalArgumentException(
            "catalog read needs .option(\"table\", <name>)"))
        require(Seq("path", "snapshotid", "asoftimestamp", "ref")
          .forall(!opts0.contains(_)),
          "catalog read takes catalog/table/catalogVersion only — the " +
            "catalog version pins the table dir and snapshot")
        val ver = opts0.get("catalogversion").map(_.toLong).getOrElse(-1L)
        val e = Layout.catalogEntries(spark, cat, ver).find(_.table == tbl)
          .getOrElse(throw new IllegalArgumentException(
            s"table '$tbl' not in catalog $cat" +
              (if (ver >= 0) s" at version $ver" else "")))
        opts0 - "catalog" - "table" - "catalogversion" +
          ("path" -> e.dir) + ("snapshotid" -> e.snapshotId.toString)
      case None => opts0
    }
    val dir = pathOf(opts, "source")
    // time travel: by id, or AS OF a calendar instant (`asOfTimestamp`
    // accepts epoch millis, an ISO-8601 instant, or a local datetime
    // in the session timezone) — resolved to the newest snapshot whose
    // commit time is <= the instant, exactly Layout.snapshotAsOf
    require(Seq("snapshotid", "asoftimestamp", "ref")
      .count(opts.contains) <= 1,
      "snapshot source takes AT MOST ONE of snapshotId, asOfTimestamp, ref")
    val snapId = opts.get("snapshotid").map(_.toLong)
      .orElse(opts.get("asoftimestamp").map(ts =>
        Layout.snapshotAsOf(spark, dir, SnapshotSource.parseInstantMs(
          ts, spark.sessionState.conf.sessionLocalTimeZone))))
      .orElse(opts.get("ref").map(Layout.resolveRef(spark, dir, _)))
      .getOrElse(-1L)
    // METADATA TABLES (Iceberg's .files/.history/.refs surface): the
    // inspection side of the format, served from the manifest tier
    // alone — crucially EXEMPT from the MoR-debt and rename-safety
    // refusals below (an indebted table is exactly the one an operator
    // wants to inspect). `files` respects snapshotId/asOfTimestamp/ref.
    opts.get("metadata").map(_.toLowerCase) match {
      case Some(kind) =>
        return new SnapshotSource.DataFrameRelation(sqlContext,
          SnapshotSource.metadataDf(spark, dir, kind, snapId))
      case None => ()
    }
    // ONE manifest resolution: the debt check, the listing, the
    // rename guard and the schema all see the same snapshot, whatever
    // commits land meanwhile. Merge-on-read deletes are row-level; a
    // FileIndex decides only WHICH FILES open, so serving a DV table
    // here would silently resurrect deleted rows. Refuse loudly —
    // Layout.snapshotRead applies the delete index, and
    // materializeDeletes (or any OPTIMIZE/compact rewrite) restores
    // SQL access.
    val m = SnapshotSource.manifest(spark, dir, snapId)
    require(m.deletes.isEmpty && m.eqDeletes.isEmpty,
      s"snapshot table at $dir has outstanding position/equality " +
        "deletes; read via Layout.snapshotRead or settle them with " +
        "Layout.materializeDeletes, then re-register")
    SnapshotSource.requireByNameSafe(dir, m.entries, m.schemas)
    SnapshotSource.relation(spark,
      new SnapshotFileIndex(spark, dir, m.entries, snapId),
      Layout.footerSchema(spark, dir, m.entries,
        opts.get("mergeschema").exists(_.toBoolean)),
      opts)
  }

  private def lower(parameters: Map[String, String]): Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase -> v }

  /** The required `path` option; `role` names the surface refusing. */
  private def pathOf(opts: Map[String, String], role: String): String =
    opts.getOrElse("path", throw new IllegalArgumentException(
      s"snapshot $role needs .option(\"path\", <table dir>)"))

  /** A comma-separated column-list option (empty when absent). */
  private def colsOf(opts: Map[String, String], key: String): Seq[String] =
    opts.get(key).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
}

object SnapshotSource {

  /** The one manifest resolution every snapshot this surface serves
    * comes from: the id `snapId` names (latest when <= 0) and its
    * entries, schemas and delete lists, parsed from one file.
    */
  private[io] def manifest(spark: SparkSession, dir: String,
                           snapId: Long): Layout.Manifest =
    Layout.snapshotAt(Layout.tableFs(spark, dir), dir, snapId)._2

  /** The rename-era guard of every by-name read: a HadoopFsRelation
    * resolves parquet columns strictly by name, which is safe iff every
    * served file's (field id, name) pairs are a SUBSET of the current
    * schema's — widening appends qualify (old files null-fill the added
    * columns), renames (same id, new name) and drops do not. Refuse
    * loudly: Layout.snapshotRead resolves by field id, and
    * compactSnapshot/optimizeClustered rewrite to current names.
    */
  private[io] def requireByNameSafe(dir: String, entries: Seq[FileEntry],
                                    schemas: Seq[SchemaInfo]): Unit =
    if (schemas.nonEmpty) {
      def idNames(s: SchemaInfo) = s.fields.map(f => (f.id, f.name)).toSet
      val cur = idNames(schemas.maxBy(_.id))
      require(entries.forall(e => e.schemaId
        .flatMap(id => schemas.find(_.id == id))
        .forall(idNames(_).subsetOf(cur))),
        s"snapshot table at $dir has files written under renamed/dropped " +
          "column names; read via Layout.snapshotRead (field-id " +
          "resolution) or heal with Layout.compactSnapshot")
    }

  /** Spark's own parquet relation over a [[SnapshotFileIndex]]: the
    * manifest decides which files open, the vectorized reader (with
    * its pushed filters and read schema) scans them.
    */
  private[io] def relation(spark: SparkSession, index: SnapshotFileIndex,
                           dataSchema: StructType,
                           options: Map[String, String]): HadoopFsRelation =
    HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = options)(spark)

  /** Tiny already-materialized relation: metadata tables are
    * manifest-sized, so a plain TableScan over a local DataFrame's
    * rows is the right shape — no file scan, no pushdown tier.
    */
  private[io] final class DataFrameRelation(
      override val sqlContext: SQLContext, df: DataFrame)
      extends BaseRelation with org.apache.spark.sql.sources.TableScan {
    override def schema: org.apache.spark.sql.types.StructType = df.schema
    override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
      df.rdd
  }

  /** The metadata table surface: `files` (per-file manifest entries of
    * the resolved snapshot, with min/max stat bounds as maps),
    * `history` (commit log), `refs` (named tags/branches), `deletes`
    * (outstanding merge-on-read position/equality tombstone files).
    */
  private[io] def metadataDf(spark: SparkSession, dir: String,
                             kind: String, snapId: Long): DataFrame = {
    import spark.implicits._
    kind match {
      case "files" =>
        manifest(spark, dir, snapId).entries
          .map(e => (e.path, e.bytes, e.rows, e.schemaId,
            e.stats.map { case (c, s) => c -> s.min.orNull },
            e.stats.map { case (c, s) => c -> s.max.orNull }))
          .toDF("path", "bytes", "rows", "schema_id",
            "min_stats", "max_stats")
      case "history" => Layout.snapshotHistory(spark, dir)
      case "refs" =>
        Layout.tableRefs(spark, dir)
          .map(r => (r.name, r.refType, r.snapshotId))
          .toDF("name", "type", "snapshot_id")
      case "deletes" =>
        val m = manifest(spark, dir, snapId)
        (m.deletes.map(d => (d.path, d.rows, "position", Seq.empty[String])) ++
          m.eqDeletes.map(d => (d.path, d.rows, "equality", d.cols)))
          .toDF("path", "rows", "kind", "cols")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' — " +
          "one of files, history, refs, deletes")
    }
  }

  /** `asOfTimestamp` option values → epoch millis: a bare long is
    * epoch millis; an ISO-8601 instant (`2026-08-15T04:00:00Z`) is
    * itself; a zone-less datetime (`2026-08-15T04:00:00` or with a
    * space) resolves in the SESSION timezone — the same anchoring rule
    * the manifest timestamp stats use.
    */
  private[io] def parseInstantMs(s: String, sessionTz: String): Long = {
    val t = s.trim
    t.toLongOption.getOrElse {
      try java.time.Instant.parse(t).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          java.time.LocalDateTime.parse(t.replace(' ', 'T'))
            .atZone(java.time.ZoneId.of(sessionTz)).toInstant.toEpochMilli
      }
    }
  }
}

/** The planning seam: Spark calls [[listFiles]] with the scan's pushed
  * data filters (resolved catalyst Expressions); each compiles through
  * [[Bridge.predicateTree]] → [[Layout.fromPredNode]] into the manifest
  * StatPred algebra, and files whose range/bloom stats prove they hold
  * no matching row are never opened. Non-compilable conjuncts drop
  * soundly (pruning with a subset only widens the kept set; the full
  * filter still runs row-level in the scan).
  *
  * A LATEST-tracking index (`snapId = -1`, the default) re-reads the
  * manifest on [[refresh]] — so a registered view sees a table that
  * moves with commits, exactly like a real catalog table (the insert
  * command refreshes after it commits). A TIME-TRAVEL index (explicit
  * `snapshotId`) is pinned forever: a historical snapshot is immutable
  * by contract. Either way a single query's plan holds one consistent
  * listing (refresh swaps the whole list atomically between queries,
  * never mid-plan).
  */
class SnapshotFileIndex(spark: SparkSession, val tableDir: String,
                        entries: Seq[FileEntry], snapId: Long = -1L)
    extends FileIndex {
  private val root = new Path(tableDir)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualifiedRoot = fs.makeQualified(root)

  // Manifest bytes when recorded (every post-r10 commit); one stat per
  // file only for legacy manifests that predate size recording.
  private def resolve(es: Seq[FileEntry]): Seq[(FileEntry, FileStatus)] =
    es.map { e =>
      val p = fs.makeQualified(new Path(s"$tableDir/${e.path}"))
      val st = e.bytes match {
        case Some(len) => new FileStatus(len, false, 1, 128L << 20, 0L, p)
        case None => fs.getFileStatus(p)
      }
      (e, st)
    }

  @volatile private var statuses: Seq[(FileEntry, FileStatus)] =
    resolve(entries)

  /** The index's current manifest entries — the metadata the
    * [[graft.plans.SnapshotMetadataAggRule]] answers count/min/max
    * from without opening a single data file.
    */
  def currentEntries: Seq[FileEntry] = statuses.map(_._1)

  /** The most recent listing's kept entries — the observable planning
    * decision SnapshotSqlSpec compares against `snapshotFilesWhere`.
    */
  @volatile var lastKept: Seq[FileEntry] = entries

  override def rootPaths: Seq[Path] = Seq(qualifiedRoot)
  override def partitionSchema: StructType = new StructType()
  override def refresh(): Unit = if (snapId < 0) {
    // registration refused MoR debt and rename-era files; a refresh
    // must RE-CHECK both — a Scala-side deleteWhereMoR/deleteKeysMoR
    // commit after registration would otherwise leak deleted rows into
    // SQL reads and metadata-only counts, and a renameColumn would
    // null-fill the renamed column of the old files by name. One
    // manifest: the checks and the listing are the same snapshot.
    val m = SnapshotSource.manifest(spark, tableDir, -1L)
    require(m.deletes.isEmpty && m.eqDeletes.isEmpty,
      s"snapshot table at $tableDir acquired outstanding position/" +
        "equality deletes after registration — run " +
        "Layout.materializeDeletes and refresh again")
    SnapshotSource.requireByNameSafe(tableDir, m.entries, m.schemas)
    statuses = resolve(m.entries)
  }
  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray
  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val now = statuses
    val preds = dataFilters.flatMap(e =>
      Layout.fromPredNode(Bridge.predicateTree(e)))
    val kept =
      if (preds.isEmpty) now
      else {
        val p = if (preds.size == 1) preds.head else StatPred.And(preds)
        now.filter { case (e, _) => Layout.mayMatch(e, p) }
      }
    lastKept = kept.map(_._1)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
  }
}

/** The snapshot table under a registered view: a temp view resolves to
  * SubqueryAlias(...(View(...(LogicalRelation)))) over a
  * HadoopFsRelation whose location is a [[SnapshotFileIndex]]. The one
  * walker the DML rule and the metadata-aggregate rule share.
  */
object SnapshotView {
  import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, View}

  def unapply(p: LogicalPlan): Option[(HadoopFsRelation, SnapshotFileIndex)] =
    p match {
      case SubqueryAlias(_, child) => unapply(child)
      case v: View => unapply(v.child)
      case l: LogicalRelation => l.relation match {
        case h @ HadoopFsRelation(i: SnapshotFileIndex, _, _, _, _, _) =>
          Some((h, i))
        case _ => None
      }
      case _ => None
    }
}

/** Resolution rule (injected by [[graft.plans.GraftExtensions]]) that
  * routes SQL DML on a registered snapshot view through the manifest
  * commit protocol:
  *
  *  - `INSERT INTO / INSERT OVERWRITE` → [[SnapshotInsertCommand]].
  *    Without it, Spark's generic `InsertIntoHadoopFsRelationCommand`
  *    would drop raw parquet into the table ROOT — files no manifest
  *    references, i.e. a write that "succeeds" and then never appears
  *    in any read (and that the next vacuum reclaims as orphans);
  *  - `DELETE FROM … WHERE …` → [[SnapshotDeleteCommand]] (without it
  *    Spark rejects DELETE on a DSv1 relation outright);
  *  - `UPDATE … SET … WHERE …` → [[SnapshotUpdateCommand]], the same
  *    targeted rewrite with assignments;
  *  - `MERGE INTO … USING … ON … WHEN MATCHED … WHEN NOT MATCHED …` →
  *    [[SnapshotMergeCommand]], the CDC-apply idiom: matched source
  *    rows replace the target row (UPDATE SET *), optionally delete
  *    under a condition, and unmatched source rows insert (INSERT *).
  *    The ON condition must be a conjunction of same-name
  *    target=source column equalities (the key set [[Layout.mergeInto]]
  *    joins and prunes by); richer clause shapes refuse loudly rather
  *    than silently diverging from SQL MERGE semantics.
  */
case class SnapshotDmlRule(session: SparkSession)
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Literal}
  import org.apache.spark.sql.catalyst.plans.logical._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case InsertIntoStatement(SnapshotView(rel, index), partSpec, userCols,
          query, overwrite, _, byName) if query.resolved =>
        require(partSpec.isEmpty && userCols.isEmpty,
          "snapshot INSERT supports neither PARTITION specs nor " +
            "explicit column lists")
        SnapshotInsertCommand(index, rel.schema, query, overwrite, byName)
      case DeleteFromTable(SnapshotView(_, index), condition)
          if condition.resolved =>
        SnapshotDeleteCommand(index, condition)
      case UpdateTable(SnapshotView(_, index), assignments, condition)
          if assignments.forall(a => a.key.resolved && a.value.resolved) &&
            condition.forall(_.resolved) =>
        val pairs = assignments.map { a =>
          a.key match {
            case attr: AttributeReference => (attr.name, a.value)
            case other => throw new IllegalArgumentException(
              s"snapshot UPDATE supports top-level columns only, got $other")
          }
        }
        SnapshotUpdateCommand(index, pairs,
          condition.getOrElse(Literal.TrueLiteral))
      case m: MergeIntoTable
          if m.targetTable.resolved && m.sourceTable.resolved &&
            m.mergeCondition.resolved =>
        m.targetTable match {
          case SnapshotView(_, index) => merge(m, index)
          case _ => m
        }
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def merge(m: MergeIntoTable,
                    index: SnapshotFileIndex): SnapshotMergeCommand = {
    require(m.notMatchedBySourceActions.isEmpty,
      "snapshot MERGE carries not-matched-by-source rows " +
        "unchanged; WHEN NOT MATCHED BY SOURCE is unsupported")
    // ON: same-name target=source equalities → the key columns
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) && a.name == b.name => a.name
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if sOut.contains(a) && tOut.contains(b) && a.name == b.name => a.name
      case other => throw new IllegalArgumentException(
        "snapshot MERGE ON must be a conjunction of same-name " +
          s"target=source column equalities, got $other")
    }
    // WHEN MATCHED: UPDATE SET * (replace), optional conditional
    // DELETE; nothing else
    var deleteWhen: Option[Expression] = None
    var sawUpdate = false
    m.matchedActions.foreach {
      case UpdateStarAction(None) => sawUpdate = true
      case UpdateAction(None, assigns, _)
          if assigns.forall {
            case Assignment(k: AttributeReference, v: AttributeReference) =>
              k.name == v.name && tOut.contains(k) && sOut.contains(v)
            case _ => false
          } => sawUpdate = true // analyzer-expanded SET *
      case DeleteAction(c) =>
        deleteWhen = Some(c.getOrElse(Literal.TrueLiteral))
      case other => throw new IllegalArgumentException(
        "snapshot MERGE supports WHEN MATCHED THEN UPDATE SET * " +
          s"and WHEN MATCHED [AND c] THEN DELETE, got $other")
    }
    // WHEN NOT MATCHED: INSERT * (Layout.mergeInto always inserts
    // unmatched source rows)
    val insertOk = m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assigns))
          if assigns.forall {
            case Assignment(k: AttributeReference, v: AttributeReference) =>
              k.name == v.name
            case _ => false
          } => true
      case _ => false
    }
    require(insertOk,
      "snapshot MERGE requires WHEN NOT MATCHED THEN INSERT *")
    require(sawUpdate || deleteWhen.isDefined,
      "snapshot MERGE needs a WHEN MATCHED clause")
    SnapshotMergeCommand(index, m.sourceTable, keys, deleteWhen)
  }
}

/** The per-batch sink behind `writeStream.format("snapshot")`:
  * marker-guarded manifest appends — atomic per batch, idempotent
  * under recovery replay.
  */
class SnapshotStreamSink(dir: String, statsCols: Seq[String],
                         lineage: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit =
    graft.streaming.TableStreams.commitOnce(data.sparkSession, dir,
      lineage, batchId) {
      Layout.snapshotAppend(Bridge.fromBatch(data), dir, statsCols)
    }
}

/** The rewriting DML commands' shared shape: the view-bound condition
  * and values re-resolve BY NAME (the rewrite scans fresh relations,
  * not the view's exprIds), the commit refreshes the view's index so
  * the next query over the SAME view sees it, and the one output row
  * is the files-rewritten count.
  */
sealed trait SnapshotRewriteCommand extends LeafRunnableCommand {
  def index: SnapshotFileIndex

  /** Commit the rewrite; returns the files-rewritten count. */
  protected def rewrite(session: SparkSession): Int

  protected def unbind(e: Expression): Column = Bridge.column(e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  })

  override def run(session: SparkSession): Seq[Row] = {
    val rewritten = rewrite(session)
    index.refresh()
    Seq(Row(rewritten.toLong))
  }

  override val output: Seq[Attribute] =
    Seq(AttributeReference("files_rewritten", LongType, nullable = false)())
}

/** The DELETE command: compiles the resolved condition into the
  * StatPred pruning tier (the RESOLVED-expression walker — the Column
  * walker cannot see through an expression-wrapped Column) and runs the
  * COPY-ON-WRITE [[Layout.deleteWhere]] — only stat-surviving files
  * rewrite, every other file is reused verbatim. CoW (not
  * merge-on-read) because the registered view's FileIndex tier is
  * file-granular: it could not subtract row-level position deletes,
  * and a DELETE whose effects the same view cannot see would be a
  * silent lie. The Scala `deleteWhereMoR` stays the rewrite-free scale
  * lever for pipelines that read through `snapshotRead`.
  */
case class SnapshotDeleteCommand(index: SnapshotFileIndex,
                                 condition: Expression)
    extends SnapshotRewriteCommand {
  override protected def rewrite(session: SparkSession): Int =
    Layout.deleteWhereCompiled(session, index.tableDir,
      Layout.fromPredNode(Bridge.predicateTree(condition)),
      unbind(condition))._2
}

/** The targeted-rewrite UPDATE command: compiles the condition into
  * the StatPred pruning tier and commits through [[Layout.updateWhere]].
  */
case class SnapshotUpdateCommand(index: SnapshotFileIndex,
                                 assignments: Seq[(String, Expression)],
                                 condition: Expression)
    extends SnapshotRewriteCommand {
  override protected def rewrite(session: SparkSession): Int =
    Layout.updateWhereCompiled(session, index.tableDir,
      Layout.fromPredNode(Bridge.predicateTree(condition)), unbind(condition),
      assignments.map { case (n, v) => (n, unbind(v)) })._2
}

/** The MERGE command: pins nothing itself — [[Layout.mergeInto]] does
  * the source pinning, stats-box file pruning, and single-shuffle
  * rewrite. The delete condition re-resolves by name against the
  * source frame.
  */
case class SnapshotMergeCommand(index: SnapshotFileIndex,
                                source: LogicalPlan, keyCols: Seq[String],
                                deleteWhen: Option[Expression])
    extends SnapshotRewriteCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override protected def rewrite(session: SparkSession): Int =
    Layout.mergeInto(session, index.tableDir, Bridge.ofRows(session, source),
      keyCols, deleteWhen.map(unbind))._2
}

/** The manifest-committed INSERT: aligns the query to the table schema
  * (positionally, or by name for `INSERT ... BY NAME`), appends or
  * overwrites through [[Layout]], then refreshes the view's file index
  * so the next query over the same registered view sees the commit.
  */
case class SnapshotInsertCommand(index: SnapshotFileIndex,
                                 tableSchema: StructType,
                                 query: LogicalPlan, overwrite: Boolean,
                                 byName: Boolean)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    val src: DataFrame = Bridge.ofRows(session, query)
    require(src.schema.length == tableSchema.length || byName,
      s"INSERT arity ${src.schema.length} != table ${tableSchema.length}")
    val aligned =
      if (byName) src.select(tableSchema.map(f =>
        col(f.name).cast(f.dataType)): _*)
      else src.toDF(tableSchema.map(_.name): _*)
        .select(tableSchema.map(f => col(f.name).cast(f.dataType)): _*)
    if (overwrite) Layout.snapshotWrite(aligned, index.tableDir)
    else Layout.snapshotAppend(aligned, index.tableDir)
    index.refresh()
    Nil
  }
}
