package graft

import graft.io.SnapshotFileIndex
import graft.operators.Layout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `snapshot` format provider: registered-table SQL must reach the
  * manifest's planning-time file pruning — the kept-file set a plain
  * `spark.sql(... WHERE ...)` resolves must be IDENTICAL to
  * `Layout.snapshotFilesWhere`, the scan must report exactly that many
  * files, and results must match the Scala-API read bit for bit.
  */
class SnapshotSqlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_snapsql_$tag").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** 500 rows clustered on k (8 tight-range files), stats on k and tag. */
  private def writeTable(dir: String): Unit = {
    import spark.implicits._
    val df = (0 until 500)
      .map(i => (i.toLong, s"doc_$i", (i % 7).toString, i * 2L))
      .toDF("k", "name", "tag", "v")
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
    Layout.snapshotWrite(df, dir, statsCols = Seq("k", "tag"))
  }

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))

  private def indexOf(scan: FileSourceScanExec): SnapshotFileIndex =
    scan.relation.location match {
      case i: SnapshotFileIndex => i
      case other => fail(s"scan reads ${other.getClass}, not the snapshot index")
    }

  test("format(snapshot) read returns the committed content") {
    val dir = freshDir("basic")
    writeTable(dir)
    val got = spark.read.format("snapshot").option("path", dir).load()
    assert(got.count() === 500)
    val expect = Layout.snapshotRead(spark, dir)
    assert(got.orderBy("k").collect().toSeq ===
      expect.orderBy("k").collect().toSeq)
  }

  test("SQL WHERE over a registered view prunes files exactly like snapshotFilesWhere") {
    val dir = freshDir("prune")
    writeTable(dir)
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW snap_t USING snapshot OPTIONS (path '$dir')")
    val q = spark.sql(
      "SELECT k, name FROM snap_t WHERE k BETWEEN 100 AND 160 AND tag IN ('1','2','3')")
    val rows = q.collect()
    // content: exact row-level equality with a plain-parquet replay
    assert(rows.length === (100 to 160).count(i => Set(1, 2, 3)(i % 7)))
    // planning: the index's last listing == snapshotFilesWhere
    val scan = scanOf(q)
    val idx = indexOf(scan)
    val expected = Layout.snapshotFilesWhere(spark, dir,
      col("k").between(100, 160) && col("tag").isin("1", "2", "3"))
      .map(_.path).sorted
    assert(idx.lastKept.map(_.path).sorted === expected)
    assert(expected.nonEmpty && expected.size < 8,
      s"test premise: the band must prune some of the 8 files, kept $expected")
    assert(scan.metrics("numFiles").value === expected.size)
  }

  test("refresh refuses when MoR delete debt appears after registration") {
    import spark.implicits._
    val dir = freshDir("refreshmor")
    writeTable(dir)
    val df = spark.read.format("snapshot").option("path", dir).load()
    val idx = indexOf(scanOf(df))
    idx.refresh() // clean table: listing just re-resolves
    assert(df.count() === 500)
    // a Scala-side tombstone commit AFTER registration: the refreshed
    // SQL view must fail loudly, not silently count deleted rows
    Layout.deleteKeysMoR(spark, dir, Seq("1").toDF("tag"))
    val err = intercept[IllegalArgumentException](idx.refresh())
    assert(err.getMessage.contains("outstanding"))
    // settling the debt restores the view
    Layout.materializeDeletes(spark, dir)
    idx.refresh()
    assert(spark.read.format("snapshot").option("path", dir).load()
      .count() === Layout.snapshotRead(spark, dir).count())
  }

  test("refresh refuses when a column is renamed after registration") {
    import spark.implicits._
    val dir = freshDir("refreshrename")
    Layout.snapshotWrite(Seq((1L, "a"), (2L, "b")).toDF("k", "name"), dir,
      statsCols = Seq("k"))
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW snap_ren USING snapshot OPTIONS (path '$dir')")
    val view = spark.table("snap_ren")
    val idx = indexOf(scanOf(view))
    assert(view.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    Layout.renameColumn(spark, dir, "name", "label")
    Layout.snapshotAppend(Seq((3L, "c")).toDF("k", "label"), dir)
    // the view's by-name read of the old files would serve name = null
    // and a new [3,null] row; the refresh must refuse instead
    val err = intercept[IllegalArgumentException](idx.refresh())
    assert(err.getMessage.contains("renamed/dropped"), err.getMessage)
  }

  test("non-compilable conjuncts drop soundly; compilable ones still prune") {
    val dir = freshDir("partial")
    writeTable(dir)
    val df = spark.read.format("snapshot").option("path", dir).load()
      .filter(col("k") < 80 && md5(col("name")).startsWith("a"))
    val got = df.collect()
    val expect = Layout.snapshotRead(spark, dir)
      .filter(col("k") < 80 && md5(col("name")).startsWith("a"))
      .collect()
    assert(got.toSet === expect.toSet)
    val idx = indexOf(scanOf(df))
    val kept = idx.lastKept.map(_.path).sorted
    assert(kept === Layout.snapshotFilesWhere(spark, dir, col("k") < 80)
      .map(_.path).sorted)
    assert(kept.size < 8, "k < 80 must prune on an 8-file range layout")
  }

  test("IN over >10 literals (optimizer InSet) still compiles and prunes") {
    val dir = freshDir("inset")
    writeTable(dir)
    val vals = (0L to 30L).toSeq // all inside the first file's range
    val df = spark.read.format("snapshot").option("path", dir).load()
      .filter(col("k").isin(vals: _*))
    assert(df.count() === 31)
    val idx = indexOf(scanOf(df))
    assert(idx.lastKept.size === 1,
      s"31-value IN inside one file's range kept ${idx.lastKept.map(_.path)}")
  }

  test("snapshotId option time-travels; zero-survivor predicate yields empty, not error") {
    val dir = freshDir("tt")
    import spark.implicits._
    val v1 = (0 until 100).map(i => (i.toLong, s"a$i")).toDF("k", "name")
    val v2 = (0 until 50).map(i => (i.toLong, s"b$i")).toDF("k", "name")
    Layout.snapshotWrite(v1.repartition(2), dir, statsCols = Seq("k"))
    Layout.snapshotWrite(v2.repartition(2), dir, statsCols = Seq("k"))
    val pinned = spark.read.format("snapshot")
      .option("path", dir).option("snapshotId", "1").load()
    assert(pinned.count() === 100)
    assert(spark.read.format("snapshot").option("path", dir).load()
      .count() === 50)
    val none = spark.read.format("snapshot").option("path", dir).load()
      .filter(col("k") > 1000000)
    assert(none.count() === 0)

    // calendar time travel: an instant between the two commits resolves
    // to snapshot 1 in every accepted format (epoch millis, ISO-8601
    // instant, session-zone datetime); both-options refuses
    val t1 = new java.io.File(s"$dir/manifest-1.json").lastModified()
    val t2 = new java.io.File(s"$dir/manifest-2.json").lastModified()
    assume(t2 > t1, "mtime granularity too coarse to split the commits")
    val between = (t1 + t2) / 2
    def asOf(v: String) = spark.read.format("snapshot")
      .option("path", dir).option("asOfTimestamp", v).load().count()
    assert(asOf(between.toString) === 100)
    assert(asOf(java.time.Instant.ofEpochMilli(between).toString) === 100)
    assert(asOf(java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(between),
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
      .toString) === 100)
    assert(asOf(System.currentTimeMillis().toString) === 50)
    intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("path", dir)
        .option("snapshotId", "1")
        .option("asOfTimestamp", between.toString).load()
    }

    // named refs reach SQL: a tag on snapshot 1 reads v1 content, and
    // combining ref with another travel option refuses
    Layout.createTag(spark, dir, "v1-tag", 1L)
    assert(spark.read.format("snapshot").option("path", dir)
      .option("ref", "v1-tag").load().count() === 100)
    intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("path", dir)
        .option("ref", "v1-tag").option("snapshotId", "2").load()
    }
  }

  test("metadata tables serve from the manifest tier, MoR debt included") {
    val dir = freshDir("meta")
    import spark.implicits._
    Layout.snapshotWrite((1L to 100L).toDF("k").repartition(2), dir,
      statsCols = Seq("k"))
    Layout.snapshotAppend((101L to 120L).toDF("k"), dir)
    def meta(kind: String) = spark.read.format("snapshot")
      .option("path", dir).option("metadata", kind).load()
    // files: current snapshot's entries, with stat bounds as maps
    val files = meta("files").collect()
    assert(files.length === Layout.snapshotFiles(spark, dir).size)
    assert(files.forall(r => !r.isNullAt(r.fieldIndex("bytes"))))
    assert(files.exists(r => r.getAs[Map[String, String]]("min_stats")
      .get("k").exists(_ != null)))
    // files respects time travel
    val filesV1 = spark.read.format("snapshot").option("path", dir)
      .option("snapshotId", "1").option("metadata", "files").load()
    assert(filesV1.count() === Layout.snapshotFiles(spark, dir, 1L).size)
    // history: one row per commit
    assert(meta("history").count() === 2)
    // refs: empty then populated
    assert(meta("refs").count() === 0)
    Layout.createTag(spark, dir, "t1", 1L)
    assert(meta("refs").as[(String, String, Long)].collect().toSet ===
      Set(("t1", "tag", 1L)))
    // deletes: visible through metadata while the data read REFUSES
    Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Between("k", 1L, 10L))
    intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("path", dir).load()
    }
    val del = meta("deletes").collect()
    assert(del.nonEmpty && del.forall(_.getString(2) == "position"))
    intercept[IllegalArgumentException] { meta("nope").collect() }
  }

  test("mergeSchema option surfaces widened columns with nulls on old files") {
    val dir = freshDir("widen")
    import spark.implicits._
    Layout.snapshotWrite(Seq((1L, "x")).toDF("k", "name"), dir)
    Layout.snapshotAppend(Seq((2L, "y", 9L)).toDF("k", "name", "extra"), dir)
    val df = spark.read.format("snapshot")
      .option("path", dir).option("mergeSchema", "true").load()
    assert(df.columns.toSet === Set("k", "name", "extra"))
    val byK = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(byK(1L).isNullAt(df.columns.indexOf("extra")))
    assert(byK(2L).getLong(df.columns.indexOf("extra")) === 9L)
  }

  test("df.write.format(snapshot): every SaveMode commits through the manifest") {
    val dir = freshDir("writer")
    import spark.implicits._
    val a = (0 until 20).map(i => (i.toLong, s"a$i")).toDF("k", "name")
    val b = (20 until 30).map(i => (i.toLong, s"b$i")).toDF("k", "name")
    a.write.format("snapshot").option("path", dir)
      .option("statsCols", "k").mode("errorifexists").save()
    assert(Layout.snapshotRead(spark, dir).count() === 20)
    intercept[IllegalStateException] {
      a.write.format("snapshot").option("path", dir)
        .mode("errorifexists").save()
    }
    b.write.format("snapshot").option("path", dir).mode("append").save()
    assert(Layout.snapshotRead(spark, dir).count() === 30)
    // the append inherited the table's stats contract
    assert(Layout.snapshotFiles(spark, dir).forall(_.stats.contains("k")))
    // ignore on an existing table: silent no-op
    a.write.format("snapshot").option("path", dir).mode("ignore").save()
    assert(Layout.snapshotRead(spark, dir).count() === 30)
    // overwrite commits a NEW snapshot; the old stays time-travelable
    b.write.format("snapshot").option("path", dir).mode("overwrite").save()
    assert(Layout.snapshotRead(spark, dir).count() === 10)
    assert(Layout.snapshotRead(spark, dir, 2L).count() === 30)
    // overwrite ALSO inherits stats (same contract as append)
    assert(Layout.snapshotFiles(spark, dir).forall(_.stats.contains("k")))
    // and the whole lifecycle never dropped a raw file in the root
    val root = new java.io.File(dir)
    assert(!root.listFiles().exists(_.getName.endsWith(".parquet")),
      "table root must hold manifests only, never data files")
  }

  test("SQL INSERT INTO / OVERWRITE a snapshot view commits manifests (extensions)") {
    val orig = spark // force init; we share its SparkContext
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val ext = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    try {
      import ext.implicits._
      val dir = freshDir("insert")
      Layout.snapshotWrite(Seq((1L, "a"), (2L, "b")).toDF("k", "name"),
        dir, statsCols = Seq("k"))
      ext.sql("CREATE OR REPLACE TEMPORARY VIEW ins_t " +
        s"USING snapshot OPTIONS (path '$dir')")
      ext.sql("INSERT INTO ins_t VALUES (3, 'c'), (4, 'd')")
      // the insert went through the manifest protocol: a new snapshot
      // holds all four rows, stats inherited, and the SAME view sees
      // the commit (the command refreshed its file index)
      assert(Layout.snapshotRead(ext, dir).count() === 4)
      assert(Layout.snapshotFiles(ext, dir).forall(_.stats.contains("k")))
      assert(ext.sql("SELECT count(*) FROM ins_t").head().getLong(0) === 4)
      // never raw files in the root (the generic file-source insert
      // would have dropped orphans there)
      assert(!new java.io.File(dir).listFiles()
        .exists(_.getName.endsWith(".parquet")))
      ext.sql("INSERT OVERWRITE ins_t VALUES (9, 'z')")
      assert(ext.sql("SELECT k, name FROM ins_t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet === Set((9L, "z")))
      // prior snapshot still time-travels
      assert(Layout.snapshotRead(ext, dir, 2L).count() === 4)

      // SQL DELETE: pruned copy-on-write commit; the SAME view sees it
      val dir2 = freshDir("sqldelete")
      Layout.snapshotWrite(
        (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "name")
          .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
        dir2, statsCols = Seq("k"))
      ext.sql("CREATE OR REPLACE TEMPORARY VIEW del_t " +
        s"USING snapshot OPTIONS (path '$dir2')")
      val res = ext.sql("DELETE FROM del_t WHERE k >= 25 AND k < 50")
        .head().getLong(0)
      assert(res === 1L, s"one of 4 range files rewrites, got $res")
      assert(ext.sql("SELECT count(*) AS n FROM del_t").head().getLong(0)
        === 75)
      assert(ext.sql("SELECT count(*) AS n FROM del_t WHERE k BETWEEN 25 AND 49")
        .head().getLong(0) === 0)
      // time travel to the pre-delete snapshot intact
      assert(Layout.snapshotRead(ext, dir2, 1L).count() === 100)
      // arbitrary (non-stat-compilable) predicate stays exact
      ext.sql("DELETE FROM del_t WHERE name = 'v7'")
      assert(ext.sql("SELECT count(*) AS n FROM del_t").head().getLong(0)
        === 74)

      // SQL UPDATE: targeted rewrite, pruned the same way; expressions
      // referencing the row (SET name = concat(...)) work
      val upd = ext.sql(
        "UPDATE del_t SET name = concat(name, '!') WHERE k >= 75")
        .head().getLong(0)
      assert(upd >= 1L && upd <= 2L, s"banded update prunes, got $upd")
      assert(ext.sql(
        "SELECT count(*) AS n FROM del_t WHERE name LIKE '%!'")
        .head().getLong(0) === 25)
      assert(ext.sql(
        "SELECT count(*) AS n FROM del_t WHERE k < 75 AND name LIKE '%!'")
        .head().getLong(0) === 0)
      // count unchanged; type-preserving cast (int literal into bigint)
      ext.sql("UPDATE del_t SET k = 1000 WHERE name = 'v60'")
      assert(ext.sql("SELECT k FROM del_t WHERE name = 'v60'")
        .head().getLong(0) === 1000L)
      assert(ext.sql("SELECT count(*) AS n FROM del_t").head().getLong(0)
        === 74)

      // SQL MERGE INTO: update + conditional delete + insert in ONE
      // statement — the CDC-apply idiom
      val dir3 = freshDir("sqlmerge")
      Layout.snapshotWrite(
        (0 until 40).map(i => (i.toLong, s"v$i", 0))
          .toDF("k", "name", "gen")
          .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
        dir3, statsCols = Seq("k"))
      ext.sql("CREATE OR REPLACE TEMPORARY VIEW mrg_t " +
        s"USING snapshot OPTIONS (path '$dir3')")
      // source: updates k in [0,2], a tombstone for k=5, inserts 100/101
      Seq((0L, "u0", 1), (1L, "u1", 1), (2L, "u2", 1), (5L, "dead", -1),
        (100L, "n100", 1), (101L, "n101", 1))
        .toDF("k", "name", "gen")
        .createOrReplaceTempView("mrg_src")
      val merged = ext.sql(
        """MERGE INTO mrg_t USING mrg_src ON mrg_t.k = mrg_src.k
           WHEN MATCHED AND mrg_src.gen < 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").head().getLong(0)
      assert(merged >= 1L, "at least the touched range file rewrites")
      val out = ext.sql("SELECT k, name FROM mrg_t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.size === 41) // 40 - 1 deleted + 2 inserted
      assert(out(0L) === "u0" && out(2L) === "u2")
      assert(!out.contains(5L))
      assert(out(100L) === "n100" && out(39L) === "v39")
      // unsupported clause shapes refuse loudly, not silently
      val err = intercept[Exception](ext.sql(
        """MERGE INTO mrg_t USING mrg_src ON mrg_t.k > mrg_src.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *"""))
      assert(err.getMessage.contains("equalities"),
        s"non-equi ON must refuse: ${err.getMessage}")
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }

  test("metadata-only aggregates: count/min/max answer from the manifest, no scan") {
    val dir = freshDir("metaagg")
    writeTable(dir) // stats on k (bigint) and tag (string)
    graft.plans.SnapshotMetadataAggregates.enable(spark)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW meta_t " +
      s"USING snapshot OPTIONS (path '$dir')")
    val q = spark.sql(
      """SELECT count(*) AS n, min(k) AS mn, max(k) AS mx,
                CAST(max(k) AS INT) AS mx_cast
         FROM meta_t""")
    val row = q.head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getInt(3)) === ((500L, 0L, 499L, 499)))
    // the point: ZERO file scans — the plan is a local constant
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.isEmpty, s"metadata aggregate must not scan:\n" +
      q.queryExecution.optimizedPlan)

    // SUM answers from the exact per-file sums the stats pass records
    val sq = spark.sql("SELECT CAST(sum(k) AS BIGINT) AS s FROM meta_t")
    assert(sq.head().getLong(0) === (0L until 500L).sum)
    assert(sq.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.isEmpty, s"metadata sum must not scan:\n" +
      sq.queryExecution.optimizedPlan)
    // sum over a column with NO recorded stats bails to the scan
    val sv = spark.sql("SELECT sum(v) AS sv FROM meta_t")
    assert(sv.head().getLong(0) === (0L until 500L).map(_ * 2).sum)
    assert(sv.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.nonEmpty, "stat-less sum must scan")

    // bail cases keep the scan AND the right answer:
    // (a) a WHERE clause invalidates manifest totals
    val filtered = spark.sql("SELECT count(*) AS n FROM meta_t WHERE k < 100")
    assert(filtered.head().getLong(0) === 100)
    assert(filtered.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.nonEmpty, "filtered count must scan")
    // (b) string min/max may be TRUNCATED bounds — refuse
    val str = spark.sql("SELECT max(tag) AS t FROM meta_t")
    assert(str.head().getString(0) === "6")
    assert(str.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.nonEmpty, "string max must scan")
    // (c) an unanswerable aggregate in the list blocks the whole rewrite
    val mixed = spark.sql("SELECT count(*) AS n, avg(k) AS a FROM meta_t")
    assert(mixed.head().getLong(0) === 500)
    assert(mixed.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.nonEmpty, "avg must scan")
    // (d) GROUP BY is never metadata-answerable
    val grouped = spark.sql(
      "SELECT tag, count(*) AS n FROM meta_t GROUP BY tag")
    assert(grouped.collect().map(_.getLong(1)).sum === 500)
  }

  test("metadata aggregates: files without stats bail; all-null column answers NULL") {
    import spark.implicits._
    // no statsCols → no row counts → count(*) must scan (and be right)
    val bare = freshDir("metabare")
    Layout.snapshotWrite((0 until 50).map(i => (i.toLong, s"v$i"))
      .toDF("k", "name"), bare)
    graft.plans.SnapshotMetadataAggregates.enable(spark)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW meta_bare " +
      s"USING snapshot OPTIONS (path '$bare')")
    val q = spark.sql("SELECT count(*) AS n FROM meta_bare")
    assert(q.head().getLong(0) === 50)
    assert(q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.nonEmpty, "stat-less table must scan")

    // a column null on EVERY file: metadata answer is SQL NULL, no scan
    val nulls = freshDir("metanull")
    Layout.snapshotWrite(
      (0 until 30).map(i => (i.toLong, null.asInstanceOf[java.lang.Long]))
        .toDF("k", "v"),
      nulls, statsCols = Seq("k", "v"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW meta_null " +
      s"USING snapshot OPTIONS (path '$nulls')")
    val qn = spark.sql("SELECT min(v) AS mn, count(*) AS n FROM meta_null")
    val r = qn.head()
    assert(r.isNullAt(0) && r.getLong(1) === 30)
    assert(qn.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.isEmpty, "all-null min is metadata-answerable")
  }

  test("writeStream.format(snapshot): exactly-once manifest commits per batch") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = freshDir("streamsink")
    val ckpt = freshDir("streamsink_ckpt")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark, 1)
    ms.addData((1L, "a"), (2L, "b"))
    def run(): Unit = {
      val q = ms.toDF().select(col("_1").as("k"), col("_2").as("name"))
        .writeStream.format("snapshot")
        .option("path", dir).option("statsCols", "k")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run()
    assert(Layout.snapshotRead(spark, dir).count() === 2)
    assert(Layout.snapshotFiles(spark, dir).forall(_.stats.contains("k")))
    // second incremental drain: only the new batch commits; a restart
    // from the same checkpoint re-delivers nothing already committed
    ms.addData((3L, "c"))
    run()
    assert(Layout.snapshotRead(spark, dir).count() === 3)
    run() // drained: no data, no new snapshot beyond the prior ids
    val n = Layout.snapshotIds(spark, dir).size
    assert(Layout.snapshotRead(spark, dir).count() === 3)
    run()
    assert(Layout.snapshotIds(spark, dir).size === n,
      "replaying a drained stream must not commit")
  }

  test("readStream.format(snapshot): initial scan, per-commit tail, maintenance silent, change commits refuse") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = freshDir("streamsrc")
    val ckpt = freshDir("streamsrc_ckpt")
    def batch(r: Range) = r.map(i => (i.toLong, s"d$i")).toDF("k", "name")
    Layout.snapshotWrite(batch(1 to 10).repartition(2, col("k")), dir,
      statsCols = Seq("k"))                                    // snap 1
    Layout.snapshotAppend(batch(11 to 15), dir)                // snap 2

    // each drain collects ONLY what its run delivers — a restart from
    // the shared checkpoint must never re-deliver committed batches
    def drain(opts: Map[String, String] = Map.empty): Set[(Long, String)] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
      var r = spark.readStream.format("snapshot").option("path", dir)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(row =>
            buf.add((row.getLong(0), row.getString(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      import scala.jdk.CollectionConverters._
      buf.asScala.toSet
    }

    // fresh stream: ONE initial scan of the current content — history
    // is not replayed commit by commit
    assert(drain() === (1L to 15L).map(i => (i, s"d$i")).toSet)

    // tail: an append delivers exactly its rows; a compaction commit
    // delivers NOTHING
    Layout.snapshotAppend(batch(16 to 18), dir)                // snap 3
    Layout.compactSnapshot(spark, dir, 512L << 20)             // snap 4
    val b = drain()
    assert(b === (16L to 18L).map(i => (i, s"d$i")).toSet,
      s"tail must deliver snap 3 only, got $b")

    // a row-changing commit refuses loudly...
    Layout.deleteWhere(spark, dir, Layout.StatPred.Eq("k", 1L)) // snap 5
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(ex.getMessage.contains("row-changing") ||
      Option(ex.getCause).exists(_.getMessage.contains("row-changing")))

    // ...until skipChangeCommits opts in; the skipped commit delivers
    // nothing and the stream keeps tailing appends after it
    Layout.snapshotAppend(batch(19 to 20), dir)                // snap 6
    val d = drain(Map("skipChangeCommits" -> "true"))
    assert(d === (19L to 20L).map(i => (i, s"d$i")).toSet)
  }

  test("readStream.format(snapshot): startingSnapshotId tails without initial scan; maxSnapshotsPerTrigger bounds batches") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = freshDir("streamtail")
    def batch(r: Range) = r.map(i => (i.toLong, i * 2L)).toDF("k", "v")
    Layout.snapshotAppend(batch(1 to 5), dir)                  // snap 1
    Layout.snapshotAppend(batch(6 to 10), dir)                 // snap 2
    Layout.snapshotAppend(batch(11 to 15), dir)                // snap 3
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("snapshot").option("path", dir)
      .option("startingSnapshotId", "1")
      .option("maxSnapshotsPerTrigger", "1")
      .load().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        if (rows.nonEmpty) batches.incrementAndGet()
        rows.foreach(r => buf.add((r.getLong(0), r.getLong(1))))
        ()
      }
      .option("checkpointLocation", freshDir("streamtail_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    assert(buf.asScala.toSet === (6L to 15L).map(i => (i, i * 2)).toSet,
      "tail from snapshot 1: snapshots 2..3 only, no initial scan")
    assert(batches.get() === 2,
      "maxSnapshotsPerTrigger=1 must split the two commits into " +
        s"separate micro-batches; got ${batches.get()}")
  }

  test("readStream.format(snapshot) refuses equality tombstones, an initial scan over position deletes, and rename-era files") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    def batch(r: Range) = r.map(i => (i.toLong, s"d$i")).toDF("k", "name")
    // one AvailableNow drain; the refusal text of the failed query, or
    // the rows the drain delivered
    def drain(dir: String, opts: Map[String, String] = Map.empty)
        : Either[String, Set[Long]] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]
      var r = spark.readStream.format("snapshot").option("path", dir)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(row => buf.add(row.getLong(0)))
          ()
        }
        .option("checkpointLocation", freshDir("refuse_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination(120000)
        import scala.jdk.CollectionConverters._
        Right(buf.asScala.toSet)
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          Left(Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
            .mkString(" | "))
      }
    }
    def refused(got: Either[String, Set[Long]], words: String*): Unit =
      got match {
        case Left(msg) => words.foreach(w =>
          assert(msg.contains(w), s"refusal must say '$w': $msg"))
        case Right(rows) =>
          fail(s"expected a refusal naming ${words.mkString(", ")}; " +
            s"delivered ${rows.size} rows")
      }

    // equality tombstones mask rows at view time: refused on any batch,
    // the initial scan and a tail alike
    val eq = freshDir("refuse_eq")
    Layout.snapshotWrite(batch(1 to 10), eq, statsCols = Seq("k"))  // snap 1
    Layout.snapshotAppend(batch(11 to 12), eq)                      // snap 2
    Layout.deleteKeysMoR(spark, eq, Seq(3L).toDF("k"))              // snap 3
    refused(drain(eq), "outstanding", "equality")
    refused(drain(eq, Map("startingSnapshotId" -> "1",
      "skipChangeCommits" -> "true")), "outstanding", "equality")

    // position deletes: the initial scan cannot apply them and refuses;
    // tailing past the delete commit is fine (old deletes never touch
    // newly appended files)
    val pos = freshDir("refuse_pos")
    Layout.snapshotWrite(batch(1 to 10), pos, statsCols = Seq("k"))  // snap 1
    Layout.deleteWhereMoR(spark, pos, Layout.StatPred.Eq("k", 4L))   // snap 2
    refused(drain(pos), "outstanding", "position")
    Layout.snapshotAppend(batch(21 to 23), pos)                      // snap 3
    assert(drain(pos, Map("startingSnapshotId" -> "2")) ===
      Right(Set(21L, 22L, 23L)))

    // rename-era files: by-name parquet reads would null-fill the
    // renamed column
    val ren = freshDir("refuse_rename")
    Layout.snapshotWrite(batch(1 to 10), ren, statsCols = Seq("k"))
    Layout.renameColumn(spark, ren, "name", "label")
    refused(drain(ren), "renamed/dropped")
  }

  test("manifest bytes feed the index: no per-file stat needed, sizes correct") {
    val dir = freshDir("bytes")
    writeTable(dir)
    val entries = Layout.snapshotFiles(spark, dir)
    assert(entries.forall(_.bytes.isDefined), "post-r10 commits record bytes")
    entries.foreach { e =>
      val real = new java.io.File(s"$dir/${e.path}").length()
      assert(e.bytes.get === real, s"${e.path}: manifest ${e.bytes.get} vs $real")
    }
  }
}
