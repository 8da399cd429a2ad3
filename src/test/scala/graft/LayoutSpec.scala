package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: the z-value math against a reference Morton
  * interleave, and the on-disk clustering claim itself — per-file
  * min/max ranges (exactly what a stats-aware reader prunes with) must
  * be tight on BOTH dimensions under z-order, vs one dimension under a
  * linear sort.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mortonRef(vals: Seq[(Long, Int)]): Long = {
    var out = 0L
    var pos = 0
    val maxBits = vals.map(_._2).max
    for (j <- 0 until maxBits; (v, b) <- vals) {
      if (j < b) {
        out |= (((v & ((1L << b) - 1)) >> j) & 1L) << pos
        pos += 1
      }
    }
    out
  }

  test("zValue matches the reference Morton interleave, unequal widths included") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val rows = Seq.fill(200)((rng.nextLong().abs % 70000, rng.nextLong().abs % 70000))
    for (dims <- Seq(Seq(16, 16), Seq(8, 16), Seq(5, 3))) {
      val df = rows.toDF("x", "y")
        .select(col("x"), col("y"),
          Layout.zValue(Seq((col("x"), dims(0)), (col("y"), dims(1)))).as("z"))
      df.collect().foreach { r =>
        val expect = mortonRef(Seq((r.getLong(0), dims(0)), (r.getLong(1), dims(1))))
        assert(r.getLong(2) == expect, s"(${r.getLong(0)}, ${r.getLong(1)}) @ $dims")
      }
    }
  }

  test("zValue rejects over-budget and empty dimension lists") {
    intercept[IllegalArgumentException](Layout.zValue(Nil))
    intercept[IllegalArgumentException](
      Layout.zValue(Seq((lit(1L), 32), (lit(1L), 32))))
  }

  /** Files a stats-aware reader would open for `lo <= col <= hi`: those
    * whose actual per-file [min,max] intersects the box.
    */
  private def filesHit(dir: String, c: String, lo: Long, hi: Long): (Int, Int) = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val hit = files.count { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
      r.getLong(0) <= hi && r.getLong(1) >= lo
    }
    (hit, files.length)
  }

  test("bucketed join: zero exchange — the shuffle was paid at write time") {
    import spark.implicits._
    val fact = (1L to 2000L).map(i => (i, i % 97, i * 1.5)).toDF("id", "k", "v")
    val dim = (0L until 97L).map(k => (k, s"seg${k % 5}")).toDF("dk", "seg")
    Layout.bucketWrite(fact, "graft_test_fact", "k", 4)
    Layout.bucketWrite(dim, "graft_test_dim", "dk", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_test_fact")
        .join(spark.table("graft_test_dim"), col("k") === col("dk"))
        .groupBy("seg").agg(sum("v").as("sv"))
      // inspect the plan BEFORE execution — post-AQE toString repeats
      // the tree as "Initial Plan", defeating section splitting
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.linesIterator.take(8).mkString("\n"))
      // ONE exchange for the final groupBy(seg) is legitimate and sits
      // ABOVE the join in the printed tree; the JOIN subtree (everything
      // after the SortMergeJoin line) must not shuffle or sort either
      // bucketed side
      val joinSection = plan.split("SortMergeJoin")(1)
      assert(!joinSection.contains("Exchange"),
        "bucketed join sides must not re-shuffle")
      // Spark ≥3.1 does not trust bucket sortedness by default (it sits
      // behind spark.sql.legacy.bucketedTableScan.outputOrdering), so a
      // merge-join sort remains — but it must be PARTITION-LOCAL
      // ("false" global flag): a cheap in-memory pass over pre-sorted
      // runs, not a range-exchange global sort.
      assert(joinSection.linesIterator.filter(_.contains("Sort "))
        .forall(_.contains("false, 0")),
        "any residual merge-join sort must be partition-local")
      assert(joined.collect().length == 5)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_test_fact")
      spark.sql("DROP TABLE IF EXISTS graft_test_dim")
    }
  }

  test("z-order prunes on both dimensions; linear layout only on its sort key") {
    import spark.implicits._
    // 128x128 grid — every (x, y) cell once, in row-major (y-sorted) order
    val grid = (0 until 16384).map(i => (i.toLong % 128, i.toLong / 128))
      .toDF("x", "y")
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString
    val linDir = java.nio.file.Files.createTempDirectory("linear").toString
    Layout.zorderWrite(grid, Seq(("x", 7), ("y", 7)), zDir, numFiles = 16)
    Layout.linearWrite(grid, "x", linDir, numFiles = 16)

    // y-only box: invisible to the x-sorted layout, local on the z-curve
    val (zY, zTotal) = filesHit(zDir, "y", 0, 7)
    val (linY, linTotal) = filesHit(linDir, "y", 0, 7)
    assert(linY == linTotal, "x-sorted layout cannot prune a y filter")
    assert(zY * 2 < zTotal, s"z-order should prune most files on y: $zY/$zTotal")

    // x-only box: linear prunes hard, z-order still prunes meaningfully
    val (zX, _) = filesHit(zDir, "x", 0, 7)
    val (linX, _) = filesHit(linDir, "x", 0, 7)
    assert(linX * 2 < linTotal)
    assert(zX * 2 < zTotal, s"z-order should prune on x too: $zX/$zTotal")
  }

  test("partitionedWrite prunes directories at planning time, one file per value") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (i.toLong, s"payload $i", s"g${i % 5}"))
      .toDF("id", "s", "g")
    val dir = java.nio.file.Files.createTempDirectory("graft_hivepart").toString
    Layout.partitionedWrite(df, Seq("g"), dir)
    // one directory per value, exactly one file inside each (the
    // pre-repartition prevents the T×P small-file explosion)
    val partDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("g="))
    assert(partDirs.length == 5, partDirs.map(_.getName).mkString(","))
    partDirs.foreach { p =>
      assert(p.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${p.getName} should hold exactly one file")
    }
    val q = spark.read.parquet(dir).filter(col("g") === "g3")
    // pruning happens during PLANNING: the scan node carries the
    // predicate as a PartitionFilter, and the files actually selected
    // are only the g=g3 directory's
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, "filter must reach partitionFilters")
    // pruning is a PLANNING act: the file index, asked with the scan's
    // own partition filters, must hand back only the g=g3 directory
    // (q.inputFiles would lie here — it lists the unfiltered relation)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters.filterNot(_.references.isEmpty), Nil)
      .flatMap(_.files).map(_.getPath.toString)
    assert(selected.nonEmpty && selected.forall(_.contains("/g=g3/")),
      s"only g=g3 files may be selected: ${selected.take(3).mkString(",")}")
    assert(q.count() == 600)
  }

  test("linearWrite per-file ranges on the sort column are pairwise disjoint") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = Seq.fill(4000)(rng.nextInt(100000).toLong).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_linear").toString
    Layout.linearWrite(df, "v", dir, numFiles = 8)
    val ranges = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col("v")), max(col("v"))).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file ranges overlap: hi=$hi lo=$lo")
      case _ =>
    }
  }

  test("snapshot manifests: atomic overwrite, time travel, orphan invisibility") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val v1 = (1L to 100L).map(i => (i, s"v1-$i")).toDF("id", "s")
    val v2 = (1L to 50L).map(i => (i, s"v2-$i")).toDF("id", "s")
    val id1 = Layout.snapshotWrite(v1, dir)
    val id2 = Layout.snapshotWrite(v2, dir)
    assert(id1 == 1L && id2 == 2L)
    // latest read sees ONLY v2, though v1's files are still on disk
    assert(Layout.snapshotRead(spark, dir).as[(Long, String)].collect().toSet ==
      v2.as[(Long, String)].collect().toSet)
    // time travel: the pinned old snapshot is fully intact
    assert(Layout.snapshotRead(spark, dir, snapshotId = 1L)
      .as[(Long, String)].collect().toSet ==
      v1.as[(Long, String)].collect().toSet)
    // a crashed writer's orphan data file is invisible to every reader
    val orphanDir = new java.io.File(s"$dir/data/snap-99")
    orphanDir.mkdirs()
    (1L to 5L).map(i => (i + 1000L, "orphan")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data/snap-99")
    assert(Layout.snapshotRead(spark, dir).filter(col("s") === "orphan").count() == 0)
    intercept[IllegalArgumentException](
      Layout.snapshotRead(spark, dir, snapshotId = 99L))
  }

  test("vacuum deletes only unreachable data files; the kept snapshot is whole") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val v1 = (1L to 100L).map(i => (i, s"v1-$i")).toDF("id", "s")
    val v2 = (1L to 50L).map(i => (i, s"v2-$i")).toDF("id", "s")
    Layout.snapshotWrite(v1, dir)
    Layout.snapshotWrite(v2, dir)
    // plant a crashed-writer orphan too
    new java.io.File(s"$dir/data/snap-77").mkdirs()
    (1L to 3L).toDF("id").withColumn("s", lit("orphan"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data/snap-77")
    val deleted = Layout.vacuum(spark, dir, keep = 1)
    assert(deleted > 0, "v1 + orphan files must be reclaimed")
    // latest snapshot fully intact after vacuum
    assert(Layout.snapshotRead(spark, dir).as[(Long, String)].collect().toSet ==
      v2.as[(Long, String)].collect().toSet)
    // the vacuumed snapshot is gone as a coherent unit
    intercept[IllegalArgumentException](
      Layout.snapshotRead(spark, dir, snapshotId = 1L))
    // vacuum again: nothing left to reclaim (idempotent)
    assert(Layout.vacuum(spark, dir, keep = 1) == 0)
    // a crashed writer's manifest temp (commit rename never happened)
    // is reclaimed by vacuum alongside the data orphans
    val tmp = new java.io.File(s"$dir/.manifest-9.json.tmp")
    java.nio.file.Files.write(tmp.toPath, "[]".getBytes)
    Layout.vacuum(spark, dir, keep = 1)
    assert(!tmp.exists(), "crashed-writer manifest temp must be reclaimed")
  }

  test("mayMatch: range logic, missing stats, all-null files, And/Or/In") {
    import Layout.StatPred._
    val st = Map("v" -> Layout.ColStat(Some("100"), Some("200"), "bigint"))
    assert(Layout.mayMatch(st, Between("v", 150L, 350L)))
    assert(!Layout.mayMatch(st, Between("v", 201L, 350L)))
    assert(!Layout.mayMatch(st, Lt("v", 100L)) && Layout.mayMatch(st, Le("v", 100L)))
    assert(!Layout.mayMatch(st, Gt("v", 200L)) && Layout.mayMatch(st, Ge("v", 200L)))
    assert(Layout.mayMatch(st, Eq("v", 150L)) && !Layout.mayMatch(st, Eq("v", 99L)))
    assert(Layout.mayMatch(st, In("v", Seq(1L, 150L))) &&
      !Layout.mayMatch(st, In("v", Seq(1L, 99L))))
    // conjunct that excludes prunes the And; Or survives on any arm
    assert(!Layout.mayMatch(st, And(Seq(Ge("v", 100L), Gt("v", 200L)))))
    assert(Layout.mayMatch(st, Or(Seq(Gt("v", 200L), Le("v", 100L)))))
    // no stats for the column: cannot prune
    assert(Layout.mayMatch(Map.empty[String, Layout.ColStat], Eq("v", 5L)))
    // all-null file: no comparison can match
    assert(!Layout.mayMatch(Map("v" -> Layout.ColStat(None, None, "bigint")),
      Ge("v", 0L)))
    // string stats compare lexicographically
    val ss = Map("lang" -> Layout.ColStat(Some("de"), Some("es"), "string"))
    assert(Layout.mayMatch(ss, Eq("lang", "en")) &&
      !Layout.mayMatch(ss, Eq("lang", "fr")))
    // non-finite double stats: NaN sorts greatest (Spark max semantics),
    // and must not crash BigDecimal parsing
    val nan = Map("score" -> Layout.ColStat(Some("0.5"), Some("NaN"), "double"))
    assert(Layout.mayMatch(nan, Gt("score", 0.9)))
    assert(!Layout.mayMatch(nan, Lt("score", 0.5)))
    assert(Layout.mayMatch(
      Map("score" -> Layout.ColStat(Some("-Infinity"), Some("1.0"), "double")),
      Lt("score", -1e308)))
    // timestamp literals normalize to micros: Timestamp.toString's ".0"
    // suffix and Instant's ISO form both equal the cast-to-string stat
    val ts = Map("ts" -> Layout.ColStat(
      Some("2024-01-01 00:00:00"), Some("2024-01-01 00:00:00"), "timestamp"))
    assert(Layout.mayMatch(ts,
      Eq("ts", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))
    assert(Layout.mayMatch(ts,
      Eq("ts", java.time.Instant.parse("2024-01-01T00:00:00Z"))))
    assert(!Layout.mayMatch(ts,
      Eq("ts", java.sql.Timestamp.valueOf("2024-01-01 00:00:01"))))
    // date stats likewise
    val dt = Map("d" -> Layout.ColStat(
      Some("2024-03-01"), Some("2024-03-10"), "date"))
    assert(Layout.mayMatch(dt, Eq("d", java.sql.Date.valueOf("2024-03-05"))))
    assert(!Layout.mayMatch(dt, Eq("d", java.sql.Date.valueOf("2024-04-01"))))
    // a half-populated stat proves nothing: fall back to cannot-prune
    assert(Layout.mayMatch(
      Map("v" -> Layout.ColStat(Some("5"), None, "bigint")), Eq("v", 99L)))
  }

  test("stats-pruned snapshot read opens exactly the range-surviving files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString
    val df = (1L to 2000L).map(i => (i, i % 977)).toDF("id", "v")
    Layout.snapshotWrite(df.repartitionByRange(8, col("v"))
      .sortWithinPartitions("v"), dir, statsCols = Seq("v"))
    val pred = Layout.StatPred.Between("v", 100L, 250L)
    val all = Layout.snapshotFiles(spark, dir)
    val kept = Layout.snapshotFiles(spark, dir, prune = Some(pred))
    assert(kept.size < all.size, s"pruning must drop files: ${kept.size}/${all.size}")
    // ground truth: exactly the files whose PHYSICAL [min,max] hits the band
    val expect = all.filter { e =>
      val r = spark.read.parquet(s"$dir/${e.path}")
        .agg(min(col("v")), max(col("v"))).head()
      r.getLong(1) >= 100L && r.getLong(0) <= 250L
    }.map(_.path).toSet
    assert(kept.map(_.path).toSet == expect)
    // pruned read content == full read + filter
    val got = Layout.snapshotRead(spark, dir, prune = Some(pred))
      .as[(Long, Long)].collect().toSet
    assert(got == df.filter(col("v").between(100, 250))
      .as[(Long, Long)].collect().toSet)
    // every file pruned: schema survives, zero rows, no error
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Gt("v", 10000L))).count() == 0)
    // a stats-less (v1) manifest cannot prune — and still reads fine
    val dir2 = java.nio.file.Files.createTempDirectory("graft_stats2").toString
    Layout.snapshotWrite(df, dir2)
    assert(Layout.snapshotFiles(spark, dir2, prune = Some(pred)).size ==
      Layout.snapshotFiles(spark, dir2).size)
  }

  test("deleteWhere rewrites only touched files; untouched bytes identical; time travel intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    val df = (1L to 2000L).map(i => (i, i % 977, if (i % 7 == 0) null else s"s${i % 5}"))
      .toDF("id", "v", "tag")
    Layout.snapshotWrite(df.repartitionByRange(8, col("v"))
      .sortWithinPartitions("v"), dir, statsCols = Seq("v"))
    val before = Layout.snapshotFiles(spark, dir)
    def fileBytes(p: String): String = {
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$p"))
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    }
    val beforeHashes = before.map(e => e.path -> fileBytes(e.path)).toMap
    val pred = Layout.StatPred.Between("v", 100L, 250L)
    val expectTouched = before.filter(e => Layout.mayMatch(e.stats, pred))
    val (newId, rewritten) = Layout.deleteWhere(spark, dir, pred)
    assert(newId == 2L && rewritten == expectTouched.size && rewritten < before.size)
    val after = Layout.snapshotFiles(spark, dir)
    // untouched entries reused VERBATIM — same paths, same bytes
    val untouched = before.filterNot(e => Layout.mayMatch(e.stats, pred))
    untouched.foreach { e =>
      assert(after.exists(_.path == e.path), s"untouched ${e.path} must survive")
      assert(fileBytes(e.path) == beforeHashes(e.path),
        s"untouched ${e.path} must be byte-identical")
    }
    // touched files are gone from the new manifest; replacements live in snap-2
    expectTouched.foreach(e => assert(!after.exists(_.path == e.path)))
    assert(after.exists(_.path.startsWith("data/snap-2-")))
    // content: exactly the NOT-matching rows
    val got = Layout.snapshotRead(spark, dir)
      .select("id", "v", "tag").as[(Long, Long, Option[String])].collect().toSet
    val expect = df.filter(!col("v").between(100, 250))
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got == expect)
    // rewritten files carry fresh stats: a pruned read still prunes
    assert(Layout.snapshotFiles(spark, dir,
      prune = Some(Layout.StatPred.Gt("v", 900L))).size < after.size)
    // the pre-delete snapshot time-travels until vacuumed
    assert(Layout.snapshotRead(spark, dir, snapshotId = 1L).count() == 2000L)
    // null-predicate rows survive a delete (SQL DELETE semantics)
    Layout.deleteWhere(spark, dir, Layout.StatPred.Eq("tag", "s0"))
    val tags = Layout.snapshotRead(spark, dir).select("tag")
      .as[Option[String]].collect()
    assert(!tags.contains(Some("s0")) && tags.contains(None))
  }

  test("snapshotAppend reuses prior entries verbatim; pruning and time travel hold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_app").toString
    val all = (1L to 1000L).map(i => (i, i % 499)).toDF("id", "v")
    Layout.snapshotAppend(all.filter(col("v") < 250)
      .repartitionByRange(4, col("v")).sortWithinPartitions("v"),
      dir, statsCols = Seq("v"))
    val after1 = Layout.snapshotFiles(spark, dir)
    // statsCols defaulting: the second append inherits the table's cols
    Layout.snapshotAppend(all.filter(col("v") >= 250)
      .repartitionByRange(4, col("v")).sortWithinPartitions("v"), dir)
    val after2 = Layout.snapshotFiles(spark, dir)
    // prior entries appear VERBATIM (paths + stats), new files added
    assert(after2.take(after1.size) == after1)
    assert(after2.size > after1.size)
    assert(after2.drop(after1.size).forall(_.stats.contains("v")),
      "appended files must inherit the stats contract")
    // content composes to the union
    assert(Layout.snapshotRead(spark, dir).as[(Long, Long)].collect().toSet ==
      all.as[(Long, Long)].collect().toSet)
    // pruning spans both appends' files
    val kept = Layout.snapshotFiles(spark, dir,
      prune = Some(Layout.StatPred.Between("v", 200L, 300L)))
    assert(kept.nonEmpty && kept.size < after2.size)
    // time travel: snapshot 1 is only the first batch
    assert(Layout.snapshotRead(spark, dir, snapshotId = 1L).count() ==
      all.filter(col("v") < 250).count())
  }

  test("compactSnapshot: fewer files, content intact, stats survive, old snapshot readable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scomp").toString
    val all = (1L to 2000L).map(i => (i, i % 977)).toDF("id", "v")
    (0L to 7L).foreach { m =>
      Layout.snapshotAppend(all.filter(col("id") % 8 === m).repartition(4),
        dir, statsCols = Seq("v"))
    }
    val before = Layout.snapshotFiles(spark, dir)
    val (snapId, nBefore, nAfter) =
      Layout.compactSnapshot(spark, dir, targetBytes = 64L << 20)
    assert(nBefore == before.size && nAfter < nBefore && snapId == 9L)
    val after = Layout.snapshotFiles(spark, dir)
    assert(after.size == nAfter &&
      after.forall(_.path.startsWith(s"data/snap-$snapId-")))
    assert(after.forall(_.stats.contains("v")), "stats re-collected")
    assert(Layout.snapshotRead(spark, dir).as[(Long, Long)].collect().toSet ==
      all.as[(Long, Long)].collect().toSet)
    // the fragmented snapshot is still pinned-readable until vacuumed
    assert(Layout.snapshotRead(spark, dir, snapshotId = 8L).count() == 2000L)
    // vacuum reclaims the fragments; the compacted table is whole
    assert(Layout.vacuum(spark, dir, keep = 1) >= nBefore)
    assert(Layout.snapshotRead(spark, dir).count() == 2000L)
  }

  test("string stats are truncated BOUNDS, never whole document values") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_trunc").toString
    val docs = (1L to 200L).map { i =>
      (i, f"doc-$i%04d-" + ("lorem ipsum " * 40) + i)
    }.toDF("id", "body")
    Layout.snapshotWrite(docs.repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), dir, statsCols = Seq("body"))
    val entries = Layout.snapshotFiles(spark, dir)
    entries.foreach { e =>
      val st = e.stats("body")
      assert(st.min.get.length <= Layout.StatsTruncateLen,
        s"min not truncated: ${st.min.get.length} chars")
      assert(st.max.get.length <= Layout.StatsTruncateLen,
        s"max not truncated: ${st.max.get.length} chars")
    }
    // truncation keeps bounds CONSERVATIVE: every actual value's file
    // must still may-match an equality probe for that value
    val sample = docs.filter(col("id").isin(1L, 77L, 200L))
      .collect().map(_.getString(1))
    sample.foreach { v =>
      assert(entries.exists(e =>
        Layout.mayMatch(e.stats, Layout.StatPred.Eq("body", v))),
        "a real value was pruned away by truncated stats")
    }
  }

  test("snapshotAsOf, rollbackTo, and metadata-only counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_asof").toString
    val v1 = (1L to 100L).map(i => (i, i % 7)).toDF("id", "v")
    val v2 = (1L to 40L).map(i => (i, i % 7)).toDF("id", "v")
    Layout.snapshotWrite(v1, dir, statsCols = Seq("v"))
    val t1 = new java.io.File(s"$dir/manifest-1.json").lastModified()
    Thread.sleep(1100)
    Layout.snapshotWrite(v2, dir, statsCols = Seq("v"))
    // as-of between the commits resolves snapshot 1; now resolves 2
    assert(Layout.snapshotAsOf(spark, dir, t1 + 500) == 1L)
    assert(Layout.snapshotAsOf(spark, dir, System.currentTimeMillis()) == 2L)
    intercept[IllegalArgumentException](Layout.snapshotAsOf(spark, dir, t1 - 10000))
    // metadata-only count: every entry carries rows (stats were
    // collected), so no files open
    assert(Layout.snapshotFiles(spark, dir).forall(_.rows.isDefined))
    assert(Layout.snapshotCount(spark, dir) == 40L)
    assert(Layout.snapshotCount(spark, dir, snapshotId = 1L) == 100L)
    // rollback: a FORWARD commit restoring v1's file list; history kept
    val rb = Layout.rollbackTo(spark, dir, 1L)
    assert(rb == 3L)
    assert(Layout.snapshotRead(spark, dir).count() == 100L)
    assert(Layout.snapshotRead(spark, dir, snapshotId = 2L).count() == 40L)
    // stats-less (v1 manifest) tables fall back to a real count
    val dir2 = java.nio.file.Files.createTempDirectory("graft_asof2").toString
    Layout.snapshotWrite(v2, dir2)
    assert(Layout.snapshotCount(spark, dir2) == 40L)
  }

  test("z-ordered snapshot prunes files on BOTH stat dimensions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zsnap").toString
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(4000)((rng.nextInt(1024).toLong, rng.nextInt(1024).toLong))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val df = rows.toDF("id", "x", "y")
      .withColumn("_z", Layout.zValue(Seq((col("x"), 10), (col("y"), 10))))
      .repartitionByRange(16, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
    Layout.snapshotWrite(df, dir, statsCols = Seq("x", "y"))
    val all = Layout.snapshotFiles(spark, dir).size
    val px = Layout.snapshotFiles(spark, dir,
      prune = Some(Layout.StatPred.Between("x", 0L, 127L))).size
    val py = Layout.snapshotFiles(spark, dir,
      prune = Some(Layout.StatPred.Between("y", 0L, 127L))).size
    // the z-curve keeps BOTH dimensions' per-file ranges tight — a
    // narrow band on either axis must drop files (a linear sort serves
    // only its own sort column)
    assert(px < all, s"x-band pruned nothing: $px/$all")
    assert(py < all, s"y-band pruned nothing: $py/$all")
    val both = Layout.snapshotRead(spark, dir, prune = Some(
      Layout.StatPred.And(Seq(Layout.StatPred.Between("x", 0L, 127L),
        Layout.StatPred.Between("y", 0L, 127L)))))
      .as[(Long, Long, Long)].collect().toSet
    assert(both == rows.filter(r => r._2 <= 127 && r._3 <= 127).toSet)
  }

  test("toStatPred compiles Column filters soundly; snapshotReadWhere prunes and stays exact") {
    import spark.implicits._
    import graft.operators.Layout.StatPred._
    def compile(c: org.apache.spark.sql.Column) = Layout.toStatPred(c)
    // comparisons both ways around; BETWEEN desugars to an And
    assert(compile(col("v") > 5).contains(Gt("v", 5)))
    assert(compile(lit(5) > col("v")).contains(Lt("v", 5)))
    assert(compile(col("v").between(1, 9)).contains(
      Layout.StatPred.And(Seq(Ge("v", 1), Le("v", 9)))))
    assert(compile(col("s").isin("a", "b")).contains(In("s", Seq("a", "b"))))
    // partial And keeps the compilable conjunct (sound: widens, never narrows)
    assert(compile(col("v") > 5 && abs(col("v")) < 3).contains(Gt("v", 5)))
    // Or is all-or-nothing (dropping a branch could prune its files)
    assert(compile(col("v") > 5 || abs(col("v")) < 3).isEmpty)
    assert(compile(abs(col("v")) < 3).isEmpty)
    // IS NULL-ish literals never compile (comparisons don't match null)
    assert(compile(col("v") === lit(null)).isEmpty)

    // timestamp literals survive the ColumnNode walk as external values
    // and compare via the epoch normalization
    val t0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    assert(compile(col("ts") > lit(t0)).contains(Gt("ts", t0)))
    val tsDir = java.nio.file.Files.createTempDirectory("graft_push_ts").toString
    val tsDf = (0L until 200L).map(i =>
      (i, java.sql.Timestamp.valueOf(f"2024-01-${1 + (i / 7).toInt}%02d 06:00:00")))
      .toDF("id", "ts")
    Layout.snapshotWrite(tsDf.repartitionByRange(6, col("ts"))
      .sortWithinPartitions("ts"), tsDir, statsCols = Seq("ts"))
    val tsAll = Layout.snapshotFiles(spark, tsDir).size
    val tsF = col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    assert(Layout.snapshotFilesWhere(spark, tsDir, tsF).size < tsAll,
      "timestamp band must prune files")
    assert(Layout.snapshotReadWhere(spark, tsDir, tsF).count() ==
      tsDf.filter(tsF).count())

    val dir = java.nio.file.Files.createTempDirectory("graft_push").toString
    val df = (1L to 2000L).map(i => (i, i % 977)).toDF("id", "v")
    Layout.snapshotWrite(df.repartitionByRange(8, col("v"))
      .sortWithinPartitions("v"), dir, statsCols = Seq("v"))
    val all = Layout.snapshotFiles(spark, dir).size
    val f = col("v").between(100L, 250L) && (col("id") % 3 =!= 0)
    // prunes exactly like the hand-built band (the % conjunct is
    // non-compilable and must not block pruning)
    assert(Layout.snapshotFilesWhere(spark, dir, f).size ==
      Layout.snapshotFiles(spark, dir,
        prune = Some(Between("v", 100L, 250L))).size)
    assert(Layout.snapshotFilesWhere(spark, dir, f).size < all)
    // rows are the FULL filter's rows, not just the compilable part's
    val got = Layout.snapshotReadWhere(spark, dir, f)
      .as[(Long, Long)].collect().toSet
    assert(got == df.filter(f).as[(Long, Long)].collect().toSet)
    // a fully non-compilable filter: no pruning, still exact
    val g = (col("id") * 7 % 11) === 3
    assert(Layout.snapshotFilesWhere(spark, dir, g).size == all)
    assert(Layout.snapshotReadWhere(spark, dir, g).count() ==
      df.filter(g).count())
  }

  test("schema evolution across appends: union schema, old rows NULL-filled") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sevo").toString
    Layout.snapshotWrite((1L to 50L).map(i => (i, s"t$i")).toDF("id", "text"),
      dir)
    // the v2 batch ships a new `quality` column; nothing is rewritten
    Layout.snapshotAppend((51L to 80L).map(i => (i, s"t$i", i * 0.1))
      .toDF("id", "text", "quality"), dir)
    val merged = Layout.snapshotRead(spark, dir, mergeSchema = true)
    assert(merged.columns.sorted.toSeq == Seq("id", "quality", "text"))
    val rows = merged.select("id", "quality")
      .as[(Long, Option[Double])].collect().toMap
    assert(rows.size == 80 && rows(1L).isEmpty && rows(80L).contains(8.0))
    // zero-survivor prune under mergeSchema: the empty result's schema
    // must still be the UNION schema (first-file-only would pin it to
    // the oldest file and a select on the widened column would throw —
    // result schema varying with the predicate)
    val none = Layout.snapshotReadWhere(spark, dir, col("id") > 10000L,
      mergeSchema = true)
    assert(none.columns.sorted.toSeq == Seq("id", "quality", "text"))
    assert(none.select("quality").count() == 0)
    val noneStat = Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Gt("id", 10000L)), mergeSchema = true)
    assert(noneStat.columns.sorted.toSeq == Seq("id", "quality", "text"))
    assert(noneStat.select("quality").count() == 0)
  }

  test("streaming snapshot sink: markers dedupe per checkpoint lineage") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val docs = (1L to 400L).map(i => (i, s"d$i")).toDF("id", "s")
    docs.repartition(4).write.mode("overwrite").parquet(s"$base/in")
    def run(ckpt: String): Unit = graft.streaming.TableStreams.snapshotSink(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
      s"$base/tbl", ckpt)
    run(s"$base/ckpt1")
    val content1 = Layout.snapshotRead(spark, s"$base/tbl")
      .as[(Long, String)].collect().toSet
    assert(content1 == docs.as[(Long, String)].collect().toSet)
    val count1 = Layout.snapshotRead(spark, s"$base/tbl").count()
    // same checkpoint: AvailableNow finds nothing new — no change
    run(s"$base/ckpt1")
    assert(Layout.snapshotRead(spark, s"$base/tbl").count() == count1)
    // a DIFFERENT checkpoint is a new lineage: its batches must NOT be
    // skipped by the old lineage's markers (the data-loss trap bare
    // batch-id markers would create) — everything re-appends
    run(s"$base/ckpt2")
    assert(Layout.snapshotRead(spark, s"$base/tbl").count() == 2 * count1)
    // replay WITHIN a lineage: pre-planting ckpt3's own markers makes
    // every one of its batches a no-op (exactly-once per lineage)
    val id3 = graft.streaming.TableStreams.sinkId(s"$base/ckpt3")
    (0 to 3).foreach { b =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/tbl/_batch-$id3-$b"),
        Array.empty[Byte])
    }
    run(s"$base/ckpt3")
    assert(Layout.snapshotRead(spark, s"$base/tbl").count() == 2 * count1)
  }

  test("streaming upsert sink: last value per key, idempotent replay") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upsink").toString
    val tbl = s"$base/tbl"
    val v1 = (1L to 100L).map(i => (i, s"v1_$i")).toDF("k", "v")
    v1.repartition(2).write.mode("overwrite").parquet(s"$base/in1")
    def run(in: String, ckpt: String): Unit =
      graft.streaming.TableStreams.upsertSink(
        spark.readStream.schema(v1.schema)
          .option("maxFilesPerTrigger", 1).parquet(in),
        tbl, ckpt, keyCols = Seq("k"))
    // first run bootstraps the table, then upserts per batch
    run(s"$base/in1", s"$base/ck1")
    assert(Layout.snapshotRead(spark, tbl).count() === 100)
    // CDC batch: updates for 50..100, inserts for 101..120
    (50L to 120L).map(i => (i, s"v2_$i")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/in2")
    run(s"$base/in2", s"$base/ck2")
    val live = Layout.snapshotRead(spark, tbl)
    assert(live.count() === 120)
    assert(live.filter(col("k") === 60L).select("v").head.getString(0)
      === "v2_60")
    assert(live.filter(col("k") === 10L).select("v").head.getString(0)
      === "v1_10")
    // same checkpoint again: AvailableNow finds nothing — no commit
    val idsBefore = Layout.snapshotIds(spark, tbl)
    run(s"$base/in2", s"$base/ck2")
    assert(Layout.snapshotIds(spark, tbl) === idsBefore)
    assert(Layout.snapshotRead(spark, tbl).count() === 120)
  }

  test("compact merges a fragmented table to ceil(bytes/target) files, content intact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val df = (1 to 5000).map(i => (i.toLong, s"row $i payload"))
      .toDF("id", "s")
    df.repartition(32).write.mode("overwrite").parquet(s"$base/small")
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/small") == 32)
    val totalBytes = new java.io.File(s"$base/small").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = totalBytes / 3 // force a 4-file result via the ceil
    val n = Layout.compact(spark, s"$base/small", target, s"$base/out")
    assert(n == ((totalBytes + target - 1) / target).toInt)
    assert(parquetFiles(s"$base/out") == n, "one file per coalesced partition")
    val got = spark.read.parquet(s"$base/out").as[(Long, String)].collect().toSet
    assert(got == df.as[(Long, String)].collect().toSet, "content must be unchanged")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Rows the parquet scan EMITS for a point lookup = rows in the row
    * groups that survived footer-level filtering (record-level parquet
    * filtering is off by default, so this is the row-group-skip meter).
    * Scan+filter plans have no exchange ⇒ no AQE wrapper ⇒ the
    * FileSourceScanExec is reachable in the executed plan.
    */
  private def scanRows(dir: String, key: String): Long = {
    val df = spark.read.parquet(dir).filter(col("key") === key)
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("bloomWrite: point lookup skips row groups that min/max cannot prune") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val n = 200000
    // md5 keys: random w.r.t. row order, so every row group's [min, max]
    // spans the whole key domain — stats pruning is useless by design
    val df = (0 until n).map(i => (i.toLong, md5hex(i.toString)))
      .toDF("id", "key")
    Layout.bloomWrite(df.repartition(2), Seq("key"), s"$base/bloom",
      expectedNdv = n, rowGroupBytes = 256 * 1024)
    df.repartition(2).write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .option("parquet.enable.dictionary", "false")
      .parquet(s"$base/plain")
    val k = md5hex("12345")
    val plain = scanRows(s"$base/plain", k)
    val bloom = scanRows(s"$base/bloom", k)
    // correctness first: both find exactly the one row
    assert(spark.read.parquet(s"$base/bloom")
      .filter(col("key") === k).count() == 1)
    // plain layout reads essentially everything (no stats help)...
    assert(plain >= n * 9L / 10, s"plain scan read only $plain of $n")
    // ...bloom layout reads a small fraction (most row groups skipped)
    assert(bloom <= plain / 4, s"bloom $bloom vs plain $plain")
  }

  test("timestamp stats prune correctly when session TZ differs from JVM default") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val dir = java.nio.file.Files.createTempDirectory("graft_tz").toString
      // one file holding instants 10:00Z..10:59Z; stats render as NY
      // wall clocks ("06:xx:00") — parsing them back in the JVM zone
      // would shift every bound by the offset
      val rows = (0 until 60).map { m =>
        (m.toLong, java.sql.Timestamp.from(
          java.time.Instant.parse(f"2024-06-15T10:$m%02d:00Z")))
      }.toDF("id", "ts")
      Layout.snapshotWrite(rows.coalesce(1), dir, statsCols = Seq("ts"))
      val mid = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-06-15T10:30:00Z"))
      val kept = Layout.snapshotFiles(spark, dir,
        prune = Some(Layout.StatPred.Ge("ts", mid)))
      assert(kept.size == 1,
        "file wrongly pruned: stat strings parsed in the wrong zone")
      // a probe genuinely past the max still prunes
      val past = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-06-15T12:00:00Z"))
      assert(Layout.snapshotFiles(spark, dir,
        prune = Some(Layout.StatPred.Ge("ts", past))).isEmpty)
      // 'Z'-suffixed string probes are instants, matching the Instant
      // branch — not session wall clocks
      assert(Layout.snapshotFiles(spark, dir,
        prune = Some(Layout.StatPred.Ge("ts", "2024-06-15T10:30:00Z"))).size == 1)
      assert(Layout.snapshotFiles(spark, dir,
        prune = Some(Layout.StatPred.Ge("ts", "2024-06-15T12:00:00Z"))).isEmpty)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("deleteWhere and compactSnapshot keep schema-widened columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    Layout.snapshotAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      dir, statsCols = Seq("id"))
    Layout.snapshotAppend(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "extra"), dir)
    Layout.compactSnapshot(spark, dir, targetBytes = 64L << 20)
    val afterCompact = Layout.snapshotRead(spark, dir, mergeSchema = true)
    assert(afterCompact.columns.contains("extra"),
      "compaction dropped a schema-widened column")
    assert(afterCompact.filter(col("extra").isNotNull).count() == 2)
    Layout.deleteWhere(spark, dir, Layout.StatPred.Eq("id", 3L))
    val afterDelete = Layout.snapshotRead(spark, dir, mergeSchema = true)
    assert(afterDelete.columns.contains("extra"),
      "deleteWhere dropped a schema-widened column")
    assert(afterDelete.count() == 3)
    assert(afterDelete.filter(col("extra").isNotNull)
      .select("id", "v", "extra").as[(Long, String, Long)]
      .collect().toSet == Set((4L, "d", 40L)))
  }

  test("string stats order by code point, not UTF-16 code units") {
    // max = U+1F600 (a surrogate pair); probe = U+E000 — ABOVE the
    // surrogate range in code-unit order but BELOW U+1F600 in
    // code-point (UTF8String binary) order. A code-unit compare would
    // wrongly prune the file that contains the match.
    val stats = Map("s" ->
      Layout.ColStat(Some("a"), Some("\ud83d\ude00"), "string"))
    assert(Layout.mayMatch(stats, Layout.StatPred.Eq("s", "\ue000")))
    // genuinely above the max still prunes
    assert(!Layout.mayMatch(stats,
      Layout.StatPred.Eq("s", "\ud83d\ude01x")))
  }

  private def cpCompare(a: String, b: String): Int = {
    val (xa, xb) = (a.codePoints().toArray, b.codePoints().toArray)
    val n = math.min(xa.length, xb.length)
    var i = 0
    while (i < n) {
      if (xa(i) != xb(i)) return Integer.compare(xa(i), xb(i))
      i += 1
    }
    Integer.compare(xa.length, xb.length)
  }

  private def wellFormed(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0xD800 && cp <= 0xDFFF) return false
      i += Character.charCount(cp)
    }
    true
  }

  test("truncateUpper is surrogate-aware and stays a true upper bound") {
    // a surrogate pair straddles the truncation cut: chars 63,64 are
    // ONE code point — cutting between them would leave a dangling
    // high surrogate that compares BELOW the code point it opened
    val s1 = "x" * (Layout.StatsTruncateLen - 1) + "\ud83d\ude00" + "tail"
    val u1 = Layout.truncateUpper(s1)
    assert(cpCompare(u1, s1) >= 0, "not an upper bound under pair cut")
    assert(wellFormed(u1), "emitted an unpaired surrogate")
    // incrementing U+D7FF must jump the surrogate gap to U+E000
    val s2 = "y" * (Layout.StatsTruncateLen - 1) + "\ud7ff" + "tail"
    val u2 = Layout.truncateUpper(s2)
    assert(cpCompare(u2, s2) >= 0)
    assert(wellFormed(u2))
    assert(u2.last == '\ue000', s"expected gap jump, got ${u2.last.toInt}")
  }

  test("manifest blooms prune point lookups where range stats cannot") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    // ids hash-scattered across 8 files: every file's [min,max] spans
    // ~the whole domain, so range stats alone keep ALL files
    val df = (1L to 4000L).map(i => (i, s"s$i")).toDF("id", "s")
      .repartition(8, md5(col("s")))
    Layout.snapshotWrite(df, dir, statsCols = Seq("id"),
      bloomCols = Seq("id", "s"))
    val all = Layout.snapshotFiles(spark, dir)
    assert(all.size == 8)
    assert(all.forall(_.blooms.keySet == Set("id", "s")))
    // zero false negatives: for a sample of PRESENT keys, the file
    // that actually holds the key always survives pruning — the
    // pruned read returns the row
    (1L to 4000L by 397L).foreach { probe =>
      val out = Layout.snapshotRead(spark, dir,
        prune = Some(Layout.StatPred.Eq("id", probe)))
      assert(out.count() == 1, s"bloom false-negative on id=$probe")
    }
    // pruning power: a point lookup keeps FEW files (the holder +
    // possible false positives), never all 8 — range stats would keep 8
    val keptCounts = (1L to 4000L by 397L).map { probe =>
      Layout.snapshotFiles(spark, dir,
        prune = Some(Layout.StatPred.Eq("id", probe))).size
    }
    assert(keptCounts.forall(_ >= 1))
    assert(keptCounts.sum <= keptCounts.size * 3,
      s"bloom barely prunes: kept $keptCounts of 8 files each")
    // absent keys: most lookups prune everything (FPR is small)
    val absentKept = (100001L to 100040L).map { probe =>
      Layout.snapshotFiles(spark, dir,
        prune = Some(Layout.StatPred.Eq("id", probe))).size
    }
    assert(absentKept.count(_ == 0) >= 35,
      s"absent-key FPR too high: $absentKept")
    // string-typed bloom probes through the same contract
    val sOut = Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Eq("s", "s1234")))
    assert(sOut.count() == 1)
    assert(Layout.snapshotFiles(spark, dir,
      prune = Some(Layout.StatPred.Eq("s", "s1234"))).size <= 3)
    // IN probes: union of the per-value verdicts
    val inKept = Layout.snapshotFiles(spark, dir,
      prune = Some(Layout.StatPred.In("id", Seq(5L, 2000L))))
    assert(inKept.nonEmpty && inKept.size <= 6)
    val inOut = Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.In("id", Seq(5L, 2000L))))
    assert(inOut.count() == 2)
  }

  test("bloom probe hash equals Spark's codegen'd xxhash64 for every supported type") {
    import spark.implicits._
    // the whole bloom contract rests on this parity: the build side
    // hashes with the xxhash64 EXPRESSION, probes replay driver-side
    val rng = new scala.util.Random(11)
    val longs = Seq(0L, -1L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(40)(rng.nextLong())
    val sparkLongs = longs.toDF("v").select(col("v"), xxhash64(col("v")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    longs.foreach { v =>
      assert(Layout.bloomProbeHash(v, "bigint").contains(sparkLongs(v)),
        s"long $v")
    }
    val strs = Seq("", "a", "héllo wörld", "😀 emoji",
      "x" * 300) ++ Seq.fill(40)(rng.nextString(rng.nextInt(30)))
    val sparkStrs = strs.distinct.toDF("v")
      .select(col("v"), xxhash64(col("v")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.distinct.foreach { v =>
      assert(Layout.bloomProbeHash(v, "string").contains(sparkStrs(v)),
        s"string ${v.take(20)}")
    }
    val ints = Seq(0, -1, Int.MaxValue, Int.MinValue) ++
      Seq.fill(20)(rng.nextInt())
    val sparkInts = ints.toDF("v").select(col("v"), xxhash64(col("v")).as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ints.foreach { v =>
      // probes arrive as Long from StatPred literals; coercion must
      // land on the int hash, not the long hash
      assert(Layout.bloomProbeHash(v.toLong, "int").contains(sparkInts(v)),
        s"int $v")
    }
    // out-of-range coercions and unsupported types never prune
    // (None -> mightContain defaults to true)
    assert(Layout.bloomProbeHash(Long.MaxValue, "int").isEmpty)
    assert(Layout.bloomProbeHash(3.14, "bigint").isEmpty)
    assert(Layout.bloomProbeHash("abc", "double").isEmpty)
  }

  test("blooms survive append, delete, and compaction maintenance") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom2").toString
    val a = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)
    Layout.snapshotWrite(a, dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    // append WITHOUT restating bloomCols: inherited from the table
    val b = (1001L to 2000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)
    Layout.snapshotAppend(b, dir)
    val afterApp = Layout.snapshotFiles(spark, dir)
    assert(afterApp.forall(_.blooms.contains("id")),
      "append dropped the table's bloom contract")
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Eq("id", 1500L))).count() == 1)
    // delete rewrites re-collect blooms on the rewritten files
    Layout.deleteWhere(spark, dir, Layout.StatPred.Eq("id", 1500L))
    val afterDel = Layout.snapshotFiles(spark, dir)
    assert(afterDel.forall(_.blooms.contains("id")))
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Eq("id", 1500L))).count() == 0)
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Eq("id", 777L))).count() == 1)
    // compaction re-collects blooms for the coalesced files
    Layout.compactSnapshot(spark, dir, targetBytes = 64L << 20)
    val afterComp = Layout.snapshotFiles(spark, dir)
    assert(afterComp.forall(_.blooms.contains("id")))
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Eq("id", 777L))).count() == 1)
  }

  test("every writer stamps new files with the table's stats, blooms and schema id") {
    import spark.implicits._
    def base(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_contract").toString
      // four files with overlapping id ranges: small, unclustered, so
      // both incremental maintenance passes have work to do
      val df = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4)
      Layout.snapshotWrite(df, dir, statsCols = Seq("id"), bloomCols = Seq("id"))
      dir
    }
    val writers: Seq[(String, String => Unit)] = Seq(
      "updateWhere" -> (d => Layout.updateWhere(spark, d, col("id") === 7L,
        Seq("v" -> lit("u7")))),
      "mergeInto" -> (d => Layout.mergeInto(spark, d,
        Seq((8L, "m8"), (900L, "m900")).toDF("id", "v"), Seq("id"))),
      "upsertKeysMoR" -> (d => Layout.upsertKeysMoR(spark, d,
        Seq((9L, "x9"), (901L, "x901")).toDF("id", "v"), Seq("id"))),
      "compactSmallFiles" -> (d => Layout.compactSmallFiles(spark, d,
        targetBytes = 64L << 20)),
      "optimizeClusteredIncremental" -> (d =>
        Layout.optimizeClusteredIncremental(spark, d, "id", 64L << 20)),
      "snapshotAppendStaged -> stageAppendMore -> publishStaged" -> { d =>
        val tok = Layout.snapshotAppendStaged(
          Seq((902L, "s902")).toDF("id", "v"), d)
        Layout.stageAppendMore(Seq((903L, "s903")).toDF("id", "v"), d, tok)
        Layout.publishStaged(spark, d, tok)
      })
    writers.foreach { case (name, write) =>
      val dir = base()
      val before = Layout.snapshotFiles(spark, dir).map(_.path).toSet
      write(dir)
      val fresh = Layout.snapshotFiles(spark, dir).filterNot(e => before(e.path))
      assert(fresh.nonEmpty, s"$name wrote no new file")
      val sid = Layout.snapshotSchemas(spark, dir).last.id
      fresh.foreach { e =>
        assert(e.stats.contains("id"), s"$name: ${e.path} lacks id stats")
        assert(e.blooms.contains("id"), s"$name: ${e.path} lacks the id bloom")
        assert(e.schemaId.contains(sid), s"$name: ${e.path} schema ${e.schemaId} != $sid")
      }
      val all = Layout.snapshotRead(spark, dir)
      for (k <- Seq(7L, 8L, 9L, 200L, 900L, 901L, 903L, 5000L)) {
        val pruned = Layout.snapshotRead(spark, dir,
          prune = Some(Layout.StatPred.Eq("id", k)))
        assert(pruned.collect().toSet == all.filter(col("id") === k).collect().toSet,
          s"$name: point lookup of $k")
      }
    }
  }

  test("a narrow append onto a stats-tracked table keeps the stats it can") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_narrow").toString
    Layout.snapshotWrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir,
      statsCols = Seq("id", "v"))
    val before = Layout.snapshotFiles(spark, dir).map(_.path).toSet
    Layout.snapshotAppend(Seq(3L).toDF("id"), dir)
    val tok = Layout.snapshotAppendStaged(Seq(4L).toDF("id"), dir)
    Layout.publishStaged(spark, dir, tok)
    val rows = Layout.snapshotRead(spark, dir).as[(Long, Option[String])]
      .collect().toMap
    assert(rows == Map(1L -> Some("a"), 2L -> Some("b"), 3L -> None, 4L -> None))
    val fresh = Layout.snapshotFiles(spark, dir).filterNot(e => before(e.path))
    assert(fresh.size == 2)
    fresh.foreach { e =>
      assert(e.stats.keySet == Set("id"), e.stats)
      assert(e.rows.contains(1L))
    }
    // the stat-less column keeps those files in a pruned read, so it is exact
    val pruned = Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Eq("v", "b")))
    assert(pruned.as[(Long, Option[String])].collect().toSeq == Seq((2L, Some("b"))))
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Ge("id", 3L))).count() == 2)
    // an explicitly named column the batch lacks still fails loudly
    val typo = intercept[IllegalArgumentException](
      Layout.snapshotAppend(Seq(5L).toDF("id"), dir, statsCols = Seq("v")))
    assert(typo.getMessage.contains("stats column v"), typo.getMessage)
  }

  test("mergeInto: stats-bounded rewrite, untouched files byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val target = (1L to 800L).map(i => (i, s"v$i", i % 7))
      .toDF("id", "v", "g")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
    Layout.snapshotWrite(target, dir, statsCols = Seq("id"))
    val before = Layout.snapshotFiles(spark, dir)
    val bytesBefore = before.map(e => e.path ->
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/${e.path}")).toSeq).toMap
    // a NARROW CDC batch: keys 190..215 (update evens, delete 200-209,
    // insert 2000/2001) — the id box touches only 1-2 of 8 range files
    val src = ((190L to 215L).map { i =>
      val op = if (i >= 200 && i <= 209) "D"
               else if (i % 2 == 0) "U" else "SKIP"
      (i, s"upd$i", i % 7, op)
    }.filter(_._4 != "SKIP") ++ Seq((2000L, "new0", 0L, "I"),
      (2001L, "new1", 1L, "I")))
      .toDF("id", "v", "g", "_op")
    val (_, rewritten) = Layout.mergeInto(spark, dir, src, Seq("id"),
      deleteWhen = Some(col("_op") === "D"))
    assert(rewritten <= 2, s"stats should bound the rewrite, got $rewritten")
    val after = Layout.snapshotFiles(spark, dir)
    // untouched files reused verbatim — same path, same bytes
    val reused = after.map(_.path).toSet intersect before.map(_.path).toSet
    assert(reused.size == before.size - rewritten)
    reused.foreach { p =>
      assert(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$p")).toSeq == bytesBefore(p),
        s"untouched file $p was rewritten")
    }
    val out = Layout.snapshotRead(spark, dir)
      .as[(Long, String, Long)].collect().toMap2
    // updates replaced, deletes gone, inserts present, rest carried
    assert(out(190L) == "upd190" && out(214L) == "upd214")
    (200L to 209L).foreach(i => assert(!out.contains(i), s"$i not deleted"))
    assert(out(2000L) == "new0" && out(2001L) == "new1")
    assert(out(191L) == "v191" && out(1L) == "v1" && out(800L) == "v800")
    // counts: 800 - 10 deleted + 2 inserted
    assert(out.size == 792)
    // the CDC marker column must not leak into the table
    assert(!Layout.snapshotRead(spark, dir, mergeSchema = true)
      .columns.contains("_op"))
    // a delete marker for an ABSENT key is a no-op
    val src2 = Seq((99999L, "x", 0L, "D")).toDF("id", "v", "g", "_op")
    Layout.mergeInto(spark, dir, src2, Seq("id"),
      deleteWhen = Some(col("_op") === "D"))
    assert(Layout.snapshotRead(spark, dir).count() == 792)
  }

  private implicit class PairsToMap(
      val xs: Array[(Long, String, Long)]) {
    def toMap2: Map[Long, String] = xs.map(t => t._1 -> t._2).toMap
  }

  test("consumeSnapshots: ordered exactly-once offsets, resume picks up only new commits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_consume").toString
    val ck = s"$dir/_ck"
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"v$i")).toDF("id", "v")
    Layout.snapshotAppend(batch(1, 100), dir)
    Layout.snapshotAppend(batch(101, 200), dir)
    var seen = Vector.empty[(Long, Set[Long])]
    val n1 = graft.streaming.TableStreams.consumeSnapshots(spark, dir, ck) {
      (df, sid) => seen :+= (sid, df.select("id").as[Long].collect().toSet)
    }
    assert(n1 == 2)
    assert(seen.map(_._1) == Vector(1L, 2L), "snapshots must arrive in order")
    assert(seen(0)._2 == (1L to 100L).toSet)
    assert(seen(1)._2 == (101L to 200L).toSet)
    // drained: nothing new, nothing processed
    assert(graft.streaming.TableStreams.consumeSnapshots(spark, dir, ck) {
      (_, _) => fail("no snapshot should be delivered")
    } == 0)
    // resume: only the commit since the last consume is delivered
    Layout.snapshotAppend(batch(201, 250), dir)
    seen = Vector.empty
    val n2 = graft.streaming.TableStreams.consumeSnapshots(spark, dir, ck) {
      (df, sid) => seen :+= (sid, df.select("id").as[Long].collect().toSet)
    }
    assert(n2 == 1 && seen.head._1 == 3L)
    assert(seen.head._2 == (201L to 250L).toSet)
    // a FRESH checkpoint replays from the beginning (offsets are
    // per-lineage, like the sink's markers)
    var total = 0L
    graft.streaming.TableStreams.consumeSnapshots(spark, dir, s"$dir/_ck2") {
      (df, _) => total += df.count()
    }
    assert(total == 250L)
    // changes-since across a REWRITING commit: added files only
    Layout.deleteWhere(spark, dir, Layout.StatPred.Eq("id", 150L))
    val afterDelete = Layout.snapshotChangesSince(spark, dir, 3L)
    // the rewritten file(s) reappear minus the deleted row; nothing
    // from untouched files
    assert(!afterDelete.select("id").as[Long].collect().contains(150L))
  }

  test("consumeSnapshots: markers compact to a bounded set; expired offset is loud") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckc").toString
    val ck = s"$dir/_ck"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def markers(): Seq[Long] =
      Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(ck, "_graft_offset-*")))
        .getOrElse(Array.empty)
        .map(_.getPath.getName.stripPrefix("_graft_offset-").toLong)
        .toSeq.sorted
    (1 to 12).foreach { i =>
      Layout.snapshotAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), dir)
    }
    var n = 0
    graft.streaming.TableStreams.consumeSnapshots(spark, dir, ck) {
      (_, _) => n += 1
    }
    assert(n == 12)
    // one marker per snapshot would be 12; compaction keeps ≤ the
    // threshold and MUST retain the max (the offset itself)
    assert(markers().max == 12L)
    assert(markers().size <= 9, s"markers not compacted: ${markers()}")
    // nothing re-delivered after compaction
    assert(graft.streaming.TableStreams.consumeSnapshots(spark, dir, ck) {
      (_, _) => fail("drained table must deliver nothing")
    } == 0)
    // expired offset: commit snapshot 13, then retention removes
    // manifests 1..12 — the stored offset (12) now points at an
    // expired snapshot and a silent fallback to prev=0 would
    // re-deliver the full table
    Layout.snapshotAppend(Seq((99L, "v99")).toDF("id", "v"), dir)
    (1 to 12).foreach { i =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"manifest-$i.json"),
        false)
    }
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.TableStreams.consumeSnapshots(spark, dir, ck) {
        (_, _) => ()
      }
    }
    assert(ex.getMessage.contains("expired"))
    // opting in resumes loudly from what's available
    var redelivered = 0L
    graft.streaming.TableStreams.consumeSnapshots(spark, dir, ck,
      resumeFromOldest = true) { (df, _) => redelivered += df.count() }
    assert(redelivered > 0L)
  }

  test("manifest commit: two writers racing one snapshot id — exactly one wins, loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.snapshotWrite(Seq((1L, "a")).toDF("id", "v"), dir)
    // both writers target id 2 with DIFFERENT file lists; run many
    // rounds to give the scheduler a chance to interleave
    (2L to 21L).foreach { snapId =>
      val gate = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = Seq("w1", "w2").map { w =>
        new Thread(() => {
          gate.await()
          try {
            Layout.writeManifest(fs, dir, snapId,
              Seq(Layout.FileEntry(s"data/fake-$w.parquet")))
            outcomes.add(s"win:$w")
          } catch {
            case _: java.util.ConcurrentModificationException =>
              outcomes.add(s"lose:$w")
          }
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join(30000))
      val res = outcomes.toArray(Array.empty[String]).sorted
      assert(res.count(_.startsWith("win:")) == 1,
        s"id $snapId: expected exactly one winner, got ${res.toSeq}")
      assert(res.count(_.startsWith("lose:")) == 1,
        s"id $snapId: expected exactly one loud loser, got ${res.toSeq}")
      // the committed manifest is exactly the winner's file list
      val winner = res.find(_.startsWith("win:")).get.stripPrefix("win:")
      val entries = Layout.snapshotFiles(spark, dir, snapId)
      assert(entries.map(_.path) == Seq(s"data/fake-$winner.parquet"),
        s"id $snapId: committed manifest must be the winner's, intact")
      // no stale tmp files leak from the loser
      val tmps = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, ".manifest-*.tmp")))
        .getOrElse(Array.empty)
      assert(tmps.isEmpty, "loser must clean its staging file")
    }
    // legacy manifest without a lock token: committing its id refuses
    val ex = intercept[java.util.ConcurrentModificationException] {
      fs.delete(new org.apache.hadoop.fs.Path(dir, ".commit-2.lock"), false)
      Layout.writeManifest(fs, dir, 2L,
        Seq(Layout.FileEntry("data/clobber.parquet")))
    }
    assert(ex.getMessage.contains("already committed"))
    assert(Layout.snapshotFiles(spark, dir, 2L).map(_.path)
      .head.startsWith("data/fake-"), "legacy manifest must stay intact")
  }

  test("snapshotMinMax: exact from manifest; strings and statless columns refuse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mm").toString
    val df = Seq((5L, "a", 3.5), (-17L, "z", 9.25), (40L, "m", -2.0))
      .toDF("id", "s", "x").repartition(3)
    Layout.snapshotWrite(df, dir, statsCols = Seq("id", "s", "x"))
    val r = Layout.snapshotMinMax(spark, dir, "id").head()
    assert(r.getLong(0) == -17L && r.getLong(1) == 40L && r.getLong(2) == 3L)
    // doubles too (numeric domain, exact)
    val rx = Layout.snapshotMinMax(spark, dir, "x").head()
    assert(rx.getDouble(0) == -2.0 && rx.getDouble(1) == 9.25)
    // strings refuse: bounds may be truncated, silence would be wrong
    intercept[IllegalArgumentException](
      Layout.snapshotMinMax(spark, dir, "s"))
    // statless column refuses rather than scanning
    val dir2 = java.nio.file.Files.createTempDirectory("graft_mm2").toString
    Layout.snapshotWrite(df, dir2)
    intercept[IllegalArgumentException](
      Layout.snapshotMinMax(spark, dir2, "id"))
  }

  /** Two overlapping files whose double stats are non-finite: `x`
    * spans [1.0, NaN] and [-2.0, 3.0], `y` spans [5.0, Infinity] and
    * [-Infinity, 7.0].
    */
  private def nonFiniteTable(tag: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    Layout.snapshotWrite(Seq((1L, 1.0, 5.0), (2L, Double.NaN,
      Double.PositiveInfinity)).toDF("id", "x", "y").coalesce(1), dir,
      statsCols = Seq("x", "y"))
    Layout.snapshotAppend(Seq((3L, -2.0, Double.NegativeInfinity),
      (4L, 3.0, 7.0)).toDF("id", "x", "y").coalesce(1), dir)
    dir
  }

  private def rowsById(dir: String): Seq[String] =
    Layout.snapshotRead(spark, dir).orderBy("id").collect()
      .map(_.mkString(",")).toSeq

  test("snapshotMinMax over NaN and Infinity stats equals Spark's min/max") {
    val dir = nonFiniteTable("graft_mm_nan")
    for (c <- Seq("x", "y")) {
      val meta = Layout.snapshotMinMax(spark, dir, c).head()
      val spk = Layout.snapshotRead(spark, dir)
        .agg(min(c), max(c), count(lit(1))).head()
      assert(meta.toSeq.map(String.valueOf) === spk.toSeq.map(String.valueOf),
        s"column $c")
    }
  }

  test("incremental clustering on a NaN-bearing key keeps content; maintainTable completes") {
    val dir = nonFiniteTable("graft_clu_nan")
    val want = rowsById(dir)
    val report = Layout.maintainTable(spark, dir,
      Layout.MaintenancePolicy(minSmallFiles = 100, clusterDim = Some("x"),
        vacuumKeep = None)).collect().map(_.getString(0)).toSeq
    assert(report === Seq("recluster_incremental"), s"got $report")
    assert(rowsById(dir) === want)
    // the direct call on the Infinity-bounded key
    val dir2 = nonFiniteTable("graft_clu_inf")
    val (_, rewritten, _) =
      Layout.optimizeClusteredIncremental(spark, dir2, "y", 64L << 20)
    assert(rewritten === 2, "the two files overlap on y")
    assert(rowsById(dir2) === want)
  }

  test("snapshotAppendChecked: SQL CHECK null semantics, nothing silently dropped") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_chk").toString
    val df = Seq(
      (1L, Some(50L), "ok"),       // passes both
      (2L, Some(5L), "ok"),        // fails min_v
      (3L, None, "ok"),            // null check value: PASSES (SQL CHECK)
      (4L, Some(5L), "bad"),       // fails min_v AND tag_ok
      (5L, Some(50L), "bad")       // fails tag_ok
    ).toDF("id", "v", "tag")
    val (_, nBad) = Layout.snapshotAppendChecked(df,
      s"$dir/main", s"$dir/q",
      checks = Seq(("min_v", col("v") >= 10L), ("tag_ok", col("tag") === "ok")))
    assert(nBad == 3)
    val main = Layout.snapshotRead(spark, s"$dir/main")
      .select("id").as[Long].collect().toSet
    assert(main == Set(1L, 3L), s"main got $main")
    val quar = Layout.snapshotRead(spark, s"$dir/q")
      .select(col("id"), concat_ws(",", col("_violations")).as("vs"))
      .as[(Long, String)].collect().toMap
    assert(quar == Map(2L -> "min_v", 4L -> "min_v,tag_ok", 5L -> "tag_ok"),
      s"quarantine got $quar")
    // conservation: every input row is in exactly one table
    assert(main.size + quar.size == 5)
    // an all-good batch appends without touching the quarantine table
    val (_, zero) = Layout.snapshotAppendChecked(
      Seq((6L, Some(99L), "ok")).toDF("id", "v", "tag"),
      s"$dir/main", s"$dir/q2",
      checks = Seq(("min_v", col("v") >= 10L)))
    assert(zero == 0)
    intercept[IllegalArgumentException](
      Layout.snapshotRead(spark, s"$dir/q2")) // never created
  }

  test("snapshotHistory: one row per commit, metadata-only row counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hist").toString
    Layout.snapshotWrite((1L to 100L).toDF("id").repartition(2), dir,
      statsCols = Seq("id"))
    Layout.snapshotAppend((101L to 150L).toDF("id").repartition(1), dir)
    Layout.deleteWhere(spark, dir, Layout.StatPred.Eq("id", 120L))
    val hist = Layout.snapshotHistory(spark, dir)
      .orderBy("snapshot_id")
      .as[(Long, java.sql.Timestamp, Int, Option[Long], Option[String])]
      .collect()
    assert(hist.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(hist.map(_._5).toSeq ==
      Seq(Some("overwrite"), Some("append"), Some("delete")),
      "history exposes each commit's recorded op kind")
    assert(hist(0)._4.contains(100L))
    assert(hist(1)._4.contains(150L))
    assert(hist(2)._4.contains(149L), s"post-delete count: ${hist(2)._4}")
    assert(hist(1)._3 == hist(0)._3 + 1, "append adds one file")
    // commit times are monotonic
    assert(hist.sliding(2).forall(w => !w(1)._2.before(w(0)._2)))
  }

  test("optimizeClustered: fragmented ranges become tight, blooms survive, content neutral") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_opt").toString
    // four appends, each hash-scattered: every file's id range spans
    // ~the whole domain
    (0L to 3L).foreach { m =>
      Layout.snapshotAppend(
        (1L to 2000L).filter(_ % 4 == m).map(i => (i, s"v$i")).toDF("id", "v")
          .repartition(2, md5(col("v"))),
        dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    val band = Layout.StatPred.Between("id", 100L, 200L)
    val keptBefore = Layout.snapshotFiles(spark, dir, prune = Some(band)).size
    val totalBefore = Layout.snapshotFiles(spark, dir).size
    assert(keptBefore == totalBefore, "fragmented ranges should not prune")
    val hashBefore = Layout.snapshotRead(spark, dir)
      .agg(sum(conv(md5(concat_ws("|", col("id"), col("v")))
        .substr(1, 8), 16, 10).cast("long"))).head().getLong(0)
    Layout.optimizeClustered(spark, dir, Seq("id"))
    val after = Layout.snapshotFiles(spark, dir)
    val keptAfter = Layout.snapshotFiles(spark, dir, prune = Some(band)).size
    assert(keptAfter * 2 < after.size,
      s"rewrite should make the band prune: $keptAfter of ${after.size}")
    // content-neutral
    val hashAfter = Layout.snapshotRead(spark, dir)
      .agg(sum(conv(md5(concat_ws("|", col("id"), col("v")))
        .substr(1, 8), 16, 10).cast("long"))).head().getLong(0)
    assert(hashAfter == hashBefore)
    assert(Layout.snapshotRead(spark, dir).count() == 2000)
    // blooms re-collected on the rewritten files
    assert(after.forall(_.blooms.contains("id")))
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Eq("id", 777L))).count() == 1)
    // pre-rewrite snapshot still time-travels
    assert(Layout.snapshotRead(spark, dir, snapshotId = 4L).count() == 2000)
  }

  test("fully-pruned snapshot read plans ONE file for schema, not the table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emptyprune").toString
    val df = (1L to 1000L).map(i => (i, i * 2)).toDF("id", "v")
    Layout.snapshotWrite(df.repartitionByRange(8, col("id"))
      .sortWithinPartitions("id"), dir, statsCols = Seq("id"))
    val nFiles = Layout.snapshotFiles(spark, dir).size
    assert(nFiles > 1)
    // inputFiles reads the OPTIMIZED plan: the lit(false) filter lets
    // PropagateEmptyRelation drop the scan entirely, so <= 1 (0 when
    // eliminated, 1 if a future Spark keeps the scan) — never nFiles
    val out = Layout.snapshotReadWhere(spark, dir, col("id") > 5000L)
    assert(out.count() == 0)
    assert(out.inputFiles.length <= 1,
      s"schema fallback planned ${out.inputFiles.length} of $nFiles files")
    assert(out.schema.fieldNames.toSeq == Seq("id", "v"))
    val out2 = Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Gt("id", 5000L)))
    assert(out2.count() == 0 && out2.inputFiles.length <= 1)
    assert(out2.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("expireSnapshots: age+keepLast retention, shared files survive, expired ids refuse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_expire").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // snap1: base; snap2: APPEND (shares snap1's files); snap3: overwrite
    Layout.snapshotWrite((1L to 100L).toSeq.toDF("k").repartition(2), dir)
    Layout.snapshotAppend((101L to 150L).toSeq.toDF("k").repartition(1), dir)
    Layout.snapshotWrite((1L to 10L).toSeq.toDF("k").repartition(1), dir)
    val snap1Files = Layout.snapshotFiles(spark, dir, 1L).map(_.path).toSet
    def exists(rel: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel"))

    // nothing is old enough: no-op
    assert(Layout.expireSnapshots(spark, dir, olderThanMs = 0L) === ((0, 0)))
    assert(Layout.snapshotIds(spark, dir) === Seq(1L, 2L, 3L))

    // expire snap1 only (keepLast=2 protects 2 and 3 at any age):
    // snap1's files are ALL shared with the surviving snap2 append —
    // zero data files may die
    val (n1, d1) = Layout.expireSnapshots(spark, dir,
      olderThanMs = Long.MaxValue, keepLast = 2)
    assert(n1 === 1 && d1 === 0, s"shared-file append reclaim must be 0, got $d1")
    assert(snap1Files.forall(exists), "append-carried files deleted")
    assert(Layout.snapshotIds(spark, dir) === Seq(2L, 3L))
    intercept[IllegalArgumentException](Layout.snapshotRead(spark, dir, 1L))
    // surviving snapshots intact
    assert(Layout.snapshotRead(spark, dir, 2L).count() === 150)
    assert(Layout.snapshotRead(spark, dir).count() === 10)

    // expire snap2: its files are referenced by no survivor → reclaimed
    val (n2, d2) = Layout.expireSnapshots(spark, dir,
      olderThanMs = Long.MaxValue, keepLast = 1)
    assert(n2 === 1 && d2 === 3, s"expected 3 dead files, got $d2")
    assert(snap1Files.forall(p => !exists(p)))
    assert(Layout.snapshotIds(spark, dir) === Seq(3L))
    assert(Layout.snapshotRead(spark, dir).count() === 10)
    // expired commit tokens are gone with their manifests
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".commit-1.lock")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".commit-2.lock")))
  }

  test("merge-on-read delete: zero data rewrite, exact reads, exact metadata counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mor").toString
    val df = (0 until 400).map(i => (i.toLong, s"d$i", i % 10))
      .toDF("k", "name", "bucket")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Layout.snapshotWrite(df, dir, statsCols = Seq("k"))
    val before = Layout.snapshotFiles(spark, dir)
    val bytesBefore = before.map(e =>
      e.path -> new java.io.File(s"$dir/${e.path}").lastModified()).toMap

    // delete a k-band; stats prune: only ONE of the 4 range files scans
    val (s2, n2) = Layout.deleteWhereMoR(spark, dir,
      Layout.StatPred.And(Seq(
        Layout.StatPred.Ge("k", 100L), Layout.StatPred.Le("k", 149L))))
    assert(s2 === 2L && n2 === 50L)
    // data entries VERBATIM — no file rewritten, no byte touched
    val after = Layout.snapshotFiles(spark, dir)
    assert(after.map(_.path) === before.map(_.path))
    after.foreach(e => assert(
      new java.io.File(s"$dir/${e.path}").lastModified() ===
        bytesBefore(e.path), s"${e.path} was rewritten"))
    // reads exclude exactly the deleted band; time travel sees it all
    val live = Layout.snapshotRead(spark, dir)
    assert(live.count() === 350)
    assert(live.filter(col("k").between(100, 149)).count() === 0)
    assert(Layout.snapshotRead(spark, dir, 1L).count() === 400)
    // metadata arithmetic stays exact
    assert(Layout.snapshotCount(spark, dir) === 350L)
    assert(Layout.snapshotCount(spark, dir, 1L) === 400L)

    // second MoR delete OVERLAPPING the first: disjointness holds —
    // rows 140..159 minus the 10 already-deleted (140..149) = 10 new
    val (s3, n3) = Layout.deleteWhereMoR(spark, dir,
      Layout.StatPred.And(Seq(
        Layout.StatPred.Ge("k", 140L), Layout.StatPred.Le("k", 159L))))
    assert(s3 === 3L && n3 === 10L, s"disjoint marking, got $n3")
    assert(Layout.snapshotRead(spark, dir).count() === 340)
    assert(Layout.snapshotCount(spark, dir) === 340L)
    assert(Layout.snapshotDeletes(spark, dir).map(_._2).sum === 60L)
    // history reports LIVE rows per snapshot
    val hist = Layout.snapshotHistory(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(hist === Map(1L -> 400L, 2L -> 350L, 3L -> 340L))

    // point delete inside a file: prunes to one candidate file, the
    // row-level filter marks exactly one position
    val (s4, n4) = Layout.deleteWhereMoR(spark, dir,
      Layout.StatPred.Eq("k", 201L))
    assert(s4 === 4L && n4 === 1L)
    assert(Layout.snapshotRead(spark, dir).filter(col("k") === 201).count() === 0)

    // a no-match predicate commits NOTHING
    val (s5, n5) = Layout.deleteWhereMoR(spark, dir,
      Layout.StatPred.Eq("k", 999999L))
    assert(s5 === 4L && n5 === 0L)
    assert(Layout.snapshotIds(spark, dir).max === 4L)
  }

  test("MoR interactions: refusals, rewrites settle, rollback restores, vacuum keeps live DVs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mor2").toString
    val df = (0 until 200).map(i => (i.toLong, s"d$i"))
      .toDF("k", "name")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Layout.snapshotWrite(df, dir, statsCols = Seq("k"))
    Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Le("k", 49L))
    assert(Layout.snapshotRead(spark, dir).count() === 150)

    // CoW mutators, schema evolution, metadata min/max, and SQL access
    // all refuse until the debt settles
    intercept[IllegalArgumentException](
      Layout.deleteWhere(spark, dir, Layout.StatPred.Ge("k", 190L)))
    intercept[IllegalArgumentException](
      Layout.mergeInto(spark, dir, Seq((1L, "x")).toDF("k", "name"),
        Seq("k")))
    intercept[IllegalArgumentException](
      Layout.renameColumn(spark, dir, "name", "title"))
    intercept[IllegalArgumentException](
      Layout.snapshotMinMax(spark, dir, "k"))
    intercept[IllegalArgumentException](
      spark.read.format("snapshot").option("path", dir).load())
    // appends carry the debt and stay readable
    Layout.snapshotAppend(
      (200 until 220).map(i => (i.toLong, s"d$i")).toDF("k", "name"), dir)
    assert(Layout.snapshotRead(spark, dir).count() === 170)
    assert(Layout.snapshotCount(spark, dir) === 170L)

    // rollback to the pre-delete snapshot resurrects exactly its view
    val rolled = Layout.rollbackTo(spark, dir, 1L)
    assert(Layout.snapshotRead(spark, dir).count() === 200)
    // and rolling FORWARD to the deleted state again works (id 3 = the
    // append that carried the delete)
    Layout.rollbackTo(spark, dir, 3L)
    assert(Layout.snapshotRead(spark, dir).count() === 170)

    // materializeDeletes settles: deletes empty, rows identical, SQL back
    val want = Layout.snapshotRead(spark, dir).orderBy("k").collect().toSeq
    Layout.materializeDeletes(spark, dir)
    assert(Layout.snapshotDeletes(spark, dir).isEmpty)
    assert(Layout.snapshotRead(spark, dir).orderBy("k").collect().toSeq
      === want)
    assert(spark.read.format("snapshot").option("path", dir).load()
      .count() === 170)
    // min/max restored and DV-exact: 50..219
    val mm = Layout.snapshotMinMax(spark, dir, "k").head()
    assert(mm.getLong(0) === 50L && mm.getLong(1) === 219L)

    // vacuum after settling reclaims the now-dead DV directories
    Layout.vacuum(spark, dir, keep = 1)
    def dvFilesLeft(f: java.io.File): Int =
      if (!f.exists()) 0
      else if (f.isFile) 1
      else f.listFiles().map(dvFilesLeft).sum
    assert(dvFilesLeft(new java.io.File(s"$dir/deletes")) === 0,
      "settled DV files must be vacuumable")
    assert(Layout.snapshotRead(spark, dir).count() === 170)
  }

  test("write-audit-publish: staged batches invisible, publish atomic, abandon traceless") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wap").toString
    Layout.snapshotWrite(
      (0 until 50).map(i => (i.toLong, s"a$i")).toDF("k", "name"),
      dir, statsCols = Seq("k"))

    // stage a batch: production readers see NOTHING until publish
    val tok = Layout.snapshotAppendStaged(
      (50 until 80).map(i => (i.toLong, s"b$i")).toDF("k", "name"), dir)
    assert(Layout.snapshotRead(spark, dir).count() === 50)
    assert(Layout.snapshotIds(spark, dir) === Seq(1L))
    // the audit job sees exactly the candidate batch
    assert(Layout.stagedRead(spark, dir, tok).count() === 30)
    // vacuum mid-audit must not destroy the staged batch
    Layout.vacuum(spark, dir, keep = 1)
    assert(Layout.stagedRead(spark, dir, tok).count() === 30)

    // a CONCURRENT append lands between staging and publish
    Layout.snapshotAppend(
      (900 until 910).map(i => (i.toLong, s"c$i")).toDF("k", "name"), dir)
    // publish REBASES: both batches present, staged record gone
    val pubId = Layout.publishStaged(spark, dir, tok)
    assert(pubId === 3L)
    assert(Layout.snapshotRead(spark, dir).count() === 90)
    assert(Layout.snapshotCount(spark, dir) === 90L)
    // the staged batch inherited the stats contract — pruning works
    assert(Layout.snapshotFiles(spark, dir).forall(_.stats.contains("k")))
    assert(intercept[IllegalArgumentException](
      Layout.stagedRead(spark, dir, tok)).getMessage.contains("no staged"))
    // double publish is impossible
    assert(intercept[IllegalArgumentException](
      Layout.publishStaged(spark, dir, tok)).getMessage.contains("no staged"))

    // abandon: record and data reclaimed, table untouched
    val tok2 = Layout.snapshotAppendStaged(
      Seq((999L, "z")).toDF("k", "name"), dir)
    assert(new java.io.File(s"$dir/data/staged-$tok2").exists())
    Layout.abandonStaged(spark, dir, tok2)
    assert(!new java.io.File(s"$dir/data/staged-$tok2").exists())
    assert(!new java.io.File(s"$dir/staged-$tok2.json").exists())
    assert(Layout.snapshotRead(spark, dir).count() === 90)

    // publish across a RENAME refuses (staged parquet has old names)
    val tok3 = Layout.snapshotAppendStaged(
      Seq((1000L, "w")).toDF("k", "name"), dir)
    Layout.renameColumn(spark, dir, "name", "title")
    assert(intercept[IllegalArgumentException](
      Layout.publishStaged(spark, dir, tok3)).getMessage
      .contains("renamed"))
    Layout.abandonStaged(spark, dir, tok3)
  }

  test("equality deletes: key tombstones mask across appends, zero scan at delete") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_eqdel").toString
    Layout.snapshotWrite(
      (0 until 100).map(i => (i.toLong, s"u${i % 10}", s"d$i"))
        .toDF("k", "user", "payload")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      dir, statsCols = Seq("k"))

    // tombstone two users by KEY — no scan, data entries verbatim
    val before = Layout.snapshotFiles(spark, dir).map(_.path)
    val (s2, n2) = Layout.deleteKeysMoR(spark, dir,
      Seq("u3", "u7").toDF("user"))
    assert(s2 === 2L && n2 === 2L)
    assert(Layout.snapshotFiles(spark, dir).map(_.path) === before)
    assert(Layout.snapshotRead(spark, dir).count() === 80)
    assert(Layout.snapshotRead(spark, dir)
      .filter(col("user").isin("u3", "u7")).count() === 0)
    // time travel pre-tombstone sees everything
    assert(Layout.snapshotRead(spark, dir, 1L).count() === 100)
    // counts fall back to a REAL count (overlap unknown) and history
    // reports null live rows until settled
    assert(Layout.snapshotCount(spark, dir) === 80L)
    assert(Layout.snapshotHistory(spark, dir).collect()
      .find(_.getLong(0) == 2L).get.isNullAt(3))

    // the tombstone covers the KEY across appends: a late arrival for
    // u3 is masked too (right-to-be-forgotten semantics)
    Layout.snapshotAppend(
      Seq((200L, "u3", "late"), (201L, "u5", "ok"))
        .toDF("k", "user", "payload"), dir)
    assert(Layout.snapshotRead(spark, dir).count() === 81)
    assert(Layout.snapshotRead(spark, dir)
      .filter(col("user") === "u3").count() === 0)

    // composite-key tombstones stack with single-key ones
    Layout.deleteKeysMoR(spark, dir,
      Seq((0L, "u0"), (11L, "u1")).toDF("k", "user"))
    assert(Layout.snapshotRead(spark, dir).count() === 79)

    // refusals: metadata min/max, SQL access, CoW mutators, position
    // deletes on top of eq debt
    intercept[IllegalArgumentException](
      Layout.snapshotMinMax(spark, dir, "k"))
    intercept[IllegalArgumentException](
      spark.read.format("snapshot").option("path", dir).load())
    intercept[IllegalArgumentException](
      Layout.deleteWhere(spark, dir, Layout.StatPred.Ge("k", 90L)))
    intercept[IllegalArgumentException](
      Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Ge("k", 90L)))
    // a typo'd key column refuses instead of masking nothing
    intercept[IllegalArgumentException](
      Layout.deleteKeysMoR(spark, dir, Seq("x").toDF("no_such_col")))

    // settle: content identical, eq list empty, SQL and metadata back
    val want = Layout.snapshotRead(spark, dir).orderBy("k").collect().toSeq
    Layout.materializeDeletes(spark, dir)
    assert(Layout.snapshotEqDeletes(spark, dir).isEmpty)
    assert(Layout.snapshotRead(spark, dir).orderBy("k").collect().toSeq
      === want)
    assert(Layout.snapshotCount(spark, dir) === 79L)
    assert(spark.read.format("snapshot").option("path", dir).load()
      .count() === 79)
  }

  test("compactSnapshot settles MoR deletes in the rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mor3").toString
    val df = (0 until 100).map(i => (i.toLong, s"d$i")).toDF("k", "name")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Layout.snapshotWrite(df, dir, statsCols = Seq("k"))
    Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Le("k", 24L))
    Layout.compactSnapshot(spark, dir, targetBytes = 1L << 30)
    assert(Layout.snapshotDeletes(spark, dir).isEmpty)
    val rows = Layout.snapshotRead(spark, dir)
    assert(rows.count() === 75)
    assert(rows.agg(min(col("k"))).head().getLong(0) === 25L)
    // the pre-compaction DV snapshot still time-travels correctly
    assert(Layout.snapshotRead(spark, dir, 2L).count() === 75)
    assert(Layout.snapshotRead(spark, dir, 1L).count() === 100)
  }

  test("maintainTable: settles debt, compacts, expires, vacuums; healthy tables untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_maint").toString
    Layout.snapshotWrite((1L to 400L).toDF("id").repartition(16), dir,
      statsCols = Seq("id"))
    Layout.snapshotAppend((401L to 600L).toDF("id").repartition(16), dir)
    // phase A — fragmented, no debt: compact fires, retention trims,
    // vacuum reclaims the orphaned fragments
    val report = Layout.maintainTable(spark, dir, Layout.MaintenancePolicy(
      targetFileBytes = 64L << 20, minSmallFiles = 8,
      expireOlderThanMs = Some(System.currentTimeMillis() + 10000),
      keepLastSnapshots = 2, vacuumKeep = Some(2)))
      .collect().map(_.getString(0)).toSeq
    assert(report === Seq("compact_incremental", "expire", "vacuum"),
      s"got $report")
    assert(Layout.snapshotRead(spark, dir).count() === 600)
    assert(Layout.snapshotFiles(spark, dir).size < 8, "fragments merged")
    assert(Layout.snapshotIds(spark, dir).size === 2, "history trimmed")
    // phase B — merge-on-read debt: settle fires FIRST and alone
    Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Between("id", 1L, 50L))
    val report2 = Layout.maintainTable(spark, dir, Layout.MaintenancePolicy(
      targetFileBytes = 64L << 20, minSmallFiles = 8, vacuumKeep = None))
      .collect().map(_.getString(0)).toSeq
    assert(report2 === Seq("settle_deletes"), s"got $report2")
    assert(Layout.snapshotRead(spark, dir).count() === 550)
    assert(Layout.snapshotDeletes(spark, dir).isEmpty, "debt settled")
    // phase C — a healthy table takes NO action
    val again = Layout.maintainTable(spark, dir, Layout.MaintenancePolicy(
      targetFileBytes = 64L << 20, minSmallFiles = 8, vacuumKeep = None))
    assert(again.isEmpty, s"healthy table must be untouched: " +
      s"${again.collect().mkString(", ")}")
  }

  test("changeFeed: append/compact/delete/update commits as exact tagged rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf").toString
    def df(r: Range) = r.map(i => (i.toLong, i * 10L)).toDF("k", "v")
    Layout.snapshotWrite(df(1 to 20).repartition(4, col("k")), dir,
      statsCols = Seq("k"))                                   // snap 1
    Layout.snapshotAppend(df(21 to 25), dir)                  // snap 2
    Layout.compactSnapshot(spark, dir, 512L << 20)            // snap 3 (replace)
    Layout.deleteWhere(spark, dir, Layout.StatPred.Between("k", 3L, 5L)) // snap 4
    Layout.updateWhere(spark, dir, col("k") === 10L,
      Seq("v" -> lit(999L)))                                  // snap 5

    val feed = Layout.changeFeed(spark, dir, 1L)
      .select("k", "v", "_change_type", "_commit_snapshot_id")
      .as[(Long, Long, String, Long)].collect().toSet
    val expected =
      (21L to 25L).map(k => (k, k * 10, "insert", 2L)).toSet ++ // snap 2
      // snap 3 compaction: NOTHING — maintenance is invisible
      (3L to 5L).map(k => (k, k * 10, "delete", 4L)).toSet ++   // snap 4
      Set((10L, 100L, "delete", 5L), (10L, 999L, "insert", 5L)) // snap 5
    assert(feed === expected)

    // from-the-beginning feed replays the initial overwrite as inserts
    val initial = Layout.changeFeed(spark, dir, 0L, 1L)
    assert(initial.filter(col("_change_type") === "insert").count() === 20)
    assert(initial.count() === 20)

    // a span of only maintenance commits yields an EMPTY feed with the
    // full tagged schema
    val quiet = Layout.changeFeed(spark, dir, 2L, 3L)
    assert(quiet.count() === 0)
    assert(quiet.columns.toSet ===
      Set("k", "v", "_change_type", "_commit_snapshot_id"))
  }

  test("changeFeed: MoR tombstone commits diff the live views exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdfmor").toString
    val df = (1L to 50L).map(i => (i, s"u$i")).toDF("k", "user")
    Layout.snapshotWrite(df.repartition(4, col("k")), dir,
      statsCols = Seq("k"))                                   // snap 1
    Layout.deleteWhereMoR(spark, dir,
      Layout.StatPred.Between("k", 10L, 12L))                 // snap 2 (DV)
    Layout.deleteKeysMoR(spark, dir,
      Seq(20L, 21L).toDF("k"))                                // snap 3 (eq)
    val feed = Layout.changeFeed(spark, dir, 1L)
      .select("k", "_change_type", "_commit_snapshot_id")
      .as[(Long, String, Long)].collect().toSet
    assert(feed === Set(
      (10L, "delete", 2L), (11L, "delete", 2L), (12L, "delete", 2L),
      (20L, "delete", 3L), (21L, "delete", 3L)))
  }

  test("changeFeed + deltaAggMaintain: a view stays exact through deletes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdfivm").toString
    val df = (1L to 100L).map(i => (i, (i % 5).toString, i.toDouble))
      .toDF("k", "grp", "v")
    Layout.snapshotWrite(df.repartition(4, col("k")), dir,
      statsCols = Seq("k"))                                   // snap 1
    // the materialized view at snapshot 1
    val view1 = Layout.snapshotRead(spark, dir, 1L).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
      .localCheckpoint()
    Layout.snapshotAppend(
      Seq((101L, "1", 7.0), (102L, "2", 8.0)).toDF("k", "grp", "v"), dir)
    Layout.deleteWhere(spark, dir, Layout.StatPred.Between("k", 1L, 30L))
    // fold the tagged feed as the (I/D) CDC deltaAggMaintain expects
    val changes = Layout.changeFeed(spark, dir, 1L)
      .select(col("grp"),
        when(col("_change_type") === "insert", "I").otherwise("D").as("op"),
        col("v").as("oldv"), col("v").as("newv"))
    val maintained = Layout.deltaAggMaintain(view1, changes,
      "grp", "op", "oldv", "newv")
    val recomputed = Layout.snapshotRead(spark, dir).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    val m = maintained.as[(String, Long, Double)].collect().toSet
    val r = recomputed.as[(String, Long, Double)].collect().toSet
    assert(m === r, s"maintained $m vs recomputed $r")
  }

  test("snapshotAppendUnique: collisions and intra-batch dups quarantine, fresh keys land") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_uniq").toString
    val qdir = java.nio.file.Files.createTempDirectory("graft_uniq_q").toString
    Layout.snapshotWrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    // batch: 2 collides; 3 fresh; 4 fresh but duplicated in-batch
    val batch = Seq((2L, "b2"), (3L, "c"), (4L, "d1"), (4L, "d2"))
      .toDF("k", "v")
    val (_, nBad) = Layout.snapshotAppendUnique(batch, dir, qdir, Seq("k"))
    assert(nBad === 2, "one collision + one intra-batch duplicate")
    val table = Layout.snapshotRead(spark, dir)
      .as[(Long, String)].collect().toSet
    // 4's kept copy is the FIRST by (k, then full key order): d1
    assert(table === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d1")),
      s"got $table")
    val q = Layout.snapshotRead(spark, qdir)
      .as[(Long, String)].collect().toSet
    assert(q === Set((2L, "b2"), (4L, "d2")), s"got $q")
  }

  test("refs: tags resolve forever, branches fast-forward forward-only") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_refs").toString
    Layout.snapshotWrite((1L to 100L).toDF("id"), dir)          // snap 1
    assert(Layout.createTag(spark, dir, "rel-1") === 1L)
    assert(Layout.createBranch(spark, dir, "audit") === 1L)
    Layout.snapshotAppend((101L to 150L).toDF("id"), dir)       // snap 2
    Layout.snapshotAppend((151L to 160L).toDF("id"), dir)       // snap 3
    // the tag still reads snapshot 1's content after two appends
    assert(Layout.snapshotReadRef(spark, dir, "rel-1").count() === 100)
    assert(Layout.resolveRef(spark, dir, "rel-1") === 1L)
    // branch advances (default = current), then refuses to rewind
    assert(Layout.fastForward(spark, dir, "audit") === 3L)
    assert(Layout.snapshotReadRef(spark, dir, "audit").count() === 160)
    val rewind = intercept[IllegalArgumentException] {
      Layout.fastForward(spark, dir, "audit", 2L)
    }
    assert(rewind.getMessage.contains("forward-only"))
    // tags are immutable
    val tagMove = intercept[IllegalArgumentException] {
      Layout.fastForward(spark, dir, "rel-1", 3L)
    }
    assert(tagMove.getMessage.contains("immutable"))
    // duplicate names refuse; listing shows max-version state
    intercept[IllegalArgumentException] {
      Layout.createTag(spark, dir, "rel-1")
    }
    assert(Layout.tableRefs(spark, dir).map(r =>
      (r.name, r.refType, r.snapshotId)).toSet ===
      Set(("rel-1", "tag", 1L), ("audit", "branch", 3L)))
    // old branch versions are reclaimed after a fast-forward
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "ref-audit.v1.json")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "ref-audit.v2.json")))
  }

  test("refs pin snapshots against expireSnapshots and vacuum") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_refpin").toString
    Layout.snapshotWrite((1L to 100L).toDF("id"), dir)          // snap 1
    Layout.compactSnapshot(spark, dir, 64L << 20)               // snap 2 (replace)
    Layout.snapshotAppend((101L to 150L).toDF("id"), dir)       // snap 3
    Layout.createTag(spark, dir, "pin", 1L)
    // expire everything older than "now + 10s", keep only the last:
    // snapshot 2 goes, snapshot 1 SURVIVES because the tag pins it
    val (expired, _) = Layout.expireSnapshots(spark, dir,
      System.currentTimeMillis() + 10000, keepLast = 1)
    assert(expired === 1, "only the unpinned snapshot 2 expires")
    assert(Layout.snapshotIds(spark, dir) === Seq(1L, 3L))
    assert(Layout.snapshotReadRef(spark, dir, "pin").count() === 100)
    // vacuum keep=1 would normally strand snapshot 1's files — the
    // pin keeps both the manifest and the data readable
    Layout.vacuum(spark, dir, keep = 1)
    assert(Layout.snapshotReadRef(spark, dir, "pin").count() === 100)
    assert(Layout.snapshotRead(spark, dir).count() === 150)
    // dropRef releases the pin: the id expires under the same horizon
    Layout.dropRef(spark, dir, "pin")
    val (expired2, _) = Layout.expireSnapshots(spark, dir,
      System.currentTimeMillis() + 10000, keepLast = 1)
    assert(expired2 === 1)
    assert(Layout.snapshotIds(spark, dir) === Seq(3L))
    intercept[Exception] { Layout.resolveRef(spark, dir, "pin") }
  }

  test("fully-pruned read keeps the widened schema from the manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emptysch").toString
    Layout.snapshotWrite(
      (0 until 50).map(i => (i.toLong, s"a$i")).toDF("k", "name"),
      dir, statsCols = Seq("k"))
    Layout.snapshotAppend(
      Seq((100L, "b", 1.5)).toDF("k", "name", "score"), dir)
    // predicate prunes EVERY file: the empty result must still carry
    // the widened column (from the manifest schema — no file opened),
    // not whichever file's schema take(1) happened to land on
    val empty = Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Ge("k", 10000L)), mergeSchema = true)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("k", "name", "score"))
    val emptyW = Layout.snapshotReadWhere(spark, dir, col("k") >= 10000L,
      mergeSchema = true)
    assert(emptyW.count() === 0)
    assert(emptyW.columns.toSeq === Seq("k", "name", "score"))
    // plain (non-mergeSchema) fully-pruned read: same stable schema
    assert(Layout.snapshotRead(spark, dir,
      prune = Some(Layout.StatPred.Ge("k", 10000L))).columns.toSeq
      === Seq("k", "name", "score"))
  }

  test("upsertKeysMoR: one atomic commit replaces keys and appends") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    Layout.snapshotWrite(
      (0 until 100).map(i => (i.toLong, s"u$i", s"v$i"))
        .toDF("k", "user", "payload")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      dir, statsCols = Seq("k"))
    val before = Layout.snapshotFiles(spark, dir).map(_.path)

    // replace k=5,6 and insert k=200 — ONE commit
    val (s2, n2) = Layout.upsertKeysMoR(spark, dir,
      Seq((5L, "u5", "NEW5"), (6L, "u6", "NEW6"), (200L, "u200", "NEW200"))
        .toDF("k", "user", "payload"), Seq("k"))
    assert(s2 === 2L && n2 === 2L)
    // prior files verbatim; only the batch's files are new
    assert(Layout.snapshotFiles(spark, dir).map(_.path)
      .count(p => !before.contains(p)) >= 1)
    assert(before.forall(p =>
      Layout.snapshotFiles(spark, dir).map(_.path).contains(p)))
    val live = Layout.snapshotRead(spark, dir)
    assert(live.count() === 101)
    assert(live.filter(col("k") === 5L).select("payload").head.getString(0)
      === "NEW5")
    assert(live.filter(col("k") === 200L).count() === 1)
    // no intermediate state: the PREVIOUS snapshot is the old content
    assert(Layout.snapshotRead(spark, dir, 1L).count() === 100)
    assert(Layout.snapshotRead(spark, dir, 1L)
      .filter(col("k") === 5L).select("payload").head.getString(0) === "v5")
    // metadata count arithmetic holds (position deletes are exact)
    assert(Layout.snapshotCount(spark, dir) === 101L)

    // upsert over the SAME key again: only the live replacement row is
    // marked (DV disjointness), and the newest value wins
    val (s3, n3) = Layout.upsertKeysMoR(spark, dir,
      Seq((5L, "u5", "NEWER5")).toDF("k", "user", "payload"), Seq("k"))
    assert(s3 === 3L && n3 === 1L)
    val live3 = Layout.snapshotRead(spark, dir)
    assert(live3.count() === 101)
    assert(live3.filter(col("k") === 5L).select("payload").head.getString(0)
      === "NEWER5")

    // pure insert (no key overlap): zero replaced, no DV file added
    val dvBefore = Layout.snapshotDeletes(spark, dir).size
    val (s4, n4) = Layout.upsertKeysMoR(spark, dir,
      Seq((300L, "u300", "NEW300")).toDF("k", "user", "payload"), Seq("k"))
    assert(s4 === 4L && n4 === 0L)
    assert(Layout.snapshotDeletes(spark, dir).size === dvBefore)
    assert(Layout.snapshotRead(spark, dir).count() === 102)

    // misaligned source: missing non-key column null-fills, extras drop
    val (_, n5) = Layout.upsertKeysMoR(spark, dir,
      Seq((7L, "x")).toDF("k", "extra_col"), Seq("k"))
    assert(n5 === 1L)
    val r7 = Layout.snapshotRead(spark, dir).filter(col("k") === 7L)
    assert(r7.columns.toSeq === Seq("k", "user", "payload"))
    assert(r7.head.isNullAt(1) && r7.head.isNullAt(2))

    // refusals: outstanding eq debt must settle first
    Layout.deleteKeysMoR(spark, dir, Seq("u9").toDF("user"))
    assert(intercept[IllegalArgumentException](
      Layout.upsertKeysMoR(spark, dir,
        Seq((1L, "u1", "z")).toDF("k", "user", "payload"), Seq("k")))
      .getMessage.contains("equality"))
  }

  test("upsertKeysMoR on a zero-file manifest bootstraps as an append") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsempty").toString
    Layout.snapshotWrite(
      (0 until 20).map(i => (i.toLong, s"v$i")).toDF("k", "payload"),
      dir, statsCols = Seq("k"))
    // a copy-on-write delete of EVERYTHING leaves a legitimate
    // zero-file manifest — reachable from the streaming upsert path,
    // which bootstraps only when no snapshot id exists at all
    Layout.deleteWhere(spark, dir, col("k") >= 0L)
    assert(Layout.snapshotFiles(spark, dir).isEmpty)
    assert(Layout.snapshotRead(spark, dir).count() === 0L)
    // the next upsert must behave as a bootstrap append, not throw
    val (sid, replaced) = Layout.upsertKeysMoR(spark, dir,
      Seq((5L, "NEW5"), (6L, "NEW6")).toDF("k", "payload"), Seq("k"))
    assert(replaced === 0L)
    assert(sid === Layout.snapshotIds(spark, dir).max)
    val live = Layout.snapshotRead(spark, dir).orderBy("k")
    assert(live.columns.toSeq === Seq("k", "payload"))
    assert(live.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((5L, "NEW5"), (6L, "NEW6")))
    // and the chain continues normally: a second upsert replaces
    val (_, n2) = Layout.upsertKeysMoR(spark, dir,
      Seq((5L, "NEWER5")).toDF("k", "payload"), Seq("k"))
    assert(n2 === 1L)
    assert(Layout.snapshotRead(spark, dir).filter(col("k") === 5L)
      .select("payload").head.getString(0) === "NEWER5")
  }

  test("maintainTable skips clustering when a file lacks exact bounds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_maintnostat").toString
    // written WITHOUT stats on the clustering dim: the nightly policy
    // pass must record the skip and keep going, not abort on
    // optimizeClusteredIncremental's hard require (which stays for
    // direct API calls) — an aborted pass would also lose the
    // expire/vacuum steps that follow
    Layout.snapshotWrite(
      (0 until 200).map(i => (i.toLong, s"p$i")).toDF("k", "pad"), dir)
    val report = Layout.maintainTable(spark, dir,
      Layout.MaintenancePolicy(targetFileBytes = 64L << 20,
        minSmallFiles = 100, clusterDim = Some("k"), vacuumKeep = None))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(report.map(_._1) === Seq("recluster_skipped"), s"got $report")
    assert(report.head._2.contains("bounds"), report.head._2)
    // the direct API keeps refusing loudly
    assert(intercept[IllegalArgumentException](
      Layout.optimizeClusteredIncremental(spark, dir, "k", 64L << 20))
      .getMessage.contains("bounds"))
  }

  test("racing appends: one winner per id, losers retry, no lost rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    Layout.snapshotWrite(Seq((0L, "seed")).toDF("k", "who"), dir)
    // 4 writers × 5 batches, each retrying on commit-token loss — the
    // optimistic-concurrency deployment loop. Every batch must land
    // exactly once, whatever the interleaving.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => try {
        (0 until 5).foreach { b =>
          val batch = Seq((1000L + t * 10 + b, s"w$t")).toDF("k", "who")
          var done = false
          var attempts = 0
          while (!done) {
            attempts += 1
            require(attempts <= 200, s"writer $t batch $b starved")
            try { Layout.snapshotAppend(batch, dir); done = true }
            catch {
              case _: java.util.ConcurrentModificationException => ()
              case e: IllegalStateException
                  if e.getMessage != null &&
                    e.getMessage.contains("concurrent") => ()
            }
          }
        }
      } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    // all 20 batches + seed present exactly once; ids are a contiguous
    // chain (one winner per id, losers re-committed under later ids)
    val rows = Layout.snapshotRead(spark, dir)
      .as[(Long, String)].collect().toSeq
    assert(rows.size === 21, s"lost or duplicated rows: ${rows.size}")
    assert(rows.map(_._1).distinct.size === 21)
    val ids = Layout.snapshotIds(spark, dir)
    assert(ids === (1L to ids.max).toSeq, s"gappy id chain: $ids")
    assert(ids.max === 21L)
    assert(Layout.snapshotCount(spark, dir) === 21L)
  }

  test("racing upserts on one key: retries converge to a single live row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsrace").toString
    Layout.snapshotWrite(
      (0 until 20).map(i => (i.toLong, "base")).toDF("k", "v"), dir,
      statsCols = Seq("k"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // two writers upsert the SAME key concurrently; each retry
    // recomputes positions against the then-current snapshot, so the
    // loser deletes the winner's row and exactly one value survives
    val threads = (0 until 2).map { t =>
      new Thread(() => try {
        var done = false
        var attempts = 0
        while (!done) {
          attempts += 1
          require(attempts <= 100, s"upserter $t starved")
          try {
            Layout.upsertKeysMoR(spark, dir,
              Seq((5L, s"writer$t")).toDF("k", "v"), Seq("k"))
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException => ()
          }
        }
      } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"upserter failed: ${Option(errs.peek())}")
    val live = Layout.snapshotRead(spark, dir)
    assert(live.count() === 20)
    val k5 = live.filter(col("k") === 5L)
      .select("v").as[String].collect().toSeq
    assert(k5.size === 1 && k5.head.startsWith("writer"), s"got $k5")
    assert(Layout.snapshotCount(spark, dir) === 20L)
  }

  test("compactSmallFiles rewrites only small-file debt; deletes settle exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_binpack").toString
    // 2 big files + 4 small appended ones
    Layout.snapshotWrite(
      (0 until 2000).map(i => (i.toLong, (i * 2654435761L).toString * 8))
        .toDF("k", "pad").coalesce(2),
      dir, statsCols = Seq("k"))
    (0 until 4).foreach { b =>
      Layout.snapshotAppend(
        (0 until 5).map(i => (10000L + b * 10 + i, "s")).toDF("k", "pad")
          .coalesce(1),
        dir)
    }
    val files0 = Layout.snapshotFiles(spark, dir)
    assert(files0.size === 6)
    val bigPaths = files0.filter(_.path.startsWith("data/snap-1-")).map(_.path)
    val bigMin = files0.filter(e => bigPaths.contains(e.path))
      .map(_.bytes.get).min
    val smallMax = files0.filterNot(e => bigPaths.contains(e.path))
      .map(_.bytes.get).max
    assert(smallMax < bigMin, s"fixture premise: $smallMax < $bigMin")
    val threshold = (smallMax + bigMin) / 2
    // MoR debt spanning BOTH populations: positions on a big file and
    // on a small file, plus a key tombstone
    Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Le("k", 9L))
    Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Ge("k", 10030L))
    Layout.deleteKeysMoR(spark, dir, Seq(10011L).toDF("k"))
    val want = Layout.snapshotRead(spark, dir).orderBy("k")
      .collect().toSeq
    val (_, rewritten, written) =
      Layout.compactSmallFiles(spark, dir, targetBytes = 4 * threshold,
        smallBytes = threshold)
    assert(rewritten === 4 && written === 1)
    val after = Layout.snapshotFiles(spark, dir).map(_.path).toSet
    // big files carried VERBATIM (same paths, zero bytes moved)
    assert(bigPaths.forall(after.contains))
    assert(after.size === 3)
    // content identical; small-file positions settled, big-file
    // positions carried in the re-filtered index
    assert(Layout.snapshotRead(spark, dir).orderBy("k").collect().toSeq
      === want)
    assert(Layout.snapshotDeletes(spark, dir).nonEmpty)
    // the carried tombstone still masks (real count path under eq)
    assert(Layout.snapshotCount(spark, dir) === want.size.toLong)
    // second run: nothing small remains — commit-free no-op
    val ids = Layout.snapshotIds(spark, dir)
    assert(Layout.compactSmallFiles(spark, dir, 4 * threshold,
      threshold)._2 === 0)
    assert(Layout.snapshotIds(spark, dir) === ids)
  }

  test("maintainTable with clusterDim also folds overlapping runs back in") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_maintclu").toString
    Layout.snapshotWrite(
      (0 until 2000).map(i => (i.toLong, (i * 31L).toString * 6))
        .toDF("k", "pad")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      dir, statsCols = Seq("k"))
    Layout.snapshotAppend(
      (500 until 650).map(i => (i.toLong, "a")).toDF("k", "pad")
        .coalesce(1), dir)
    val want = Layout.snapshotRead(spark, dir).orderBy("k", "pad")
      .collect().toSeq
    val report = Layout.maintainTable(spark, dir,
      Layout.MaintenancePolicy(targetFileBytes = 64L << 20,
        minSmallFiles = 100, // size step stays quiet — clustering acts
        clusterDim = Some("k"), vacuumKeep = None))
      .collect().map(_.getString(0)).toSeq
    assert(report === Seq("recluster_incremental"), s"got $report")
    val after = Layout.snapshotFiles(spark, dir).map { e =>
      val st = e.stats("k"); (st.min.get.toLong, st.max.get.toLong)
    }
    assert(after.combinations(2).forall { case Seq(a, b) =>
      a._2 < b._1 || b._2 < a._1 }, s"still overlapping: $after")
    assert(Layout.snapshotRead(spark, dir).orderBy("k", "pad")
      .collect().toSeq === want)
    // healthy clustered table: the pass takes no action at all
    val again = Layout.maintainTable(spark, dir,
      Layout.MaintenancePolicy(targetFileBytes = 64L << 20,
        minSmallFiles = 100, clusterDim = Some("k"), vacuumKeep = None))
    assert(again.isEmpty)
  }

  test("optimizeClusteredIncremental merges only overlapping sorted runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_incclu").toString
    // 4 disjoint range-sorted base files on k
    Layout.snapshotWrite(
      (0 until 4000).map(i => (i.toLong, s"p$i")).toDF("k", "pad")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      dir, statsCols = Seq("k"))
    assert(Layout.snapshotFiles(spark, dir).size === 4)
    // two appends, each overlapping ONE base run
    Layout.snapshotAppend(
      (500 until 700).map(i => (i.toLong, "a")).toDF("k", "pad")
        .coalesce(1), dir)
    Layout.snapshotAppend(
      (3000 until 3100).map(i => (i.toLong, "b")).toDF("k", "pad")
        .coalesce(1), dir)
    val want = Layout.snapshotRead(spark, dir).orderBy("k", "pad")
      .collect().toSeq
    def ranges() = Layout.snapshotFiles(spark, dir).map { e =>
      val st = e.stats("k")
      (st.min.get.toLong, st.max.get.toLong, e.path)
    }
    val overlappedBefore = ranges().map(r => (r._1, r._2))
    assert(overlappedBefore.combinations(2).exists { case Seq(a, b) =>
      a._1 <= b._2 && b._1 <= a._2 }, "fixture premise: overlap exists")
    val (_, rew, wrote) =
      Layout.optimizeClusteredIncremental(spark, dir, "k", 64L << 20)
    // exactly the 2 overlapped runs + 2 appends rewrote; 2 runs carried
    assert(rew === 4, s"rewrote $rew")
    assert(wrote >= 2)
    val after = ranges()
    assert(after.size === 2 + wrote)
    // pairwise disjoint afterward
    assert(after.map(r => (r._1, r._2)).combinations(2).forall {
      case Seq(a, b) => a._2 < b._1 || b._2 < a._1 })
    assert(Layout.snapshotRead(spark, dir).orderBy("k", "pad")
      .collect().toSeq === want)
    // an already-disjoint table is a commit-free no-op
    val ids = Layout.snapshotIds(spark, dir)
    assert(Layout.optimizeClusteredIncremental(spark, dir, "k",
      64L << 20)._2 === 0)
    assert(Layout.snapshotIds(spark, dir) === ids)
  }

  test("multi-batch staging: union audit view, one atomic publish") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wapn").toString
    Layout.snapshotWrite(
      (0 until 50).map(i => (i.toLong, s"a$i")).toDF("k", "name"),
      dir, statsCols = Seq("k"))
    // stage three micro-batches under ONE token
    val tok = Layout.snapshotAppendStaged(
      (100 until 110).map(i => (i.toLong, s"b$i")).toDF("k", "name"), dir)
    Layout.stageAppendMore(
      (110 until 125).map(i => (i.toLong, s"c$i")).toDF("k", "name"),
      dir, tok)
    Layout.stageAppendMore(
      (125 until 130).map(i => (i.toLong, s"d$i")).toDF("k", "name"),
      dir, tok)
    // the audit sees the UNION; production still sees nothing
    assert(Layout.stagedRead(spark, dir, tok).count() === 30)
    assert(Layout.snapshotRead(spark, dir).count() === 50)
    // vacuum mid-audit keeps every batch of the chain
    Layout.vacuum(spark, dir, keep = 1)
    assert(Layout.stagedRead(spark, dir, tok).count() === 30)
    // the chain inherits the stats contract on every batch's files
    // a schema-forking batch mid-chain refuses
    assert(intercept[IllegalArgumentException](
      Layout.stageAppendMore(
        Seq((999L, "z", 1.0)).toDF("k", "name", "extra"), dir, tok))
      .getMessage.contains("forks"))
    // ONE atomic publish commits all three batches
    val pub = Layout.publishStaged(spark, dir, tok)
    assert(Layout.snapshotRead(spark, dir).count() === 80)
    assert(Layout.snapshotRead(spark, dir, pub - 1).count() === 50)
    assert(Layout.snapshotFiles(spark, dir).forall(_.stats.contains("k")))
    // abandon drops a whole chain tracelessly
    val tok2 = Layout.snapshotAppendStaged(
      Seq((500L, "x")).toDF("k", "name"), dir)
    Layout.stageAppendMore(Seq((501L, "y")).toDF("k", "name"), dir, tok2)
    Layout.abandonStaged(spark, dir, tok2)
    assert(!new java.io.File(s"$dir/data/staged-$tok2").exists())
    assert(Layout.snapshotRead(spark, dir).count() === 80)
  }

  test("publishStaged carries outstanding equality tombstones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wapeq").toString
    Layout.snapshotWrite(
      (0 until 40).map(i => (i.toLong, s"u${i % 4}")).toDF("k", "user"),
      dir)
    // key-tombstone one user, THEN stage + publish a batch: the
    // published manifest must still list the tombstone, or every
    // u1 row silently resurrects on the next read
    Layout.deleteKeysMoR(spark, dir, Seq("u1").toDF("user"))
    assert(Layout.snapshotRead(spark, dir).count() === 30)
    val tok = Layout.snapshotAppendStaged(
      (100 until 110).map(i => (i.toLong, s"u${i % 4}")).toDF("k", "user"),
      dir)
    Layout.publishStaged(spark, dir, tok)
    assert(Layout.snapshotEqDeletes(spark, dir).nonEmpty,
      "published manifest dropped the equality tombstones")
    // 30 survivors + the staged batch minus its 3 u1 rows (the
    // tombstone covers late arrivals for the key, same as appends)
    assert(Layout.snapshotRead(spark, dir).count() === 37)
    assert(Layout.snapshotRead(spark, dir)
      .filter(col("user") === "u1").count() === 0)
  }

  test("evolvedRead masks MoR deletes after a schema-forking append") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evodel").toString
    Layout.snapshotWrite(
      (0 until 100).map(i => (i.toLong, s"u${i % 10}")).toDF("k", "user"),
      dir, statsCols = Seq("k"))
    // MoR debt on the uniform table: positions for k >= 90, then a
    // key tombstone for u3
    Layout.deleteWhereMoR(spark, dir, Layout.StatPred.Ge("k", 90L))
    Layout.deleteKeysMoR(spark, dir, Seq("u3").toDF("user"))
    assert(Layout.snapshotRead(spark, dir).count() === 81)
    // a WIDENING append forks the schema id while the deletes are
    // outstanding — reads now take the evolvedRead branch, which must
    // keep masking (this used to resurrect all 19 deleted rows)
    Layout.snapshotAppend(
      Seq((200L, "u5", "x"), (201L, "u3", "late"))
        .toDF("k", "user", "extra"), dir)
    val live = Layout.snapshotRead(spark, dir)
    assert(live.columns.toSeq === Seq("k", "user", "extra"))
    assert(live.count() === 82,
      "evolvedRead resurrected MoR-deleted rows")
    assert(live.filter(col("user") === "u3").count() === 0)
    assert(live.filter(col("k") >= 90L && col("k") < 100L).count() === 0)
    // metadata count arithmetic agrees MID-CHAIN (manifest rows minus
    // position deletes minus tombstone matches — while the table is
    // both schema-forked AND carrying debt), not just post-compaction
    assert(Layout.snapshotCount(spark, dir) === 82L)
    // the pruned-read sibling masks too
    assert(Layout.snapshotReadWhere(spark, dir, col("k") < 1000L)
      .count() === 82)
    // a compaction of the evolved table SETTLES the debt instead of
    // baking resurrected rows into fresh files
    Layout.compactSnapshot(spark, dir, 64L << 20)
    assert(Layout.snapshotDeletes(spark, dir).isEmpty)
    assert(Layout.snapshotEqDeletes(spark, dir).isEmpty)
    assert(Layout.snapshotRead(spark, dir).count() === 82)
    assert(Layout.snapshotCount(spark, dir) === 82L)
  }
test("catalog: cross-table atomic publish, isolation, and carry-forward") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val aDir = s"$root/a"; val bDir = s"$root/b"; val cat = s"$root/cat"
    Layout.snapshotWrite(Seq((1L, 10L)).toDF("k", "v"), aDir)
    Layout.snapshotWrite(Seq((1L, 100L)).toDF("k", "v"), bDir)
    val v1 = Layout.catalogCommitCurrent(spark, cat,
      Map("a" -> aDir, "b" -> bDir))
    assert(v1 == 1L)
    // landed-but-unpublished append: invisible through the catalog
    Layout.snapshotAppend(Seq((2L, 20L)).toDF("k", "v"), aDir)
    assert(Layout.catalogRead(spark, cat, "a").count() == 1)
    // publish ONLY table a at its new snapshot: b carries forward
    val aIds = Layout.snapshotHistory(spark, aDir)
      .select("snapshot_id").as[Long].collect()
    val v2 = Layout.catalogCommit(spark, cat,
      Map("a" -> ((aDir, aIds.max))))
    assert(v2 == 2L)
    assert(Layout.catalogRead(spark, cat, "a").count() == 2)
    assert(Layout.catalogRead(spark, cat, "a", v1).count() == 1) // time travel
    val entries = Layout.catalogEntries(spark, cat, v2)
      .map(e => e.table -> e.snapshotId).toMap
    assert(entries("b") == Layout.catalogEntries(spark, cat, v1)
      .find(_.table == "b").get.snapshotId, "b must carry forward")
    // validation: a snapshot id that does not exist is refused BEFORE
    // the version slot is consumed
    val e = intercept[RuntimeException](
      Layout.catalogCommit(spark, cat, Map("a" -> ((aDir, 999L)))))
    assert(e.getMessage.contains("does not exist"))
    assert(Layout.catalogVersion(spark, cat) == 2L)
  }

  test("catalog: racing committers on one base version — exactly one wins, loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cat2").toString
    val aDir = s"$root/a"; val cat = s"$root/cat"
    Layout.snapshotWrite(Seq((1L, 1L)).toDF("k", "v"), aDir)
    Layout.catalogCommitCurrent(spark, cat, Map("a" -> aDir))
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 4).map { _ =>
      new Thread(() => {
        barrier.await()
        try { Layout.catalogCommit(spark, cat, Map("a" -> ((aDir, 1L))))
          wins.incrementAndGet(); ()
        } catch { case e: RuntimeException => losses.add(e.getMessage); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1, s"expected exactly one winner, got ${wins.get()}")
    assert(losses.size() == 3)
    losses.forEach(m => assert(m.contains("concurrent"), m))
    assert(Layout.catalogVersion(spark, cat) == 2L)
  }
test("catalog: stale lock is age-gated — fresh lock reads as concurrent") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cat3").toString
    val aDir = s"$root/a"; val cat = s"$root/cat"
    Layout.snapshotWrite(Seq((1L, 1L)).toDF("k", "v"), aDir)
    Layout.catalogCommitCurrent(spark, cat, Map("a" -> aDir))
    // plant the debris of a crashed committer: v2 lock, no v2 json
    val lock = new java.io.File(s"$cat/.catalog-v2.lock")
    assert(lock.createNewFile())
    // FRESH lock → a live racer between lock and rename: the error must
    // say concurrent (retryable), never advise deleting a live lock
    val fresh = intercept[RuntimeException](
      Layout.catalogCommit(spark, cat, Map("a" -> ((aDir, 1L)))))
    assert(fresh.getMessage.contains("concurrent"), fresh.getMessage)
    // OLD lock (past the 5-minute default staleness gate) → the crash
    // diagnosis with the (hedged) remove-the-lock remediation
    assert(lock.setLastModified(System.currentTimeMillis() - 600000L))
    val stale = intercept[RuntimeException](
      Layout.catalogCommit(spark, cat, Map("a" -> ((aDir, 1L)))))
    assert(stale.getMessage.contains("stale lock"), stale.getMessage)
    // remediation works: drop the lock, the version commits
    assert(lock.delete())
    assert(Layout.catalogCommit(spark, cat, Map("a" -> ((aDir, 1L)))) == 2L)
  }

  test("catalogRetention: retained versions stay byte-complete; dropped version refuses") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_catret").toString
    val aDir = s"$root/a"; val cat = s"$root/cat"
    (1 to 3).foreach { k =>
      Layout.snapshotWrite(
        (1L to k * 10L).map(i => (i, s"v$k-$i")).toDF("k", "v"), aDir)
      Layout.catalogCommitCurrent(spark, cat, Map("a" -> aDir))
    }
    val before = Layout.catalogRead(spark, cat, "a", 2)
      .collect().map(_.toString).sorted.toSeq
    val (vd, se, fd) = Layout.catalogRetention(spark, cat, keepVersions = 2)
    assert(vd == 1 && se == 1 && fd >= 1, s"($vd, $se, $fd)")
    // the OLDEST RETAINED version reads byte-complete after retention
    val after = Layout.catalogRead(spark, cat, "a", 2)
      .collect().map(_.toString).sorted.toSeq
    assert(before == after)
    assert(Layout.catalogRead(spark, cat, "a", 3).count() == 30)
    // the dropped version refuses loudly; its pinned-only snapshot is gone
    val e = intercept[RuntimeException](Layout.catalogRead(spark, cat, "a", 1))
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    assert(!new java.io.File(s"$aDir/manifest-1.json").exists())
    // idempotent: a second pass finds nothing to age out
    assert(Layout.catalogRetention(spark, cat, keepVersions = 2) == ((0, 0, 0)))
  }

  test("catalogSink: batch note suppresses replay double-apply; publish is all-or-nothing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_catsink").toString
    val in = s"$root/in"; val cat = s"$root/cat"; val ckpt = s"$root/ckpt"
    Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("id", "lang", "n").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def run(): Unit = graft.streaming.TableStreams.catalogSink(
      spark.readStream.schema(schema).parquet(in), cat, ckpt,
      Map(
        "counts" -> ((s"$root/counts", (b: org.apache.spark.sql.DataFrame) =>
          b.groupBy("lang").agg(count(lit(1)).as("c")))),
        "sums" -> ((s"$root/sums", (b: org.apache.spark.sql.DataFrame) =>
          b.groupBy("lang").agg(sum("n").as("s"))))))
    run()
    val v1 = Layout.catalogVersion(spark, cat)
    assert(v1 >= 1L)
    def totals(): (Long, Long) = (
      Layout.catalogRead(spark, cat, "counts")
        .agg(sum("c")).as[Long].head(),
      Layout.catalogRead(spark, cat, "sums")
        .agg(sum("s")).as[Long].head())
    assert(totals() == ((3L, 60L)))
    // simulate a crash-replay: wipe the CHECKPOINT (batch ids restart
    // at 0) but keep the catalog — the note embedded in each committed
    // version must suppress every re-delivered batch
    def rmAll(dir: String): Unit = {
      val f = new java.io.File(dir)
      if (f.isDirectory) f.listFiles().foreach(c => rmAll(c.getPath))
      f.delete(); ()
    }
    rmAll(ckpt)
    run()
    assert(Layout.catalogVersion(spark, cat) == v1,
      "replayed batches must not mint new catalog versions")
    assert(totals() == ((3L, 60L)), "replay must not double-apply")
  }
test("catalog SQL surface: format(snapshot) resolves catalog/table/version") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_catsql").toString
    val aDir = s"$root/a"; val cat = s"$root/cat"
    Layout.snapshotWrite(Seq((1L, 10L)).toDF("k", "v"), aDir)
    val v1 = Layout.catalogCommitCurrent(spark, cat, Map("a" -> aDir))
    Layout.snapshotAppend(Seq((2L, 20L)).toDF("k", "v"), aDir)
    Layout.catalogCommitCurrent(spark, cat, Map("a" -> aDir))
    def rd(opts: (String, String)*) = {
      val r = spark.read.format("snapshot")
      opts.foreach { case (k, vv) => r.option(k, vv) }
      r.load()
    }
    assert(rd("catalog" -> cat, "table" -> "a").count() == 2)
    assert(rd("catalog" -> cat, "table" -> "a",
      "catalogVersion" -> v1.toString).count() == 1)
    // the catalog is the time-travel authority: per-table options refused
    val e1 = intercept[IllegalArgumentException](
      rd("catalog" -> cat, "table" -> "a", "snapshotId" -> "1"))
    assert(e1.getMessage.contains("catalog"))
    val e2 = intercept[IllegalArgumentException](
      rd("catalog" -> cat, "table" -> "nope"))
    assert(e2.getMessage.contains("not in catalog"))
    // metadata tables compose: .files at the version-pinned snapshot
    assert(rd("catalog" -> cat, "table" -> "a",
      "catalogVersion" -> v1.toString, "metadata" -> "files").count() >= 1)
  }
}
