package graft.queries

import graft.Tables
import graft.operators.{Layout => L}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout family: the operators that decide how 100 TB sits on
  * disk (z-order clustering, bucketed tables) — verified through the
  * same oracle gate as the query operators. The z-value math is exact
  * cross-engine arithmetic; the layout side effects (file clustering,
  * shuffle-free joins) are pinned by LayoutSpec/PlanSpec.
  */
object Layout {

  private val ZBits = 16
  // 2024-01-01T00:00:00Z — the events table's epoch
  private val Epoch = 1704067200L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Named refs (q284): tag snapshot 1 as "v1", then append, compact,
    // and run AGGRESSIVE retention (expire everything but the last +
    // vacuum keep=1) — the tag pins the snapshot through both, and the
    // SQL surface reads it back by name via .option("ref", "v1"). The
    // oracle is the v1 content recomputed from the source table: if
    // the pin leaked anywhere (expire dropped the manifest, vacuum
    // swept a data file, the ref resolved to the wrong id), the read
    // errors or hash-mismatches.
    // CATALOG-WIDE retention (q358, r14): three published catalog
    // versions, each pinning a different snapshot of the same table
    // (doc_id % 4 ≤ k−1 per version k), then ONE retention pass keeps
    // the last two versions and expires everything they don't
    // reference (age horizon = everything). The query then reads the
    // OLDEST RETAINED version through the catalog — retention must
    // leave every retained version byte-complete (the v1 json and the
    // snapshot only IT pinned are gone; v2's snapshot survived the
    // expiry sweep because the catalog pinned it). The oracle
    // recomputes v2's content and the retention counts relationally;
    // LayoutSpec additionally proves the dropped version refuses to
    // read and the pinned files all survive on disk.
    "q358_catalog_retention" -> { (s, d) =>
      val root = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/catret")
      val aDir = s"$root/docs"; val cat = s"$root/cat"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
      (1 to 3).foreach { k =>
        L.snapshotWrite(docs.filter(col("doc_id") % 4 <= k - 1), aDir)
        L.catalogCommitCurrent(s, cat, Map("docs" -> aDir))
      }
      val (vDropped, snapExpired, _) =
        L.catalogRetention(s, cat, keepVersions = 2)
      L.catalogRead(s, cat, "docs", version = 2)
        .withColumn("versions_dropped", lit(vDropped))
        .withColumn("snapshots_expired", lit(snapExpired))
        .withColumn("latest_version",
          lit(L.catalogVersion(s, cat)).cast("long"))
    },

    // Catalog SQL surface (q335, r12): q333's two-table publish read
    // back through the pure `format("snapshot")` reader with
    // catalog/table/catalogVersion options — the catalog version pins
    // each table's dir AND snapshot, so cross-table consistency holds
    // without any programmatic API. Reads v1 and latest side by side;
    // the oracle recomputes both relationally.
    "q335_catalog_sql" -> { (s, d) =>
      val root = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/catsql")
      val aDir = s"$root/tbl_a"; val bDir = s"$root/tbl_b"
      val cat = s"$root/cat"
      val cust = Tables.customer(s, d)
      L.snapshotWrite(cust.groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("cnt")), aDir)
      L.snapshotWrite(Tables.orders(s, d)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"))
        .agg(sum("o_totalprice").as("total")), bDir)
      val v1 = L.catalogCommitCurrent(s, cat, Map("a" -> aDir, "b" -> bDir))
      val supp = Tables.supplier(s, d)
      L.snapshotAppend(supp.groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("cnt")), aDir)
      L.snapshotAppend(supp.groupBy(col("s_nationkey").as("nation"))
        .agg(sum("s_acctbal").as("total")), bDir)
      L.catalogCommitCurrent(s, cat, Map("a" -> aDir, "b" -> bDir))
      def rd(table: String, ver: Long = -1L) = {
        val r = s.read.format("snapshot")
          .option("catalog", cat).option("table", table)
        (if (ver >= 0) r.option("catalogVersion", ver) else r).load()
      }
      def agg(df: DataFrame, v: String, c: String) =
        df.groupBy("nation").agg(sum(c).as(v))
      agg(rd("a", v1), "cnt_v1", "cnt")
        .join(agg(rd("a"), "cnt_latest", "cnt"), "nation")
        .join(agg(rd("b", v1), "total_v1", "total"), "nation")
        .join(agg(rd("b"), "total_latest", "total"), "nation")
        .select(col("nation"), col("cnt_v1"), col("cnt_latest"),
          round(col("total_v1"), 2).as("total_v1"),
          round(col("total_latest"), 2).as("total_latest"))
    },

    // Streaming multi-table publish (q334, r12): the corpus arrives as
    // a file stream; each micro-batch fans out into two derived tables
    // (per-lang partial aggregates + long-doc partial counts), both
    // appended and pinned by ONE catalogCommit whose note IS the
    // replay marker (commit and marker are one atomic rename). The
    // result reads both tables through the catalog and re-aggregates
    // the additive partials — the oracle recomputes everything from
    // the source corpus, so a dropped batch, a torn publish, or a
    // double-applied replay all hash-mismatch.
    "q334_catalog_sink" -> { (s, d) =>
      val base = Fixtures.fresh(
        s"/tmp/graft_stream/${new java.io.File(d).getName}_catsink")
      val in = s"$base/in"
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "n_chars")
      docs.write.mode("overwrite").parquet(in)
      graft.streaming.TableStreams.catalogSink(
        s.readStream.schema(docs.schema).parquet(in),
        s"$base/cat", s"$base/ckpt",
        Map(
          "bylang" -> ((s"$base/bylang", (b: DataFrame) =>
            b.groupBy("lang").agg(count(lit(1)).as("n"),
              sum("n_chars").as("chars")))),
          "longdocs" -> ((s"$base/longdocs", (b: DataFrame) =>
            b.filter(col("n_chars") > 100).groupBy("lang")
              .agg(count(lit(1)).as("n_long"))))))
      val a = L.catalogRead(s, s"$base/cat", "bylang")
        .groupBy("lang").agg(sum("n").as("n_docs"),
          sum("chars").as("sum_chars"))
      val b = L.catalogRead(s, s"$base/cat", "longdocs")
        .groupBy("lang").agg(sum("n_long").as("n_long"))
      a.join(b, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          coalesce(col("n_long"), lit(0L)).as("n_long"))
    },

    // Multi-table atomic catalog (q333, r12): two derived tables
    // published together under versioned catalog commits. v1 pins the
    // base aggregates, v2 pins both tables' appended batch in ONE
    // commit, and a third table-level append that NO catalog version
    // publishes must stay invisible to every catalog reader — the
    // oracle recomputes both versions relationally, so a leak of the
    // unpublished append (or a torn cross-table view) hash-mismatches.
    "q333_catalog_txn" -> { (s, d) =>
      val root = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/catalog")
      val aDir = s"$root/tbl_a"; val bDir = s"$root/tbl_b"
      val cat = s"$root/cat"
      val cust = Tables.customer(s, d)
      L.snapshotWrite(cust.groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("cnt")), aDir)
      L.snapshotWrite(Tables.orders(s, d)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"))
        .agg(sum("o_totalprice").as("total")), bDir)
      val v1 = L.catalogCommitCurrent(s, cat, Map("a" -> aDir, "b" -> bDir))
      val supp = Tables.supplier(s, d)
      L.snapshotAppend(supp.groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("cnt")), aDir)
      L.snapshotAppend(supp.groupBy(col("s_nationkey").as("nation"))
        .agg(sum("s_acctbal").as("total")), bDir)
      val v2 = L.catalogCommitCurrent(s, cat, Map("a" -> aDir, "b" -> bDir))
      // landed but never published: invisible through the catalog
      L.snapshotAppend(cust.select(col("c_nationkey").as("nation"))
        .distinct().withColumn("cnt", lit(999L)), aDir)
      def agg(df: DataFrame, v: String, c: String) =
        df.groupBy("nation").agg(sum(c).as(v))
      agg(L.catalogRead(s, cat, "a", v1), "cnt_v1", "cnt")
        .join(agg(L.catalogRead(s, cat, "a", v2), "cnt_v2", "cnt"), "nation")
        .join(agg(L.catalogRead(s, cat, "b", v1), "total_v1", "total"), "nation")
        .join(agg(L.catalogRead(s, cat, "b", v2), "total_v2", "total"), "nation")
        .select(col("nation"), col("cnt_v1"), col("cnt_v2"),
          round(col("total_v1"), 2).as("total_v1"),
          round(col("total_v2"), 2).as("total_v2"))
    },

    "q284_snapshot_ref" -> { (s, d) =>
      val base = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/reftbl")
      val docs = Tables.documents(s, d)
      L.snapshotWrite(docs.select("doc_id", "text", "lang"), base)
      L.createTag(s, base, "v1")
      L.snapshotAppend(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("text"), col("lang")), base)
      L.compactSnapshot(s, base, 64L << 20)
      L.expireSnapshots(s, base,
        System.currentTimeMillis() + 10000L, keepLast = 1)
      L.vacuum(s, base, keep = 1)
      s.read.format("snapshot").option("path", base)
        .option("ref", "v1").load()
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"))
    },

    // Metadata tables (q291): the .refs inspection surface — tag v1,
    // branch at 1 then fast-forward to the current commit, and read
    // the ref table back through SQL (`option("metadata", "refs")`).
    // The oracle is the literal expected pointer table: if creation,
    // fast-forward versioning, or max-version resolution drifted, the
    // rows differ.
    "q291_refs_meta" -> { (s, d) =>
      val base = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/refsmeta")
      val docs = Tables.documents(s, d).select("doc_id", "text")
      L.snapshotWrite(docs, base)
      L.snapshotAppend(docs.filter(col("doc_id") % 2 === 0), base)
      L.createTag(s, base, "v1", 1L)
      L.createBranch(s, base, "audit", 1L)
      L.fastForward(s, base, "audit")
      s.read.format("snapshot").option("path", base)
        .option("metadata", "refs").load()
    },

    // Key-enforced append (q297): table holds doc_id < 400; the
    // incoming batch overlaps it (>= 300) and carries planted
    // intra-batch duplicates (%50 == 0 ids appear twice). Fresh keys
    // append, every collision and every beyond-first batch copy lands
    // in quarantine; the oracle recomputes both sides from the same
    // predicates.
    "q297_unique_append" -> { (s, d) =>
      val base = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/uniq")
      val qdir = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/uniq_q")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      L.snapshotWrite(docs.filter(col("doc_id") < 400), base)
      val batch = docs.filter(col("doc_id") >= 300)
        .unionAll(docs.filter(col("doc_id") % 50 === 0))
      L.snapshotAppendUnique(batch, base, qdir, Seq("doc_id"))
      L.snapshotRead(s, base).withColumn("side", lit("table"))
        .unionByName(
          L.snapshotRead(s, qdir).withColumn("side", lit("quarantine")))
    },

    // Morton z-value over (user_id, minutes-since-epoch), the clustering
    // key zorderWrite lays files out by. Pure shift/mask arithmetic in
    // one codegen'd projection — the oracle replays it bit for bit.
    "q126_zorder_key" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val minutes = floor((unix_timestamp(col("ts")) - Epoch) / 60).cast("long")
      ev.select(col("event_id"),
        L.zValue(Seq((col("user_id"), ZBits), (minutes, ZBits))).as("zkey"))
    },

    // Bucketed fact⋈dim: both sides written bucketBy(custkey) once, the
    // join itself exchange-free (LayoutSpec pins the plan). Result is
    // plain SQL — the layout changes the plan, never the answer.
    "q127_bucketed_join" -> { (s, d) =>
      L.bucketWrite(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "graft_bkt_orders", "o_custkey", 8)
      L.bucketWrite(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        "graft_bkt_customer", "c_custkey", 8)
      s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },

    // Small-file compaction (q138): fragment the corpus into 64 tiny
    // files (a streaming sink's aftermath), compact back to a handful
    // with the narrow coalesce pass, read the compacted table and hash
    // every row — maintenance must never change content. LayoutSpec
    // asserts the file-count arithmetic.
    "q138_compaction" -> { (s, d) =>
      val base = s"/tmp/graft_io/${new java.io.File(d).getName}/compact"
      Tables.documents(s, d).select("doc_id", "text", "n_chars")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$base/small")
      L.compact(s, s"$base/small", targetBytes = 8L << 20, s"$base/out")
      s.read.parquet(s"$base/out")
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Hive-partitioned layout (q142): write documents into lang=…/
    // directories, read back through a partition-column filter. The
    // filter prunes DIRECTORIES at planning time (LayoutSpec pins
    // PartitionFilters on the scan and asserts only the lang=en
    // directory's files are read); the oracle proves the surviving
    // content is exactly the WHERE lang='en' rows.
    "q142_partitioned_prune" -> { (s, d) =>
      val base = s"/tmp/graft_io/${new java.io.File(d).getName}/bylang"
      L.partitionedWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang"), Seq("lang"), base)
      s.read.parquet(base)
        .filter(col("lang") === "en")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // Manifest snapshots (q161): two snapshot writes to the same table
    // dir — v1's data files remain on disk (no vacuum), yet the reader
    // resolves the latest manifest and sees ONLY v2 (half the docs,
    // uppercased lang). The oracle pins the v2 content; LayoutSpec pins
    // time travel (snapshot 1 still readable) and orphan invisibility.
    "q161_snapshot_manifest" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snaptbl")
      val docs = Tables.documents(s, d)
      L.snapshotWrite(docs.select("doc_id", "text", "lang"), base)
      L.snapshotWrite(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), upper(col("lang")).as("lang")),
        base)
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"))
    },

    // Time travel under the oracle (q165): after the q161-style double
    // write, a reader PINNED to snapshot 1 sees the complete original
    // corpus — byte-for-byte — even though the table's latest state is
    // the halved v2. (q161 pins the latest-read; this pins the pinned
    // read through the same hash gate.)
    // Snapshot diff / CDC (q182): v2 deletes every doc_id % 3 == 0,
    // rewrites text for surviving % 5 == 0, inserts shifted copies for
    // % 7 == 0 — the diff must label exactly those keys. The oracle
    // derives the change set arithmetically, so the full-outer
    // hash-compare join (and the snapshot machinery under it) is what
    // is being proven.
    "q182_snapshot_diff" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapdiff")
      val docs = Tables.documents(s, d)
      L.snapshotWrite(docs.select("doc_id", "text", "lang"), base)
      val v2 = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit("!")))
            .otherwise(col("text")).as("text"),
          col("lang"))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"),
            col("lang")))
      L.snapshotWrite(v2, base)
      L.snapshotDiff(s, base, 1L, 2L, "doc_id")
        .select(col("key").as("doc_id"), col("change_type"))
    },

    "q165_snapshot_time_travel" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snaptbl2")
      val docs = Tables.documents(s, d)
      L.snapshotWrite(docs.select("doc_id", "text", "lang"), base)
      L.snapshotWrite(docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang"), base)
      L.snapshotRead(s, base, snapshotId = 1L)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"))
    },

    // Range-sorted layout (q146): linearWrite clusters the corpus on
    // n_chars (range exchange → contiguous, partition-locally sorted
    // files), then a band filter reads it back. Parquet min/max stats
    // per file/row-group are TIGHT on the sort column, so the scan
    // skips every file outside the band (LayoutSpec asserts the
    // per-file ranges are pairwise disjoint — the property pruning
    // relies on); the oracle proves the band's content exactly.
    "q146_sorted_layout" -> { (s, d) =>
      val base = s"/tmp/graft_io/${new java.io.File(d).getName}/bychars"
      L.linearWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars"), "n_chars", base, numFiles = 8)
      s.read.parquet(base)
        .filter(col("n_chars").between(150, 350))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Stats-pruned snapshot read (q222): snapshotWrite records per-file
    // n_chars min/max in the manifest (the table clustered on n_chars so
    // ranges are tight), then a BETWEEN read prunes files at PLANNING
    // time — no footer opened, no task — before the row filter lands.
    // The oracle pins the band's exact content; LayoutSpec pins that
    // only stats-surviving files open.
    "q222_stats_pruned_read" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapstats")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars")
        .repartitionByRange(8, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars"))
      L.snapshotRead(s, base,
        prune = Some(L.StatPred.Between("n_chars", 150L, 350L)))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Row-level delete on a snapshot table (q223): deleteWhere commits
    // a new manifest that reuses every stats-untouched file verbatim and
    // rewrites only the files that may hold matching rows. The oracle is
    // the NOT-matching corpus — full-table hash equality proves the
    // delete dropped exactly the predicate rows; LayoutSpec pins the
    // no-rewrite-amplification property (untouched files byte-identical)
    // and pre-delete time travel.
    "q223_snapshot_delete" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapdel")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang")
        .repartitionByRange(8, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars"))
      L.deleteWhere(s, base, L.StatPred.And(Seq(
        L.StatPred.Between("n_chars", 150L, 350L),
        L.StatPred.In("lang", Seq("en", "de")))))
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // Z-order + manifest stats (q230): the two layout levers composed —
    // files clustered along the (doc_id, n_chars) Morton curve, so the
    // manifest's per-file min/max are tight on BOTH dimensions at once,
    // and a conjunctive two-band predicate prunes files at planning
    // time on either dim (LayoutSpec pins both single-dim prunes; a
    // linear sort can only serve one). The oracle is the plain
    // two-band WHERE.
    "q230_zorder_pruned_read" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapz")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
        .withColumn("_z", L.zValue(Seq((col("doc_id"), 16),
          (col("n_chars"), 16))))
        .repartitionByRange(8, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
      L.snapshotWrite(docs, base, statsCols = Seq("doc_id", "n_chars"))
      L.snapshotRead(s, base, prune = Some(L.StatPred.And(Seq(
        L.StatPred.Between("doc_id", 100L, 300L),
        L.StatPred.Between("n_chars", 150L, 350L)))))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Column-filter pushdown (q231): the natural Spark API over the
    // stats machinery — ONE plain Column filter drives both tiers
    // (toStatPred compiles the prunable part for planning-time file
    // pruning; the full filter applies row-level). The predicate mixes
    // a band, an IN list, and a non-compilable md5 gate: pruning must
    // stay sound under partial compilation, and the oracle pins the
    // exact surviving rows.
    "q231_pushdown_read" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snappush")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang")
        .repartitionByRange(8, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars", "lang"))
      L.snapshotReadWhere(s, base,
        col("n_chars").between(150, 350) &&
          col("lang").isin("en", "de") &&
          substring(md5(col("doc_id").cast("string")), 1, 1) =!= "f")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // TIMESTAMP stats pruning (q241): events time-clustered into a
    // snapshot with ts min/max in the manifest, then a one-week band
    // read prunes files at planning time — the time-travel-queries-
    // on-event-data shape. Timestamp stats render via cast-to-string
    // (no trailing '.0') while predicate literals are
    // java.sql.Timestamp: the epoch-micros normalization in cmp() is
    // exactly what this row keeps honest.
    "q241_ts_stats_pruned" -> { (s, d) =>
      val base = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/snapts")
      L.snapshotWrite(Tables.events(s, d)
        .select("event_id", "ts", "user_id", "value")
        .repartitionByRange(8, col("ts"))
        .sortWithinPartitions("ts"),
        base, statsCols = Seq("ts"))
      L.snapshotRead(s, base, prune = Some(L.StatPred.Between("ts",
        java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-17 00:00:00"))))
        .select(col("event_id"), col("ts"), col("user_id"),
          round(col("value"), 2).as("value"))
    },

    // Manifest BLOOM pruning (q243): the equality complement to q222's
    // range stats — the table is hash-scattered on doc_id (every
    // file's [min,max] spans the whole domain, so range stats prune
    // NOTHING), yet a point lookup opens only the file(s) whose
    // manifest bloom might contain the key. The probe key is derived
    // arithmetically (max/2 rounded down to an existing id) so the
    // oracle replays it exactly; LayoutSpec pins the files-opened
    // count and the zero-false-negative property.
    "q243_bloom_pruned_read" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapbloom")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      // hash-scatter: clustering by anything BUT doc_id makes range
      // stats useless on it — the bloom is the only pruner
      L.snapshotWrite(docs.repartition(8, md5(col("text"))),
        base, statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      // explicit floor: DuckDB ROUNDS double→BIGINT casts while Spark
      // truncates — floor() agrees on both engines
      val half = docs.agg(floor(max(col("doc_id")) / 2)).head().getLong(0)
      val probe = docs.filter(col("doc_id") <= half)
        .agg(max(col("doc_id"))).head().getLong(0)
      L.snapshotRead(s, base, prune = Some(L.StatPred.Eq("doc_id", probe)))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Metadata-only min/max (q252): the table-wide extremes and row
    // count answered from the MANIFEST alone — zero data files opened,
    // zero tasks (snapshotCount's sibling for extremes; exact because
    // numeric stats are never truncated). The oracle computes the same
    // aggregates the hard way.
    "q252_metadata_minmax" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapmeta")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "n_chars").repartition(8), base,
        statsCols = Seq("n_chars"))
      L.snapshotMinMax(s, base, "n_chars")
    },

    // OPTIMIZE clustering rewrite (q251): a fragmented table (eight
    // hash-scattered appends — every file's n_chars range spans the
    // whole domain) re-laid-out by optimizeClustered; content must
    // hash unchanged, and LayoutSpec pins that a band prune which kept
    // ALL files before the rewrite keeps a strict minority after.
    "q251_optimize_rewrite" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapopt")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      (0L to 3L).foreach { m =>
        L.snapshotAppend(docs.filter(col("doc_id") % 4 === m)
          .repartition(2, md5(col("text"))), base,
          statsCols = Seq("n_chars"))
      }
      L.optimizeClustered(s, base, Seq("n_chars"))
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Composite three-tier prune (q263): z-order stats bands on BOTH
    // curve dimensions AND a bloom equality on a third, hash-scattered
    // column, in ONE conjunctive predicate — every pruning tier the
    // manifest carries composes in a single planning pass. The probe
    // doc and its tag derive arithmetically, so the oracle replays the
    // exact lookup.
    "q263_composite_prune" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapz3")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
        .withColumn("tag", substring(md5(col("text")), 1, 12))
      val clustered = docs
        .withColumn("_z", L.zValue(Seq((col("doc_id"), 16),
          (col("n_chars"), 16))))
        .repartitionByRange(8, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
      L.snapshotWrite(clustered, base,
        statsCols = Seq("doc_id", "n_chars"), bloomCols = Seq("tag"))
      val half = docs.agg(floor(max(col("doc_id")) / 2)).head().getLong(0)
      val probe = docs.filter(col("doc_id") <= half)
        .agg(max(col("doc_id"))).head().getLong(0)
      val tag = docs.filter(col("doc_id") === probe)
        .select("tag").head().getString(0)
      L.snapshotRead(s, base, prune = Some(L.StatPred.And(Seq(
        L.StatPred.Between("doc_id", probe - 50, probe + 50),
        L.StatPred.Between("n_chars", 1L, 100000L),
        L.StatPred.Eq("tag", tag)))))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // MERGE INTO (q244): one CDC batch — updates (%10==3, text+'!'),
    // inserts (re-keyed %13==0), delete markers (%10==7) — applied in
    // ONE snapshot commit through the stats-bounded rewrite. The oracle
    // recomputes the post-merge table arithmetically, so hash equality
    // proves the three-way semantics (replace / insert / drop, with
    // extra CDC marker columns stripped); LayoutSpec pins the
    // no-rewrite-amplification side.
    "q244_merge_into" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapmerge")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars", "lang")
      L.snapshotWrite(docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"), base, statsCols = Seq("doc_id"))
      val updates = docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), concat(col("text"), lit("!")).as("text"),
          (col("n_chars") + 1).as("n_chars"), col("lang"),
          lit("U").as("_op"))
      val ins = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          col("n_chars"), col("lang"), lit("I").as("_op"))
      val dels = docs.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"), col("n_chars"), col("lang"),
          lit("D").as("_op"))
      L.mergeInto(s, base, updates.unionByName(ins).unionByName(dels),
        Seq("doc_id"), deleteWhen = Some(col("_op") === "D"))
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // Incremental append commits (q227): the ingestion write mode —
    // three per-batch appends, each committing prior files verbatim
    // plus the new batch (no byte of existing data rewritten; LayoutSpec
    // pins entry reuse). The oracle is the whole corpus: appends must
    // compose to exactly the union.
    "q227_snapshot_append" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapapp")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      (0L to 2L).foreach { m =>
        L.snapshotAppend(docs.filter(col("doc_id") % 3 === m), base,
          statsCols = Seq("n_chars"))
      }
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Snapshot compaction (q228): many per-batch append files rewritten
    // into a handful under a NEW committed snapshot — pure maintenance
    // (the oracle pins content unchanged), stats re-collected so pruned
    // reads survive, pre-compact snapshot time-travelable until vacuum.
    "q228_snapshot_compact" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapcomp")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      (0L to 7L).foreach { m =>
        L.snapshotAppend(docs.filter(col("doc_id") % 8 === m)
          .repartition(4), base, statsCols = Seq("n_chars"))
      }
      L.compactSnapshot(s, base, targetBytes = 64L << 20)
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Incremental table consumption (q245): the CONSUMER mirror of the
    // q229 sink — three append commits tailed through the checkpointed
    // offset loop, each snapshot's added rows handed over exactly once
    // in commit order (two manifest reads per step, no data diffed).
    // The accumulated feed must equal the whole corpus; LayoutSpec pins
    // resumability (a second consume processes ONLY what committed
    // since) and the replay window.
    "q245_incremental_consume" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapinc")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      (0L to 2L).foreach { m =>
        L.snapshotAppend(docs.filter(col("doc_id") % 3 === m), base,
          statsCols = Seq("n_chars"))
      }
      val acc = s"$base/_consumed"
      graft.streaming.TableStreams.consumeSnapshots(s, base, s"$base/_ckpt") {
        (delta, _) => delta.write.mode("append").parquet(acc)
      }
      s.read.parquet(acc)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Incrementally-maintained view over the table feed (q249): the
    // q245 consumption loop COMPOSED with q186's delta algebra — each
    // consumed snapshot folds into a per-source (count, sum) view in
    // O(|delta|), never a recompute. The oracle recomputes the view
    // from the whole corpus, so equality proves the fold chain (three
    // folds at sf gen: empty view → batch-0 → +batch-1 → +batch-2).
    "q249_incremental_mv" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapmv")
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      (0L to 2L).foreach { m =>
        L.snapshotAppend(docs.filter(col("doc_id") % 3 === m), base)
      }
      var view = docs.limit(0).groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total"))
      graft.streaming.TableStreams.consumeSnapshots(s, base, s"$base/_ckpt") {
        (delta, _) =>
          val changes = delta.select(lit("I").as("op"), col("source"),
            lit(null).cast("long").as("v_old"), col("n_chars").as("v_new"))
          view = L.deltaAggMaintain(view, changes,
            "source", "op", "v_old", "v_new").localCheckpoint()
      }
      view
    },

    // Write-time CHECK constraints (q260): the ingestion quality gate —
    // three named checks (short text, unknown lang, oversize) split
    // the batch; passing rows land in the table, failing rows in the
    // quarantine with their violation list. The main table must hash
    // to exactly the conjunction corpus; q261 pins the quarantine side
    // (nothing silently dropped).
    "q260_checked_append" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapchk")
      L.snapshotAppendChecked(
        Tables.documents(s, d).select("doc_id", "text", "n_chars", "lang"),
        s"$base/main", s"$base/quarantine",
        checks = Seq(
          ("min_len", col("n_chars") >= 120),
          ("lang_known", col("lang").isin("en", "de", "fr", "es")),
          ("max_len", col("n_chars") <= 460)))
      L.snapshotRead(s, s"$base/main")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // Quarantine audit (q261): the rejected rows carry their SORTED
    // violation lists — the queryable dead-letter table; the oracle
    // rebuilds each row's violation set arithmetically.
    "q261_quarantine_audit" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapchk2")
      L.snapshotAppendChecked(
        Tables.documents(s, d).select("doc_id", "text", "n_chars", "lang"),
        s"$base/main", s"$base/quarantine",
        checks = Seq(
          ("min_len", col("n_chars") >= 120),
          ("lang_known", col("lang").isin("en", "de", "fr", "es")),
          ("max_len", col("n_chars") <= 460)))
      L.snapshotRead(s, s"$base/quarantine")
        .select(col("doc_id"), col("n_chars"), col("lang"),
          concat_ws(",", col("_violations")).as("violations"))
    },

    // Incremental mean/variance maintenance (q262): q186's delta
    // algebra extended to second moments — (n, Σx, Σx²) maintained
    // under the same I/U/D change set in O(|changes|), variance
    // derived from the sufficient statistics. The oracle RECOMPUTES
    // (n, mean, var) from the post-change corpus with the same
    // moment formula, so equality proves the incremental algebra.
    "q262_incremental_stats" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val x = col("n_chars").cast("double")
      val prev = docs.groupBy("source").agg(
        count(lit(1)).as("n"), sum(x).as("s"), sum(x * x).as("ss"))
      val dels = docs.filter(col("doc_id") % 10 === 0)
        .select(lit("D").as("op"), col("source"),
          col("n_chars").as("v_old"), lit(null).cast("long").as("v_new"))
      val upds = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0)
        .select(lit("U").as("op"), col("source"),
          col("n_chars").as("v_old"), (col("n_chars") + 5).as("v_new"))
      val ins = docs.filter(col("doc_id") % 9 === 0)
        .select(lit("I").as("op"), col("source"),
          lit(null).cast("long").as("v_old"),
          (pmod(col("doc_id"), lit(400)) + 60).as("v_new"))
      graft.operators.Layout.momentsView(
        graft.operators.Layout.deltaStatsMaintain(prev,
          dels.unionByName(upds).unionByName(ins),
          "source", "op", "v_old", "v_new"), "source")
    },

    // Medallion bronze→silver pipeline (q254): the full incremental
    // table-to-table path — bronze ingested in three append commits,
    // tailed by the checkpointed consumer, each delta TRANSFORMED
    // (lang gate + derived column) and committed to the silver table
    // as its own atomic append. Exactly-once downstream materializes
    // as "silver == transform(bronze)" — the oracle recomputes silver
    // from scratch, so duplicated or dropped deltas break the hash.
    "q254_medallion_pipeline" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapmedal")
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang")
      val bronze = s"$base/bronze"
      val silver = s"$base/silver"
      (0L to 2L).foreach { m =>
        L.snapshotAppend(docs.filter(col("doc_id") % 3 === m), bronze)
      }
      graft.streaming.TableStreams.consumeSnapshots(s, bronze, s"$base/_ckpt") {
        (delta, _) =>
          L.snapshotAppend(delta.filter(col("lang").isin("en", "de"))
            .select(col("doc_id"), md5(col("text")).as("text_md5"),
              floor(col("n_chars") / 100).cast("int").as("len_bucket"),
              col("lang")), silver)
      }
      L.snapshotRead(s, silver)
    },

    // Streaming snapshot sink (q229): micro-batches committed as atomic
    // table snapshots (one snapshotAppend per batch through
    // writeStream.format("snapshot"), idempotent under replay via batch
    // markers) — the Delta-style streaming table-ingestion path on the
    // engine's own manifest primitive. The oracle is the staged corpus:
    // the drained table must hold exactly what the stream carried.
    "q229_stream_snapshot_sink" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_stream/${new java.io.File(d).getName}_snapsink")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      docs.repartition(4).write.mode("overwrite").parquet(s"$base/in")
      graft.streaming.TableStreams.snapshotSink(
        s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in"),
        s"$base/tbl", s"$base/ckpt", statsCols = Seq("n_chars"))
      L.snapshotRead(s, s"$base/tbl")
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_chars"))
    },

    // Incremental view maintenance (q186): the per-source (count, sum)
    // view maintained from a CDC change feed (deletes every 10th doc,
    // updates every kept 7th, inserts re-keyed 9ths) in O(|changes|) —
    // Registered-table SQL over the snapshot format (q264): the
    // reference's own lifecycle — register a table, run arbitrary SQL
    // (SQLQueryFastq.java:99) — reaching the engine's storage layer.
    // The `snapshot` relation provider resolves the manifest and its
    // FileIndex compiles the WHERE's data filters through toStatPred,
    // so the plain SQL below prunes files at planning time exactly like
    // snapshotReadWhere (SnapshotSqlSpec pins the kept-file equality);
    // the oracle pins the band's exact content. The predicate mixes a
    // compilable band + IN with a non-compilable md5 gate, so partial
    // compilation soundness is under the oracle too.
    "q264_snapshot_sql" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapsql")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang")
        .repartitionByRange(8, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars", "lang"))
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_snap_sql " +
        s"USING snapshot OPTIONS (path '$base')")
      s.sql("""SELECT doc_id, md5(text) AS text_md5, n_chars, lang
              FROM graft_snap_sql
              WHERE n_chars BETWEEN 150 AND 350
                AND lang IN ('en', 'de')
                AND substring(md5(CAST(doc_id AS STRING)), 1, 1) != 'f'""")
    },

    // Field-id schema evolution (q265): half the corpus lands under the
    // OLD column name `body`, the column is renamed to `text` (a
    // metadata-only commit — zero files rewritten), the other half
    // appends under the new name, and one pruned read serves BOTH eras:
    // pre-rename files resolve `text` by field id, the n_chars band
    // translates per file to the names its stats were recorded under.
    // The oracle is the plain band over the whole corpus — equality
    // proves rename never forked the column.
    "q265_rename_evolution" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapevo")
      val docs = Tables.documents(s, d)
      L.snapshotWrite(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text").as("body"), col("n_chars"))
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars"))
      L.renameColumn(s, base, "body", "text")
      L.snapshotAppend(docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("n_chars"))
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"), base)
      L.snapshotReadWhere(s, base, col("n_chars").between(150, 350))
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"))
    },

    // DataFrameWriter lifecycle (q266): the WRITER half of the format
    // provider — half the corpus lands via mode("overwrite"), the rest
    // via mode("append") (stats contract inherited, prior files reused
    // verbatim), then a registered view serves the pruning SQL read.
    // The full write→register→query loop never touches the Scala
    // Layout API; equality with the plain band proves the sink commits
    // exactly the manifest protocol.
    "q266_snapshot_writer" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapwrite")
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "n_chars")
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars")
        .write.format("snapshot").option("path", base)
        .option("statsCols", "n_chars").mode("overwrite").save()
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "n_chars")
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars")
        .write.format("snapshot").option("path", base)
        .mode("append").save()
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_snap_writer " +
        s"USING snapshot OPTIONS (path '$base')")
      s.sql("""SELECT doc_id, md5(text) AS text_md5, n_chars
              FROM graft_snap_writer
              WHERE n_chars BETWEEN 150 AND 350""")
    },

    // Metadata-only aggregates (q267): plain SQL count/min/max over a
    // registered snapshot view answered from MANIFEST stats — the
    // optimizer rule rewrites the whole aggregate to a planning-time
    // constant (SnapshotSqlSpec pins zero scans in the plan). On a
    // 100 TB table this is one manifest read vs a full scan job. The
    // oracle recomputes the same aggregates the honest way.
    "q267_metadata_agg" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapmeta")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars")
        .repartitionByRange(6, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars", "doc_id"))
      graft.plans.SnapshotMetadataAggregates.enable(s)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_snap_meta " +
        s"USING snapshot OPTIONS (path '$base')")
      s.sql("""SELECT count(*) AS n_rows,
                      CAST(min(n_chars) AS BIGINT) AS min_n_chars,
                      CAST(max(n_chars) AS BIGINT) AS max_n_chars,
                      min(doc_id) AS min_doc_id,
                      max(doc_id) AS max_doc_id
               FROM graft_snap_meta""")
    },

    // Metadata-only SUM (q318): q267's missing aggregate — global
    // SUM over a registered snapshot view answered from the EXACT
    // per-file sums the stats pass records (decimal-accumulated, so
    // overflow-free at write; the rule bails to the scan if the total
    // leaves the long domain). The oracle recomputes honestly.
    "q318_metadata_sum" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapsum")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars")
        .repartitionByRange(6, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars", "doc_id"))
      graft.plans.SnapshotMetadataAggregates.enable(s)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_snap_sum " +
        s"USING snapshot OPTIONS (path '$base')")
      s.sql("""SELECT CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
                      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
                      count(*) AS n_rows
               FROM graft_snap_sum""")
    },

    // Merge-on-read deletes (q268): two accumulated position-delete
    // commits — an n_chars band, then an OVERLAPPING band (disjoint
    // marking: already-deleted rows are not re-marked) — with zero
    // data files rewritten; the read anti-joins the position index
    // back out. The oracle replays the set arithmetic directly.
    // Deleting 0.1% of a 100 TB table costs an index write, not a
    // 100 TB rewrite — this is the operator that makes deletes
    // affordable at scale.
    "q268_mor_delete" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapmor")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars")
        .repartitionByRange(6, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars"))
      L.deleteWhereMoR(s, base, L.StatPred.And(Seq(
        L.StatPred.Ge("n_chars", 200), L.StatPred.Le("n_chars", 300))))
      L.deleteWhereMoR(s, base, L.StatPred.And(Seq(
        L.StatPred.Ge("n_chars", 250), L.StatPred.Le("n_chars", 350))))
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"))
    },

    // Incremental bin-packing compaction (q314): 70% of the corpus
    // lands as the big base files, three 10% slices append as
    // small-file debt, a position-delete band lands across BOTH
    // populations — then compactSmallFiles rewrites ONLY the debt
    // (base files carry verbatim; their delete positions re-filter
    // into the carried index). The oracle is the plain corpus minus
    // the band: content-neutrality of the maintenance pass, proved
    // cross-engine.
    "q314_binpack_maintain" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapbinp")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      L.snapshotWrite(docs.filter(col("doc_id") % 10 < 7)
        .repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id"),
        base, statsCols = Seq("doc_id"))
      (7 to 9).foreach(r => L.snapshotAppend(
        docs.filter(col("doc_id") % 10 === r).coalesce(1), base))
      L.deleteWhereMoR(s, base, L.StatPred.And(Seq(
        L.StatPred.Ge("n_chars", 200), L.StatPred.Le("n_chars", 300))))
      val files = L.snapshotFiles(s, base)
      val (big, smallF) = files.partition(_.path.startsWith("data/snap-1-"))
      val thr = (smallF.map(_.bytes.get).max + big.map(_.bytes.get).min) / 2
      L.compactSmallFiles(s, base, targetBytes = 4 * thr, smallBytes = thr)
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"))
    },

    // Incremental clustering (q320): a doc_id-clustered base (4
    // disjoint sorted runs), two appends overlapping two of them, a
    // position-delete band — then optimizeClusteredIncremental folds
    // ONLY the overlapped runs back into sorted order (disjoint runs
    // carry verbatim, their delete positions re-filter). Oracle =
    // corpus plus the duplicated append slices minus the band:
    // content-neutrality of the clustering pass.
    "q320_inccluster_maintain" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapincc")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      L.snapshotWrite(docs
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"),
        base, statsCols = Seq("doc_id"))
      L.snapshotAppend(
        docs.filter(col("doc_id") % 10 === 3).coalesce(1), base)
      L.snapshotAppend(
        docs.filter(col("doc_id") % 10 === 7).coalesce(1), base)
      L.deleteWhereMoR(s, base, L.StatPred.And(Seq(
        L.StatPred.Ge("n_chars", 200), L.StatPred.Le("n_chars", 250))))
      L.optimizeClusteredIncremental(s, base, "doc_id", 64L << 20)
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"))
    },

    // Atomic MoR upsert (q311): the streaming-CDC write shape — the
    // even half of the corpus lands, then TWO stacked single-commit
    // upserts: batch 1 (doc_id % 5 — half updates, half inserts,
    // text uppercased) and batch 2 (doc_id % 10 — re-replacing keys
    // batch 1 just wrote, newest wins). Each upsert is ONE commit of
    // position deletes + appended files, no rewrite, no intermediate
    // deleted-state snapshot. The oracle replays the key-set algebra.
    "q311_mor_upsert" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapups")
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang")
      L.snapshotWrite(docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"),
        base, statsCols = Seq("doc_id"))
      L.upsertKeysMoR(s, base,
        docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), upper(col("text")).as("text"),
            col("n_chars"), lit("ups").as("lang")),
        Seq("doc_id"))
      L.upsertKeysMoR(s, base,
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"), col("n_chars"),
            lit("ups2").as("lang")),
        Seq("doc_id"))
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // Equality deletes (q271): the key-tombstone lifecycle — half the
    // corpus lands, two language keys are tombstoned with ZERO table
    // scan (an O(keys) commit), then the other half appends LATE; the
    // tombstone masks the late arrivals too (right-to-be-forgotten
    // semantics: the KEY is deleted, not row versions). The oracle is
    // the NOT IN over the whole corpus — proof the mask covers both
    // eras exactly.
    "q271_equality_delete" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapeq")
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang")
      L.snapshotWrite(docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars"))
      import s.implicits._
      L.deleteKeysMoR(s, base, Seq("de", "fr").toDF("lang"))
      L.snapshotAppend(docs.filter(col("doc_id") % 2 === 1), base)
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // Targeted UPDATE (q270): the third DML leg — a stats-banded
    // UPDATE rewrites only files whose ranges intersect the predicate
    // (LayoutSpec/SnapshotSqlSpec pin the file counts); assignment
    // expressions reference the row itself. The oracle replays the
    // CASE arithmetic over the whole corpus.
    "q270_update_where" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapupd")
      L.snapshotWrite(Tables.documents(s, d)
        .select("doc_id", "text", "n_chars", "lang")
        .repartitionByRange(6, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars"))
      L.updateWhere(s, base,
        col("n_chars").between(200, 300),
        Seq("lang" -> concat(col("lang"), lit("-upd")),
          "text" -> upper(col("text"))))
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("lang"))
    },

    // Write-audit-publish (q269): the ingestion-gate lifecycle — a
    // poisoned candidate batch (nulled text) is staged, caught by the
    // audit, and abandoned without ever being visible; the clean batch
    // stages, passes the same audit, and publishes atomically. Final
    // content must equal the full corpus — proof the staging tier
    // neither leaked the bad batch nor lost the good one.
    "q269_write_audit_publish" -> { (s, d) =>
      val base = Fixtures.fresh(s"/tmp/graft_io/${new java.io.File(d).getName}/snapwap")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      L.snapshotWrite(docs.filter(col("doc_id") % 3 =!= 0)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"),
        base, statsCols = Seq("n_chars"))
      val rest = docs.filter(col("doc_id") % 3 === 0)
      val bad = rest.withColumn("text", lit(null).cast("string"))
      val tokBad = L.snapshotAppendStaged(bad, base)
      // the audit: no null text allowed
      if (L.stagedRead(s, base, tokBad)
            .filter(col("text").isNull).count() > 0)
        L.abandonStaged(s, base, tokBad)
      val tok = L.snapshotAppendStaged(rest, base)
      require(L.stagedRead(s, base, tok)
        .filter(col("text").isNull).count() == 0, "audit must pass")
      L.publishStaged(s, base, tok)
      L.snapshotRead(s, base)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"))
    },

    // the oracle RECOMPUTES the aggregate from the post-change corpus,
    // so equality proves the delta algebra, not just the plumbing.
    "q186_delta_agg" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val prevAgg = docs.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total"))
      val dels = docs.filter(col("doc_id") % 10 === 0)
        .select(lit("D").as("op"), col("source"),
          col("n_chars").as("v_old"), lit(null).cast("long").as("v_new"))
      val upds = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0)
        .select(lit("U").as("op"), col("source"),
          col("n_chars").as("v_old"), (col("n_chars") + 5).as("v_new"))
      val ins = docs.filter(col("doc_id") % 9 === 0)
        .select(lit("I").as("op"), col("source"),
          lit(null).cast("long").as("v_old"),
          (pmod(col("doc_id"), lit(400)) + 60).as("v_new"))
      graft.operators.Layout.deltaAggMaintain(prevAgg,
        dels.unionByName(upds).unionByName(ins),
        "source", "op", "v_old", "v_new")
    },

    // Streaming SOURCE over the snapshot format (q272): a full
    // table-to-table streaming pipeline — `readStream.format(
    // "snapshot")` tails one snapshot table commit by commit and
    // `writeStream.format("snapshot")` commits each micro-batch into
    // another. The source's Delta-style semantics are all under the
    // oracle: two append commits deliver exactly their rows, the
    // compaction commit delivers NOTHING (maintenance is invisible to
    // consumers), and the CoW delete commit is explicitly skipped via
    // `skipChangeCommits` — so the drained target must hash to the
    // FULL corpus, not the post-delete view. Offsets ride Spark's own
    // checkpoint WAL (exactly-once with the marker-guarded sink).
    "q272_stream_source" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val root = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/snapstream")
      val src = s"$root/src"; val dst = s"$root/dst"
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      L.snapshotAppend(docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"), src,
        statsCols = Seq("n_chars"))                            // snap 1
      L.snapshotAppend(docs.filter(col("doc_id") % 2 === 1)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"), src)                 // snap 2
      L.compactSnapshot(s, src, 512L << 20)                    // snap 3
      L.deleteWhere(s, src,
        L.StatPred.Between("n_chars", 200L, 280L))             // snap 4
      val q = s.readStream.format("snapshot").option("path", src)
        .option("startingSnapshotId", "0")
        .option("skipChangeCommits", "true")
        .load()
        .writeStream.format("snapshot")
        .option("path", dst)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      L.snapshotRead(s, dst)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"))
    },

    // Row-level change data feed (q273): every commit since snapshot 1
    // replayed as tagged rows — the append surfaces as inserts, the
    // compaction contributes NOTHING, the CoW delete yields exactly
    // its victims as deletes (carried rewrites cancel in the
    // two-sided EXCEPT ALL), and the UPDATE yields its old images as
    // deletes plus its new images as inserts. The oracle rebuilds the
    // whole feed with set arithmetic over the corpus.
    "q273_change_feed" -> { (s, d) =>
      val base = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/snapcdf")
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      L.snapshotWrite(docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"), base,
        statsCols = Seq("n_chars"))                            // snap 1
      L.snapshotAppend(docs.filter(col("doc_id") % 2 === 1)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars"), base)                // snap 2
      L.compactSnapshot(s, base, 512L << 20)                   // snap 3
      L.deleteWhere(s, base,
        L.StatPred.Between("n_chars", 200L, 280L))             // snap 4
      L.updateWhere(s, base, col("n_chars").between(400, 450),
        Seq("n_chars" -> (col("n_chars") + 1000)))             // snap 5
      L.changeFeed(s, base, 1L)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_chars"), col("_change_type"),
          col("_commit_snapshot_id"))
    },

    // IVM through deletes (q274): the change feed folded into a
    // materialized per-lang aggregate with deltaAggMaintain — the view
    // from snapshot 1 maintained through an append AND a row-level
    // DELETE in O(|changes|), never a recompute. The oracle IS the
    // full recompute over the post-delete corpus; equality proves the
    // feed + fold pipeline end to end.
    "q274_ivm_changefeed" -> { (s, d) =>
      val base = Fixtures.fresh(
        s"/tmp/graft_io/${new java.io.File(d).getName}/snapivm")
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      L.snapshotWrite(docs.filter(col("doc_id") % 2 === 0)
        .repartition(4, col("doc_id")), base,
        statsCols = Seq("n_chars"))                            // snap 1
      val view1 = L.snapshotRead(s, base, 1L).groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total"))
        .localCheckpoint()
      L.snapshotAppend(docs.filter(col("doc_id") % 2 === 1)
        .repartition(4, col("doc_id")), base)                  // snap 2
      L.deleteWhere(s, base,
        L.StatPred.Between("n_chars", 200L, 300L))             // snap 3
      val changes = L.changeFeed(s, base, 1L)
        .select(col("lang"),
          when(col("_change_type") === "insert", "I")
            .otherwise("D").as("op"),
          col("n_chars").as("oldv"), col("n_chars").as("newv"))
      L.deltaAggMaintain(view1, changes, "lang", "op", "oldv", "newv")
        .select(col("lang"), col("n"), col("total"))
    }
  )

  val oracles: Map[String, String] = Map(
    // q358: version 2's content (doc_id % 4 <= 1) + the retention
    // counts — one catalog version dropped (v1 of 3, keep 2), one
    // table snapshot expired (the one only v1 pinned).
    "q358_catalog_retention" ->
      """SELECT doc_id, md5(text) AS text_md5,
           1 AS versions_dropped, 1 AS snapshots_expired,
           CAST(3 AS BIGINT) AS latest_version
         FROM documents WHERE doc_id % 4 <= 1""",
    // q335: the SQL-surface catalog reads recomputed — identical CTE
    // shape to q333 with latest == v2.
    "q335_catalog_sql" ->
      """WITH a1 AS (SELECT c_nationkey AS nation, count(*) AS cnt
             FROM customer GROUP BY 1),
          sa AS (SELECT s_nationkey AS nation, count(*) AS cnt
                 FROM supplier GROUP BY 1),
          a2 AS (SELECT nation, SUM(cnt) AS cnt FROM
                   (SELECT * FROM a1 UNION ALL SELECT * FROM sa)
                 GROUP BY 1),
          b1 AS (SELECT c_nationkey AS nation, SUM(o_totalprice) AS total
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 GROUP BY 1),
          sb AS (SELECT s_nationkey AS nation, SUM(s_acctbal) AS total
                 FROM supplier GROUP BY 1),
          b2 AS (SELECT nation, SUM(total) AS total FROM
                   (SELECT * FROM b1 UNION ALL SELECT * FROM sb)
                 GROUP BY 1)
          SELECT a1.nation, CAST(a1.cnt AS BIGINT) AS cnt_v1,
               CAST(a2.cnt AS BIGINT) AS cnt_latest,
               round(b1.total, 2) AS total_v1,
               round(b2.total, 2) AS total_latest
          FROM a1 JOIN a2 USING (nation) JOIN b1 USING (nation)
               JOIN b2 USING (nation)""",

    // q334: the streamed multi-table publish re-derived from the
    // source corpus (partial aggregates are additive, so any batch
    // split re-aggregates to the same totals).
    "q334_catalog_sink" ->
      """WITH a AS (SELECT lang, count(*) AS n_docs, SUM(n_chars) AS sum_chars
             FROM documents GROUP BY 1),
          b AS (SELECT lang, count(*) AS n_long FROM documents
                WHERE n_chars > 100 GROUP BY 1)
          SELECT a.lang, CAST(a.n_docs AS BIGINT) AS n_docs,
               CAST(a.sum_chars AS BIGINT) AS sum_chars,
               CAST(coalesce(b.n_long, 0) AS BIGINT) AS n_long
          FROM a LEFT JOIN b USING (lang)""",

    // q333: both catalog versions recomputed relationally — v1 = the
    // base aggregates, v2 = base + the supplier batch; the unpublished
    // 999-count append appears in NEITHER.
    "q333_catalog_txn" ->
      """WITH a1 AS (SELECT c_nationkey AS nation, count(*) AS cnt
             FROM customer GROUP BY 1),
          sa AS (SELECT s_nationkey AS nation, count(*) AS cnt
                 FROM supplier GROUP BY 1),
          a2 AS (SELECT nation, SUM(cnt) AS cnt FROM
                   (SELECT * FROM a1 UNION ALL SELECT * FROM sa)
                 GROUP BY 1),
          b1 AS (SELECT c_nationkey AS nation, SUM(o_totalprice) AS total
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 GROUP BY 1),
          sb AS (SELECT s_nationkey AS nation, SUM(s_acctbal) AS total
                 FROM supplier GROUP BY 1),
          b2 AS (SELECT nation, SUM(total) AS total FROM
                   (SELECT * FROM b1 UNION ALL SELECT * FROM sb)
                 GROUP BY 1)
          SELECT a1.nation, CAST(a1.cnt AS BIGINT) AS cnt_v1,
               CAST(a2.cnt AS BIGINT) AS cnt_v2,
               round(b1.total, 2) AS total_v1,
               round(b2.total, 2) AS total_v2
          FROM a1 JOIN a2 USING (nation) JOIN b1 USING (nation)
               JOIN b2 USING (nation)""",
    "q297_unique_append" ->
      """SELECT doc_id, lang, 'table' AS side FROM documents
         UNION ALL
         SELECT doc_id, lang, 'quarantine' FROM documents
         WHERE doc_id % 50 = 0 AND doc_id < 300
         UNION ALL
         SELECT doc_id, lang, 'quarantine' FROM documents
         WHERE doc_id >= 300 AND doc_id < 400
         UNION ALL
         SELECT doc_id, lang, 'quarantine' FROM documents
         WHERE doc_id % 50 = 0 AND doc_id >= 300""",
    "q291_refs_meta" ->
      """SELECT * FROM (VALUES
           ('audit', 'branch', CAST(2 AS BIGINT)),
           ('v1', 'tag', CAST(1 AS BIGINT)))
         AS t(name, type, snapshot_id)""",
    "q284_snapshot_ref" ->
      """SELECT doc_id, md5(text) AS text_md5, lang FROM documents""",
    "q126_zorder_key" -> {
      val u = s"(user_id & ${(1L << ZBits) - 1})"
      val m = s"(CAST(floor((floor(epoch(ts)) - $Epoch) / 60) AS BIGINT) & ${(1L << ZBits) - 1})"
      val terms = (0 until ZBits).flatMap { j =>
        Seq(s"((($u >> $j) & 1) << ${2 * j})",
            s"((($m >> $j) & 1) << ${2 * j + 1})")
      }
      s"""SELECT event_id, ${terms.mkString(" | ")} AS zkey
         FROM events"""
    },
    "q127_bucketed_join" ->
      """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_orders,
              round(sum(o_totalprice), 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    // q138: compaction is pure maintenance — the content hash must be
    // exactly the source table's.
    "q138_compaction" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    "q142_partitioned_prune" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars, lang
         FROM documents WHERE lang = 'en'""",
    "q146_sorted_layout" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents WHERE n_chars BETWEEN 150 AND 350""",
    "q222_stats_pruned_read" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents WHERE n_chars BETWEEN 150 AND 350""",
    "q265_rename_evolution" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents WHERE n_chars BETWEEN 150 AND 350""",
    "q266_snapshot_writer" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents WHERE n_chars BETWEEN 150 AND 350""",
    "q267_metadata_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(min(n_chars) AS BIGINT) AS min_n_chars,
              CAST(max(n_chars) AS BIGINT) AS max_n_chars,
              min(doc_id) AS min_doc_id,
              max(doc_id) AS max_doc_id
         FROM documents""",
    "q268_mor_delete" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents WHERE n_chars NOT BETWEEN 200 AND 350""",
    "q318_metadata_sum" ->
      """SELECT CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
              CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
              CAST(count(*) AS BIGINT) AS n_rows
         FROM documents""",
    "q314_binpack_maintain" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents WHERE n_chars NOT BETWEEN 200 AND 300""",
    "q320_inccluster_maintain" ->
      """WITH full0 AS (
           SELECT doc_id, text, n_chars FROM documents
           UNION ALL
           SELECT doc_id, text, n_chars FROM documents
           WHERE doc_id % 10 IN (3, 7))
         SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM full0 WHERE n_chars NOT BETWEEN 200 AND 250""",
    "q311_mor_upsert" ->
      """WITH t0 AS (SELECT doc_id, text, n_chars, lang
                     FROM documents WHERE doc_id % 2 = 0),
          b1 AS (SELECT doc_id, upper(text) AS text, n_chars,
                   'ups' AS lang FROM documents WHERE doc_id % 5 = 0),
          m1 AS (SELECT * FROM t0
                 WHERE doc_id NOT IN (SELECT doc_id FROM b1)
                 UNION ALL SELECT * FROM b1),
          b2 AS (SELECT doc_id, text, n_chars, 'ups2' AS lang
                 FROM documents WHERE doc_id % 10 = 0),
          m2 AS (SELECT * FROM m1
                 WHERE doc_id NOT IN (SELECT doc_id FROM b2)
                 UNION ALL SELECT * FROM b2)
          SELECT doc_id, md5(text) AS text_md5, n_chars, lang FROM m2""",
    "q272_stream_source" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    "q273_change_feed" ->
      """WITH corpus AS (
           SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents)
         SELECT doc_id, text_md5, n_chars,
                'insert' AS _change_type,
                CAST(2 AS BIGINT) AS _commit_snapshot_id
           FROM corpus WHERE doc_id % 2 = 1
         UNION ALL
         SELECT doc_id, text_md5, n_chars, 'delete', CAST(4 AS BIGINT)
           FROM corpus WHERE n_chars BETWEEN 200 AND 280
         UNION ALL
         SELECT doc_id, text_md5, n_chars, 'delete', CAST(5 AS BIGINT)
           FROM corpus WHERE n_chars BETWEEN 400 AND 450
         UNION ALL
         SELECT doc_id, text_md5, n_chars + 1000, 'insert', CAST(5 AS BIGINT)
           FROM corpus WHERE n_chars BETWEEN 400 AND 450""",
    "q274_ivm_changefeed" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(n_chars) AS BIGINT) AS total
         FROM documents WHERE n_chars NOT BETWEEN 200 AND 300
         GROUP BY lang""",
    "q269_write_audit_publish" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    "q271_equality_delete" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars, lang
         FROM documents WHERE lang NOT IN ('de', 'fr')""",
    "q270_update_where" ->
      """SELECT doc_id,
              md5(CASE WHEN n_chars BETWEEN 200 AND 300
                       THEN upper(text) ELSE text END) AS text_md5,
              n_chars,
              CASE WHEN n_chars BETWEEN 200 AND 300
                   THEN lang || '-upd' ELSE lang END AS lang
         FROM documents""",
    "q264_snapshot_sql" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars, lang
         FROM documents
         WHERE n_chars BETWEEN 150 AND 350
           AND lang IN ('en', 'de')
           AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) != 'f'""",
    // q227/q228/q229: append composition, compaction, and the streaming
    // sink are all pure table plumbing — content must hash to exactly
    // the source corpus.
    "q227_snapshot_append" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    "q245_incremental_consume" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    "q251_optimize_rewrite" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    "q252_metadata_minmax" ->
      """SELECT CAST(min(n_chars) AS BIGINT) AS min_n_chars,
              CAST(max(n_chars) AS BIGINT) AS max_n_chars,
              CAST(count(*) AS BIGINT) AS n_rows
         FROM documents""",
    "q260_checked_append" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars, lang
         FROM documents
         WHERE n_chars >= 120 AND n_chars <= 460
           AND lang IN ('en', 'de', 'fr', 'es')""",
    "q262_incremental_stats" ->
      """WITH v2 AS (
           SELECT source,
                CASE WHEN doc_id % 7 = 0 THEN n_chars + 5
                     ELSE n_chars END AS chars
           FROM documents WHERE doc_id % 10 != 0
           UNION ALL
           SELECT source, doc_id % 400 + 60 AS chars
           FROM documents WHERE doc_id % 9 = 0)
         SELECT source, CAST(count(*) AS BIGINT) AS n,
              round(sum(CAST(chars AS DOUBLE)) / count(*), 6) AS mean,
              round(greatest(
                sum(CAST(chars AS DOUBLE) * chars) / count(*)
                  - (sum(CAST(chars AS DOUBLE)) / count(*))
                    * (sum(CAST(chars AS DOUBLE)) / count(*)), 0.0), 6)
                AS var
         FROM v2 GROUP BY source""",
    "q261_quarantine_audit" ->
      """SELECT doc_id, n_chars, lang,
              array_to_string(list_filter([
                CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es')
                     THEN 'lang_known' END,
                CASE WHEN n_chars > 460 THEN 'max_len' END,
                CASE WHEN n_chars < 120 THEN 'min_len' END],
                x -> x IS NOT NULL), ',') AS violations
         FROM documents
         WHERE n_chars < 120 OR n_chars > 460
            OR lang NOT IN ('en', 'de', 'fr', 'es')""",
    "q254_medallion_pipeline" ->
      """SELECT doc_id, md5(text) AS text_md5,
              CAST(floor(n_chars / 100) AS INTEGER) AS len_bucket, lang
         FROM documents WHERE lang IN ('en', 'de')""",
    "q249_incremental_mv" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(n_chars) AS BIGINT) AS total
         FROM documents GROUP BY source""",
    "q244_merge_into" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars, lang FROM (
           SELECT doc_id, text || '!' AS text, n_chars + 1 AS n_chars, lang
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           SELECT doc_id, text, n_chars, lang
           FROM documents WHERE doc_id % 10 NOT IN (3, 7)
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text, n_chars, lang
           FROM documents WHERE doc_id % 13 = 0)""",
    "q243_bloom_pruned_read" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents
         WHERE doc_id = (SELECT max(doc_id) FROM documents
                         WHERE doc_id <= (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT)
                                          FROM documents))""",
    "q263_composite_prune" ->
      """WITH p AS (SELECT max(doc_id) AS pid FROM documents
                    WHERE doc_id <= (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT)
                                     FROM documents)),
         pt AS (SELECT substr(md5(text), 1, 12) AS tag
                FROM documents, p WHERE doc_id = p.pid)
         SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents, p, pt
         WHERE doc_id BETWEEN p.pid - 50 AND p.pid + 50
           AND n_chars BETWEEN 1 AND 100000
           AND substr(md5(text), 1, 12) = pt.tag""",
    "q241_ts_stats_pruned" ->
      """SELECT event_id, ts, user_id, round(value, 2) AS value
         FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                      AND TIMESTAMP '2024-01-17 00:00:00'""",
    "q230_zorder_pruned_read" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars
         FROM documents
         WHERE doc_id BETWEEN 100 AND 300 AND n_chars BETWEEN 150 AND 350""",
    "q231_pushdown_read" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars, lang
         FROM documents
         WHERE n_chars BETWEEN 150 AND 350 AND lang IN ('en', 'de')
           AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) != 'f'""",
    "q228_snapshot_compact" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    "q229_stream_snapshot_sink" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents""",
    // q223: full-table hash equality against the NOT-deleted rows (SQL
    // DELETE semantics — only predicate-TRUE rows go).
    "q223_snapshot_delete" ->
      """SELECT doc_id, md5(text) AS text_md5, n_chars, lang
         FROM documents
         WHERE NOT (n_chars BETWEEN 150 AND 350 AND lang IN ('en', 'de'))""",
    "q161_snapshot_manifest" ->
      """SELECT doc_id, md5(text) AS text_md5, upper(lang) AS lang
         FROM documents WHERE doc_id % 2 = 0""",
    "q165_snapshot_time_travel" ->
      """SELECT doc_id, md5(text) AS text_md5, lang FROM documents""",
    "q182_snapshot_diff" ->
      """SELECT doc_id + 100000 AS doc_id, 'insert' AS change_type
         FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT doc_id, 'delete' FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id, 'update' FROM documents
         WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0""",
    // q186: the maintained view must equal a FULL RECOMPUTE over the
    // post-change corpus — kept rows (with the %7 update applied) plus
    // the inserted re-keyed rows.
    "q186_delta_agg" ->
      """WITH v2 AS (
           SELECT source,
                CASE WHEN doc_id % 7 = 0 THEN n_chars + 5
                     ELSE n_chars END AS chars
           FROM documents WHERE doc_id % 10 != 0
           UNION ALL
           SELECT source, doc_id % 400 + 60 AS chars
           FROM documents WHERE doc_id % 9 = 0)
         SELECT source, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(chars) AS BIGINT) AS total
         FROM v2 GROUP BY source"""
  )
}
