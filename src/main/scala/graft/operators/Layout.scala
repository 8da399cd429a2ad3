package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators — HOW 100 TB gets arranged on disk so that
  * the next thousand queries prune instead of scan.
  *
  * Z-ordering (multi-dimensional clustering): a single sort key cannot
  * serve two filter dimensions — parquet min/max stats on the second
  * dimension span the whole domain in every file. Interleaving the bits
  * of both dimensions (the Morton/Z curve) makes file- and row-group-
  * level [min,max] ranges tight on EVERY participating column at once,
  * so a stats-aware reader prunes on any of them. This is the layout
  * strategy Delta/Iceberg expose as `OPTIMIZE ZORDER BY`; here it is
  * built from Spark primitives: a codegen'd shift/mask projection (no
  * UDF, no HOF), `repartitionByRange` on the z-value (range exchange =
  * contiguous curve segments per file), and a partition-local sort.
  *
  * Scale notes: the range exchange samples the z-value to pick
  * boundaries (one extra narrow pass), the sort is per-partition
  * (spillable, no global sort), and nothing touches the driver. The
  * write is the expensive one-time step that every subsequent scan
  * amortizes — the standard compaction/layout job shape.
  */
object Layout {

  /** Per-file column statistics carried in a v2 snapshot manifest:
    * BOUNDS on the non-null values (None/None when the file is
    * all-null for the column) plus the Spark catalog type, which
    * decides the comparison domain (numeric types compare as
    * BigDecimal; strings, dates, and timestamps compare
    * lexicographically — exact for ISO date/timestamp renderings and
    * ASCII strings).
    *
    * Bounds, not exact extremes: long string values are TRUNCATED
    * before they enter the manifest (the Iceberg trick — a manifest
    * carrying whole documents as "stats" would cost more to read than
    * it prunes): min truncates to a prefix (a valid lower bound) and
    * max truncates to the prefix with its last character incremented
    * (a valid upper bound). Pruning stays conservative-correct either
    * way; [[StatsTruncateLen]] bounds the manifest entry size.
    */
  final case class ColStat(min: Option[String], max: Option[String],
                           tpe: String,
                           // exact per-file column SUM (integral stats
                           // columns only; Some("") = file all-null →
                           // SQL NULL; None = not recorded, e.g. a
                           // pre-sum manifest) — lets a global SUM
                           // answer from the manifest alone
                           sum: Option[String] = None)

  /** Max stored length for string stats values (chars). */
  val StatsTruncateLen = 64

  private def truncateLower(s: String): String =
    if (s.length <= StatsTruncateLen) s else s.substring(0, StatsTruncateLen)

  /** Shortest prefix-increment ≥ every string with prefix `s` — falls
    * back to the untruncated value if every prefix code point is
    * already MAX_CODE_POINT (practically unreachable). Surrogate-aware
    * twice over: the cut never splits a surrogate pair (a dangling high
    * surrogate compares BELOW the supplementary code point it opened,
    * breaking the upper-bound contract), and the increment runs in
    * code-point space, jumping the [U+D800, U+DFFF] gap rather than
    * fabricating an unpaired surrogate.
    */
  private[graft] def truncateUpper(s: String): String =
    if (s.length <= StatsTruncateLen) s
    else {
      val cut =
        if (Character.isHighSurrogate(s.charAt(StatsTruncateLen - 1)) &&
            Character.isLowSurrogate(s.charAt(StatsTruncateLen)))
          StatsTruncateLen - 1
        else StatsTruncateLen
      val cps = s.substring(0, cut).codePoints.toArray
      var i = cps.length - 1
      while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
      if (i < 0) s
      else {
        val next = cps(i) + 1
        val bumped = if (next >= 0xD800 && next <= 0xDFFF) 0xE000 else next
        val out = cps.take(i) :+ bumped
        new String(out, 0, out.length)
      }
    }

  /** The pruning predicate algebra [[snapshotRead]] evaluates against
    * manifest file stats at PLANNING time — the Iceberg/Delta idea
    * reduced to its primitive: a file whose [min, max] range cannot
    * satisfy the predicate is never opened (no footer read, no task).
    * Deliberately the residual-free subset (comparisons, BETWEEN, IN,
    * AND/OR) where file-level may-match is exactly decidable from
    * ranges; [[Layout.toColumn]] derives the row-level Spark filter
    * from the SAME predicate so pruning and filtering can never
    * disagree. No IS NULL leaf: comparisons never match null rows, so
    * an all-null file is safely prunable and null-count bookkeeping
    * stays out of the manifest.
    */
  sealed trait StatPred
  object StatPred {
    final case class Lt(column: String, v: Any) extends StatPred
    final case class Le(column: String, v: Any) extends StatPred
    final case class Gt(column: String, v: Any) extends StatPred
    final case class Ge(column: String, v: Any) extends StatPred
    final case class Eq(column: String, v: Any) extends StatPred
    final case class Between(column: String, lo: Any, hi: Any) extends StatPred
    final case class In(column: String, vs: Seq[Any]) extends StatPred
    final case class And(ps: Seq[StatPred]) extends StatPred
    final case class Or(ps: Seq[StatPred]) extends StatPred
  }

  /** Per-file BLOOM filter carried in the manifest — the equality-
    * pruning complement to min/max [[ColStat]] ranges: on a high-
    * cardinality key that is NOT clustered (every file's [min,max]
    * spans the whole domain), ranges prune nothing, but a ~1 KB bloom
    * per file answers "can this file contain key = v?" at PLANNING
    * time with a small false-positive rate and ZERO false negatives —
    * a point lookup on a 100 TB table opens O(1) files instead of all
    * of them. This is Iceberg/Delta's per-file bloom idea reduced to
    * the manifest primitive.
    *
    * Hash contract: the build side hashes the NATIVE column value with
    * Spark's codegen'd `xxhash64` (seed 42); probes replay the same
    * function driver-side via catalyst's `XxHash64Function`, with the
    * probe value coerced to the recorded column type first — the two
    * sides share one implementation and cannot drift. Positions are
    * Kirsch-Mitzenmacher double hashing from the hash's two 32-bit
    * halves: pos_i = (hi + i·lo) mod m.
    */
  final case class BloomStat(m: Int, k: Int, tpe: String,
                             bits: java.util.BitSet) {
    /** Zero false negatives: false ⇒ the key is provably absent. */
    def mightContain(hash: Long): Boolean = {
      val g1 = hash >>> 32
      val g2 = hash & 0xFFFFFFFFL
      var i = 0
      while (i < k) {
        if (!bits.get(((g1 + i * g2) % m).toInt)) return false
        i += 1
      }
      true
    }
  }

  /** One manifest row: the file's table-relative path, its column
    * stats (empty for v1 manifests / files written without stats), its
    * row count (recorded whenever stats are collected — the metadata
    * that makes `count(*)` a manifest read instead of a scan), and its
    * per-column bloom filters (empty unless the write asked for them).
    */
  final case class FileEntry(path: String,
                             stats: Map[String, ColStat] = Map.empty,
                             rows: Option[Long] = None,
                             blooms: Map[String, BloomStat] = Map.empty,
                             bytes: Option[Long] = None,
                             schemaId: Option[Int] = None)

  /** One POSITION-DELETE file of a snapshot (merge-on-read deletes —
    * the Iceberg v2 / Delta deletion-vector move): `path` is the
    * table-relative parquet directory holding (path, pos) rows — the
    * data file (manifest-relative) and the physical row index deleted
    * from it; `rows` is the file's delete count, recorded so metadata
    * row arithmetic stays exact without opening it. Delete files
    * accumulate across MoR commits and are DISJOINT by construction
    * ([[deleteWhereMoR]] marks only still-live rows), so
    * Σ entry.rows − Σ delete.rows is the table's exact live count.
    */
  final case class DeleteFile(path: String, rows: Long)

  /** One EQUALITY-DELETE file: `path` holds key rows over `cols`;
    * every table row matching a key is masked at read. Unlike
    * position deletes these tombstone the KEY ITSELF — matching rows
    * in LATER appends are masked too until a rewrite settles the debt
    * (the right-to-be-forgotten semantics: committing the key list IS
    * the deletion, at O(keys) cost with zero table scan). Row-version
    * CDC semantics belong to [[mergeInto]], not here.
    */
  final case class EqDeleteFile(path: String, rows: Long,
                                cols: Seq[String])

  /** Field-id schema tracking (the Iceberg identity model reduced to
    * the manifest primitive): every column gets a PERMANENT numeric id
    * at first write; the manifest records the schema history and each
    * file the schema it was written under. Reads resolve columns BY ID
    * to the current schema, so [[renameColumn]] is a metadata-only
    * commit that stops forking data (pre-rename files keep serving the
    * renamed column) and [[dropColumn]] + re-add gets a FRESH id, so
    * dropped data never resurrects under a recycled name.
    */
  final case class FieldInfo(id: Int, name: String, tpe: String)
  final case class SchemaInfo(id: Int, fields: Seq[FieldInfo])

  import StatPred._

  private def numericType(tpe: String): Boolean = {
    val t = tpe.toLowerCase
    t.startsWith("decimal") || Set("tinyint", "smallint", "int", "bigint",
      "float", "double").contains(t)
  }

  /** Non-finite float/double stats order like Spark's sort:
    * -Infinity < finite < Infinity < NaN (max() propagates NaN as
    * greatest, so a NaN-bearing file's max stat IS the string "NaN" —
    * BigDecimal alone would throw on every later pruned read).
    */
  private def numRank(s: String): Int = s match {
    case "NaN" => 2
    case "Infinity" => 1
    case "-Infinity" => -1
    case _ => 0
  }

  /** The zone stat STRINGS were rendered in: Spark's cast-to-string
    * uses spark.sql.session.timeZone, NOT the JVM default — parsing
    * them back through Timestamp.valueOf (JVM zone) would shift every
    * bound by the offset whenever the two differ and silently mis-prune
    * files. Resolved per call: planning runs on the driver with the
    * session active.
    */
  private def sessionZone: java.time.ZoneId =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get("spark.sql.session.timeZone", null)))
      .map(java.time.ZoneId.of(_))
      .getOrElse(java.time.ZoneId.systemDefault())

  /** Timestamp/date predicate values normalize to epoch micros/days
    * before comparison: Spark's cast-to-string stat rendering trims
    * trailing fractional zeros ("2024-01-01 00:00:00") while
    * java.sql.Timestamp.toString always appends ".0" and Instant uses
    * the ISO 'T'/'Z' form — a raw string compare would mis-prune files
    * that contain matching rows.
    */
  private def toMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case d: java.util.Date => d.getTime * 1000L
    case s: String =>
      val norm = s.trim.replace(' ', 'T')
      val iso = if (norm.contains('T')) norm else norm + "T00:00:00"
      // 'Z'-suffixed strings are instants (match the Instant branch);
      // zoneless ones are session-zone wall clocks (match the stats)
      val inst =
        if (iso.endsWith("Z")) java.time.Instant.parse(iso)
        else java.time.LocalDateTime.parse(iso).atZone(sessionZone).toInstant
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    case other =>
      throw new IllegalArgumentException(s"not a timestamp value: $other")
  }

  private def toDays(v: Any): Long = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case s: String => java.time.LocalDate.parse(s.trim.take(10)).toEpochDay
    case other =>
      throw new IllegalArgumentException(s"not a date value: $other")
  }

  private def cmp(statVal: String, v: Any, tpe: String): Int = {
    val t = tpe.toLowerCase
    if (numericType(t)) {
      val (ra, rb) = (numRank(statVal), numRank(v.toString))
      if (ra != 0 || rb != 0) ra.compare(rb)
      else BigDecimal(statVal).compare(BigDecimal(v.toString))
    }
    else if (t == "timestamp" || t == "timestamp_ntz")
      toMicros(statVal).compare(toMicros(v))
    else if (t == "date") toDays(statVal).compare(toDays(v))
    else cmpCodePoints(statVal, v.toString)
  }

  /** Lexicographic CODE-POINT comparison — Spark orders strings as
    * UTF8String binary, which is code-point order, while Java's
    * String.compareTo orders UTF-16 code units: for supplementary-plane
    * characters (surrogate pairs sort below U+E000 in code-unit order)
    * the two disagree, and a wrong order here wrongly PRUNES a file
    * that contains a matching row.
    */
  private def cmpCodePoints(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private def leafColumn(p: StatPred): String = p match {
    case Lt(c, _) => c; case Le(c, _) => c; case Gt(c, _) => c
    case Ge(c, _) => c; case Eq(c, _) => c; case Between(c, _, _) => c
    case In(c, _) => c
    case _ => throw new IllegalArgumentException(s"not a leaf: $p")
  }

  /** CAN this file contain a row satisfying `p`, judging only by its
    * manifest stats? Missing stats for a referenced column ⇒ true
    * (cannot prune); an all-null file ⇒ false for any comparison leaf.
    */
  def mayMatch(stats: Map[String, ColStat], p: StatPred): Boolean =
    mayMatchEntry(stats, Map.empty, p)

  /** [[mayMatch]] over a full manifest entry: the range tier AND the
    * bloom tier must both allow the file — either alone can prune, a
    * false positive in one is caught by the other, and both are
    * conservative (never drop a file that could match).
    */
  def mayMatch(e: FileEntry, p: StatPred): Boolean =
    mayMatchEntry(e.stats, e.blooms, p)

  private def mayMatchEntry(stats: Map[String, ColStat],
                            blooms: Map[String, BloomStat],
                            p: StatPred): Boolean = p match {
    case And(ps) => ps.forall(mayMatchEntry(stats, blooms, _))
    case Or(ps) => ps.exists(mayMatchEntry(stats, blooms, _))
    case leaf => rangeMayMatch(stats, leaf) && bloomMayMatch(blooms, leaf)
  }

  /** Bloom tier: only equality shapes consult the filter (ranges have
    * no membership question to ask). A value that cannot be coerced to
    * the recorded column type, or a column with no bloom, never prunes.
    */
  private def bloomMayMatch(blooms: Map[String, BloomStat],
                            leaf: StatPred): Boolean = leaf match {
    case Eq(c, v) => blooms.get(c) match {
      case Some(b) =>
        bloomProbeHash(v, b.tpe).forall(b.mightContain)
      case None => true
    }
    case In(c, vs) => blooms.get(c) match {
      case Some(b) =>
        vs.exists(v => bloomProbeHash(v, b.tpe).forall(b.mightContain))
      case None => true
    }
    case _ => true
  }

  /** The probe side of the bloom hash contract: coerce the predicate
    * value to the recorded column type, then hash through the SAME
    * catalyst function the build side's `xxhash64` codegen uses.
    * None = cannot decide the rendering (bloom silently ignored —
    * range stats still apply).
    */
  private[graft] def bloomProbeHash(v: Any, tpe: String): Option[Long] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    def asLong: Option[Long] = v match {
      case l: Long => Some(l); case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong); case b: Byte => Some(b.toLong)
      case bi: BigInt if bi.isValidLong => Some(bi.toLong)
      case s: String => s.toLongOption
      case _ => None
    }
    tpe.toLowerCase match {
      case "bigint" =>
        asLong.map(XxHash64Function.hash(_, LongType, 42L))
      case "int" => asLong.collect {
        case l if l.isValidInt => XxHash64Function.hash(l.toInt, IntegerType, 42L)
      }
      case "smallint" => asLong.collect {
        case l if l >= Short.MinValue && l <= Short.MaxValue =>
          XxHash64Function.hash(l.toShort, ShortType, 42L)
      }
      case "tinyint" => asLong.collect {
        case l if l >= Byte.MinValue && l <= Byte.MaxValue =>
          XxHash64Function.hash(l.toByte, ByteType, 42L)
      }
      case "string" => v match {
        case s: String => Some(XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s),
          StringType, 42L))
        case _ => None
      }
      case _ => None
    }
  }

  private def rangeMayMatch(stats: Map[String, ColStat],
                            leaf: StatPred): Boolean =
      stats.get(leafColumn(leaf)) match {
        case None => true
        case Some(ColStat(Some(mn), Some(mx), t, _)) => leaf match {
          case Lt(_, v) => cmp(mn, v, t) < 0
          case Le(_, v) => cmp(mn, v, t) <= 0
          case Gt(_, v) => cmp(mx, v, t) > 0
          case Ge(_, v) => cmp(mx, v, t) >= 0
          case Eq(_, v) => cmp(mn, v, t) <= 0 && cmp(mx, v, t) >= 0
          case Between(_, lo, hi) =>
            cmp(mx, lo, t) >= 0 && cmp(mn, hi, t) <= 0
          case In(_, vs) =>
            vs.exists(v => cmp(mn, v, t) <= 0 && cmp(mx, v, t) >= 0)
          case _ => true
        }
        // BOTH bounds absent = all-null file: comparisons match nothing
        case Some(ColStat(None, None, _, _)) => false
        // a half-populated stat (foreign writer, hand edit) proves
        // nothing — fall back to cannot-prune, never to drop
        case Some(_) => true
      }

  /** The row-level Spark filter equivalent of `p` — derived from the
    * same predicate the file pruning used, so the two tiers agree by
    * construction.
    */
  def toColumn(p: StatPred): Column = p match {
    case Lt(c, v) => col(c) < lit(v)
    case Le(c, v) => col(c) <= lit(v)
    case Gt(c, v) => col(c) > lit(v)
    case Ge(c, v) => col(c) >= lit(v)
    case Eq(c, v) => col(c) === lit(v)
    case Between(c, lo, hi) => col(c).between(lit(lo), lit(hi))
    case In(c, vs) => col(c).isin(vs: _*)
    case And(ps) => ps.map(toColumn).reduce(_ && _)
    case Or(ps) => ps.map(toColumn).reduce(_ || _)
  }

  /** Catalyst → StatPred compilation: the pushdown bridge that lets a
    * caller prune with a plain Spark `Column` filter ([[
    * snapshotReadWhere]]) instead of hand-building predicates. Only
    * shapes whose file-level may-match is exactly decidable compile
    * (comparisons either way around, IN over literals, AND/OR);
    * anything else returns None — and partial compilation stays SOUND:
    * an AND keeps its compilable conjuncts (pruning with a predicate
    * subset only widens the kept-file set), while an OR compiles only
    * if every branch does (dropping an OR branch could prune files the
    * branch would have kept).
    */
  def toStatPred(filter: Column): Option[StatPred] =
    fromPredNode(org.apache.spark.sql.graft.Bridge.predicateTree(filter))

  private[graft] def fromPredNode(n: org.apache.spark.sql.graft.Bridge.PredNode)
      : Option[StatPred] = {
    import org.apache.spark.sql.graft.Bridge._
    def attrName(x: PredNode): Option[String] = x match {
      case PredAttr(name) => Some(name)
      case _ => None
    }
    def litValue(x: PredNode): Option[Any] = x match {
      case PredLit(null) => None // null comparisons match nothing; no leaf
      case PredLit(d: org.apache.spark.sql.types.Decimal) =>
        Some(d.toBigDecimal)
      case PredLit(v) => Some(v)
      case _ => None
    }
    // attr-op-literal, or the mirrored literal-op-attr with `flip`
    def leaf(l: PredNode, r: PredNode,
             mk: (String, Any) => StatPred,
             flip: (String, Any) => StatPred): Option[StatPred] =
      (for {c <- attrName(l); v <- litValue(r)} yield mk(c, v))
        .orElse(for {c <- attrName(r); v <- litValue(l)} yield flip(c, v))
    n match {
      case PredFunc("and", Seq(l, r)) =>
        (fromPredNode(l), fromPredNode(r)) match {
          case (Some(a), Some(b)) => Some(StatPred.And(Seq(a, b)))
          case (Some(a), None) => Some(a)
          case (None, Some(b)) => Some(b)
          case _ => None
        }
      case PredFunc("or", Seq(l, r)) =>
        for {a <- fromPredNode(l); b <- fromPredNode(r)}
          yield StatPred.Or(Seq(a, b))
      case PredFunc(">", Seq(l, r)) => leaf(l, r, Gt.apply, Lt.apply)
      case PredFunc(">=", Seq(l, r)) => leaf(l, r, Ge.apply, Le.apply)
      case PredFunc("<", Seq(l, r)) => leaf(l, r, Lt.apply, Gt.apply)
      case PredFunc("<=", Seq(l, r)) => leaf(l, r, Le.apply, Ge.apply)
      case PredFunc("=", Seq(l, r)) => leaf(l, r, Eq.apply, Eq.apply)
      case PredFunc("in", a +: vs) if vs.nonEmpty =>
        val lits = vs.map(litValue)
        for {c <- attrName(a); _ <- if (lits.forall(_.isDefined)) Some(())
                                    else None}
          yield In(c, lits.map(_.get))
      case _ => None
    }
  }

  /** [[snapshotRead]] with the natural Spark API: ONE `Column` filter
    * drives both tiers — the compilable part prunes files at planning
    * time via [[toStatPred]], and the FULL original filter applies
    * row-level, so arbitrary predicates stay exact (an unsupported
    * filter simply prunes nothing). This is the pushdown contract a
    * DataSource V2 `SupportsPushDownFilters` implementation would
    * expose, without re-implementing the parquet reader.
    */
  def snapshotReadWhere(spark: org.apache.spark.sql.SparkSession,
                        dir: String, filter: Column,
                        snapshotId: Long = -1L,
                        mergeSchema: Boolean = false): DataFrame = {
    val pred = toStatPred(filter)
    val (_, m) = snapshotAt(tableFs(spark, dir), dir, snapshotId)
    val kept = pruned(m, pred)
    // zero survivors: a schema-correct empty result with no scan over
    // the full list ([[emptyLike]] — manifest schema when recorded, a
    // bounded file subset otherwise)
    if (kept.isEmpty && pred.isDefined)
      return emptyLike(spark, dir, m.entries, m.schemas, mergeSchema)
    liveRead(spark, dir, m, kept, mergeSchema).filter(filter)
  }

  /** The kept-file count [[snapshotReadWhere]] would resolve — the
    * observable planning decision for tests and EXPLAIN-style tooling.
    */
  def snapshotFilesWhere(spark: org.apache.spark.sql.SparkSession,
                         dir: String, filter: Column,
                         snapshotId: Long = -1L): Seq[FileEntry] =
    snapshotFiles(spark, dir, snapshotId, toStatPred(filter))

  /** Morton z-value of the given (column, bits) dimensions as ONE
    * codegen-friendly Column: bit j of dimension i lands at the j-th
    * interleave slot (round-robin over dimensions that still have bits
    * left — unequal widths pack the leftovers consecutively). Values are
    * masked into their bit budget; callers bucket or normalize skewed
    * domains first (rank-bucketing keeps the curve meaningful when a
    * raw domain overflows its bits).
    */
  def zValue(dims: Seq[(Column, Int)]): Column = {
    require(dims.nonEmpty, "zValue needs at least one dimension")
    require(dims.forall(_._2 > 0), "every dimension needs bits > 0")
    require(dims.map(_._2).sum <= 63,
      s"total bits ${dims.map(_._2).sum} > 63 do not fit a long z-value")
    val masked = dims.map { case (c, b) =>
      (c.cast("long").bitwiseAND(lit((1L << b) - 1)), b)
    }
    val terms = scala.collection.mutable.ArrayBuffer.empty[Column]
    var outPos = 0
    val maxBits = dims.map(_._2).max
    var j = 0
    while (j < maxBits) {
      masked.foreach { case (c, b) =>
        if (j < b) {
          terms += shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), outPos)
          outPos += 1
        }
      }
      j += 1
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** Write `df` as parquet clustered along the z-curve of `dims`:
    * range-partition into `numFiles` contiguous curve segments, sort
    * each segment, drop the helper key (the clustering benefit lives in
    * the DATA columns' min/max stats, which the sort tightens). Extra
    * parquet options (e.g. a small `parquet.block.size` to get many
    * row groups per file) pass through.
    */
  def zorderWrite(df: DataFrame, dims: Seq[(String, Int)], path: String,
                  numFiles: Int,
                  options: Map[String, String] = Map.empty): Unit =
    df.withColumn("_zkey", zValue(dims.map { case (n, b) => (col(n), b) }))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").options(options).parquet(path)

  /** Bucketed-table write: hash-partition rows into `numBuckets` files
    * per key AND record that layout in the catalog, so every later join
    * or aggregation on `keyCol` between same-bucketed tables runs with
    * ZERO exchange — the shuffle is paid once at write time, amortized
    * over every subsequent query (the canonical fact⋈dim co-location
    * strategy at 100 TB, where re-shuffling the fact table per query is
    * the dominant cost). Buckets are also key-sorted: modern Spark only
    * trusts that ordering behind the legacy
    * `bucketedTableScan.outputOrdering` flag, so a PARTITION-LOCAL sort
    * remains in merge joins — a cheap pass over pre-sorted runs, no
    * exchange. LayoutSpec asserts exactly that plan shape.
    */
  def bucketWrite(df: DataFrame, table: String, keyCol: String,
                  numBuckets: Int): Unit = {
    val spark = df.sparkSession
    // `overwrite` only replaces tables the CATALOG knows about. With the
    // default in-memory catalog, a previous JVM's warehouse directory
    // survives while its catalog entry does not, and saveAsTable then
    // refuses the "new" table because the location exists. Drop both.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // Pre-partition on the SAME hash the bucketing uses so each task
    // holds exactly one bucket → ONE file per bucket. With multiple
    // files per bucket Spark keeps per-bucket sortedness unknown and
    // re-sorts under every merge join; one file per bucket is what lets
    // the read side trust sortBy and skip the sort entirely.
    df.repartition(numBuckets, col(keyCol))
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, keyCol).sortBy(keyCol)
      .saveAsTable(table)
  }

  /** Small-file compaction — the table-maintenance pass every long-run
    * ingestion needs: streaming sinks and per-batch appends accumulate
    * files far below the efficient scan size (vs
    * `spark.sql.files.maxPartitionBytes`), and at 100 TB the resulting
    * task-per-tiny-file overhead dominates scan time. Rewrites `path`
    * to `out` in `ceil(totalBytes / targetBytes)` files.
    *
    * Scale shape: `coalesce`, not `repartition` — compaction does not
    * need a shuffle, only fewer output tasks; coalesce merges existing
    * partitions narrowly (each output task reads several input files
    * sequentially). The tradeoff (coalesced file sizes track the input
    * distribution rather than balancing perfectly) is the right one
    * for maintenance passes; a layout CHANGE (clustering) is
    * [[zorderWrite]]/[[linearWrite]]'s job, which do pay the shuffle.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long, out: String): Int = {
    require(targetBytes > 0, s"bad target size $targetBytes")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listFiles(p, true) match {
      case it =>
        var s = 0L
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) s += f.getLen
        }
        s
    }
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(path).coalesce(n)
      .write.mode("overwrite").parquet(out)
    n
  }

  /** Snapshot DIFF — change-data capture between two committed
    * snapshots of a [[snapshotWrite]] table: one row per changed key,
    * labeled insert / delete / update (the Delta-CDF-style feed a
    * downstream incremental pipeline consumes instead of re-reading
    * the whole table). Keys are assumed unique per snapshot (the
    * [[graft.operators.Corpus.snapshotMerge]] invariant).
    *
    * Scale shape: each side collapses to a skinny (key, row-hash)
    * projection at the scan (the md5 runs map-side, full rows never
    * shuffle), then ONE full-outer equi-join on the key decides the
    * label: only-right = insert, only-left = delete, hash-mismatch =
    * update, hash-equal rows drop. NULL column values hash via a
    * sentinel so NULL vs 'null' vs absent stay distinct.
    */
  def snapshotDiff(spark: org.apache.spark.sql.SparkSession, dir: String,
                   fromId: Long, toId: Long, keyCol: String): DataFrame = {
    val from = snapshotRead(spark, dir, fromId)
    val to = snapshotRead(spark, dir, toId)
    require(from.columns.sorted.sameElements(to.columns.sorted),
      "snapshot schemas differ — diff is defined per column set")
    val dataCols = from.columns.sorted.filter(_ != keyCol)
    def hashed(df: DataFrame): DataFrame = df.select(
      col(keyCol).as("key"),
      md5(concat_ws("\u0001", dataCols.toIndexedSeq.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*)).as("h"))
    hashed(from).as("f")
      .join(hashed(to).as("t"), col("f.key") === col("t.key"), "full_outer")
      .select(coalesce(col("f.key"), col("t.key")).as("key"),
        when(col("f.key").isNull, "insert")
          .when(col("t.key").isNull, "delete")
          .when(col("f.h") =!= col("t.h"), "update").as("change_type"))
      .filter(col("change_type").isNotNull)
  }

  /** Parquet BLOOM-FILTER layout: write with a split-block bloom filter
    * per requested column (parquet-mr's native feature — public format
    * spec), so point lookups on high-cardinality UNSORTED columns can
    * skip whole row groups that min/max statistics cannot prune (on a
    * random key every row group's [min, max] spans the whole domain —
    * stats pruning is useless exactly where bloom filters shine).
    * `expectedNdv` sizes each filter (parquet-mr derives bits from the
    * target fpp); readers need no opt-in — Spark's parquet scan probes
    * footers' bloom offsets during row-group filtering whenever a
    * pushed equality predicate matches a filtered column.
    *
    * `rowGroupBytes` bounds the row-group size so a table yields MANY
    * groups per file — the skipping unit; one giant row group per file
    * would make the filter decorative. LayoutSpec proves the skip with
    * task input metrics: the same point lookup reads far fewer records
    * from the bloom layout than from a plain copy (dictionary encoding
    * disabled on both so dictionary-page pruning can't mask the
    * effect).
    */
  def bloomWrite(df: DataFrame, bloomCols: Seq[String], path: String,
                 expectedNdv: Long, rowGroupBytes: Long = 1L << 20): Unit = {
    require(bloomCols.nonEmpty, "need at least one bloom column")
    val w0 = df.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .option("parquet.enable.dictionary", "false")
    bloomCols.foldLeft(w0) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
    }.parquet(path)
  }

  /** Comparison baseline: the same write clustered on a SINGLE column —
    * what a one-dimensional `ORDER BY` layout gives you.
    */
  def linearWrite(df: DataFrame, sortCol: String, path: String,
                  numFiles: Int,
                  options: Map[String, String] = Map.empty): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").options(options).parquet(path)

  /** Manifest-committed snapshot write — the core trick of every table
    * format (Iceberg/Delta/Hudi) reduced to its primitive: data files
    * land under `dir/data/` with unique names, then ONE manifest file
    * (the atomic unit) lists exactly the files of this snapshot.
    * Readers resolve the manifest first and read only its files, so
    *  - a writer crash mid-job leaves orphan data files but NO torn
    *    table (the manifest never referenced them);
    *  - overwrite is atomic: the new manifest replaces the old in one
    *    rename, and in-flight readers of the old manifest keep a
    *    consistent old view (their files are still on disk until a
    *    vacuum);
    *  - time travel falls out: old manifests name old snapshots.
    * On an object store this is the ONLY way to get atomic multi-file
    * commits — directory listings are neither atomic nor consistent.
    * Returns the snapshot id.
    */
  def snapshotWrite(df: DataFrame, dir: String,
                    statsCols: Seq[String] = Nil,
                    bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val fs = tableFs(spark, dir)
    // next id = max existing + 1 (single-writer assumption; a real
    // catalog arbitrates concurrent committers)
    val (cur, prev) = latestOrEmpty(fs, dir)
    val snapId = cur + 1L
    // field-id continuity across overwrites: existing names keep their
    // permanent ids, so a later rename serves pre-overwrite snapshots too
    val (schemas, sid) = assignSchema(prev.schemas, df.schema)
    val dataRel = attemptDir("data/snap", snapId)
    df.write.mode("overwrite").parquet(s"$dir/$dataRel")
    // an overwrite keeps the table's stats contract unless told
    // otherwise — same inheritance append uses
    writeManifest(fs, dir, snapId, writtenEntries(spark, fs, dir, dataRel,
      prev.entries, schemas, Some(sid), statsCols, bloomCols), schemas,
      op = "overwrite")
    snapId
  }

  /** APPEND a batch to a manifest-committed table — the incremental
    * ingestion primitive: new data files land under the new snapshot's
    * directory and the committed manifest is the PREVIOUS file list
    * plus the new files, so every prior file is reused verbatim (an
    * append never rewrites a byte of existing data) and readers of the
    * old manifest keep their consistent view. Stats columns default to
    * whatever the table already tracks, so pruned reads keep working
    * across appends without re-stating the contract per batch.
    * Returns the new snapshot id.
    */
  def snapshotAppend(df: DataFrame, dir: String,
                     statsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val fs = tableFs(spark, dir)
    val (cur, prev) = latestOrEmpty(fs, dir)
    val (schemas, sid) = assignSchema(prev.schemas, df.schema, merge = true)
    val snapId = cur + 1L
    val dataRel = attemptDir("data/snap", snapId)
    df.write.mode("overwrite").parquet(s"$dir/$dataRel")
    // outstanding deletes carry: appended files are new (no positions
    // reference them; equality tombstones intentionally cover the new
    // rows too), prior files are verbatim
    writeManifest(fs, dir, snapId, prev.entries ++ writtenEntries(spark, fs,
      dir, dataRel, prev.entries, schemas, Some(sid), statsCols, bloomCols),
      schemas, prev.deletes, prev.eqDeletes)
    snapId
  }

  /** APPEND with write-time CHECK constraints and a quarantine — the
    * Delta-constraint / dead-letter-queue ingestion gate: every named
    * check evaluates per row with SQL CHECK semantics (a row is
    * rejected only when a check is explicitly FALSE — null passes, as
    * in the standard); passing rows append to the table, failing rows
    * append to the quarantine table with a `_violations` column naming
    * every failed check (sorted — deterministic), so a data-quality
    * incident is a queryable table, not a lost write. Bad data never
    * poisons the main table, and nothing is silently dropped.
    *
    * Two snapshot commits (main, then quarantine) — each atomic; a
    * crash between them loses only the quarantine copy of the batch,
    * never main-table integrity. Returns (main snapshot id, rows
    * quarantined). Stats/bloom columns follow [[snapshotAppend]]'s
    * inheritance contract on the main table.
    *
    * Scale shape: the checks are one narrow codegen'd projection; the
    * split is two filtered writes of the same scan — no shuffle, no
    * driver round trip beyond the commit bookkeeping.
    */
  def snapshotAppendChecked(df: DataFrame, dir: String,
                            quarantineDir: String,
                            checks: Seq[(String, Column)],
                            statsCols: Seq[String] = Nil,
                            bloomCols: Seq[String] = Nil): (Long, Long) = {
    require(checks.nonEmpty, "snapshotAppendChecked needs >= 1 check")
    require(checks.map(_._1).distinct.size == checks.size,
      "check names must be unique")
    val viol = array_sort(array_compact(array(checks.map { case (n, c) =>
      when(!coalesce(c, lit(true)), lit(n))
        .otherwise(lit(null).cast("string"))
    }: _*)))
    val tagged = df.withColumn("_violations", viol)
      .localCheckpoint() // both filtered writes read one evaluation
    val good = tagged.filter(size(col("_violations")) === 0)
      .drop("_violations")
    val bad = tagged.filter(size(col("_violations")) > 0)
    val snapId = snapshotAppend(good, dir, statsCols, bloomCols)
    val nBad = bad.count()
    if (nBad > 0) snapshotAppend(bad, quarantineDir)
    (snapId, nBad)
  }

  /** KEY-ENFORCED append — the "primary key" contract no open table
    * format actually enforces (Delta and Iceberg both document PK as
    * informational): append only rows whose key columns do not already
    * exist in the table, routing collisions to a quarantine table with
    * the incoming batch's own intra-batch duplicates (beyond the first
    * occurrence, ordered by the key itself for determinism) counted as
    * collisions too. Returns (snapshotId, nRejected).
    *
    * Scale shape: ONE left-anti equi-join against the current
    * snapshot's key projection (column-pruned scan — only the key
    * columns read) plus one intra-batch window over the key; the
    * quarantine write is collision-proportional. The check is
    * read-committed, not serializable: two concurrent appends of the
    * same key can both pass (the commit protocol arbitrates ids, not
    * content) — same caveat Delta's MERGE carries without a blocking
    * catalog.
    */
  def snapshotAppendUnique(df: DataFrame, dir: String,
                           quarantineDir: String, keyCols: Seq[String],
                           statsCols: Seq[String] = Nil,
                           bloomCols: Seq[String] = Nil): (Long, Long) = {
    require(keyCols.nonEmpty, "snapshotAppendUnique needs >= 1 key column")
    val spark = df.sparkSession
    val keys = keyCols.map(col)
    // first occurrence per key within the batch wins; the order is the
    // FULL row (not just the key — equal keys with different payloads
    // must split deterministically across runs and partitionings)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(df.columns.map(col): _*)
    val tagged = df.withColumn("_rn", row_number().over(w))
    val existing = snapshotRead(spark, dir).select(keys: _*)
    val firsts = tagged.filter(col("_rn") === 1).drop("_rn")
      .localCheckpoint() // anti and semi both read one evaluation
    val fresh = firsts.join(existing, keyCols, "left_anti")
    val collidedFirsts = firsts.join(existing, keyCols, "left_semi")
    val intraDups = tagged.filter(col("_rn") > 1).drop("_rn")
    val snapId = snapshotAppend(fresh, dir, statsCols, bloomCols)
    val bad = collidedFirsts.unionByName(intraDups).localCheckpoint()
    val nBad = bad.count()
    if (nBad > 0) snapshotAppend(bad, quarantineDir)
    (snapId, nBad)
  }

  /** WRITE-AUDIT-PUBLISH staging — the Iceberg WAP pattern reduced to
    * the manifest primitive: the batch's data files land under
    * `data/staged-<token>/` and ONE `staged-<token>.json` records the
    * would-be entries (stats and blooms per the table's contract,
    * schema merged against the base) — but NO committed manifest
    * references them, so production readers cannot see the batch. An
    * audit job inspects it via [[stagedRead]] (or any check over it),
    * then [[publishStaged]] commits it atomically or [[abandonStaged]]
    * drops it without a trace. Staged files survive [[vacuum]] (their
    * entries are live-by-staging until published or abandoned).
    *
    * Returns the staging token. Concurrent commits between staging and
    * publish are fine: appends commute, and publish REBASES the batch
    * onto the then-current snapshot.
    */
  def snapshotAppendStaged(df: DataFrame, dir: String,
                           statsCols: Seq[String] = Nil,
                           bloomCols: Seq[String] = Nil): String = {
    val spark = df.sparkSession
    val fs = tableFs(spark, dir)
    val (base, prev) = latestOrEmpty(fs, dir)
    val (schemas, sid) = assignSchema(prev.schemas, df.schema, merge = true)
    val token = s"$base-${java.util.UUID.randomUUID().toString.take(8)}"
    val dataRel = s"data/staged-$token"
    df.write.mode("overwrite").parquet(s"$dir/$dataRel")
    val body = manifestBody(writtenEntries(spark, fs, dir, dataRel,
      prev.entries, schemas, Some(sid), statsCols, bloomCols), schemas, Nil)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, s"staged-$token.json"), false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    token
  }

  /** Append ANOTHER batch to an existing staged token — MULTI-BATCH
    * write-audit-publish: an ingest job stages N micro-batches under
    * one token, the audit sees their UNION ([[stagedRead]]), and
    * [[publishStaged]] commits the whole lineage in ONE atomic
    * snapshot (or [[abandonStaged]] drops all of it, data included).
    * This is the real WAP deployment shape — a staging job is rarely
    * one batch — without giving up the format's linear history:
    * staged batches stay invisible to every committed reader, so no
    * divergent write branch ever exists.
    *
    * New files land in the token's own staged directory (append mode;
    * parquet part names are UUID-unique), prior staged entries carry
    * VERBATIM, and only the new files pay stats/bloom collection —
    * the batch inherits the token's recorded stat/bloom contract
    * unless overridden. Single staging writer per token (the staged
    * record is a plain overwrite); publish/abandon arbitration is
    * unchanged. Vacuum keeps every staged file alive via the updated
    * record.
    */
  def stageAppendMore(df: DataFrame, dir: String, token: String,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val fs = tableFs(spark, dir)
    val p = stagedPath(fs, dir, token)
    val staged = readManifest(fs, p)
    val (schemas, sid) = assignSchema(staged.schemas, df.schema, merge = true)
    // one schema id across the chain: publish stamps the whole token
    // with one id, so a mid-chain widening would mislabel the earlier
    // batches' files — publish first, then stage the wider batch
    staged.entries.flatMap(_.schemaId).headOption.foreach(old =>
      require(old == sid,
        s"staged chain $token has schema id $old but this batch forks " +
          "it — publish the chain first, then stage the wider batch"))
    val dataRel = s"data/staged-$token"
    df.write.mode("append").parquet(s"$dir/$dataRel")
    // stats collect over the FRESH files only — prior entries keep
    // their recorded stats, so an N-batch WAP chain pays O(batch)
    // per stage, not O(chain)
    val known = staged.entries
      .map(e => e.path.substring(e.path.lastIndexOf('/') + 1)).toSet
    val body = manifestBody(staged.entries ++ writtenEntries(spark, fs, dir,
      dataRel, staged.entries, schemas, Some(sid), statsCols, bloomCols,
      skip = known), schemas, Nil)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The staged BATCH as a DataFrame — what the audit job queries
    * before deciding to publish or abandon. Production reads stay on
    * the committed snapshots; this is the candidate view only.
    */
  def stagedRead(spark: org.apache.spark.sql.SparkSession, dir: String,
                 token: String): DataFrame = {
    val fs = tableFs(spark, dir)
    val entries = readManifest(fs, stagedPath(fs, dir, token)).entries
    spark.read.parquet(entries.map(e => s"$dir/${e.path}"): _*)
  }

  /** Publish a staged batch: ONE atomic commit appends its entries to
    * the then-current snapshot (rebase — appends commute with every
    * commit that landed since staging; outstanding deletes carry).
    * Publishing across a column RENAME refuses (the staged parquet
    * carries pre-rename names — re-stage the batch); a publish/publish
    * race on the same token resolves to exactly one winner via a
    * create-exclusive token. Returns the new snapshot id.
    */
  def publishStaged(spark: org.apache.spark.sql.SparkSession,
                    dir: String, token: String): Long = {
    val fs = tableFs(spark, dir)
    val p = stagedPath(fs, dir, token)
    require(createExclusive(fs,
      new org.apache.hadoop.fs.Path(dir, s".publish-$token.lock")),
      s"staged batch $token is being published by another writer")
    val staged = readManifest(fs, p)
    val base = token.takeWhile(_ != '-').toLong
    val (cur, m) = latestOrEmpty(fs, dir)
    val stagedSid = staged.entries.flatMap(_.schemaId).headOption.getOrElse(0)
    val (schemas, sid) =
      if (cur == 0L || cur == base) (staged.schemas, stagedSid)
      else {
        // REBASE onto commits that landed since staging. A rename in
        // between would fork the staged parquet's old column names —
        // detect via field ids and refuse.
        val stagedFields = staged.schemas.find(_.id == stagedSid)
          .map(_.fields).getOrElse(Nil)
        val curById = currentSchemaOf(m.schemas)
          .map(_.fields.map(f => f.id -> f.name).toMap)
          .getOrElse(Map.empty[Int, String])
        stagedFields.foreach(f => curById.get(f.id).foreach(cn =>
          require(cn == f.name,
            s"cannot publish $token: column '${f.name}' was renamed to " +
              s"'$cn' after staging — re-stage the batch")))
        val struct = org.apache.spark.sql.types.StructType(
          stagedFields.map(f => org.apache.spark.sql.types.StructField(
            f.name, org.apache.spark.sql.types.DataType.fromDDL(f.tpe))))
        assignSchema(m.schemas, struct, merge = true)
      }
    val snapId = cur + 1L
    // both delete lists carry, as in snapshotAppend: dropping the
    // equality tombstones would resurrect every key-deleted row
    writeManifest(fs, dir, snapId,
      m.entries ++ staged.entries.map(_.copy(schemaId = Some(sid))),
      schemas, m.deletes, m.eqDeletes)
    fs.delete(p, false)
    fs.delete(new org.apache.hadoop.fs.Path(dir, s".publish-$token.lock"),
      false)
    snapId
  }

  /** Drop a staged batch without publishing: the staging record and
    * its data files are reclaimed immediately; committed snapshots
    * never referenced them, so nothing else changes.
    */
  def abandonStaged(spark: org.apache.spark.sql.SparkSession,
                    dir: String, token: String): Unit = {
    val fs = tableFs(spark, dir)
    fs.delete(stagedPath(fs, dir, token), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/data/staged-$token"),
      true)
  }

  /** RENAME a column — a METADATA-ONLY commit (zero data files touched
    * at any table size): the new current schema keeps the field's
    * permanent id under the new name, file entries carry unchanged, and
    * reads resolve by id, so every pre-rename file serves the renamed
    * column without forking ([[FieldInfo]]). Pruning on the new name
    * translates per file back to the name its stats were recorded
    * under. Refuses tables with files that predate schema recording —
    * their stats keys could not be distinguished from current names.
    * Returns the new snapshot id.
    */
  def renameColumn(spark: org.apache.spark.sql.SparkSession, dir: String,
                   oldName: String, newName: String): Long =
    evolveSchema(spark, dir, s"rename $oldName -> $newName") { cur =>
      require(cur.fields.exists(_.name == oldName),
        s"no column $oldName in the current schema")
      require(!cur.fields.exists(_.name == newName),
        s"column $newName already exists")
      cur.fields.map(f => if (f.name == oldName) f.copy(name = newName)
        else f)
    }

  /** DROP a column — metadata-only like [[renameColumn]]: the field
    * leaves the current schema, reads project it away on every file,
    * and a later re-add of the same NAME gets a fresh id, so the old
    * data never resurrects (the Iceberg drop semantic). The bytes
    * remain until files are rewritten (compaction/OPTIMIZE heal).
    * Returns the new snapshot id.
    */
  def dropColumn(spark: org.apache.spark.sql.SparkSession, dir: String,
                 name: String): Long =
    evolveSchema(spark, dir, s"drop $name") { cur =>
      require(cur.fields.exists(_.name == name),
        s"no column $name in the current schema")
      require(cur.fields.size > 1, "cannot drop the last column")
      cur.fields.filterNot(_.name == name)
    }

  private def evolveSchema(spark: org.apache.spark.sql.SparkSession,
                           dir: String, what: String)
                          (change: SchemaInfo => Seq[FieldInfo]): Long = {
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    require(m.schemas.nonEmpty,
      s"cannot $what: table has no recorded schema history " +
        "(written before field-id tracking) — rewrite it once via " +
        "compactSnapshot/snapshotWrite first")
    require(m.entries.forall(_.schemaId.isDefined),
      s"cannot $what: some files predate schema recording — " +
        "compactSnapshot first so every file carries its schema id")
    requireNoDeletes(dir, m, s"schema evolution ($what)")
    val next = SchemaInfo(m.schemas.map(_.id).max + 1,
      change(m.schemas.maxBy(_.id)))
    writeManifest(fs, dir, cur + 1L, m.entries, m.schemas :+ next,
      op = "evolve")
    cur + 1L
  }

  /** Compact a manifest-committed table's small files — [[compact]]'s
    * sibling INSIDE the snapshot contract: the accumulated files of the
    * latest snapshot (typically many per-batch appends) are rewritten
    * into ceil(totalBytes / targetBytes) files and committed as a new
    * snapshot; content is untouched (pure maintenance), the pre-compact
    * snapshot stays readable until vacuumed, and stats re-collect so
    * pruned reads survive the rewrite. Narrow coalesce — compaction
    * needs fewer output tasks, not a shuffle; on a clustered table the
    * clustering degrades GRACEFULLY (coalesce concatenates adjacent
    * partitions in index order, so each output file unions consecutive
    * sorted runs and its stats range stays the union of neighbors —
    * wider than before, never scrambled; re-cluster with a zorder/
    * linear rewrite when pruning tightness matters more than the
    * shuffle). Returns (new snapshot id, file count before, file count
    * after).
    */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession, dir: String,
                      targetBytes: Long): (Long, Int, Int) = {
    require(targetBytes > 0, s"bad target size $targetBytes")
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    val totalBytes = m.entries.map(bytesOf(fs, dir, _)).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val snapId = cur + 1L
    val dataRel = attemptDir("data/snap", snapId)
    // the live read settles outstanding deletes (the Iceberg rewrite
    // contract) and, on an evolved table, HEALS it: rewritten files
    // carry the current names, so SQL access and the single-scan fast
    // path come back
    val base = liveRead(spark, dir, m, m.entries)
    base.coalesce(n)
      .write.mode("overwrite").parquet(s"$dir/$dataRel")
    val (outSchemas, sid) = assignSchema(m.schemas, base.schema)
    val written = writtenEntries(spark, fs, dir, dataRel, m.entries,
      m.schemas, Some(sid))
    writeManifest(fs, dir, snapId, written, outSchemas, op = "replace")
    (snapId, m.entries.size, written.size)
  }

  /** INCREMENTAL bin-packing compaction — the form that scales:
    * [[compactSnapshot]] rewrites the whole table, which at 100 TB is
    * a 100 TB job nobody schedules; real maintenance rewrites ONLY the
    * small-file debt each ingestion round leaves behind. Files at or
    * above `smallBytes` (default targetBytes/2) carry VERBATIM — zero
    * bytes moved for the bulk of the table; files below it are read,
    * bin-packed to ceil(bytes/targetBytes) outputs, and committed
    * together with the carried entries in one snapshot.
    *
    * Merge-on-read debt is settled EXACTLY for the rewritten subset:
    * position deletes referencing rewritten files are applied in the
    * rewrite and dropped from the index (the carried DV index is
    * re-filtered to untouched files, keeping the disjoint-count
    * arithmetic exact); equality tombstones carry verbatim — their
    * matching rows are dropped from the rewritten files, and they must
    * keep masking the untouched ones. Uniform-schema tables only (an
    * evolved table heals through the full [[compactSnapshot]]).
    * Returns (snapshot id, files rewritten, files written); fewer than
    * two small files is a commit-free no-op.
    */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
                        dir: String, targetBytes: Long,
                        smallBytes: Long = -1L): (Long, Int, Int) = {
    require(targetBytes > 0, s"bad target size $targetBytes")
    val small = if (smallBytes > 0) smallBytes else targetBytes / 2
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    require(uniformSchema(m.entries, m.schemas),
      "incremental compaction needs a uniform-schema table — run the " +
        "full compactSnapshot to heal evolution first")
    val (cand, carried) = m.entries.partition(bytesOf(fs, dir, _) < small)
    if (cand.size < 2) return (cur, 0, 0)
    val snapId = cur + 1L
    val dataRel = attemptDir("data/snap", snapId)
    val n = math.max(1L, (cand.map(bytesOf(fs, dir, _)).sum +
      targetBytes - 1) / targetBytes).toInt
    // live view of ONLY the candidates: their position deletes apply
    // here and settle; equality masking applies too (tombstones still
    // carry for the untouched files)
    liveRead(spark, dir, m, cand).coalesce(n)
      .write.mode("overwrite").parquet(s"$dir/$dataRel")
    val written = writtenEntries(spark, fs, dir, dataRel, m.entries,
      m.schemas, m.entries.flatMap(_.schemaId).headOption)
    writeManifest(fs, dir, snapId, carried ++ written, m.schemas,
      deletes = carriedDeletes(spark, fs, dir, snapId, m.deletes, carried),
      eqDeletes = m.eqDeletes, op = "replace")
    (snapId, cand.size, written.size)
  }

  /** INCREMENTAL clustering maintenance — [[optimizeClustered]]'s
    * table-wide rewrite done only where fragmentation actually is:
    * files whose recorded [min,max] interval on `dim` OVERLAPS another
    * file's are merged into fresh range-sorted runs (per overlap
    * component, so rewritten output never re-overlaps a carried file);
    * files already pairwise disjoint on the clustering key — the bulk
    * of a maintained table — carry VERBATIM. Appends after a big
    * clustering job each overlap the sorted runs; this pass folds
    * exactly them back in without re-shuffling 100 TB.
    *
    * Requires recorded exact-domain bounds on `dim` for every file
    * (that is what "clustered table" means here); refuses otherwise.
    * MoR handling matches [[compactSmallFiles]]: rewritten files'
    * position deletes settle (index re-filtered to carried files),
    * equality tombstones carry. Uniform-schema tables only. Returns
    * (snapshot id, files rewritten, files written); an already-disjoint
    * table is a commit-free no-op.
    */
  def optimizeClusteredIncremental(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, dim: String,
                                   targetBytes: Long): (Long, Int, Int) = {
    require(targetBytes > 0, s"bad target size $targetBytes")
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    require(uniformSchema(m.entries, m.schemas),
      "incremental clustering needs a uniform-schema table — run the " +
        "full optimizeClustered to heal evolution first")
    val bounds = m.entries.map { e =>
      val st = e.stats.get(dim)
      require(st.exists(s => s.min.isDefined && s.max.isDefined &&
        metadataExactType(s.tpe)),
        s"incremental clustering needs exact-domain [min,max] bounds " +
          s"on '$dim' for every file — ${e.path} lacks them")
      val s0 = st.get
      (e, statKeyOrder(s0.min.get, s0.tpe), statKeyOrder(s0.max.get, s0.tpe))
    }.sortBy(_._2)
    // sweep the sorted intervals into maximal overlap components
    val comps = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[FileEntry]]
    val order = Ordering[(Int, BigDecimal)]
    var hi: Option[(Int, BigDecimal)] = None
    bounds.foreach { case (e, lo, h) =>
      if (hi.forall(order.gt(lo, _))) {
        comps += scala.collection.mutable.ArrayBuffer(e); hi = Some(h)
      } else { comps.last += e; hi = hi.map(order.max(_, h)) }
    }
    val rewriteComps = comps.filter(_.size >= 2).map(_.toSeq).toSeq
    if (rewriteComps.isEmpty) return (cur, 0, 0)
    val rewritten = rewriteComps.flatten
    val carried = m.entries.filterNot(rewritten.contains)
    val snapId = cur + 1L
    val dataRel = attemptDir("data/snap", snapId)
    // one range-sorted rewrite PER COMPONENT: components are disjoint
    // from every carried file by construction, and per-component
    // output keeps it that way (one global exchange could emit a file
    // spanning the gap a carried file occupies)
    rewriteComps.foreach { comp =>
      val n = math.max(1L, (comp.map(bytesOf(fs, dir, _)).sum +
        targetBytes - 1) / targetBytes).toInt
      liveRead(spark, dir, m, comp)
        .repartitionByRange(n, col(dim)).sortWithinPartitions(dim)
        .write.mode("append").parquet(s"$dir/$dataRel")
    }
    val written = writtenEntries(spark, fs, dir, dataRel, m.entries,
      m.schemas, m.entries.flatMap(_.schemaId).headOption)
    writeManifest(fs, dir, snapId, carried ++ written, m.schemas,
      deletes = carriedDeletes(spark, fs, dir, snapId, m.deletes, carried),
      eqDeletes = m.eqDeletes, op = "replace")
    (snapId, rewritten.size, written.size)
  }

  /** OPTIMIZE-style clustering rewrite of a manifest-committed table —
    * Delta/Iceberg's `OPTIMIZE [ZORDER BY]` inside the snapshot
    * contract: the table's current content is re-laid-out along the
    * given dimensions (one dim → range-sorted linear clustering;
    * several → Morton z-order interleave, [[zValue]]) and committed as
    * a new snapshot with stats and blooms RE-COLLECTED, so manifest
    * min/max go from domain-wide (post-append fragmentation) back to
    * tight and every subsequent pruned read pays fewer file opens.
    * Content-neutral like compaction; the pre-rewrite snapshot
    * time-travels until vacuum. Returns the new snapshot id.
    *
    * Scale shape: one range exchange on the cluster key (+ the narrow
    * z-value projection) and a partition-local sort — the standard
    * one-time layout job every subsequent scan amortizes; `zBits`
    * bounds the interleave budget per dimension.
    */
  def optimizeClustered(spark: org.apache.spark.sql.SparkSession,
                        dir: String, dims: Seq[String],
                        numFiles: Int = 0, zBits: Int = 16): Long = {
    require(dims.nonEmpty, "optimizeClustered needs at least one dimension")
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    val snapId = cur + 1L
    val n = if (numFiles > 0) numFiles else math.max(1, m.entries.size)
    // like compactSnapshot, a clustering rewrite settles MoR deletes
    val base = liveRead(spark, dir, m, m.entries)
    val clustered =
      if (dims.size == 1)
        base.repartitionByRange(n, col(dims.head))
          .sortWithinPartitions(dims.head)
      else {
        val z = zValue(dims.map(c => (col(c), zBits)))
        base.withColumn("_graft_z", z)
          .repartitionByRange(n, col("_graft_z"))
          .sortWithinPartitions("_graft_z")
          .drop("_graft_z")
      }
    val dataRel = attemptDir("data/snap", snapId)
    clustered.write.mode("overwrite").parquet(s"$dir/$dataRel")
    val (outSchemas, sid) = assignSchema(m.schemas, base.schema)
    writeManifest(fs, dir, snapId, writtenEntries(spark, fs, dir, dataRel,
      m.entries, m.schemas, Some(sid)), outSchemas, op = "replace")
    snapId
  }

  /** Row-level DELETE on a manifest-committed table — the takedown /
    * right-to-be-forgotten operation every corpus store needs. Commits
    * a NEW snapshot whose manifest reuses every file the stats prove
    * untouched VERBATIM (no rewrite amplification — the old bytes are
    * never copied) and rewrites only the files that may hold matching
    * rows, with the matching rows dropped (SQL DELETE semantics: a
    * row is deleted only where the predicate is TRUE; null-predicate
    * rows survive). Composes with [[vacuum]] (old files stay live only
    * while an old manifest references them) and time travel (the
    * pre-delete snapshot remains readable until vacuumed).
    *
    * Returns (new snapshot id, number of files rewritten). Stats
    * columns of the current manifest are re-collected for the
    * rewritten files, so subsequent pruned reads keep working.
    */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                  pred: StatPred): (Long, Int) =
    deleteWhereImpl(spark, dir, Some(pred), toColumn(pred))

  /** [[deleteWhere]] with the natural Column surface (and the SQL
    * `DELETE FROM` entry point): the compilable part prunes which
    * files rewrite; the FULL condition decides rows, so arbitrary
    * predicates are exact — a non-compilable one rewrites every file.
    */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                  cond: Column): (Long, Int) =
    deleteWhereImpl(spark, dir, toStatPred(cond), cond)

  /** Entry for command implementations that already compiled the
    * pruning predicate from a RESOLVED expression (the Column walker
    * cannot see through an expression-wrapped Column).
    */
  private[graft] def deleteWhereCompiled(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      pred: Option[StatPred], cond: Column): (Long, Int) =
    deleteWhereImpl(spark, dir, pred, cond)

  private def deleteWhereImpl(spark: org.apache.spark.sql.SparkSession,
                              dir: String, pred: Option[StatPred],
                              cond: Column): (Long, Int) = {
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    // a CoW rewrite of touched files would resurrect MoR-deleted rows
    // and strand delete counts — settle the debt first
    requireNoDeletes(dir, m, "copy-on-write deleteWhere")
    val (touched, untouched) = pred match {
      case Some(p) =>
        m.entries.partition(e => mayMatchEvolved(e, p, m.schemas))
      case None => (m.entries, Nil) // non-compilable: every file may match
    }
    val snapId = cur + 1L
    if (touched.isEmpty) {
      // nothing can match: the new snapshot is the old file set
      writeManifest(fs, dir, snapId, m.entries, m.schemas, op = "delete")
      return (snapId, 0)
    }
    // on an evolved table the id-resolving read yields CURRENT names,
    // so the predicate (written in current names) applies directly
    val touchedDf = rewriteRead(spark, dir, touched, m.schemas)
    val survivors = touchedDf
      .filter(!coalesce(cond, lit(false)))
    // the emptiness probe is a limit-1 job (first surviving row short-
    // circuits it) — NOT worth caching the whole rewrite stream for
    if (survivors.isEmpty) {
      // every row of every touched file matched: commit the untouched
      // list alone — a zero-row rewrite part would just pollute the
      // manifest (and a table fully emptied this way must leave a
      // clean zero-file manifest, which downstream writers such as
      // upsertKeysMoR treat as a bootstrap)
      writeManifest(fs, dir, snapId, untouched, m.schemas, op = "delete")
      return (snapId, touched.size)
    }
    val dataRel = attemptDir("data/snap", snapId)
    survivors.write.mode("overwrite").parquet(s"$dir/$dataRel")
    val (outSchemas, sid) = partialSchema(m.schemas, touchedDf.schema)
    writeManifest(fs, dir, snapId, untouched ++ writtenEntries(spark, fs, dir,
      dataRel, m.entries, m.schemas, sid), outSchemas, op = "delete")
    (snapId, touched.size)
  }

  /** Targeted UPDATE — [[deleteWhere]]'s sibling for SQL `UPDATE ...
    * SET ... WHERE ...`: only files whose stats may hold a matching
    * row rewrite; in them, each assigned column takes its new value on
    * condition rows (cast to the column's existing type — an UPDATE
    * never changes the schema) and every other row/column is carried
    * bit-for-bit. Untouched files are reused verbatim in the new
    * manifest. Returns (new snapshot id, files rewritten).
    */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                  cond: Column,
                  assignments: Seq[(String, Column)]): (Long, Int) =
    updateWhereImpl(spark, dir, toStatPred(cond), cond, assignments)

  private[graft] def updateWhereCompiled(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      pred: Option[StatPred], cond: Column,
      assignments: Seq[(String, Column)]): (Long, Int) =
    updateWhereImpl(spark, dir, pred, cond, assignments)

  private def updateWhereImpl(spark: org.apache.spark.sql.SparkSession,
                              dir: String, pred: Option[StatPred],
                              cond: Column,
                              assignments: Seq[(String, Column)])
      : (Long, Int) = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      "duplicate assignment targets")
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    requireNoDeletes(dir, m, "copy-on-write updateWhere")
    val (touched, untouched) = pred match {
      case Some(p) =>
        m.entries.partition(e => mayMatchEvolved(e, p, m.schemas))
      case None => (m.entries, Nil)
    }
    val snapId = cur + 1L
    if (touched.isEmpty) {
      writeManifest(fs, dir, snapId, m.entries, m.schemas, op = "update")
      return (snapId, 0)
    }
    val touchedDf = rewriteRead(spark, dir, touched, m.schemas)
    val byName = touchedDf.schema.fields.map(f => f.name -> f).toMap
    assignments.foreach { case (n, _) =>
      require(byName.contains(n), s"UPDATE target column $n not in table") }
    val assignMap = assignments.toMap
    val hit = coalesce(cond, lit(false))
    val updated = touchedDf.select(touchedDf.columns.toIndexedSeq.map { n =>
      assignMap.get(n) match {
        case Some(v) =>
          when(hit, v.cast(byName(n).dataType)).otherwise(col(n)).as(n)
        case None => col(n)
      }
    }: _*)
    val dataRel = attemptDir("data/snap", snapId)
    updated.write.mode("overwrite").parquet(s"$dir/$dataRel")
    val (outSchemas, sid) = partialSchema(m.schemas, updated.schema)
    writeManifest(fs, dir, snapId, untouched ++ writtenEntries(spark, fs, dir,
      dataRel, m.entries, m.schemas, sid), outSchemas, op = "update")
    (snapId, touched.size)
  }

  /** Scheme-stripped path (the part after `scheme://authority`) — the
    * join key between `_metadata.file_path` (a qualified URI whose
    * exact rendering varies by filesystem) and manifest-derived
    * absolute paths. Column and Scala forms must agree.
    */
  private def normalizePathCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")
  private def normalizeAbs(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Anti-join a scan against the snapshot's position-delete files:
    * each scanned row keys by (manifest-relative path, physical row
    * index) and survives iff no delete file lists it. The delete side
    * is index-sized — broadcast — so the read stays one scan plus a
    * broadcast hash anti join; the original column set is restored
    * exactly (helper columns carry a _gdv_ prefix so user columns
    * named "path"/"pos" can never collide).
    */
  private def dvFilter(spark: org.apache.spark.sql.SparkSession,
                       dir: String, base: DataFrame,
                       scanned: Seq[FileEntry],
                       deletes: Seq[DeleteFile]): DataFrame = {
    if (deletes.isEmpty) return base
    import spark.implicits._
    val mapping = scanned
      .map(e => (normalizeAbs(s"$dir/${e.path}"), e.path))
      .toDF("_gdv_abs", "_gdv_path")
    val dv = spark.read
      .parquet(deletes.map(d => s"$dir/${d.path}"): _*)
      .select(col("path").as("_gdv_path"), col("pos").as("_gdv_pos"))
    val out = base.columns.toIndexedSeq
    base
      .withColumn("_gdv_abs", normalizePathCol(col("_metadata.file_path")))
      .withColumn("_gdv_pos", col("_metadata.row_index"))
      .join(broadcast(mapping), Seq("_gdv_abs"))
      .join(broadcast(dv), Seq("_gdv_path", "_gdv_pos"), "left_anti")
      .select(out.map(col): _*)
  }

  private def requireNoDeletes(dir: String, m: Manifest, op: String): Unit =
    require(m.deletes.isEmpty && m.eqDeletes.isEmpty,
      s"$op is not defined over outstanding position/equality deletes " +
        s"— run Layout.materializeDeletes($dir) first")

  /** The delete directories (position and equality) a manifest keeps
    * alive — live as units, their part files key by the dir prefix.
    */
  private def deleteDirs(m: Manifest): Seq[String] =
    m.deletes.map(_.path) ++ m.eqDeletes.map(_.path)

  /** `scan` — keyed by its manifest-relative `relCol` path and
    * `_gdv_pos` row index — without the rows `deletes` already list:
    * a new position index computed over this LIVE view stays disjoint
    * from the ones before it, keeping Σrows arithmetic exact.
    */
  private def liveRows(spark: org.apache.spark.sql.SparkSession,
                       dir: String, scan: DataFrame, relCol: String,
                       deletes: Seq[DeleteFile]): DataFrame =
    if (deletes.isEmpty) scan
    else scan.join(
      spark.read.parquet(deletes.map(d => s"$dir/${d.path}"): _*)
        .select(col("path").as(relCol), col("pos").as("_gdv_pos")),
      Seq(relCol, "_gdv_pos"), "left_anti")

  /** Write one delete index — `(path, pos)` rows or equality keys —
    * under a fresh `<prefix>-<snapId>-…` attempt directory; returns its
    * relative path and row count, or None (directory removed) when it
    * holds no rows.
    */
  private def writeDeleteIndex(fs: org.apache.hadoop.fs.FileSystem,
                               dir: String, prefix: String, snapId: Long,
                               rows: DataFrame): Option[(String, Long)] = {
    val rel = attemptDir(prefix, snapId)
    rows.write.mode("overwrite").parquet(s"$dir/$rel")
    val n = rows.sparkSession.read.parquet(s"$dir/$rel").count()
    if (n > 0L) Some((rel, n))
    else { fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), true); None }
  }

  /** The position index of a PARTIAL rewrite: re-filtered to the
    * carried files — positions on rewritten files are settled,
    * positions on carried files stay.
    */
  private def carriedDeletes(spark: org.apache.spark.sql.SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             dir: String, snapId: Long,
                             deletes: Seq[DeleteFile],
                             carried: Seq[FileEntry]): Seq[DeleteFile] =
    if (deletes.isEmpty) Nil
    else {
      import spark.implicits._
      val kept = spark.read
        .parquet(deletes.map(d => s"$dir/${d.path}"): _*)
        .join(broadcast(carried.map(_.path).toDF("path")), Seq("path"),
          "left_semi")
      writeDeleteIndex(fs, dir, "deletes/snap", snapId, kept).toSeq
        .map { case (rel, n) => DeleteFile(rel, n) }
    }

  /** `es` read for a rewrite: by name when they share the current
    * schema (mergeSchema keeps columns a widening append introduced),
    * by field id otherwise ([[evolvedRead]]) — current names either way.
    */
  private def rewriteRead(spark: org.apache.spark.sql.SparkSession,
                          dir: String, es: Seq[FileEntry],
                          schemas: Seq[SchemaInfo]): DataFrame =
    if (uniformSchema(es, schemas))
      spark.read.option("mergeSchema", "true")
        .parquet(es.map(e => s"$dir/${e.path}"): _*)
    else evolvedRead(spark, dir, es, schemas, mergeSchema = true)

  /** The schema of a PARTIAL rewrite: only a table ALREADY recording
    * schemas evolves (a fresh schema inferred from the touched subset
    * alone could miss widened columns that live only in untouched
    * legacy files — compact/OPTIMIZE, which rewrite everything, are the
    * upgrade path). Returns (schema history, id for the new files).
    */
  private def partialSchema(schemas: Seq[SchemaInfo],
                            written: org.apache.spark.sql.types.StructType)
      : (Seq[SchemaInfo], Option[Int]) =
    if (schemas.isEmpty) (Nil, None)
    else {
      val (out, sid) = assignSchema(schemas, written, merge = true)
      (out, Some(sid))
    }

  /** The files whose stats may hold a key of `source`: its
    * per-key-column [min, max] box — one bounded aggregation,
    * 2·|keys| scalars — compiled to a conjunctive [[StatPred]]; an
    * all-null key column gives no bound, so cannot prune.
    */
  private def keyBoxCandidates(source: DataFrame, keyCols: Seq[String],
                               entries: Seq[FileEntry],
                               schemas: Seq[SchemaInfo]): Seq[FileEntry] = {
    val r = source.agg(
      min(col(keyCols.head)), max(col(keyCols.head)) +:
        keyCols.tail.flatMap(c => Seq(min(col(c)), max(col(c)))): _*).head()
    val box = keyCols.zipWithIndex.flatMap { case (c, i) =>
      (Option(r.get(2 * i)), Option(r.get(2 * i + 1))) match {
        case (Some(lo), Some(hi)) => Some(Between(c, lo, hi))
        case _ => None
      }
    }
    if (box.isEmpty) entries
    else entries.filter(e => mayMatchEvolved(e, And(box), schemas))
  }

  /** A file's recorded byte size (one stat call for entries written
    * before sizes were recorded).
    */
  private def bytesOf(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                      e: FileEntry): Long =
    e.bytes.getOrElse(
      fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/${e.path}")).getLen)

  /** MERGE-ON-READ delete — the Iceberg v2 position-delete / Delta
    * deletion-vector move: instead of REWRITING every file that may
    * hold a matching row ([[deleteWhere]]'s copy-on-write), the commit
    * writes one small parquet of (path, pos) position deletes and a
    * manifest whose data entries are the old list VERBATIM. Deleting
    * 0.1% of a 100 TB table stops costing a 100 TB rewrite — the write
    * amplification is the size of the deleted-row INDEX, not the data.
    * Readers ([[snapshotRead]] and everything built on it) anti-join
    * the position set back out; [[materializeDeletes]] (or any
    * OPTIMIZE/compact) rewrites and clears the debt.
    *
    * Positions are computed against the LIVE view (already-deleted
    * rows are excluded first), so accumulated delete files stay
    * pairwise disjoint and Σrows arithmetic stays exact. Files whose
    * manifest stats prove no match contribute no scan tasks (the same
    * pruning tier deleteWhere uses). Uniform-schema tables only — an
    * evolved table materializes first (compact/OPTIMIZE), same as the
    * SQL surface. Returns (new snapshot id, rows marked deleted); a
    * predicate matching nothing commits nothing and returns the
    * current id.
    */
  def deleteWhereMoR(spark: org.apache.spark.sql.SparkSession,
                     dir: String, pred: StatPred): (Long, Long) =
    deleteWhereMoRImpl(spark, dir, Some(pred), toColumn(pred))

  /** [[deleteWhereMoR]] with the natural Column surface (and the SQL
    * `DELETE FROM` entry point): the compilable part of the filter
    * prunes candidate files via [[toStatPred]]; the FULL original
    * condition marks rows, so arbitrary predicates are exact — a
    * non-compilable condition simply scans every file once.
    */
  def deleteWhereMoR(spark: org.apache.spark.sql.SparkSession,
                     dir: String, cond: Column): (Long, Long) =
    deleteWhereMoRImpl(spark, dir, toStatPred(cond), cond)

  private def deleteWhereMoRImpl(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, pred: Option[StatPred],
                                 cond: Column): (Long, Long) = {
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    require(uniformSchema(m.entries, m.schemas),
      "merge-on-read delete needs a uniform-schema table — run " +
        "compactSnapshot/optimizeClustered to materialize evolution first")
    // a position delete computed over eq-masked rows would break the
    // disjoint-count invariant; the mixed case settles first
    require(m.eqDeletes.isEmpty,
      "settle outstanding equality deletes (materializeDeletes) " +
        "before position deletes")
    val candidates = pred match {
      case Some(p) => m.entries.filter(e => mayMatch(e, p))
      case None => m.entries
    }
    if (candidates.isEmpty) return (cur, 0L)
    import spark.implicits._
    val mapping = candidates
      .map(e => (normalizeAbs(s"$dir/${e.path}"), e.path))
      .toDF("_abs", "_rel")
    // helper columns carry a _gdv_ prefix so a data column named
    // "path"/"pos" can never collide; only the written DV parquet
    // uses the public (path, pos) schema
    val scan = spark.read.option("mergeSchema", "true")
      .parquet(candidates.map(e => s"$dir/${e.path}"): _*)
      .select(normalizePathCol(col("_metadata.file_path")).as("_abs"),
        col("_metadata.row_index").as("_gdv_pos"),
        struct(col("*")).as("_gdv_row"))
      .join(broadcast(mapping), Seq("_abs"))
      .select(col("_rel").as("_gdv_path"), col("_gdv_pos"),
        col("_gdv_row"))
    val marked = liveRows(spark, dir, scan, "_gdv_path", m.deletes)
      .select(col("_gdv_path"), col("_gdv_pos"), col("_gdv_row.*"))
      .filter(coalesce(cond, lit(false)))
      .select(col("_gdv_path").as("path"), col("_gdv_pos").as("pos"))
    val snapId = cur + 1L
    writeDeleteIndex(fs, dir, "deletes/snap", snapId, marked) match {
      case None => (cur, 0L)
      case Some((dvRel, n)) =>
        writeManifest(fs, dir, snapId, m.entries, m.schemas,
          m.deletes :+ DeleteFile(dvRel, n), op = "delete")
        (snapId, n)
    }
  }

  /** EQUALITY delete — the key-tombstone form of merge-on-read: commit
    * a small parquet of KEY rows and a manifest whose data entries are
    * untouched; every table row matching a key is masked at read. The
    * delete itself scans NOTHING — O(keys) write at any table size,
    * which is the right-to-be-forgotten cost model (position deletes
    * still pay one pruned scan to find their rows). The tombstone
    * covers the key across snapshots — rows for a deleted key arriving
    * in LATER appends are masked too, until a rewrite settles the debt
    * ([[EqDeleteFile]]; version-sensitive CDC semantics are
    * [[mergeInto]]'s job). Counts over equality deletes are not
    * metadata-derivable (overlap unknown), so [[snapshotCount]] falls
    * back to a real count and [[snapshotHistory]] reports null rows
    * until settled. Returns (new snapshot id, keys recorded).
    */
  def deleteKeysMoR(spark: org.apache.spark.sql.SparkSession,
                    dir: String, keys: DataFrame): (Long, Long) = {
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    require(uniformSchema(m.entries, m.schemas),
      "equality delete needs a uniform-schema table — materialize " +
        "evolution first")
    val cols = keys.columns.toSeq
    require(cols.nonEmpty, "keys frame needs at least one column")
    // key columns must exist in the table (a typo'd key column would
    // silently mask nothing)
    val tableCols = snapshotRead(spark, dir).columns.toSet
    cols.foreach(c => require(tableCols.contains(c),
      s"key column $c not in table schema"))
    val snapId = cur + 1L
    writeDeleteIndex(fs, dir, "deletes/eq-snap", snapId, keys.distinct()) match {
      case None => (cur, 0L)
      case Some((dvRel, n)) =>
        writeManifest(fs, dir, snapId, m.entries, m.schemas, m.deletes,
          m.eqDeletes :+ EqDeleteFile(dvRel, n, cols), op = "delete")
        (snapId, n)
    }
  }

  /** ATOMIC merge-on-read UPSERT — streaming-CDC ingestion without the
    * rewrite: ONE manifest commit that position-deletes every live
    * table row whose key appears in the source AND appends the source
    * rows as new data files. No snapshot ever shows the intermediate
    * "deleted but not yet re-inserted" state that composing
    * [[deleteKeysMoR]] + [[snapshotAppend]] (two commits) exposes, and
    * a crash between the stages can never strand a half-applied batch.
    *
    * POSITION deletes (not equality tombstones) carry the old rows
    * out, because a key tombstone covers LATER appends by design —
    * it would mask the very replacement rows this commit adds. The
    * price is one key-box-pruned scan to locate old rows (the
    * [[mergeInto]] two-tier shape: manifest-stats box prune, then a
    * column-pruned semi-join on the key columns); write amplification
    * is the deleted-row INDEX plus the batch — never a file rewrite.
    *
    * Source columns align to the table schema by name (missing →
    * null, extras dropped); source keys are assumed unique per batch
    * (CDC compaction upstream) — duplicate source keys append
    * duplicate rows, as in SQL MERGE. Uniform-schema tables only, and
    * outstanding equality debt settles first (positions over
    * eq-masked rows would break DV disjointness). Returns (new
    * snapshot id, rows replaced); an empty source is a commit-free
    * no-op.
    */
  def upsertKeysMoR(spark: org.apache.spark.sql.SparkSession,
                    dir: String, sourceIn: DataFrame,
                    keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "upsertKeysMoR needs at least one key column")
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    val entries = m.entries
    require(uniformSchema(entries, m.schemas),
      "merge-on-read upsert needs a uniform-schema table — run " +
        "compactSnapshot/optimizeClustered to materialize evolution first")
    require(m.eqDeletes.isEmpty,
      "settle outstanding equality deletes (materializeDeletes) " +
        "before a MoR upsert")
    // pin the source (the mergeInto rationale): bounds agg, semi-join,
    // and the append each re-evaluate it
    val source = sourceIn.localCheckpoint()
    if (source.isEmpty) return (cur, 0L)
    keyCols.foreach(c => require(source.columns.contains(c),
      s"key column $c not in source"))
    if (entries.isEmpty) {
      // A zero-file manifest (a table fully emptied by a copy-on-write
      // delete) is reachable from the streaming upsert path, which
      // bootstraps only when NO snapshot id exists. Nothing to
      // replace: bootstrap-append semantics, aligned to the table's
      // recorded current schema when there is one — not a
      // NoSuchElementException off entries.head below.
      val shaped = currentSchemaOf(m.schemas) match {
        case Some(curSchema) =>
          val srcCols = source.columns.toSet
          source.select(curSchema.fields.toIndexedSeq.map(f =>
            (if (srcCols.contains(f.name)) col(f.name) else lit(null))
              .cast(org.apache.spark.sql.types.DataType.fromDDL(f.tpe))
              .as(f.name)): _*)
        case None => source
      }
      return (snapshotAppend(shaped, dir), 0L)
    }
    val tSchema = spark.read.parquet(s"$dir/${entries.head.path}").schema
    keyCols.foreach(c => require(tSchema.fieldNames.contains(c),
      s"key column $c not in table schema"))
    val srcCols = source.columns.toSet
    val aligned = source.select(tSchema.fields.toIndexedSeq.map(f =>
      (if (srcCols.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)): _*)

    val candidates = keyBoxCandidates(source, keyCols, entries, m.schemas)
    import spark.implicits._
    val snapId = cur + 1L
    val dv =
      if (candidates.isEmpty) None
      else {
        val mapping = candidates
          .map(e => (normalizeAbs(s"$dir/${e.path}"), e.path))
          .toDF("_gdv_abs", "_gdv_rel")
        // column-pruned: the scan reads key columns + row identity only
        val scan = spark.read
          .parquet(candidates.map(e => s"$dir/${e.path}"): _*)
          .select(Seq(
            normalizePathCol(col("_metadata.file_path")).as("_gdv_abs"),
            col("_metadata.row_index").as("_gdv_pos")) ++
            keyCols.map(col): _*)
          .join(broadcast(mapping), Seq("_gdv_abs"))
        val marked = liveRows(spark, dir, scan, "_gdv_rel", m.deletes)
          .join(source.select(keyCols.map(col): _*).distinct(),
            keyCols, "left_semi")
          .select(col("_gdv_rel").as("path"), col("_gdv_pos").as("pos"))
        writeDeleteIndex(fs, dir, "deletes/snap", snapId, marked)
      }

    val dataRel = attemptDir("data/snap", snapId)
    aligned.write.mode("overwrite").parquet(s"$dir/$dataRel")
    val (outSchemas, sid) =
      assignSchema(m.schemas, aligned.schema, merge = true)
    writeManifest(fs, dir, snapId, entries ++ writtenEntries(spark, fs, dir,
      dataRel, entries, m.schemas, Some(sid)), outSchemas,
      deletes = m.deletes ++ dv.map { case (rel, n) => DeleteFile(rel, n) },
      op = "merge")
    (snapId, dv.fold(0L)(_._2))
  }

  /** Anti-join the snapshot's equality-delete key sets out of a read —
    * one broadcast anti join per distinct key-column set (tombstone
    * lists are small by construction).
    */
  private def eqFilter(spark: org.apache.spark.sql.SparkSession,
                       dir: String, base: DataFrame,
                       eqDeletes: Seq[EqDeleteFile]): DataFrame = {
    if (eqDeletes.isEmpty) return base
    // the anti-join would surface key columns FIRST — re-select the
    // original order so a tombstone never perturbs the read schema
    val out = base.columns.toIndexedSeq
    eqDeletes.groupBy(_.cols).foldLeft(base) {
      case (df, (cols, files)) =>
        val keys = spark.read
          .parquet(files.map(f => s"$dir/${f.path}"): _*)
        df.join(broadcast(keys), cols, "left_anti")
    }.select(out.map(col): _*)
  }

  /** Rewrite the table without its outstanding deletes (position AND
    * equality) — the OPTIMIZE step that settles MoR debt: one full
    * delete-applied read, one fresh commit with empty delete lists
    * (stats contract inherited). Restores every deletes-refusing
    * surface (SQL access, metadata min/max, CoW mutators). Returns
    * the new snapshot id.
    */
  def materializeDeletes(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Long = {
    val (_, m) = snapshotAt(tableFs(spark, dir), dir)
    require(m.deletes.nonEmpty || m.eqDeletes.nonEmpty,
      s"no outstanding deletes under $dir — nothing to materialize")
    snapshotWrite(snapshotRead(spark, dir), dir)
  }

  /** MERGE a source batch INTO a manifest-committed table — the
    * Delta/Iceberg `MERGE INTO` reduced to the manifest primitive, and
    * the write shape every CDC-ingestion pipeline needs: one commit
    * that applies updates, inserts, and deletes together.
    *
    * Semantics (keys = `keyCols`, source columns aligned to the target
    * schema by name):
    *  - source row matches a target key  → the source row REPLACES the
    *    target row (update), unless `deleteWhen` holds on the source
    *    row, in which case the target row is dropped (delete);
    *  - source row matches nothing       → inserted (never when
    *    `deleteWhen` holds — a delete marker for an absent key is a
    *    no-op, the CDC-replay convention);
    *  - target row matches no source key → carried unchanged.
    * Source keys are assumed unique per batch (CDC compaction upstream);
    * duplicate source keys produce duplicate rows, as in SQL MERGE.
    *
    * Scale shape: the source's per-key-column [min,max] box is computed
    * in ONE aggregation and compiled to a conjunctive [[StatPred]], so
    * only files whose manifest stats intersect the box are rewritten —
    * every other file is reused VERBATIM in the new manifest (no
    * rewrite amplification), exactly the [[deleteWhere]] contract. The
    * rewrite itself is one shuffle join on the keys between the touched
    * files and the source; untouched files provably hold no source key,
    * so inserts computed against the touched subset are globally
    * correct. Returns (new snapshot id, files rewritten).
    */
  def mergeInto(spark: org.apache.spark.sql.SparkSession, dir: String,
                sourceIn: DataFrame, keyCols: Seq[String],
                deleteWhen: Option[Column] = None): (Long, Int) = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    val fs = tableFs(spark, dir)
    val (cur, m) = snapshotAt(fs, dir)
    requireNoDeletes(dir, m, "mergeInto") // CoW rewrite — see deleteWhere
    val (entries, schemas) = (m.entries, m.schemas)
    val snapId = cur + 1L

    // PIN the source before anything reads it (the snapshotAppendChecked
    // pattern): the merge evaluates it in several independent jobs
    // (bounds agg, isEmpty, touched-file semi-join, carried anti-join,
    // insert write) — a non-deterministic or concurrently-changing
    // source re-scanned per job would make those views mutually
    // inconsistent and lose or duplicate rows in the committed snapshot
    // (the classic Delta MERGE source-rescan bug).
    val source = sourceIn.localCheckpoint()

    val boxed = keyBoxCandidates(source, keyCols, entries, schemas)
    val sourceEmpty = source.isEmpty
    // two-tier touched-file resolution (the Delta findTouchedFiles
    // shape): the manifest box prunes candidates for free, then ONE
    // column-pruned scan of the candidates' key columns semi-joined
    // with the source keys decides EXACTLY which files hold a source
    // key — an insert-heavy batch whose keys land outside every file
    // (the common CDC case) rewrites nothing it doesn't have to.
    val candidates = if (sourceEmpty) Nil else boxed
    // key columns under each candidate file's OWN names (rename-safe);
    // the semi-join probe reads per name-group so every file's keys
    // resolve correctly
    val candGroups: Seq[Seq[FileEntry]] =
      if (uniformSchema(candidates, schemas)) Seq(candidates)
      else candidates.groupBy(_.schemaId).values.toSeq
    val touched =
      if (candidates.isEmpty) Nil
      else candGroups.filter(_.nonEmpty).flatMap { grp =>
        val m = nameTranslation(grp.head, schemas)
        val df0 = spark.read.option("mergeSchema", "true")
          .parquet(grp.map(e => s"$dir/${e.path}"): _*)
        val avail = df0.columns.toSet
        // a key column these files predate is all-null in their view —
        // null keys match no source key, so the whole group is untouched
        if (keyCols.exists(c => !avail.contains(m.getOrElse(c, c)))) Nil
        else {
          val hit = df0
            .select(col("_metadata.file_name").as("_f") +:
              keyCols.map(c => col(m.getOrElse(c, c)).as(c)): _*)
            .join(source.select(keyCols.map(col): _*).distinct(),
              keyCols, "left_semi")
            .select("_f").distinct()
            .collect().map(_.getString(0)).toSet
          grp.filter(e => hit.contains(
            e.path.substring(e.path.lastIndexOf('/') + 1)))
        }
      }
    val untouched = entries.filterNot(touched.contains)

    val inserts = deleteWhen match {
      case Some(d) => source.filter(!coalesce(d, lit(false)))
      case None => source
    }
    if (touched.isEmpty) {
      // no file can hold a source key: pure-insert merge (or no-op)
      if (sourceEmpty || inserts.isEmpty) {
        writeManifest(fs, dir, snapId, entries, schemas, op = "merge")
        return (snapId, 0)
      }
    }
    val target =
      if (touched.isEmpty) None
      else Some(rewriteRead(spark, dir, touched, schemas))
    // carried = touched-file rows whose key the source does not claim;
    // the source side contributes updates and inserts in one pass
    val merged = target match {
      case Some(t) =>
        val carried = t.join(source.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")
        // align by name: extra source columns (delete markers, CDC
        // metadata) are dropped; target columns the source lacks
        // (schema-widened) surface as null on inserted rows
        val common = t.columns.filter(inserts.columns.contains(_))
        carried.unionByName(inserts.select(common.map(col).toIndexedSeq: _*),
          allowMissingColumns = true)
      case None if entries.nonEmpty =>
        // pure-insert merge: align to the table schema (the recorded
        // current schema when present — rename-safe; one footer read
        // on legacy tables)
        val tCols = currentSchemaOf(schemas).map(_.fields.map(_.name))
          .getOrElse(spark.read
            .parquet(s"$dir/${entries.head.path}").columns.toSeq)
        val common = tCols.filter(inserts.columns.contains(_))
        inserts.select(common.map(col).toIndexedSeq: _*)
      case None => inserts
    }
    val dataRel = attemptDir("data/snap", snapId)
    merged.write.mode("overwrite").parquet(s"$dir/$dataRel")
    val (outSchemas, sid) = partialSchema(schemas, merged.schema)
    writeManifest(fs, dir, snapId, untouched ++ writtenEntries(spark, fs, dir,
      dataRel, entries, schemas, sid), outSchemas,
      op = if (touched.isEmpty) "append" else "merge")
    (snapId, touched.size)
  }

  /** Distributed per-file min/max collection for the manifest: one
    * column-pruned pass over the just-written files, grouped by the
    * `_metadata.file_name` hidden column — numFiles × statsCols scalars
    * to the driver (bounded like the centroid fetches), full rows never
    * leave the executors. Values serialize through a string cast; see
    * [[ColStat]] for the comparison contract.
    */
  private def collectFileStats(df: DataFrame, statsCols: Seq[String])
      : Map[String, (Map[String, ColStat], Long)] = {
    val types = statsCols.map { c =>
      require(df.columns.contains(c), s"stats column $c not in schema")
      c -> df.schema(c).dataType.catalogString
    }.toMap
    val integral = Set("tinyint", "smallint", "int", "bigint")
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"mn_$c"),
      max(col(c)).cast("string").as(s"mx_$c")) ++
      // exact sums ride the same pass: decimal(38,0) accumulation so
      // the recorded value is overflow-free whatever the file holds
      (if (integral(types(c)))
        Seq(sum(col(c).cast("decimal(38,0)")).cast("string").as(s"sm_$c"))
      else Nil)) :+
      count(lit(1)).as("_nrows")
    val rows = df
      .select(col("_metadata.file_name").as("_fname") +:
        statsCols.map(col): _*)
      .groupBy("_fname").agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      r.getString(0) -> ((statsCols.map { c =>
        val isStr = types(c) == "string"
        c -> ColStat(
          Option(r.getAs[String](s"mn_$c"))
            .map(v => if (isStr) truncateLower(v) else v),
          Option(r.getAs[String](s"mx_$c"))
            .map(v => if (isStr) truncateUpper(v) else v),
          types(c),
          if (integral(types(c)))
            Some(Option(r.getAs[String](s"sm_$c")).getOrElse(""))
          else None)
      }.toMap, r.getAs[Long]("_nrows")))
    }.toMap
  }

  /** Distributed per-file bloom construction: one column-pruned pass
    * sizes each (file, column) from its approximate NDV (m = next pow2
    * of ndv × bitsPerKey, floored at 1024 bits, capped at 2^20 — ~128
    * KiB worst case per file, ~1 KiB typical), then one pass per
    * column hashes values with codegen'd `xxhash64`, derives the k
    * double-hashed positions IN SQL (so they provably match the
    * driver-side probe arithmetic), and collect_set's the distinct set
    * bits per file — bounded by m, never by row count. Full rows never
    * reach the driver.
    *
    * Restricted to integral and string columns: those are the types
    * whose probe-side value coercion is unambiguous ([[bloomProbeHash]]).
    */
  private def collectFileBlooms(df: DataFrame, bloomCols: Seq[String],
                                bitsPerKey: Int = 10, k: Int = 4)
      : Map[String, Map[String, BloomStat]] = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val types = bloomCols.map { c =>
      require(df.columns.contains(c), s"bloom column $c not in schema")
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[StringType] || dt == LongType ||
        dt == IntegerType || dt == ShortType || dt == ByteType,
        s"bloom column $c: unsupported type ${dt.catalogString} " +
          "(integral and string only)")
      c -> dt.catalogString
    }.toMap
    val ndvAggs = bloomCols.map(c =>
      approx_count_distinct(col(c)).as(s"nd_$c"))
    val ndvRows = df
      .select(col("_metadata.file_name").as("_f") +: bloomCols.map(col): _*)
      .groupBy("_f").agg(ndvAggs.head, ndvAggs.tail: _*)
      .collect()
    def sizeFor(ndv: Long): Int = {
      val want = math.max(1024L, ndv * bitsPerKey.toLong)
      math.min(1L << 20, java.lang.Long.highestOneBit(
        math.max(1L, want - 1)) << 1).toInt
    }
    val mFor: Map[(String, String), Int] = ndvRows.flatMap { r =>
      val f = r.getString(0)
      bloomCols.map(c => (f, c) -> sizeFor(r.getAs[Long](s"nd_$c")))
    }.toMap
    bloomCols.map { c =>
      import spark.implicits._
      val mDf = broadcast(ndvRows.map(r => (r.getString(0),
        mFor((r.getString(0), c)).toLong)).toSeq.toDF("_f", "_m"))
      val h = xxhash64(col(c))
      val g1 = shiftrightunsigned(col("h"), 32)
      val g2 = col("h").bitwiseAND(lit(0xFFFFFFFFL))
      val positions = array((0 until k).map(i =>
        pmod(g1 + lit(i.toLong) * g2, col("_m")).cast("int")): _*)
      // Pack bits on the EXECUTORS: collect_set would buffer up to m
      // boxed positions per file in one agg buffer and ship them raw
      // to the driver — O(files × m × boxed-int) memory. mapGroups
      // folds each file's positions straight into a BitSet and ships
      // the packed byte array (≤ m/8 = 128 KiB at m = 2²⁰), so driver
      // traffic stays the manifest payload itself, never row-ish sets.
      val rows = df.filter(col(c).isNotNull)
        .select(col("_metadata.file_name").as("_f"), h.as("h"))
        .join(mDf, "_f")
        .select(col("_f"), explode(positions).as("p"))
        .as[(String, Int)]
        .groupByKey(_._1)
        .mapGroups { (f, it) =>
          val bits = new java.util.BitSet()
          it.foreach(t => bits.set(t._2))
          (f, bits.toByteArray)
        }
        .collect()
      c -> rows.map { case (f, bytes) =>
        val m = mFor((f, c))
        f -> BloomStat(m, k, types(c), java.util.BitSet.valueOf(bytes))
      }.toMap
    }.toMap.transpose_
  }

  /** Regroup col -> (file -> bloom) into file -> (col -> bloom). */
  implicit private class BloomRegroup(
      val byCol: Map[String, Map[String, BloomStat]]) {
    def transpose_ : Map[String, Map[String, BloomStat]] =
      byCol.toSeq
        .flatMap { case (c, m) => m.map { case (f, b) => (f, c, b) } }
        .groupBy(_._1)
        .map { case (f, xs) => f -> xs.map(x => x._2 -> x._3).toMap }
  }

  /** The commit path every writer shares, run once its parquet sits
    * under `relDir`: list the written files (minus `skip`, the names a
    * staged chain already records), resolve the stats/bloom contract,
    * collect both and return the entries stamped with `schemaId`. The
    * contract: explicit columns are used as given, so a typo fails
    * loudly; otherwise the columns `inherit`'s entries track,
    * translated by field id through `schemas`, kept only where the
    * written files have them — an append narrower than the table, or an
    * overwrite that reshapes it, records no stats for what it lacks.
    */
  private def writtenEntries(spark: org.apache.spark.sql.SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             dir: String, relDir: String,
                             inherit: Seq[FileEntry],
                             schemas: Seq[SchemaInfo],
                             schemaId: Option[Int],
                             statsCols: Seq[String] = Nil,
                             bloomCols: Seq[String] = Nil,
                             skip: Set[String] = Set.empty): Seq[FileEntry] = {
    val dataDir = s"$dir/$relDir"
    val (all, sizes) = listDataFiles(fs, dataDir)
    val names = all.filterNot(skip)
    // the directory itself when every file is new: one root path to list
    lazy val written = spark.read.parquet(
      (if (names.size == all.size) Seq(dataDir)
       else names.map(n => s"$dataDir/$n")): _*)
    lazy val have = written.columns.toSet
    def contract(explicit: Seq[String],
                 keys: FileEntry => Iterable[String]): Seq[String] =
      if (names.isEmpty) Nil
      else if (explicit.nonEmpty) explicit
      else statColsCurrent(inherit, schemas, keys).filter(c => have(c))
    val cols = contract(statsCols, _.stats.keys)
    val bCols = contract(bloomCols, _.blooms.keys)
    val stats =
      if (cols.isEmpty) Map.empty[String, (Map[String, ColStat], Long)]
      else collectFileStats(written, cols)
    val blooms =
      if (bCols.isEmpty) Map.empty[String, Map[String, BloomStat]]
      else collectFileBlooms(written, bCols)
    names.map { n =>
      val st = stats.get(n)
      FileEntry(s"$relDir/$n", st.fold(Map.empty[String, ColStat])(_._1),
        st.map(_._2), blooms.getOrElse(n, Map.empty), sizes.get(n), schemaId)
    }
  }

  /** One listing of a just-written data directory → (sorted file
    * names, name → byte size). Sizes ride into the manifest so
    * planning-time consumers (the `snapshot` relation's FileIndex,
    * scan-size estimates) never re-stat data files — at object-store
    * latency a per-file HEAD is exactly the round trip the manifest
    * exists to amortize.
    */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                            dataDir: String)
      : (IndexedSeq[String], Map[String, Long]) = {
    val st = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    (st.map(_.getPath.getName).sorted.toIndexedSeq,
      st.map(s => s.getPath.getName -> s.getLen).toMap)
  }

  // ------------------------------------------------------------------
  // Field-id schema evolution helpers
  // ------------------------------------------------------------------

  private def currentSchemaOf(schemas: Seq[SchemaInfo]): Option[SchemaInfo] =
    if (schemas.isEmpty) None else Some(schemas.maxBy(_.id))

  /** The schema a file was written under; unknown/pre-evolution files
    * resolve to the current schema (their names ARE current names —
    * [[renameColumn]] refuses tables with such files, so the fallback
    * can never mis-map a renamed column).
    */
  private def schemaOfFile(e: FileEntry,
                           schemas: Seq[SchemaInfo]): Option[SchemaInfo] =
    e.schemaId.flatMap(id => schemas.find(_.id == id))
      .orElse(currentSchemaOf(schemas))

  /** current-name → name-in-file map (only entries that differ). A
    * current field absent from the file's schema has no mapping — its
    * untranslated leaf finds no stats and the file is conservatively
    * kept.
    */
  private def nameTranslation(e: FileEntry,
                              schemas: Seq[SchemaInfo]): Map[String, String] =
    (currentSchemaOf(schemas), schemaOfFile(e, schemas)) match {
      case (Some(cur), Some(fsch)) if fsch.id != cur.id =>
        val byId = fsch.fields.map(f => f.id -> f.name).toMap
        cur.fields.flatMap(f => byId.get(f.id).map(n => f.name -> n))
          .filter { case (a, b) => a != b }.toMap
      case _ => Map.empty
    }

  private def renameLeaves(p: StatPred, m: Map[String, String]): StatPred =
    if (m.isEmpty) p
    else p match {
      case Lt(c, v) => Lt(m.getOrElse(c, c), v)
      case Le(c, v) => Le(m.getOrElse(c, c), v)
      case Gt(c, v) => Gt(m.getOrElse(c, c), v)
      case Ge(c, v) => Ge(m.getOrElse(c, c), v)
      case Eq(c, v) => Eq(m.getOrElse(c, c), v)
      case Between(c, lo, hi) => Between(m.getOrElse(c, c), lo, hi)
      case In(c, vs) => In(m.getOrElse(c, c), vs)
      case And(ps) => And(ps.map(renameLeaves(_, m)))
      case Or(ps) => Or(ps.map(renameLeaves(_, m)))
    }

  /** [[mayMatch]] with the predicate's CURRENT column names translated
    * per file to the names that file's stats were recorded under —
    * pruning keeps working across renames.
    */
  private def mayMatchEvolved(e: FileEntry, p: StatPred,
                              schemas: Seq[SchemaInfo]): Boolean =
    mayMatch(e, renameLeaves(p, nameTranslation(e, schemas)))

  /** Do all entries present exactly the current schema's (id, name)
    * field set? True ⇒ a plain by-name read is already correct.
    */
  private def uniformSchema(entries: Seq[FileEntry],
                            schemas: Seq[SchemaInfo]): Boolean =
    currentSchemaOf(schemas) match {
      case None => true
      case Some(cur) =>
        val curSet = cur.fields.map(f => (f.id, f.name)).toSet
        entries.forall(e => schemaOfFile(e, schemas).forall(
          _.fields.map(f => (f.id, f.name)).toSet == curSet))
    }

  /** Schema-correct EMPTY result for a fully-pruned snapshot read.
    * With a recorded schema history the result schema is synthesized
    * from the manifest's CURRENT schema — zero data files opened, and
    * the empty result carries every widened column no matter which
    * files a predicate pruned. Only legacy tables (predating schema
    * recording) still pay the bounded [[footerSchema]] read.
    */
  private def emptyLike(spark: org.apache.spark.sql.SparkSession,
                        dir: String, all: Seq[FileEntry],
                        schemas: Seq[SchemaInfo],
                        mergeSchema: Boolean): DataFrame = {
    val struct = currentSchemaOf(schemas) match {
      case Some(cur) =>
        org.apache.spark.sql.types.StructType(
          cur.fields.map(f => org.apache.spark.sql.types.StructField(
            f.name, org.apache.spark.sql.types.DataType.fromDDL(f.tpe))))
      case None => footerSchema(spark, dir, all, mergeSchema)
    }
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], struct)
  }

  /** The data schema of `entries` from a BOUNDED footer read: one file
    * plainly, one per data directory under `mergeSchema` (schema
    * changes only between commits and each commit writes one
    * directory, so one representative per directory covers the union —
    * first-file-only would pin the schema to the OLDEST file).
    */
  private[graft] def footerSchema(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, entries: Seq[FileEntry],
                                  mergeSchema: Boolean)
      : org.apache.spark.sql.types.StructType = {
    require(entries.nonEmpty, s"empty snapshot under $dir")
    val subset =
      if (!mergeSchema) entries.take(1)
      else entries.groupBy(e => e.path.take(e.path.lastIndexOf('/') max 0))
        .values.map(_.head).toSeq
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read
    reader.parquet(subset.map(e => s"$dir/${e.path}"): _*).schema
  }

  /** Read `kept` resolving columns BY FIELD ID to the current schema:
    * files group by the schema they were written under (one group per
    * schema id — bounded by the table's evolution history, never by
    * file count), each group selects its own names aliased to current
    * names with null-fill for later-added fields, dropped fields are
    * projected away, and the groups union. On a uniform table this is
    * the single plain read.
    */
  private def evolvedRead(spark: org.apache.spark.sql.SparkSession,
                          dir: String, kept: Seq[FileEntry],
                          schemas: Seq[SchemaInfo],
                          mergeSchema: Boolean,
                          deletes: Seq[DeleteFile] = Nil,
                          eqDeletes: Seq[EqDeleteFile] = Nil): DataFrame = {
    val cur = currentSchemaOf(schemas).getOrElse(
      sys.error("evolvedRead on a schema-less table"))
    val groups = kept.groupBy(_.schemaId.getOrElse(cur.id))
    // MoR masking needs per-row (file, position) identity: a widening
    // append carries outstanding deletes AND forks the schema id, so
    // this branch is reachable with delete debt — thread _metadata
    // through the per-group selects so dvFilter can anti-join it back
    // out; dropping the masking here would silently resurrect every
    // MoR-deleted row on evolved tables.
    val withMeta = deletes.nonEmpty
    val parts = groups.toSeq.sortBy(_._1).map { case (sid, es) =>
      val fsch = schemas.find(_.id == sid).getOrElse(cur)
      val byId = fsch.fields.map(f => f.id -> f.name).toMap
      // mergeSchema within a group: legacy widening predates schema
      // recording; harmless otherwise
      val df = spark.read.option("mergeSchema", "true")
        .parquet(es.map(e => s"$dir/${e.path}"): _*)
      val avail = df.columns.toSet
      val resolved = cur.fields.map { f =>
        byId.get(f.id).filter(avail.contains) match {
          case Some(n) => col(n).as(f.name)
          case None => lit(null).cast(f.tpe).as(f.name)
        }
      }
      df.select(
        (if (withMeta) resolved :+ col("_metadata") else resolved): _*)
    }
    val unioned = parts.reduce(_.unionByName(_))
    val posMasked =
      if (!withMeta) unioned
      else dvFilter(spark, dir, unioned, kept, deletes).drop("_metadata")
    // equality tombstones were written while the table was uniform
    // (deleteKeysMoR refuses evolved tables), so their key columns
    // resolve against the current names this read yields
    eqFilter(spark, dir, posMasked, eqDeletes)
  }

  /** Permanent-id schema assignment for a new commit: names present in
    * the current schema keep their ids (so a rename history chains
    * correctly); new names get fresh ids (so a dropped-then-re-added
    * name never resurrects old data). `merge = true` (appends) UNIONs
    * the batch's fields into the current schema — an append narrower
    * than the table must not hide columns, it just writes files that
    * null-fill them; `merge = false` (overwrite) makes the table's
    * schema exactly the batch's. Returns (full schema history, schema
    * id for the new files).
    */
  private def assignSchema(prev: Seq[SchemaInfo],
                           dfSchema: org.apache.spark.sql.types.StructType,
                           merge: Boolean = false)
      : (Seq[SchemaInfo], Int) = {
    val cur = currentSchemaOf(prev)
    val byName = cur.map(_.fields.map(f => f.name -> f.id).toMap)
      .getOrElse(Map.empty[String, Int])
    var nextId = (prev.flatMap(_.fields.map(_.id)) :+ 0).max
    val dfFields = dfSchema.fields.toIndexedSeq.map { f =>
      val tpe = f.dataType.catalogString
      byName.get(f.name) match {
        case Some(id) => FieldInfo(id, f.name, tpe)
        case None => nextId += 1; FieldInfo(nextId, f.name, tpe)
      }
    }
    val fields =
      if (!merge || cur.isEmpty) dfFields
      else {
        val dfByName = dfFields.map(f => f.name -> f).toMap
        // current order first (type refreshed if the batch widened it),
        // then batch-new fields in batch order
        cur.get.fields.map(f => dfByName.getOrElse(f.name, f)) ++
          dfFields.filterNot(f => cur.get.fields.exists(_.name == f.name))
      }
    cur match {
      case Some(c) if c.fields == fields => (prev, c.id)
      case _ =>
        val sid = (prev.map(_.id) :+ 0).max + 1
        (prev :+ SchemaInfo(sid, fields), sid)
    }
  }

  /** The current-schema names to (re-)collect stats for, translating
    * each carried entry's write-time stat keys by field id and dropping
    * keys whose field no longer exists.
    */
  private def statColsCurrent(entries: Seq[FileEntry],
                              schemas: Seq[SchemaInfo],
                              keys: FileEntry => Iterable[String])
      : Seq[String] =
    currentSchemaOf(schemas) match {
      case None => entries.flatMap(keys(_)).toSeq.distinct
      case Some(cur) =>
        val curById = cur.fields.map(f => f.id -> f.name).toMap
        entries.flatMap { e =>
          val fsch = schemaOfFile(e, schemas)
          keys(e).flatMap { k =>
            fsch.flatMap(_.fields.find(_.name == k))
              .flatMap(f => curById.get(f.id))
              .orElse(if (cur.fields.exists(_.name == k)) Some(k) else None)
          }
        }.distinct
    }

  private def listSnapshotIds(fs: org.apache.hadoop.fs.FileSystem,
                              dir: String): Array[Long] =
    Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "manifest-*.json")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripPrefix("manifest-").stripSuffix(".json")
        .toLong)

  /** Whether a snapshot table (>= 1 committed manifest) exists at
    * `dir` — the SaveMode existence probe for the `snapshot` sink.
    */
  def tableExists(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Boolean =
    listSnapshotIds(tableFs(spark, dir), dir).nonEmpty

  /** Serialized manifest body — shared by committed manifests and
    * write-audit-publish staging files.
    */
  private def manifestBody(entries: Seq[FileEntry],
                           schemas: Seq[SchemaInfo],
                           deletes: Seq[DeleteFile],
                           eqDeletes: Seq[EqDeleteFile] = Nil,
                           op: String = "append"): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    if (op == "append" &&
        schemas.isEmpty && deletes.isEmpty && eqDeletes.isEmpty &&
        entries.forall(e =>
          e.stats.isEmpty && e.blooms.isEmpty && e.bytes.isEmpty))
      JsonMethods.compact(JsonMethods.render(entries.map(_.path)))
    else {
        val files = entries.map { e =>
          val base = ("path" -> e.path) ~
            ("rows" -> e.rows) ~
            ("bytes" -> e.bytes) ~
            ("schema" -> e.schemaId) ~
            ("stats" -> e.stats.toSeq.sortBy(_._1).map { case (c, st) =>
              c -> (("min" -> st.min) ~ ("max" -> st.max) ~
                ("type" -> st.tpe) ~ ("sum" -> st.sum))
            }.toMap)
          if (e.blooms.isEmpty) base
          else base ~ ("blooms" -> e.blooms.toSeq.sortBy(_._1)
            .map { case (c, b) =>
              c -> (("m" -> b.m) ~ ("k" -> b.k) ~ ("type" -> b.tpe) ~
                ("bits" -> java.util.Base64.getEncoder
                  .encodeToString(b.bits.toByteArray)))
            }.toMap)
        }
        val root = ("format" -> 2) ~ ("op" -> op) ~ ("files" -> files)
        val withSchemas =
          if (schemas.isEmpty) root
          else root ~ ("schemas" -> schemas.sortBy(_.id).map(s =>
            ("id" -> s.id) ~ ("fields" -> s.fields.map(f =>
              ("id" -> f.id) ~ ("name" -> f.name) ~ ("type" -> f.tpe)))))
        val withDeletes =
          if (deletes.isEmpty) withSchemas
          else withSchemas ~ ("deletes" -> deletes.map(d =>
            ("path" -> d.path) ~ ("rows" -> d.rows)))
        val withEq =
          if (eqDeletes.isEmpty) withDeletes
          else withDeletes ~ ("eqdeletes" -> eqDeletes.map(d =>
            ("path" -> d.path) ~ ("rows" -> d.rows) ~
              ("cols" -> d.cols)))
        JsonMethods.compact(JsonMethods.render(withEq))
    }
  }


  /** Attempt-unique RELATIVE staging directory for a commit targeting
    * `snapId`. Two optimistic writers racing the same id MUST NOT
    * share a staging directory: the loser's mode("overwrite") data
    * write would delete the winner's already-committed files before
    * the loser even reaches manifest arbitration — a lost-update bug
    * no manifest-level create-exclusive can prevent. With a per-
    * attempt suffix every writer's files are orphans-until-committed
    * (the Iceberg uuid-file-name discipline); a loser's directory is
    * referenced by no manifest and [[vacuum]] reclaims it.
    */
  private def attemptDir(prefix: String, snapId: Long): String =
    s"$prefix-$snapId-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Manifest serialization. v1 (no stats): a bare JSON array of
    * relative paths — the format pre-stats tables on disk already use.
    * v2 (any stats): {"format":2,"files":[{"path":…,"stats":{col:
    * {"min":…,"max":…,"type":…}}}]}. Committed write-then-rename
    * either way, so the manifest appears atomically or not at all;
    * the rename is guarded by a create-exclusive `.commit-<id>.lock`
    * token, so two writers racing the same snapshot id resolve to
    * exactly one committed manifest and one loud loser.
    */
  private[graft] def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String, snapId: Long,
                            entries: Seq[FileEntry],
                            schemas: Seq[SchemaInfo] = Nil,
                            deletes: Seq[DeleteFile] = Nil,
                            eqDeletes: Seq[EqDeleteFile] = Nil,
                            op: String = "append"): Unit = {
    val body = manifestBody(entries, schemas, deletes, eqDeletes, op)
    // Unique tmp per writer: two racers must never share a staging path
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".manifest-$snapId-${java.util.UUID.randomUUID()}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(dir, s"manifest-$snapId.json")
    // Optimistic concurrency via a CREATE-EXCLUSIVE commit token
    // (overwrite=false — the same pure-create arbitration the consumer
    // offset markers use): the filesystem atomically grants the id to
    // exactly ONE racing writer; the loser throws loudly instead of
    // clobbering a committed snapshot. The old exists-check+rename had
    // a TOCTOU window where both racers pass the check and the second
    // rename overwrites the first commit on a POSIX local FS.
    val lock = new org.apache.hadoop.fs.Path(dir, s".commit-$snapId.lock")
    val won = createExclusive(fs, lock)
    if (!won) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"snapshot $snapId already committed (or mid-commit) under $dir " +
          s"— concurrent writer? If no manifest-$snapId.json exists, a " +
          s"previous writer crashed between lock and rename; remove the " +
          s"stale .commit-$snapId.lock to retry the id.")
    }
    // Legacy tables (pre-lock commits) have manifests without tokens:
    // winning the lock for an id whose manifest already exists must
    // still refuse — and release the token it wrongly acquired.
    if (fs.exists(dest)) {
      fs.delete(tmp, false)
      fs.delete(lock, false)
      throw new java.util.ConcurrentModificationException(
        s"snapshot $snapId already committed under $dir — concurrent writer?")
    }
    fs.rename(tmp, dest)
  }

  /** Atomic create-if-absent, returning whether THIS caller created it.
    * Hadoop's `create(p, overwrite = false)` on the local filesystem is
    * an exists-check followed by open — itself a TOCTOU — so local
    * schemes go through `File.createNewFile()`, which the JDK documents
    * as atomic. HDFS `create(false)` is atomic server-side. (S3-style
    * stores without conditional puts need a real catalog to arbitrate
    * ids — same caveat every manifest-file table format carries.)
    */
  private def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path): Boolean =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try new java.io.File(p.toUri.getPath).createNewFile()
        catch { case _: java.io.IOException => false }
      case _ =>
        try { fs.create(p, false).close(); true }
        catch { case _: java.io.IOException => false }
    }

  /** One parsed manifest — a committed `manifest-<id>.json` or a
    * write-audit-publish staging record: the file entries, the schema
    * history, the outstanding position and equality deletes, and the
    * commit kind (None on manifests written before ops were recorded).
    */
  private[graft] final case class Manifest(entries: Seq[FileEntry],
                                    schemas: Seq[SchemaInfo] = Nil,
                                    deletes: Seq[DeleteFile] = Nil,
                                    eqDeletes: Seq[EqDeleteFile] = Nil,
                                    op: Option[String] = None)

  /** The one manifest reader: open, parse, done. A v1 body (a bare path
    * array) is a plain append — every other writer forces the v2 body.
    */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def num(v: JValue): Option[Long] = v match {
      case JInt(n) => Some(n.toLong)
      case JLong(n) => Some(n)
      case _ => None
    }
    def str(v: JValue): Option[String] = v match {
      case JString(x) => Some(x)
      case _ => None
    }
    def list(v: JValue): List[JObject] = v match {
      case JArray(xs) => xs.collect { case o: JObject => o }
      case _ => Nil
    }
    def entry(f: JObject): FileEntry = {
      val path = str(f \ "path").getOrElse(
        sys.error(s"bad manifest path: ${f \ "path"}"))
      val stats = (f \ "stats") match {
        case JObject(cols) => cols.map { case (c, st) =>
          c -> ColStat(str(st \ "min"), str(st \ "max"),
            str(st \ "type").getOrElse("string"), str(st \ "sum"))
        }.toMap
        case _ => Map.empty[String, ColStat]
      }
      val blooms = (f \ "blooms") match {
        case JObject(cols) => cols.flatMap { case (c, b) =>
          for {m <- num(b \ "m"); k <- num(b \ "k"); t <- str(b \ "type")
               bits <- str(b \ "bits")}
            yield c -> BloomStat(m.toInt, k.toInt, t, java.util.BitSet.valueOf(
              java.util.Base64.getDecoder.decode(bits)))
        }.toMap
        case _ => Map.empty[String, BloomStat]
      }
      FileEntry(path, stats, num(f \ "rows"), blooms, num(f \ "bytes"),
        num(f \ "schema").map(_.toInt))
    }
    JsonMethods.parse(body) match {
      case JArray(vs) =>
        Manifest(vs.collect { case JString(x) => FileEntry(x) },
          op = Some("append"))
      case obj: JObject =>
        val files = (obj \ "files") match {
          case JArray(_) => list(obj \ "files").map(entry)
          case other => sys.error(s"bad manifest files list: $other")
        }
        val schemas = list(obj \ "schemas").map { sc =>
          SchemaInfo(num(sc \ "id").getOrElse(
            sys.error(s"bad schema id: ${sc \ "id"}")).toInt,
            (sc \ "fields") match {
              case JArray(_) => list(sc \ "fields").map { f =>
                (num(f \ "id"), str(f \ "name"), str(f \ "type")) match {
                  case (Some(i), Some(n), Some(t)) => FieldInfo(i.toInt, n, t)
                  case other => sys.error(s"bad schema field: $other")
                }
              }
              case other => sys.error(s"bad schema fields: $other")
            })
        }
        def rowsOf(d: JObject, what: String): (String, Long) =
          (str(d \ "path"), num(d \ "rows")) match {
            case (Some(x), Some(n)) => (x, n)
            case other => sys.error(s"bad $what entry: $other")
          }
        Manifest(files, schemas,
          list(obj \ "deletes").map { d =>
            val (x, n) = rowsOf(d, "delete"); DeleteFile(x, n) },
          list(obj \ "eqdeletes").map { d =>
            val (x, n) = rowsOf(d, "eq-delete")
            EqDeleteFile(x, n, (d \ "cols") match {
              case JArray(cs) => cs.collect { case JString(c) => c }
              case _ => Nil
            })
          },
          str(obj \ "op"))
      case other => sys.error(s"bad manifest body: $other")
    }
  }

  private def manifestAt(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                         snap: Long): Manifest =
    readManifest(fs, new org.apache.hadoop.fs.Path(dir, s"manifest-$snap.json"))

  private[graft] def tableFs(spark: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table's committed snapshot ids; loud when it has none. */
  private def committedIds(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Array[Long] = {
    val ids = listSnapshotIds(fs, dir)
    require(ids.nonEmpty, s"no snapshot manifest under $dir")
    ids
  }

  /** One manifest resolution: the snapshot `snapshotId` names (the
    * latest when <= 0) and its manifest — entries, schemas and delete
    * lists all from the same file, whatever commits land meanwhile.
    */
  private[graft] def snapshotAt(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String,
                                snapshotId: Long = -1L): (Long, Manifest) = {
    val ids = committedIds(fs, dir)
    val snap = if (snapshotId > 0) snapshotId else ids.max
    require(ids.contains(snap), s"snapshot $snap not found under $dir")
    (snap, manifestAt(fs, dir, snap))
  }

  /** The latest snapshot id and manifest, or (0, empty) before the
    * table's first commit.
    */
  private def latestOrEmpty(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String): (Long, Manifest) = {
    val ids = listSnapshotIds(fs, dir)
    if (ids.isEmpty) (0L, Manifest(Nil)) else (ids.max, manifestAt(fs, dir, ids.max))
  }

  /** The staging record of `token`; loud when it does not exist. */
  private def stagedPath(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                         token: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(dir, s"staged-$token.json")
    require(fs.exists(p), s"no staged batch $token under $dir")
    p
  }

  /** Public view of a snapshot's outstanding equality deletes:
    * (path, key count, key columns) per commit.
    */
  def snapshotEqDeletes(spark: org.apache.spark.sql.SparkSession,
                        dir: String, snapshotId: Long = -1L)
      : Seq[(String, Long, Seq[String])] =
    snapshotAt(tableFs(spark, dir), dir, snapshotId)._2.eqDeletes
      .map(d => (d.path, d.rows, d.cols))

  /** Public view of a snapshot's outstanding delete files:
    * (table-relative path, recorded delete count) per MoR commit.
    */
  def snapshotDeletes(spark: org.apache.spark.sql.SparkSession,
                      dir: String, snapshotId: Long = -1L)
      : Seq[(String, Long)] =
    snapshotAt(tableFs(spark, dir), dir, snapshotId)._2.deletes
      .map(d => (d.path, d.rows))

  /** Read a manifest-committed snapshot: latest by default, or a pinned
    * `snapshotId` (time travel). Only manifest-listed files are read —
    * orphans from crashed writers and files of other snapshots are
    * invisible, whatever the directory listing says.
    *
    * With `prune`, files whose manifest stats prove they cannot hold a
    * matching row are dropped at PLANNING time — never opened, no
    * footer read, no task — and the equivalent row-level filter is
    * applied on top (file pruning bounds which files open; the filter
    * keeps row-level exactness). Strictly stronger than parquet
    * footer-stats skipping on an object store: pruning happens before
    * any per-file round trip. [[snapshotFiles]] exposes the surviving
    * list for tests and maintenance jobs.
    */
  def snapshotRead(spark: org.apache.spark.sql.SparkSession, dir: String,
                   snapshotId: Long = -1L,
                   prune: Option[StatPred] = None,
                   mergeSchema: Boolean = false): DataFrame = {
    // ONE manifest resolution (glob + open + parse) — entries, schemas
    // and delete lists of the same snapshot; pruning filters the loaded
    // entries in memory — on an object store the manifest round-trip is
    // exactly the cost this path exists to minimize
    val (_, m) = snapshotAt(tableFs(spark, dir), dir, snapshotId)
    val kept = pruned(m, prune)
    // every file pruned — or a legitimately zero-file manifest (a
    // table fully emptied by a copy-on-write delete): a schema-correct
    // empty result without planning a scan over the empty list (a
    // zero-path parquet read throws UNABLE_TO_INFER_SCHEMA)
    if (kept.isEmpty)
      return emptyLike(spark, dir, m.entries, m.schemas, mergeSchema)
    val base = liveRead(spark, dir, m, kept, mergeSchema)
    prune.fold(base)(p => base.filter(toColumn(p)))
  }

  /** The manifest entries a (possibly pruned) snapshot read resolves
    * to — the observable planning decision.
    */
  def snapshotFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                    snapshotId: Long = -1L,
                    prune: Option[StatPred] = None): Seq[FileEntry] =
    pruned(snapshotAt(tableFs(spark, dir), dir, snapshotId)._2, prune)

  /** The entries whose stats may satisfy `prune` (all without one). */
  private def pruned(m: Manifest, prune: Option[StatPred]): Seq[FileEntry] =
    prune.fold(m.entries)(p =>
      m.entries.filter(e => mayMatchEvolved(e, p, m.schemas)))

  /** The LIVE rows of `kept`, a subset of `m`'s files: the snapshot's
    * position-delete index and equality tombstones anti-joined back
    * out. Once the table's files span schemas whose (id, name) sets
    * differ (rename/drop/widen history) columns resolve BY ID to the
    * current schema ([[evolvedRead]]); uniform tables take the single
    * scan. `mergeSchema`: appends may have widened the schema, and the
    * default parquet read takes one file's schema, silently dropping
    * the new column from old-file rows' view — a rewrite reads the
    * union schema (new columns surface as NULL on pre-widening files:
    * the q148 property inside the snapshot contract).
    */
  private def liveRead(spark: org.apache.spark.sql.SparkSession,
                       dir: String, m: Manifest, kept: Seq[FileEntry],
                       mergeSchema: Boolean = true): DataFrame =
    if (!uniformSchema(m.entries, m.schemas))
      evolvedRead(spark, dir, kept, m.schemas, mergeSchema, m.deletes,
        m.eqDeletes)
    else {
      val reader =
        if (mergeSchema) spark.read.option("mergeSchema", "true")
        else spark.read
      eqFilter(spark, dir, dvFilter(spark, dir,
        reader.parquet(kept.map(e => s"$dir/${e.path}"): _*), kept,
        m.deletes), m.eqDeletes)
    }

  /** The snapshot's recorded schema history (ascending id; last =
    * current). Empty on tables that predate schema recording.
    */
  def snapshotSchemas(spark: org.apache.spark.sql.SparkSession,
                      dir: String, snapshotId: Long = -1L): Seq[SchemaInfo] =
    snapshotAt(tableFs(spark, dir), dir, snapshotId)._2.schemas.sortBy(_.id)

  /** The table's committed snapshot ids, ascending — the DESCRIBE
    * HISTORY primitive, and the offset domain for incremental
    * consumption ([[snapshotChangesSince]]).
    */
  def snapshotIds(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Seq[Long] =
    listSnapshotIds(tableFs(spark, dir), dir).sorted.toSeq

  /** min/max/count answered from the MANIFEST ALONE — the
    * metadata-only aggregate pushdown ([[snapshotCount]]'s sibling for
    * extremes): per-file min/max stats are exact for numeric, date,
    * and timestamp columns (strings may be truncated bounds, so they
    * are refused rather than silently wrong), so the table-wide
    * extremes are a fold over manifest entries — zero data files
    * opened, zero tasks, O(files) driver work at ANY data scale.
    * All-null files (no bounds) are skipped, as min/max ignores nulls.
    * Errors loudly if any file lacks stats for the column or any row
    * count is missing — falling back to a silent full scan would
    * defeat the contract.
    *
    * Returns one row: (min_<col>, max_<col>, n_rows), typed via a cast
    * through the recorded catalog type.
    */
  def snapshotMinMax(spark: org.apache.spark.sql.SparkSession,
                     dir: String, column: String,
                     snapshotId: Long = -1L): DataFrame = {
    val (_, m) = snapshotAt(tableFs(spark, dir), dir, snapshotId)
    val entries = m.entries
    require(entries.nonEmpty, s"empty snapshot under $dir")
    // a deleted row may BE the extreme — min/max from file stats is
    // only sound with zero outstanding deletes of either kind
    require(m.deletes.isEmpty && m.eqDeletes.isEmpty,
      "metadata min/max undefined over outstanding deletes — " +
        "materializeDeletes first")
    require(entries.forall(_.stats.contains(column)),
      s"column $column lacks manifest stats on some files — " +
        "metadata aggregate unavailable")
    require(entries.forall(_.rows.isDefined),
      "row counts missing from some manifest entries")
    val tpe = entries.head.stats(column).tpe
    require(numericType(tpe) || tpe == "date" ||
      tpe == "timestamp" || tpe == "timestamp_ntz",
      s"metadata min/max exact only for numeric/date/timestamp " +
        s"columns; $column is $tpe (string bounds may be truncated)")
    val bounds = entries.flatMap { e =>
      val st = e.stats(column)
      for {mn <- st.min; mx <- st.max} yield (mn, mx)
    }
    require(bounds.nonEmpty, s"all files all-null for $column")
    val mn = bounds.map(_._1).minBy(v => cmpKey(v, tpe))
    val mx = bounds.map(_._2).maxBy(v => cmpKey(v, tpe))
    val n = entries.flatMap(_.rows).sum
    spark.range(1).select(
      lit(mn).cast(tpe).as(s"min_$column"),
      lit(mx).cast(tpe).as(s"max_$column"),
      lit(n).as("n_rows"))
  }

  /** Stat-string ordering + exactness domain, shared with the
    * metadata-aggregate optimizer rule (graft.plans): min/max answers
    * are exact from manifest stats only for numeric/date/timestamp
    * columns — string bounds may be TRUNCATED (valid for pruning,
    * wrong as an answer), so the rule must refuse them like
    * [[snapshotMinMax]] does.
    */
  private[graft] def statKeyOrder(v: String, tpe: String): (Int, BigDecimal) =
    cmpKey(v, tpe)
  private[graft] def metadataExactType(tpe: String): Boolean =
    numericType(tpe) || tpe == "date" || tpe == "timestamp" ||
      tpe == "timestamp_ntz"

  /** Orderable key for a stat string under its catalog type — reuses
    * the exact [[cmp]] domains (BigDecimal / epoch micros / days), and
    * ranks the non-finite float stats around the finite ones exactly as
    * [[cmp]] does ([[numRank]]).
    */
  private def cmpKey(v: String, tpe: String): (Int, BigDecimal) =
    if (!numericType(tpe))
      (0, BigDecimal(if (tpe == "date") toDays(v) else toMicros(v)))
    else numRank(v) match {
      case 0 => (0, BigDecimal(v))
      case r => (r, BigDecimal(0))
    }

  /** The table's commit history as a DataFrame — DESCRIBE HISTORY:
    * one row per snapshot with its commit time (the manifest rename's
    * mtime), file count, and total row count (null when any file was
    * written without stats). Resolved entirely from manifests — no
    * data file opened.
    */
  def snapshotHistory(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    import spark.implicits._
    val fs = tableFs(spark, dir)
    committedIds(fs, dir).sorted.map { sid =>
      val m = manifestAt(fs, dir, sid)
      val mtime = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(dir, s"manifest-$sid.json"))
        .getModificationTime
      val rows =
        if (m.entries.isEmpty) Some(0L)
        // equality tombstones: live count unknowable from metadata
        else if (m.eqDeletes.nonEmpty) None
        else if (m.entries.forall(_.rows.isDefined)) // live, not physical
          Some(m.entries.flatMap(_.rows).sum - m.deletes.map(_.rows).sum)
        else None
      (sid, new java.sql.Timestamp(mtime), m.entries.size, rows, m.op)
    }.toSeq
      .toDF("snapshot_id", "committed_at", "n_files", "n_rows", "op")
  }

  /** The rows ADDED between two snapshots — every row in a data file
    * the target manifest lists but the base manifest does not. This is
    * FILE-level change capture, resolved purely from two manifest
    * reads (no data diffed, no shuffle): for append-only tables it is
    * exactly the appended rows — the incremental-consumption feed a
    * downstream pipeline tails. After a rewriting commit (delete /
    * compact / merge) the added files also carry rewritten old rows;
    * consumers needing row-level insert/update/delete labels use
    * [[snapshotDiff]], which pays a key join for that precision.
    *
    * `sinceSnapshotId` ≤ 0 means "from the beginning" (all files of
    * the target snapshot); `toSnapshotId` ≤ 0 means the latest.
    */
  def snapshotChangesSince(spark: org.apache.spark.sql.SparkSession,
                           dir: String, sinceSnapshotId: Long,
                           toSnapshotId: Long = -1L,
                           mergeSchema: Boolean = false): DataFrame = {
    val fs = tableFs(spark, dir)
    val target = snapshotAt(fs, dir, toSnapshotId)._2.entries
    val basePaths =
      if (sinceSnapshotId <= 0) Set.empty[String]
      else snapshotAt(fs, dir, sinceSnapshotId)._2.entries.map(_.path).toSet
    val added = target.filterNot(e => basePaths.contains(e.path))
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read
    if (added.nonEmpty) reader.parquet(added.map(e => s"$dir/${e.path}"): _*)
    else if (target.nonEmpty)
      // no change: schema from ONE file, zero rows
      reader.parquet(s"$dir/${target.head.path}").filter(lit(false))
    else spark.emptyDataFrame
  }

  /** Row-level CHANGE DATA FEED between two snapshots — every commit
    * in `(sinceSnapshotId, toSnapshotId]` replayed as tagged rows:
    * the table's columns plus `_change_type` (`insert` | `delete`)
    * and `_commit_snapshot_id`. An updated row appears as a delete of
    * its old image and an insert of its new one — exactly the (I/D)
    * feed [[deltaAggMaintain]] folds, so an incrementally-maintained
    * view stays exact through DELETE / UPDATE / MERGE commits, not
    * just appends (the gap [[snapshotChangesSince]]'s file-level feed
    * leaves open).
    *
    * Cost is provenance-driven, per commit (the recorded manifest op):
    *  - `append`: added files read and tagged — no diff, no shuffle;
    *  - `replace` / `evolve`: compaction and metadata-only commits
    *    contribute NOTHING (zero logical change, zero I/O) — the
    *    change feed is maintenance-proof by construction;
    *  - CoW `delete` / `update` / `merge` / `overwrite` / `rollback`:
    *    two-sided `EXCEPT ALL` between the commit's REMOVED and ADDED
    *    files — cost ∝ rewritten bytes (the touched-file set), never
    *    the table; carried-over rows cancel, so only genuine changes
    *    surface;
    *  - merge-on-read deletes (a DV/tombstone delta with no file
    *    delta): two-sided `EXCEPT ALL` between the LIVE views before
    *    and after — exact but table-proportional, and labeled so:
    *    settle MoR debt with [[materializeDeletes]] before tailing
    *    changes at scale.
    *
    * Reads resolve by field id on evolved tables (the [[evolvedRead]]
    * path), so a feed spanning a rename era still yields CURRENT
    * column names throughout.
    */
  def changeFeed(spark: org.apache.spark.sql.SparkSession, dir: String,
                 sinceSnapshotId: Long, toSnapshotId: Long = -1L)
      : DataFrame = {
    val fs = tableFs(spark, dir)
    val ids = committedIds(fs, dir)
    val to = if (toSnapshotId > 0) toSnapshotId else ids.max
    require(ids.contains(to), s"snapshot $to not found under $dir")
    require(sinceSnapshotId <= 0 || ids.contains(sinceSnapshotId),
      s"snapshot $sinceSnapshotId not found under $dir")
    val span = ids.filter(id => id > sinceSnapshotId && id <= to)

    def readEntries(entries: Seq[FileEntry], schemas: Seq[SchemaInfo])
        : Option[DataFrame] =
      if (entries.isEmpty) None
      else Some(rewriteRead(spark, dir, entries, schemas))

    def tag(df: DataFrame, tpe: String, sid: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_snapshot_id", lit(sid))

    // exceptAll resolves by POSITION: align both sides to one
    // name-ordered column set (null-fill what a side lacks) first
    def aligned(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
      // a is the AFTER side: on a widening era its types are the
      // current (wider) ones, so they win the per-name resolution —
      // casting the before side up is lossless, never the reverse
      val byName = (b.schema.fields ++ a.schema.fields)
        .map(f => f.name -> f.dataType).toMap
      val names = (a.columns ++ b.columns).distinct.sorted.toIndexedSeq
      // cast BOTH sides to one type per name: a widening era can leave
      // the two sides at different physical widths for the same column
      def fit(df: DataFrame): DataFrame = df.select(names.map(n =>
        if (df.columns.contains(n)) col(n).cast(byName(n)).as(n)
        else lit(null).cast(byName(n)).as(n)): _*)
      (fit(a), fit(b))
    }

    def pairDiff(addedDf: Option[DataFrame], removedDf: Option[DataFrame],
                 sid: Long): Seq[DataFrame] = (addedDf, removedDf) match {
      case (Some(a), Some(r)) =>
        val (fa, fr) = aligned(a, r)
        Seq(tag(fa.exceptAll(fr), "insert", sid),
          tag(fr.exceptAll(fa), "delete", sid))
      case (Some(a), None) => Seq(tag(a, "insert", sid))
      case (None, Some(r)) => Seq(tag(r, "delete", sid))
      case (None, None) => Nil
    }

    var prev = if (sinceSnapshotId > 0) sinceSnapshotId else 0L
    var prevM = if (prev > 0) manifestAt(fs, dir, prev) else Manifest(Nil)
    val frames = Seq.newBuilder[DataFrame]
    span.foreach { sid =>
      val cur = manifestAt(fs, dir, sid)
      val prevPaths = prevM.entries.map(_.path).toSet
      cur.op.getOrElse("unknown") match {
        case "replace" | "evolve" => // zero logical change
        case "append" =>
          readEntries(cur.entries.filterNot(e => prevPaths.contains(e.path)),
            cur.schemas).foreach(df => frames += tag(df, "insert", sid))
        case _ =>
          val dvDelta = cur.deletes.toSet != prevM.deletes.toSet ||
            cur.eqDeletes.toSet != prevM.eqDeletes.toSet
          if (dvDelta) {
            // MoR tombstone movement: only the live views are exact
            val after = snapshotRead(spark, dir, sid)
            val before =
              if (prev <= 0) None else Some(snapshotRead(spark, dir, prev))
            frames ++= pairDiff(Some(after), before, sid)
          } else {
            val curPaths = cur.entries.map(_.path).toSet
            frames ++= pairDiff(
              readEntries(cur.entries.filterNot(e =>
                prevPaths.contains(e.path)), cur.schemas),
              readEntries(prevM.entries.filterNot(e =>
                curPaths.contains(e.path)), prevM.schemas),
              sid)
          }
      }
      prev = sid
      prevM = cur
    }
    val out = frames.result()
    if (out.isEmpty)
      tag(snapshotRead(spark, dir, to).filter(lit(false)), "insert", to)
    else out.reduce((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
  }

  /** Resolve the snapshot current AS OF `timestampMs` — time-based time
    * travel (the id-pinned form's calendar sibling): the newest
    * manifest whose COMMIT time (the atomic rename's mtime) is ≤ the
    * asked instant. Errors if the table has no snapshot that old.
    */
  def snapshotAsOf(spark: org.apache.spark.sql.SparkSession, dir: String,
                   timestampMs: Long): Long = {
    val fs = tableFs(spark, dir)
    val eligible = committedIds(fs, dir).filter { id =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(dir,
        s"manifest-$id.json")).getModificationTime <= timestampMs
    }
    require(eligible.nonEmpty,
      s"no snapshot committed at or before $timestampMs under $dir")
    eligible.max
  }

  /** ROLL BACK to `snapshotId` by committing a NEW manifest with the
    * old snapshot's exact file list — undo as a forward commit, so
    * history is preserved (the bad snapshot stays inspectable until
    * vacuumed) and concurrent readers never see a manifest disappear.
    * Returns the new snapshot id.
    */
  def rollbackTo(spark: org.apache.spark.sql.SparkSession, dir: String,
                 snapshotId: Long): Long = {
    val fs = tableFs(spark, dir)
    val ids = listSnapshotIds(fs, dir)
    require(ids.contains(snapshotId),
      s"snapshot $snapshotId not found under $dir")
    val m = manifestAt(fs, dir, snapshotId)
    val newId = ids.max + 1L
    // the rollback restores the TARGET's delete state too — rolling
    // past a MoR delete must resurrect exactly what that snapshot saw
    writeManifest(fs, dir, newId, m.entries, m.schemas, m.deletes,
      m.eqDeletes, op = "rollback")
    newId
  }

  /** `count(*)` from manifest metadata alone when every file carries a
    * recorded row count (any stats-collecting write records them) —
    * zero files opened; falls back to a distributed count otherwise.
    * The table-format trick that turns the most common query into a
    * manifest read.
    */
  def snapshotCount(spark: org.apache.spark.sql.SparkSession, dir: String,
                    snapshotId: Long = -1L): Long = {
    val (snap, m) = snapshotAt(tableFs(spark, dir), dir, snapshotId)
    // position deletes stay metadata-exact (pairwise disjoint by
    // construction: live = Σ file rows − Σ delete rows); EQUALITY
    // deletes have unknown overlap with the data — real count
    if (m.entries.nonEmpty && m.entries.forall(_.rows.isDefined) &&
        m.eqDeletes.isEmpty)
      m.entries.map(_.rows.get).sum - m.deletes.map(_.rows).sum
    else snapshotRead(spark, dir, snap).count()
  }

  /** Vacuum a manifest-committed table: delete every data file NOT
    * referenced by the `keep` most recent manifests, and the dropped
    * manifests themselves. The reason vacuum is safe here and unsafe
    * with directory-listing tables: readers resolve a manifest first,
    * so the reachable-file set is exact — crashed-writer orphans and
    * retired snapshots are provably dead. `keep >= 1`; in production
    * the keep horizon is a TIME bound covering the longest-running
    * reader, since a reader pinned to a vacuumed snapshot loses its
    * files. Returns the number of data files deleted.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, dir: String,
             keep: Int = 1): Int = {
    require(keep >= 1, s"must keep at least 1 snapshot, got $keep")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = committedIds(fs, dir).sorted
    // refs PIN snapshots: a tagged/branched id keeps its manifest and
    // its files regardless of the keep horizon
    val keepIds = manifests.takeRight(keep).toSet ++ refPinnedIds(fs, dir)
    val kept = keepIds.toSeq.map(manifestAt(fs, dir, _))
    // pending write-audit-publish batches are live-by-staging: their
    // files are referenced by no manifest yet, but dropping them would
    // destroy a batch mid-audit
    val stagedLive: Set[String] = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "staged-*.json")))
      .getOrElse(Array.empty)
      .flatMap(st => readManifest(fs, st.getPath).entries.map(_.path))
      .toSet
    val live: Set[String] =
      kept.flatMap(_.entries.map(_.path)).toSet ++ stagedLive
    // delete DIRECTORIES (position and equality) referenced by
    // surviving manifests are live as units (their part files key by
    // the dir prefix)
    val liveDvDirs: Set[String] = kept.flatMap(deleteDirs).toSet
    // every file under `sub` whose table-relative path is not live
    def sweep(sub: String, isLive: String => Boolean): Int = {
      val subRoot = new org.apache.hadoop.fs.Path(dir, sub)
      if (!fs.exists(subRoot)) return 0
      val it = fs.listFiles(subRoot, true)
      val dead = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toString.stripPrefix(
          fs.makeQualified(root).toString + "/")
        if (f.isFile && !isLive(rel)) dead += f.getPath
      }
      dead.count(fs.delete(_, false))
    }
    val deleted = sweep("data", live.contains) +
      sweep("deletes", rel => liveDvDirs.exists(d => rel.startsWith(d + "/")))
    manifests.filterNot(keepIds.contains).foreach { snap =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"manifest-$snap.json"), false)
      // the id can never be recommitted (ids only grow), so its commit
      // token is dead weight once the manifest is gone
      fs.delete(new org.apache.hadoop.fs.Path(dir, s".commit-$snap.lock"), false)
    }
    // crashed-writer manifest temps are dead by definition (the commit
    // rename never happened) — reclaim them with the data orphans
    Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, ".manifest-*.json.tmp")))
      .getOrElse(Array.empty)
      .foreach(f => fs.delete(f.getPath, false))
    deleted
  }

  // ==== named refs: tags & branches ====================================

  final case class TableRef(name: String, refType: String,
                            snapshotId: Long)

  // no '.' in ref names: the versioned file name `ref-<name>.v<N>.json`
  // parses by the LAST ".v", so the name charset must exclude '.'
  private val RefNameRx = "[A-Za-z0-9][A-Za-z0-9_-]*".r

  /** TAG a snapshot — an immutable named pointer (Iceberg tag
    * semantics): resolves forever to the same snapshot id, refuses
    * [[fastForward]], and PINS the snapshot against [[expireSnapshots]]
    * and [[vacuum]] (a ref'd id is protected regardless of age or
    * keep-last horizon — the release/audit pin every deployed table
    * format provides). Defaults to the CURRENT snapshot. Creation is
    * arbitration-safe: the ref file commits via the same
    * create-exclusive rule as manifests, so two racing creators of the
    * same name get exactly one winner and one loud loser.
    */
  def createTag(spark: org.apache.spark.sql.SparkSession, dir: String,
                name: String, snapshotId: Long = -1L): Long =
    createRef(spark, dir, name, snapshotId, "tag")

  /** BRANCH a snapshot — a movable named pointer: like a tag but
    * [[fastForward]] may advance it to a newer snapshot id (the
    * staging/main promotion flow). Same expire/vacuum pinning and
    * create-exclusive arbitration as [[createTag]]. This format's
    * history is linear, so a branch is a READ pointer — commits land
    * on the single id chain and a branch promotes by fast-forward;
    * divergent write branches need a multi-parent chain this format
    * (by design) does not carry.
    */
  def createBranch(spark: org.apache.spark.sql.SparkSession, dir: String,
                   name: String, snapshotId: Long = -1L): Long =
    createRef(spark, dir, name, snapshotId, "branch")

  private def createRef(spark: org.apache.spark.sql.SparkSession,
                        dir: String, name: String, snapshotId: Long,
                        tpe: String): Long = {
    require(RefNameRx.matches(name),
      s"ref name must match ${RefNameRx.regex}, got '$name'")
    val fs = tableFs(spark, dir)
    val ids = committedIds(fs, dir)
    val sid = if (snapshotId < 0) ids.max else snapshotId
    require(ids.contains(sid), s"snapshot $sid does not exist under $dir")
    require(listRefVersions(fs, dir, name).isEmpty,
      s"ref '$name' already exists under $dir — dropRef first")
    if (!writeRefVersion(fs, dir, name, 1L, tpe, sid))
      throw new java.util.ConcurrentModificationException(
        s"ref '$name' created concurrently under $dir")
    sid
  }

  /** Advance a BRANCH to a newer snapshot (forward-only — rewinding a
    * shared pointer is how readers silently lose commits; use dropRef
    * + createBranch for an explicit reset). Movement is a NEW VERSION
    * of the ref file (`ref-<name>.v<N+1>.json`, create-exclusive, max
    * version wins) — the versioned-marker pattern the consumer offsets
    * use, so there is no delete-then-rename window where the ref
    * vanishes, and two racing fast-forwards get one winner per
    * version slot. Older versions are reclaimed after the new one
    * commits. Returns the id the branch now points at.
    */
  def fastForward(spark: org.apache.spark.sql.SparkSession, dir: String,
                  name: String, toSnapshotId: Long = -1L): Long = {
    val fs = tableFs(spark, dir)
    val versions = listRefVersions(fs, dir, name)
    require(versions.nonEmpty, s"no ref '$name' under $dir")
    val curVer = versions.max
    val cur = readRefVersion(fs, dir, name, curVer)
    require(cur.refType == "branch",
      s"ref '$name' is a ${cur.refType} — tags are immutable " +
        "(dropRef + createTag to retarget)")
    val ids = listSnapshotIds(fs, dir)
    val sid = if (toSnapshotId < 0) ids.max else toSnapshotId
    require(ids.contains(sid), s"snapshot $sid does not exist under $dir")
    require(sid >= cur.snapshotId,
      s"fastForward is forward-only: branch '$name' is at " +
        s"${cur.snapshotId}, refusing to rewind to $sid")
    if (sid == cur.snapshotId) return sid
    if (!writeRefVersion(fs, dir, name, curVer + 1, "branch", sid))
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' advanced concurrently under $dir — re-read and retry")
    // losers of future slots resolve by MAX version; the stale ones
    // are dead weight once the new version is committed
    versions.foreach(v => fs.delete(refVersionPath(dir, name, v), false))
    sid
  }

  /** Remove a ref (all versions). The pinned snapshot immediately
    * becomes expirable/vacuumable again under the normal horizons.
    */
  def dropRef(spark: org.apache.spark.sql.SparkSession, dir: String,
              name: String): Unit = {
    val fs = tableFs(spark, dir)
    val versions = listRefVersions(fs, dir, name)
    require(versions.nonEmpty, s"no ref '$name' under $dir")
    versions.foreach(v => fs.delete(refVersionPath(dir, name, v), false))
  }

  /** All refs on the table, one row each (max version wins per name). */
  def tableRefs(spark: org.apache.spark.sql.SparkSession,
                dir: String): Seq[TableRef] = {
    val fs = tableFs(spark, dir)
    listAllRefs(fs, dir).sortBy(_.name)
  }

  /** Resolve a ref name to its snapshot id (loudly absent if none). */
  def resolveRef(spark: org.apache.spark.sql.SparkSession, dir: String,
                 name: String): Long = {
    val fs = tableFs(spark, dir)
    val versions = listRefVersions(fs, dir, name)
    require(versions.nonEmpty, s"no ref '$name' under $dir")
    readRefVersion(fs, dir, name, versions.max).snapshotId
  }

  /** [[snapshotRead]] through a named ref — `read(dir, "release-1")`. */
  def snapshotReadRef(spark: org.apache.spark.sql.SparkSession,
                      dir: String, name: String,
                      mergeSchema: Boolean = false): DataFrame =
    snapshotRead(spark, dir, resolveRef(spark, dir, name),
      mergeSchema = mergeSchema)

  private def refVersionPath(dir: String, name: String, ver: Long) =
    new org.apache.hadoop.fs.Path(dir, s"ref-$name.v$ver.json")

  private def listRefVersions(fs: org.apache.hadoop.fs.FileSystem,
                              dir: String, name: String): Seq[Long] =
    Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, s"ref-$name.v*.json")))
      .getOrElse(Array.empty)
      .flatMap(_.getPath.getName.stripPrefix(s"ref-$name.v")
        .stripSuffix(".json").toLongOption)
      .toSeq

  private def listAllRefs(fs: org.apache.hadoop.fs.FileSystem,
                          dir: String): Seq[TableRef] =
    Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "ref-*.v*.json")))
      .getOrElse(Array.empty)
      .flatMap { st =>
        val base = st.getPath.getName.stripPrefix("ref-")
          .stripSuffix(".json")
        val cut = base.lastIndexOf(".v")
        if (cut <= 0) None
        else base.drop(cut + 2).toLongOption.map(v => (base.take(cut), v))
      }
      .groupBy(_._1)
      .map { case (name, vs) =>
        readRefVersion(fs, dir, name, vs.map(_._2).max)
      }
      .toSeq

  private def readRefVersion(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String, name: String,
                             ver: Long): TableRef = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val in = fs.open(refVersionPath(dir, name, ver))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    JsonMethods.parse(body) match {
      case obj: JObject =>
        ((obj \ "name"), (obj \ "type"), (obj \ "snapshot_id")) match {
          case (JString(n), JString(t), JInt(s)) => TableRef(n, t, s.toLong)
          case (JString(n), JString(t), JLong(s)) => TableRef(n, t, s)
          case other => sys.error(s"bad ref body for $name.v$ver: $other")
        }
      case other => sys.error(s"bad ref body for $name.v$ver: $other")
    }
  }

  /** Write one ref version via tmp + create-exclusive token + rename
    * (the manifest commit shape): returns false if the version slot
    * was taken by a racer.
    */
  private def writeRefVersion(fs: org.apache.hadoop.fs.FileSystem,
                              dir: String, name: String, ver: Long,
                              tpe: String, sid: Long): Boolean = {
    val body =
      s"""{"name":"$name","type":"$tpe","snapshot_id":$sid}"""
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".ref-$name.v$ver-${java.util.UUID.randomUUID()}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val lock = new org.apache.hadoop.fs.Path(dir, s".ref-$name.v$ver.lock")
    if (!createExclusive(fs, lock)) { fs.delete(tmp, false); return false }
    val dest = refVersionPath(dir, name, ver)
    if (fs.exists(dest)) { // legacy/crashed slot: token won, file present
      fs.delete(tmp, false); return false
    }
    val ok = fs.rename(tmp, dest)
    if (!ok) fs.delete(tmp, false)
    ok
  }

  /** Snapshot ids pinned by any ref — protected from expire/vacuum. */
  private def refPinnedIds(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Set[Long] =
    listAllRefs(fs, dir).map(_.snapshotId).toSet

  /** RETENTION policy — Iceberg's `expireSnapshots` between
    * [[snapshotHistory]] and [[vacuum]]: drop every snapshot whose
    * COMMIT time (the manifest rename's mtime, the same clock
    * [[snapshotAsOf]] travels by) is strictly before `olderThanMs`,
    * always protecting the `keepLast` most recent ids regardless of
    * age. Reclaims the expired manifests, their commit tokens, and
    * every data file referenced ONLY by expired snapshots — files an
    * append carried forward into a surviving manifest stay untouched
    * (the shared-file safety property appends rely on). Expired ids
    * refuse time travel afterwards; surviving snapshots are
    * byte-identical. Unlike [[vacuum]] this never sweeps crashed-writer
    * orphans — it deletes only what expired manifests prove dead.
    *
    * In production `olderThanMs` covers the longest-running reader
    * plus clock skew (a reader pinned to an expired snapshot loses its
    * files mid-query — the same horizon contract every manifest table
    * format documents). Returns (snapshots expired, data files
    * deleted).
    */
  def expireSnapshots(spark: org.apache.spark.sql.SparkSession,
                      dir: String, olderThanMs: Long,
                      keepLast: Int = 1,
                      pinnedIds: Set[Long] = Set.empty): (Int, Int) = {
    require(keepLast >= 1, s"must keep at least 1 snapshot, got $keepLast")
    val fs = tableFs(spark, dir)
    val ids = committedIds(fs, dir).sorted
    // refs PIN snapshots: a tagged/branched id survives any horizon —
    // and so does anything the caller pins (catalogRetention passes
    // every snapshot a retained catalog version references)
    val protectedIds =
      ids.takeRight(keepLast).toSet ++ refPinnedIds(fs, dir) ++ pinnedIds
    val expired = ids.filter { id =>
      !protectedIds.contains(id) &&
        fs.getFileStatus(new org.apache.hadoop.fs.Path(dir,
          s"manifest-$id.json")).getModificationTime < olderThanMs
    }
    if (expired.isEmpty) return (0, 0)
    val gone = expired.toSeq.map(manifestAt(fs, dir, _))
    val kept = ids.filterNot(expired.contains).toSeq.map(manifestAt(fs, dir, _))
    val dead = gone.flatMap(_.entries.map(_.path)).toSet --
      kept.flatMap(_.entries.map(_.path))
    // same liveness rule for position- and equality-delete directories
    val deadDv = gone.flatMap(deleteDirs).toSet -- kept.flatMap(deleteDirs)
    val deleted = dead.count(rel =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), false))
    deadDv.foreach { rel =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), true)
    }
    expired.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"manifest-$id.json"), false)
      fs.delete(new org.apache.hadoop.fs.Path(dir, s".commit-$id.lock"), false)
    }
    (expired.length, deleted)
  }

  /** Hive-style partitioned write — the COARSEST pruning lever: rows
    * land in `col=value/` directories, and a later filter on a
    * partition column eliminates whole directories during PLANNING
    * (`PartitionFilters` on the scan node — zero files opened, zero
    * footers read), strictly stronger than row-group stats pruning.
    * The canonical 100 TB layout for low-cardinality query dimensions:
    * date, language, source.
    *
    * Rows are pre-shuffled on the partition columns so each task holds
    * complete partition values — without it, every one of T tasks can
    * hold rows of every one of P values and the write emits up to T×P
    * files (the classic partitioned-write small-file explosion). The
    * tradeoff: a genuinely hot partition value serializes into one
    * task's file; callers with known-hot values add a salt column to
    * the repartition (not the directory layout) to split those writes.
    */
  def partitionedWrite(df: DataFrame, partCols: Seq[String],
                       path: String): Unit = {
    require(partCols.nonEmpty, "partitionedWrite needs partition columns")
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
  }

  /** [[deltaAggMaintain]]'s second-moment sibling: maintain per-key
    * (n, sum, sumsq) under the same I/U/D change algebra, and derive
    * mean and POPULATION variance from the maintained moments —
    * variance is not directly incrementable, but Σx² is (the textbook
    * sufficient-statistics trick), so the view updates in O(|changes|)
    * like the count/sum case: inserts add (1, x, x²), deletes subtract
    * the old row's, updates add the difference. One aggregation over
    * the changes + one full-outer join against the view; keys whose
    * count reaches zero leave the view. Output: (key, n, mean, var)
    * rounded to 6 — cross-engine replayable.
    */
  def deltaStatsMaintain(prevMoments: DataFrame, changes: DataFrame,
                         keyCol: String, opCol: String, oldCol: String,
                         newCol: String): DataFrame = {
    require(Seq("n", "s", "ss").forall(prevMoments.columns.contains),
      s"prevMoments must carry (n, s, ss); has " +
        prevMoments.columns.mkString(", "))
    val o = col(oldCol).cast("double")
    val nw = col(newCol).cast("double")
    val delta = changes.groupBy(keyCol).agg(
      sum(when(col(opCol) === "I", 1L)
        .when(col(opCol) === "D", -1L).otherwise(0L)).as("_dn"),
      sum(when(col(opCol) === "I", nw)
        .when(col(opCol) === "D", -o)
        .otherwise(nw - o)).as("_ds"),
      sum(when(col(opCol) === "I", nw * nw)
        .when(col(opCol) === "D", -(o * o))
        .otherwise(nw * nw - o * o)).as("_dss"))
    prevMoments.join(delta, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0.0)) + coalesce(col("_ds"), lit(0.0))).as("s"),
        (coalesce(col("ss"), lit(0.0)) + coalesce(col("_dss"), lit(0.0))).as("ss"))
      .filter(col("n") > 0)
  }

  /** Render maintained moments as the user-facing (key, n, mean, var)
    * view — population variance E[x²] − E[x]², clamped at 0 against
    * negative float dust, rounded to 6.
    */
  def momentsView(moments: DataFrame, keyCol: String): DataFrame =
    moments.select(col(keyCol), col("n"),
      round(col("s") / col("n"), 6).as("mean"),
      round(greatest(col("ss") / col("n") -
        (col("s") / col("n")) * (col("s") / col("n")), lit(0.0)), 6)
        .as("var"))

  /** Incremental view maintenance for an algebraic (count + sum)
    * aggregate: apply a CDC change feed ([[snapshotDiff]]'s consumer
    * side) to the previous materialized aggregate instead of
    * recomputing from the table. Inserts add (+1, +new), deletes
    * subtract (−1, −old), updates contribute the value delta
    * (new − old). Groups whose maintained count reaches zero drop out
    * of the view, exactly as a recompute would drop them.
    *
    * Why it matters at 100 TB: a full recompute scans the table; this
    * maintains the view in O(|changes|) — the delta feed aggregates to
    * at most |touched groups| rows, and the merge is one full-outer
    * equi-join against the (already small) materialized aggregate.
    * Correctness rests on the aggregate being algebraic (count/sum —
    * and avg as their ratio); holistic aggregates (exact median)
    * still need the recompute path.
    *
    * `changes` columns: `op` ('I' | 'D' | 'U'), the group key, `valOld`
    * (null for inserts), `valNew` (null for deletes). `prevAgg` must
    * hold the materialized view as (keyCol, countCol, sumCol) —
    * `countCol`/`sumCol` name its count and sum columns (default
    * `n`/`total`) and the maintained output reuses the same names.
    */
  def deltaAggMaintain(prevAgg: DataFrame, changes: DataFrame,
                       keyCol: String, opCol: String, oldCol: String,
                       newCol: String, countCol: String = "n",
                       sumCol: String = "total"): DataFrame = {
    require(prevAgg.columns.contains(countCol) &&
      prevAgg.columns.contains(sumCol),
      s"prevAgg must carry the view's ($countCol, $sumCol) aggregate " +
        s"columns; has ${prevAgg.columns.mkString(", ")}")
    val delta = changes.groupBy(keyCol).agg(
      sum(when(col(opCol) === "I", 1L)
        .when(col(opCol) === "D", -1L).otherwise(0L)).as("_dn"),
      sum(when(col(opCol) === "I", col(newCol))
        .when(col(opCol) === "D", -col(oldCol))
        .otherwise(col(newCol) - col(oldCol))).as("_dsum"))
    prevAgg.join(delta, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        (coalesce(col(countCol), lit(0L)) + coalesce(col("_dn"), lit(0L)))
          .as(countCol),
        (coalesce(col(sumCol), lit(0L)) + coalesce(col("_dsum"), lit(0L)))
          .as(sumCol))
      .filter(col(countCol) > 0)
  }

  /** Policy for [[maintainTable]] — every knob maps to one existing,
    * individually-verified primitive; the runner only decides WHEN.
    */
  final case class MaintenancePolicy(
      targetFileBytes: Long = 128L << 20,
      minSmallFiles: Int = 8,
      settleDeletes: Boolean = true,
      expireOlderThanMs: Option[Long] = None,
      keepLastSnapshots: Int = 2,
      vacuumKeep: Option[Int] = Some(2),
      // the table's declared clustering key: when set, the pass also
      // folds overlapping sorted runs back in
      // ([[optimizeClusteredIncremental]]) after the size step
      clusterDim: Option[String] = None)

  /** One-call TABLE SERVICES pass — the nightly-maintenance loop every
    * deployed table format grows (Delta's OPTIMIZE + VACUUM cron,
    * Iceberg's maintenance actions), composed from the engine's own
    * verified primitives in debt-first order:
    *
    *  1. settle merge-on-read debt ([[materializeDeletes]]) if any
    *     position/equality tombstones are outstanding — restores the
    *     SQL surface and makes the compaction pass see live rows only;
    *  2. compact when the CURRENT snapshot lists at least
    *     `minSmallFiles` files under half `targetFileBytes`
    *     ([[compactSnapshot]]) — a healthy table is untouched, so the
    *     pass is cheap to run on a schedule;
    *  3. expire history past the retention window
    *     ([[expireSnapshots]], when `expireOlderThanMs` is set);
    *  4. vacuum unreferenced files ([[vacuum]], when `vacuumKeep` is
    *     set).
    *
    * Returns one (action, detail) row per action TAKEN (empty = the
    * table was already healthy) — the report a scheduler logs. Table
    * CONTENT is invariant under every step; LayoutSpec pins that.
    */
  def maintainTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                    policy: MaintenancePolicy = MaintenancePolicy())
      : DataFrame = {
    import spark.implicits._
    val actions = Seq.newBuilder[(String, String)]
    val fs = tableFs(spark, dir)
    val debt = snapshotAt(fs, dir)._2
    if (policy.settleDeletes &&
        (debt.deletes.nonEmpty || debt.eqDeletes.nonEmpty)) {
      val sid = materializeDeletes(spark, dir)
      actions += (("settle_deletes", s"snapshot $sid"))
    }
    val settled = snapshotAt(fs, dir)._2
    val small = settled.entries
      .count(_.bytes.exists(_ < policy.targetFileBytes / 2))
    if (small >= policy.minSmallFiles) {
      if (uniformSchema(settled.entries, settled.schemas)) {
        // the scalable pass: only the small-file debt rewrites
        val (sid, rewritten, after) =
          compactSmallFiles(spark, dir, policy.targetFileBytes)
        actions += (("compact_incremental",
          s"snapshot $sid: $rewritten small files -> $after"))
      } else {
        // evolved table: the full rewrite also HEALS the schema fork
        val (sid, before, after) =
          compactSnapshot(spark, dir, policy.targetFileBytes)
        actions += (("compact", s"snapshot $sid: $before -> $after files"))
      }
    }
    policy.clusterDim.foreach { dim =>
      val (_, Manifest(entries, schemas, _, _, _)) = snapshotAt(fs, dir)
      // Guard the POLICY step the way the schema check above does:
      // optimizeClusteredIncremental hard-requires exact [min,max]
      // bounds on the dim for EVERY file, and a nightly maintenance
      // pass must not abort on one stat-less or all-null file — that
      // would also skip the expire/vacuum steps below. The hard
      // require stays for direct API calls; here we record the skip.
      val exactBounds = entries.forall(e => e.stats.get(dim).exists(s =>
        s.min.isDefined && s.max.isDefined && metadataExactType(s.tpe)))
      if (!uniformSchema(entries, schemas) || !exactBounds) {
        if (entries.nonEmpty)
          actions += (("recluster_skipped",
            if (!exactBounds)
              s"'$dim' lacks exact [min,max] bounds on some file"
            else "schema evolution pending compaction"))
      } else {
        val (sid, rew, wrote) =
          optimizeClusteredIncremental(spark, dir, dim,
            policy.targetFileBytes)
        if (rew > 0)
          actions += (("recluster_incremental",
            s"snapshot $sid: $rew overlapping files -> $wrote"))
      }
    }
    policy.expireOlderThanMs.foreach { cutoff =>
      val (expired, reclaimed) = expireSnapshots(spark, dir, cutoff,
        keepLast = policy.keepLastSnapshots)
      if (expired > 0)
        actions += (("expire",
          s"$expired snapshots, $reclaimed files reclaimed"))
    }
    policy.vacuumKeep.foreach { keep =>
      val n = vacuum(spark, dir, keep)
      if (n > 0) actions += (("vacuum", s"$n orphan files reclaimed"))
    }
    actions.result().toDF("action", "detail")
  }


  // ------------------------------------------------------------------
  // CATALOG: multi-table atomic commits
  // ------------------------------------------------------------------

  final case class CatalogEntry(table: String, dir: String, snapshotId: Long)

  /** Multi-table ATOMIC commits — the catalog layer above per-table
    * snapshots (the gap a bare manifest-file format leaves open: one
    * table's commit is atomic, but a pipeline publishing DERIVED
    * tables together needs readers to see either ALL of a batch's
    * outputs or NONE). A catalog directory holds versioned files
    * `catalog-v<N>.json`, each the COMPLETE table->(dir, snapshot id)
    * mapping; version N+1 commits under the same tmp + create-exclusive
    * token + rename discipline as manifests and refs, so two racing
    * committers on the same base version resolve to one winner and one
    * loud loser (re-read, re-derive, retry — optimistic concurrency).
    *
    * Readers resolve every table through ONE catalog version:
    * cross-table consistency falls out, and a table-level append that
    * no catalog version pins is invisible to catalog readers — the
    * isolation a training pipeline needs between "data landed" and
    * "batch published".
    */
  def catalogVersion(spark: org.apache.spark.sql.SparkSession,
                     catalogDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(catalogDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    catalogVersions(fs, catalogDir).sorted.lastOption.getOrElse(0L)
  }

  private def catalogVersions(fs: org.apache.hadoop.fs.FileSystem,
                              catalogDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(catalogDir)
    if (!fs.exists(p)) return Nil
    val R = """catalog-v(\d+)\.json""".r
    fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case R(n) => n.toLong
    }
  }

  /** The table mapping at `version` (default: latest). */
  def catalogEntries(spark: org.apache.spark.sql.SparkSession,
                     catalogDir: String,
                     version: Long = -1L): Seq[CatalogEntry] = {
    val p = new org.apache.hadoop.fs.Path(catalogDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = catalogVersions(fs, catalogDir)
    require(versions.nonEmpty, s"no catalog versions under $catalogDir")
    val v = if (version < 0) versions.max else version
    require(versions.contains(v),
      s"catalog version $v does not exist under $catalogDir " +
        s"(have ${versions.sorted.mkString(", ")})")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val in = fs.open(new org.apache.hadoop.fs.Path(catalogDir,
      s"catalog-v$v.json"))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    JsonMethods.parse(body) \ "tables" match {
      case JArray(ts) => ts.map { t =>
        (t \ "table", t \ "dir", t \ "snapshot_id") match {
          case (JString(n), JString(dd), JInt(sid)) =>
            CatalogEntry(n, dd, sid.toLong)
          case other => sys.error(s"bad catalog entry in v$v: $other")
        }
      }
      case other => sys.error(s"bad catalog body in v$v: $other")
    }
  }

  /** Commit `updates` (table -> (dir, snapshot id)) as ONE new catalog
    * version on top of the current one: unchanged tables carry
    * forward, each pinned snapshot is validated to exist BEFORE the
    * version slot is taken, and the slot itself is create-exclusive —
    * a racing committer on the same base loses loudly and must re-read
    * and retry. Returns the committed version.
    */
  def catalogCommit(spark: org.apache.spark.sql.SparkSession,
                    catalogDir: String,
                    updates: Map[String, (String, Long)],
                    note: Option[String] = None,
                    staleLockAfterMs: Long = 300000L): Long = {
    require(updates.nonEmpty, "catalogCommit needs at least one table")
    val p = new org.apache.hadoop.fs.Path(catalogDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    updates.foreach { case (t, (dir, sid)) =>
      require(fs.exists(new org.apache.hadoop.fs.Path(dir,
        s"manifest-$sid.json")),
        s"table '$t': snapshot $sid does not exist under $dir — " +
          "commit the table first, then pin it in the catalog")
    }
    val versions = catalogVersions(fs, catalogDir)
    val base = versions.sorted.lastOption.getOrElse(0L)
    val carried =
      if (base == 0L) Nil
      else catalogEntries(spark, catalogDir, base)
        .filterNot(e => updates.contains(e.table))
    val merged = (carried ++ updates.toSeq.map { case (t, (dd, sid)) =>
      CatalogEntry(t, dd, sid)
    }).sortBy(_.table)
    val newVer = base + 1
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val body = JsonMethods.compact(JsonMethods.render(
      ("version" -> newVer) ~ ("note" -> note) ~
        ("tables" -> merged.map(e =>
          ("table" -> e.table) ~ ("dir" -> e.dir) ~
            ("snapshot_id" -> e.snapshotId)))))
    val tmp = new org.apache.hadoop.fs.Path(catalogDir,
      s".catalog-v$newVer-${java.util.UUID.randomUUID()}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val lock = new org.apache.hadoop.fs.Path(catalogDir,
      s".catalog-v$newVer.lock")
    val dest = new org.apache.hadoop.fs.Path(catalogDir,
      s"catalog-v$newVer.json")
    if (!createExclusive(fs, lock)) {
      fs.delete(tmp, false)
      // Distinguish the live race from its debris: a lock with no
      // published version behind it means a previous committer crashed
      // (or failed its rename) between createExclusive and rename —
      // retrying against it can never succeed, so name the remediation.
      // BUT a lock-present/dest-missing snapshot also describes a LIVE
      // winner between ITS createExclusive and rename (r13's racing-
      // committers spec caught exactly that window being misdiagnosed,
      // with "remove the lock" advice that would corrupt the live
      // commit) — so staleness additionally requires the lock to be
      // OLDER than any plausible lock→rename gap — the default is 5
      // MINUTES (`staleLockAfterMs`), far above any GC pause, slow
      // object-store rename, or modest clock skew; deployments on
      // slower stores can raise it. A fresh lock is a concurrent
      // committer; retry against it resolves.
      val lockAge =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        catch { case _: java.io.FileNotFoundException => -1L }
      if (!fs.exists(dest) && lockAge > staleLockAfterMs)
        sys.error(s"catalog version $newVer under $catalogDir is held by " +
          s"a stale lock: .catalog-v$newVer.lock exists but " +
          s"catalog-v$newVer.json does not, and the lock is older than " +
          s"${staleLockAfterMs} ms — a previous committer most likely " +
          "crashed between lock and rename. VERIFY no committer is still " +
          "running (a long-paused live committer looks identical), then " +
          "remove the stale lock to retry the version.")
      sys.error(s"catalog version $newVer under $catalogDir was taken " +
        "by a concurrent committer — re-read the catalog, re-derive on " +
        "top of it, and retry")
    }
    // Legacy catalogs (pre-lock commits) publish versions without
    // tokens: winning the lock for a version that already exists must
    // refuse — and release the token it wrongly acquired, so the next
    // base re-read is not wedged behind our debris.
    if (fs.exists(dest)) {
      fs.delete(tmp, false)
      fs.delete(lock, false)
      sys.error(s"catalog version $newVer under $catalogDir was taken " +
        "by a concurrent committer — re-read the catalog, re-derive on " +
        "top of it, and retry")
    }
    if (!fs.rename(tmp, dest)) {
      // A failed rename must not strand the lock: with the token left
      // behind and no dest, every future committer of this version
      // would hit the stale-lock error above instead of retrying.
      fs.delete(lock, false)
      sys.error(s"catalog rename failed for v$newVer under $catalogDir")
    }
    newVer
  }

  /** Convenience: pin each table's CURRENT snapshot in one commit. */
  def catalogCommitCurrent(spark: org.apache.spark.sql.SparkSession,
                           catalogDir: String,
                           tables: Map[String, String],
                           note: Option[String] = None): Long = {
    catalogCommit(spark, catalogDir, tables.map { case (t, dir) =>
      val ids = listSnapshotIds(tableFs(spark, dir), dir)
      require(ids.nonEmpty, s"table '$t' has no snapshots under $dir")
      t -> (dir, ids.max)
    }, note)
  }

  /** Every committed version's note (for idempotent publishers: a
    * replayed batch checks its note before re-appending — the catalog
    * file itself is the marker, so commit and marker are ONE atomic
    * rename with no at-least-once window).
    */
  def catalogNotes(spark: org.apache.spark.sql.SparkSession,
                   catalogDir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(catalogDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    catalogVersions(fs, catalogDir).flatMap { v =>
      val in = fs.open(new org.apache.hadoop.fs.Path(catalogDir,
        s"catalog-v$v.json"))
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      JsonMethods.parse(body) \ "note" match {
        case JString(n) => Some(n)
        case _ => None
      }
    }.toSet
  }

  /** CATALOG-WIDE retention (the r13 verdict's item 8): per-table
    * expire/vacuum exists, but a multi-table catalog needs ONE pass
    * that ages out history without ever breaking a published version.
    * Keeps the last `keepVersions` catalog versions; every (table,
    * snapshot) any RETAINED version references is PINNED — it survives
    * regardless of age, so every retained version stays byte-complete
    * (LayoutSpec proves a pinned version reads identically after
    * retention) — then each referenced table runs [[expireSnapshots]]
    * with that pin set and the age horizon, and the dropped catalog
    * version files are removed. A table directory no retained version
    * references at all is left untouched (conservative: it may be
    * shared with another catalog). Returns (catalog versions dropped,
    * table snapshots expired, data files deleted).
    */
  def catalogRetention(spark: org.apache.spark.sql.SparkSession,
                       catalogDir: String, keepVersions: Int,
                       olderThanMs: Long = Long.MaxValue): (Int, Int, Int) = {
    require(keepVersions >= 1,
      s"must keep at least 1 catalog version, got $keepVersions")
    val p = new org.apache.hadoop.fs.Path(catalogDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = catalogVersions(fs, catalogDir).sorted
    require(versions.nonEmpty, s"no catalog versions under $catalogDir")
    val retained = versions.takeRight(keepVersions)
    val dropped = versions.dropRight(keepVersions)
    val pins: Map[String, Set[Long]] = retained
      .flatMap(v => catalogEntries(spark, catalogDir, v))
      .groupBy(_.dir)
      .map { case (d, es) => d -> es.map(_.snapshotId).toSet }
    var expired = 0
    var deleted = 0
    pins.foreach { case (dir, ids) =>
      val (e, del) = expireSnapshots(spark, dir, olderThanMs,
        keepLast = 1, pinnedIds = ids)
      expired += e
      deleted += del
    }
    dropped.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(catalogDir,
        s"catalog-v$v.json"), false)
      fs.delete(new org.apache.hadoop.fs.Path(catalogDir,
        s".catalog-v$v.lock"), false)
    }
    (dropped.length, expired, deleted)
  }

  /** Read `table` through the catalog at `version` (default latest):
    * the table's data AS OF the snapshot that catalog version pinned —
    * appends no catalog version has published are invisible.
    */
  def catalogRead(spark: org.apache.spark.sql.SparkSession,
                  catalogDir: String, table: String,
                  version: Long = -1L): DataFrame = {
    val entry = catalogEntries(spark, catalogDir, version)
      .find(_.table == table)
      .getOrElse(sys.error(
        s"table '$table' not in catalog $catalogDir at version $version"))
    snapshotRead(spark, entry.dir, entry.snapshotId)
  }
}
