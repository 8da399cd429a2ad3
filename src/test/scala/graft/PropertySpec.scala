package graft

import graft.functions.{Dna, TextFunctions}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Randomized invariants (fixed seed → reproducible): the pure domain
  * kernels hold their algebraic properties over arbitrary inputs, and
  * the distributed connected-components agrees with a reference
  * union-find on a random graph.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val rnd = new Random(20260812L)

  private def randDna(n: Int): String =
    (0 until n).map(_ => "ACGTN" (rnd.nextInt(5))).mkString

  test("byteBpeEncode invariants on random multilingual text") {
    import spark.implicits._
    import graft.operators.Corpus
    // random words mixing 1-4-byte UTF-8 chars: token count after any
    // merge table is bounded by [n_words, total UTF-8 bytes], and an
    // empty merge table... is rejected, so train on the corpus itself.
    val alphabet = "abzé日🚀"
    def randWord(): String =
      (0 until 1 + rnd.nextInt(4)).map(_ =>
        alphabet.codePointAt(
          alphabet.offsetByCodePoints(0, rnd.nextInt(6)))).map(
        cp => new String(Character.toChars(cp))).mkString
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 1 + rnd.nextInt(8)).map(_ => randWord())
        .mkString(" "))).toDF("doc_id", "text")
    val merges = Corpus.byteBpeTrain(docs, "text", merges = 6)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val rows = Corpus.byteBpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val byText = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, nWords, nTokens) =>
      val words = byText(id).split("\\s+").filter(_.nonEmpty)
        .filter(_.getBytes("UTF-8").length <= 16)
      val totalBytes = words.map(_.getBytes("UTF-8").length).sum
      assert(nWords == words.length, s"doc $id word count")
      assert(nTokens >= nWords && nTokens <= totalBytes,
        s"doc $id: $nTokens tokens outside [$nWords, $totalBytes]")
    }
  }

  test("progressive JPEG equals baseline on random planes (all samplings)") {
    import graft.operators.Jpeg
    for ((hs, vs) <- Seq((1, 1), (2, 1), (2, 2)); trial <- 1 to 2) {
      val w = 17 + rnd.nextInt(40)
      val h = 9 + rnd.nextInt(40)
      val cw = (w + hs - 1) / hs
      val ch = (h + vs - 1) / vs
      val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val cbP = Array.fill(cw * ch)(rnd.nextInt(256).toByte)
      val crP = Array.fill(cw * ch)(rnd.nextInt(256).toByte)
      val base = Jpeg.decodeColor(Jpeg.encodeColor(w, h, yP, cbP, crP, hs, vs))
      val prog = Jpeg.decodeColor(
        Jpeg.encodeColorProgressive(w, h, yP, cbP, crP, hs, vs))
      assert(prog.width == w && prog.height == h)
      assert(java.util.Arrays.equals(prog.pixels, base.pixels),
        s"${hs}x$vs $w x $h trial $trial")
    }
  }

  test("reverseComplement is an involution and preserves length") {
    (1 to 200).foreach { _ =>
      val s = randDna(rnd.nextInt(80))
      val rc = Dna.reverseComplement(s)
      assert(rc.length == s.length)
      assert(Dna.reverseComplement(rc) == s)
    }
  }

  test("kmers emits exactly len-k+1 windows, each a substring") {
    (1 to 200).foreach { _ =>
      val s = randDna(rnd.nextInt(40))
      val k = 1 + rnd.nextInt(8)
      val ks = Dna.kmers(s, k)
      assert(ks.length == math.max(0, s.length - k + 1))
      ks.zipWithIndex.foreach { case (m, i) =>
        assert(m.length == k && s.substring(i, i + k) == m)
      }
    }
  }

  test("translateDna emits one residue per complete codon") {
    (1 to 200).foreach { _ =>
      val s = randDna(rnd.nextInt(60))
      assert(Dna.translateDna(s).length == s.length / 3)
    }
  }

  test("findOrfs output is in-bounds, starts on a start codon, meets minlen") {
    val starts = Set("ATG", "TTG", "GTG", "CTG")
    (1 to 100).foreach { _ =>
      val s = randDna(30 + rnd.nextInt(120))
      Dna.findOrfs("x", s, strand = "+", frame = 1, minLen = 5)
        .foreach { orf =>
          assert(orf.dna.length >= 3 * 5)
          assert(starts.contains(orf.dna.substring(0, 3)))
          assert(s.contains(orf.dna))
        }
    }
  }

  test("connectedComponents matches a reference union-find on a random graph") {
    import spark.implicits._
    val n = 60
    val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    // reference union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map(v => v -> {
      // min id reachable = min over the component
      val root = find(v.toInt)
      nodes.filter(u => find(u.toInt) == root).min
    }).toMap
    val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
  }

  test("heavyHitters equals the naive exact count on random token streams") {
    import spark.implicits._
    // zipf-ish skew: token t drawn as floor(sqrt(uniform)) over 12 ids
    val words = (1 to 3000).map { _ =>
      s"t${math.floor(math.sqrt(rnd.nextDouble() * 144)).toInt}"
    }
    val docs = words.grouped(10).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(11)
    Seq(4, 10, 40).foreach { k =>
      val got = graft.operators.Corpus.heavyHitters(docs, "text", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val n = words.size
      val naive = words.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.toMap
      assert(got == naive, s"k=$k")
    }
  }

  test("int8 quantization error is bounded by half a quantum per dimension") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextDouble() * 4 - 2).toFloat))
    }
    val out = graft.operators.Similarity.quantizeInt8(vecs.toDF("id", "embedding"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getSeq[Int](2)))).toMap
    vecs.foreach { case (id, v) =>
      val (scale, codes) = out(id)
      assert(codes.forall(c => c >= -127 && c <= 127))
      v.zip(codes).foreach { case (x, c) =>
        // slop: the OUTPUT scale is rounded to 6 dp, codes used the
        // unrounded one — up to 127 * 5e-7 of drift
        assert(math.abs(x.toDouble - c * scale) <= scale / 2 + 1e-4,
          s"id=$id x=$x c=$c scale=$scale")
      }
    }
  }

  test("packChunks matches a serial prefix sum regardless of input partitioning") {
    import spark.implicits._
    val rows = (0L until 50L).flatMap(d =>
      (0 until 3).map(c => (d, c, 10L + (d % 7))))
    val chunks = rows.toDF("doc_id", "chunk_idx", "n_tokens")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Corpus.packChunks(df, window = 64)
        .collect().map(r => ((r.getLong(0), r.getInt(1)),
          (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val a = run(chunks.repartition(13))
    val b = run(chunks.coalesce(1))
    var off = 0L
    val exp = rows.map { case (d, c, n) =>
      val st = off
      off += n
      ((d, c), (st / 64, st % 64, st % 64 + n > 64))
    }.toMap
    assert(a == exp && b == exp)
  }

  test("fingerprint is invariant to whitespace runs and case") {
    import spark.implicits._
    val pairs = (1 to 50).map { _ =>
      val words = (1 to 1 + rnd.nextInt(8)).map(_ => randDna(1 + rnd.nextInt(6)))
      val a = words.mkString(" ")
      val b = words.map(w => if (rnd.nextBoolean()) w.toLowerCase else w)
        .mkString("  \t")
      (a, b)
    }
    val df = pairs.toDF("a", "b").select(
      TextFunctions.fingerprint(lower(col("a"))).as("fa"),
      TextFunctions.fingerprint(lower(col("b"))).as("fb"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("BoundedMinKAggregator equals a sorted take under any partitioning") {
    import spark.implicits._
    import graft.operators.Corpus
    for (trial <- 1 to 3) {
      val n = 200 + rnd.nextInt(300)
      val ids = Random.shuffle((0L until 1000L).toList).take(n)
      val docs = ids.map(i => (i, s"g${i % 4}")).toDF("doc_id", "lang")
        .repartition(1 + rnd.nextInt(15) + trial)
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(i: Long) =
        md.digest(i.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val expect = ids.groupBy(i => s"g${i % 4}").flatMap { case (g, xs) =>
        xs.sortBy(i => (h(i), i)).take(9).map(i => (i, g))
      }.toSet
      val got = Corpus.stratifiedTakeAgg(docs, "doc_id", "lang", k = 9)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expect, s"trial $trial n=$n")
    }
    // the tf-idf order of the same aggregator: tfidf desc, then term asc
    // in UTF-8 byte order. U+FF21 (EF BC A1) sorts before U+1F680
    // (F0 9F 9A 80) in UTF-8 but after it in UTF-16 (FF21 > D83D), so
    // the "tie" group's head is the fullwidth letter.
    val fullwidthA = new String(Character.toChars(0xFF21))
    val rocket = new String(Character.toChars(0x1F680))
    val pool = (0 until 12).map(i => s"t$i") ++
      (0 until 6).map(i => new String(Character.toChars(0xFF21 + i))) ++
      (0 until 6).map(i => new String(Character.toChars(0x1F680 + i)))
    val utf8Order: Ordering[(String, Long, Double)] = (p, q) => {
      val c = java.lang.Double.compare(q._3, p._3)
      if (c != 0) c
      else java.util.Arrays.compareUnsigned(
        p._1.getBytes("UTF-8"), q._1.getBytes("UTF-8"))
    }
    val topk = udaf(graft.operators.BoundedKAggregator.topTerms(5))
    for (trial <- 1 to 3) {
      val rows = (0 until 4).flatMap { g =>
        Random.shuffle(pool).take(8 + rnd.nextInt(12)).map(t =>
          (s"g$g", t, rnd.nextInt(9).toLong, Seq(0.5, 0.25, 0.125)(rnd.nextInt(3))))
      } ++ Seq(("tie", rocket, 1L, 0.9), ("tie", fullwidthA, 2L, 0.9),
        ("tie", "t0", 3L, 0.1))
      val expect = rows.groupBy(_._1).map { case (g, xs) =>
        g -> xs.map(r => (r._2, r._3, r._4)).sorted(utf8Order).take(5)
      }
      assert(expect("tie").head._1 == fullwidthA)
      val got = rows.toDF("g", "term", "tf", "tfidf")
        .repartition(1 + rnd.nextInt(15) + trial)
        .groupBy("g").agg(topk(col("term"), col("tf"), col("tfidf")).as("top"))
        .as[(String, Seq[(String, Long, Double)])].collect().toMap
      assert(got == expect, s"tf-idf trial $trial")
    }
  }

  test("resizeNearest at factor 1 is the identity through a second codec pass") {
    import spark.implicits._
    import graft.operators.Multimodal
    val docs = (1 to 10)
      .map(i => (i.toLong, randDna(1 + rnd.nextInt(300))))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs)
    val metas = Multimodal.parseMeta(media).collect()
      .map(m => m.doc_id -> m).toMap
    Multimodal.resizeNearest(media, factor = 1).collect().foreach { r =>
      val m = metas(r.doc_id)
      assert(r.out_width == 64 && r.out_height == m.height)
      assert(r.out_md5 == m.pixel_md5, s"doc ${r.doc_id}")
    }
  }

  test("containmentPairs equals brute-force set containment on random corpora") {
    import spark.implicits._
    // small alphabet forces shared shingles; no df cap in the brute
    // model, so keep maxDf above any possible df
    val words = Seq("a", "b", "c", "d")
    val docs = (0L until 20L).map { i =>
      (i, (0 until 4 + rnd.nextInt(12)).map(_ =>
        words(rnd.nextInt(words.length))).mkString(" "))
    }
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 3) Set.empty
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3)
        .mkString(" ")).toSet
    }
    val expected = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      m = (sa intersect sb).size if m > 0
      ca = BigDecimal(m.toDouble / sa.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      cb = BigDecimal(m.toDouble / sb.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if math.max(ca, cb) >= 0.5
    } yield (ia, ib, ca, cb)).toSet
    val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 3, threshold = 0.5, maxDf = 100000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
  }

  test("concurrencyCurve equals a serial sweep on random intervals, any partitioning") {
    import spark.implicits._
    // heavy tie pressure: many intervals share boundary instants
    val iv = (0 until 400).map { _ =>
      val s = rnd.nextInt(200).toLong
      (s, s + 1 + rnd.nextInt(40))
    }
    for (parts <- Seq(1, 7)) {
      val got = graft.operators.Joins
        .concurrencyCurve(iv.toDF("s", "e").repartition(parts), "s", "e")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // serial model: process deltas in (t, delta) order, record the
      // depth after each instant's last event
      val deltas = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
        .sorted
      var depth = 0L
      val expect = scala.collection.mutable.Map.empty[Long, Long]
      deltas.foreach { case (t, d) => depth += d; expect(t) = depth }
      assert(got == expect.toMap, s"parts=$parts")
      // every interval closes: the curve returns to zero at the end
      assert(got(got.keys.max) == 0L)
    }
  }

  test("substringDedup equals a brute-force window model on random corpora") {
    import spark.implicits._
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val w = 3
    // tiny alphabet forces plenty of cross- and within-doc repeats
    val docs = (1L to 60L).map { id =>
      val n = 4 + rnd.nextInt(12)
      (id, Seq.fill(n)("t" + rnd.nextInt(6)).mkString(" "))
    }
    val got = graft.operators.Dedup
      .substringDedup(docs.toDF("doc_id", "text"), "doc_id", "text", w = w)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // brute force: count every w-gram occurrence corpus-wide, cover,
    // cut, rejoin
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val counts = toks.values.flatMap(_.sliding(w).filter(_.size == w)
      .map(_.mkString(" "))).groupBy(identity).view.mapValues(_.size).toMap
    docs.foreach { case (id, _) =>
      val ts = toks(id)
      val covered = ts.indices.flatMap { i =>
        if (i + w <= ts.size && counts(ts.slice(i, i + w).mkString(" ")) >= 2)
          i until (i + w) else Seq.empty
      }.toSet
      val kept = ts.indices.filterNot(covered).map(ts)
      val expect = (md5(kept.mkString(" ")), ts.size, covered.size)
      assert(got(id) == expect, s"doc $id: ${got(id)} vs $expect")
    }
  }

  test("timeWeightedAvg equals a serial integration on random timelines") {
    import spark.implicits._
    val ev = (0 until 120).map { i =>
      (i.toLong, (i % 6).toLong,
        new java.sql.Timestamp(rnd.nextInt(100000).toLong * 1000),
        (rnd.nextInt(1000) + 1) / 10.0)
    }
    val got = graft.operators.Joins
      .timeWeightedAvg(ev.toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", "value")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val expected = ev.groupBy(_._2).flatMap { case (u, rows) =>
      val line = rows.sortBy(r => (r._3.getTime, r._1))
      val steps = line.zip(line.tail).map { case (a, b) =>
        (a._4, (b._3.getTime - a._3.getTime) * 1000L)
      }
      val span = steps.map(_._2).sum
      // single-event keys (no intervals) produce no row; a zero-span
      // nonempty timeline (all events tied) would be a null-twa row —
      // unreachable here (20 distinct random seconds per key), so the
      // model simply skips both rather than dividing by zero
      if (steps.isEmpty || span <= 0) None
      else Some(u -> (steps.length.toLong, span,
        BigDecimal(steps.map(s => s._1 * s._2).sum / span)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0))
    }
    assert(got == expected)
  }

  test("document containers round-trip arbitrary text exactly (PDF/DOCX/EPUB/RTF)") {
    import graft.operators.{Docx, Epub, Pdf, Rtf}
    // words over the CP-1252-safe alphabet (the PDF WinAnsi contract):
    // ASCII letters/digits/punct the writers must escape, plus Latin-1
    // and Windows-addition code points
    val alphabet: IndexedSeq[Char] =
      ('a' to 'z') ++ ('0' to '9') ++ "().,&<>\"'\\#/[]%-" ++
        Seq(0xe9, 0xe4, 0xdf, 0x2019, 0x20ac).map(_.toChar)
    def randWord(): String =
      (0 until 1 + rnd.nextInt(9)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    (0 until 25).foreach { trial =>
      val nLines = 1 + rnd.nextInt(6)
      val lines = (0 until nLines).map(_ =>
        (0 until 1 + rnd.nextInt(7)).map(_ => randWord()).mkString(" "))
      // PDF: lines per page, every style/compression/structure combo
      val pages = lines.grouped(1 + rnd.nextInt(3)).map(_.toSeq).toSeq
      val style = rnd.nextInt(3)
      val (xs, pred) =
        Seq((false, false), (true, false), (true, true))(rnd.nextInt(3))
      val pdf = Pdf.encode(pages, style, compress = rnd.nextBoolean(),
        xrefStream = xs, predictor = pred)
      assert(Pdf.extractText(pdf) == pages.map(_.mkString("\n")),
        s"pdf trial $trial style=$style xs=$xs pred=$pred")
      // DOCX: each line a paragraph, random run width
      val docx = Docx.encode(lines, wordsPerRun = 1 + rnd.nextInt(4))
      assert(Docx.extractText(docx) == lines.toVector, s"docx trial $trial")
      // EPUB: random chapter grouping
      val chapters = lines.grouped(1 + rnd.nextInt(3)).map(_.toSeq).toSeq
      val epub = Epub.encode(chapters)
      assert(Epub.extractText(epub) ==
        chapters.map(_.mkString("\n")).toVector, s"epub trial $trial")
      // RTF: each line a paragraph through the escape/group machinery
      val rtf = Rtf.encode(lines)
      assert(Rtf.extractText(rtf) == lines.toVector, s"rtf trial $trial")
    }
  }
}
