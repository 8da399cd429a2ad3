package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** PDF text extraction — the single biggest untapped document source in
  * real training corpora. Implements the CLASSIC subset of the
  * published PDF 1.4/1.7 file format from scratch:
  *
  *   - file structure: header, indirect objects (`N G obj … endobj`),
  *     cross-reference TABLE sections chained via `/Prev`, trailer,
  *     `startxref` — AND the PDF 1.5 form: cross-reference STREAMS
  *     (`/Type /XRef`, /W field widths, /Index subsections, optional
  *     FlateDecode + PNG row predictors 10–15) and OBJECT streams
  *     (`/Type /ObjStm`), in any /Prev mix;
  *   - the object grammar: numbers, names (with `#xx` escapes), literal
  *     strings (nested parens, all spec escapes incl. octal and
  *     line continuations), hex strings, arrays, dictionaries,
  *     indirect references (`N G R` with two-token lookahead), streams
  *     with direct or INDIRECT `/Length`;
  *   - stream filters: none or `/FlateDecode` (zlib via
  *     `java.util.zip.Inflater` — the PNG path's codec);
  *   - the document tree: catalog → `/Pages` (nested page-tree nodes) →
  *     `/Page` → `/Contents` (single stream or array, concatenated);
  *   - the content-stream text machine: `BT`/`ET`, shows `Tj`, `'`,
  *     `"`, `TJ` (negative kerns ≤ [[WordKernThreshold]] read as word
  *     breaks), line moves `Td`/`TD`/`T*`/`Tm` (each starts a new output
  *     line), with all other operators consuming their operands;
  *   - text bytes decoded as WinAnsi/CP-1252 ([[graft.functions.Cp1252]]).
  *
  * OUT OF SCOPE — loud refusal, never silent garbage: encrypted files
  * (`/Encrypt`), any filter other than FlateDecode, `/DecodeParms` on
  * CONTENT streams (predictors are an image-data feature; on xref
  * streams they are supported), the TIFF predictor 2, and inline
  * images (`BI`).
  *
  * Fixture doctrine (like JPEG/WAV/GIF): [[asPdfMedia]] renders each
  * document's text through OUR OWN writer [[encode]] — plain and
  * Flate-compressed streams, three show-operator families by doc_id —
  * and the q386 oracle replays the 6-words-per-line / 4-lines-per-page
  * layout arithmetically in DuckDB. PdfSpec additionally byte-pins a
  * hand-written fixture so writer and reader cannot share a bug.
  */
object Pdf {

  /** A TJ kern at or below this (thousandths of an em, negative) is a
    * word break; shallower kerns are letter-spacing and add nothing.
    * −250 ≈ a space's width in a 1000-unit em — larger gaps read as
    * deliberate separation (public pdftotext uses the same idea).
    */
  val WordKernThreshold: Double = -180.0

  // ------------------------------------------------------------------
  // Object model
  // ------------------------------------------------------------------

  sealed trait PObj
  final case class PNum(v: Double, isInt: Boolean) extends PObj
  final case class PStr(bytes: Array[Byte]) extends PObj
  final case class PName(s: String) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(m: Map[String, PObj]) extends PObj
  final case class PRef(num: Int, gen: Int) extends PObj
  final case class PBool(b: Boolean) extends PObj
  case object PNull extends PObj
  /** An operator keyword — only produced in content-stream mode. */
  final case class POp(op: String) extends PObj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

  private def isWhite(b: Int): Boolean =
    b == 0x00 || b == 0x09 || b == 0x0a || b == 0x0c || b == 0x0d || b == 0x20
  private def isDelim(b: Int): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'

  /** Recursive-descent lexer/parser over a byte window. In `content`
    * mode unknown keywords become [[POp]] tokens instead of errors and
    * `R`-reference lookahead is disabled (content streams carry no
    * indirect references).
    */
  private final class Parser(bytes: Array[Byte], var p: Int,
                             content: Boolean) {
    def eof: Boolean = { skipWs(); p >= bytes.length }

    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (p < bytes.length && isWhite(bytes(p) & 0xff)) p += 1
        if (p < bytes.length && bytes(p) == '%') {
          while (p < bytes.length && bytes(p) != '\n' && bytes(p) != '\r')
            p += 1
        } else go = false
      }
    }

    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"PDF parse error at byte $p: $msg")

    def expectKeyword(kw: String): Unit = {
      skipWs()
      val got = keyword()
      if (got != kw) fail(s"expected '$kw', got '$got'")
    }

    /** Read a bare keyword (regular characters). */
    def keyword(): String = {
      skipWs()
      val start = p
      while (p < bytes.length && !isWhite(bytes(p) & 0xff) &&
        !isDelim(bytes(p) & 0xff)) p += 1
      if (p == start) fail("expected a keyword")
      new String(bytes, start, p - start, "US-ASCII")
    }

    def parseName(): PName = {
      require(bytes(p) == '/', "name must start with /")
      p += 1
      val sb = new java.lang.StringBuilder()
      while (p < bytes.length && !isWhite(bytes(p) & 0xff) &&
        !isDelim(bytes(p) & 0xff)) {
        if (bytes(p) == '#') {
          if (p + 2 >= bytes.length) fail("truncated #xx name escape")
          val h = new String(bytes, p + 1, 2, "US-ASCII")
          sb.append(Integer.parseInt(h, 16).toChar)
          p += 3
        } else { sb.append((bytes(p) & 0xff).toChar); p += 1 }
      }
      PName(sb.toString)
    }

    def parseNumber(): PNum = {
      skipWs()
      val start = p
      if (p < bytes.length && (bytes(p) == '+' || bytes(p) == '-')) p += 1
      var isInt = true
      while (p < bytes.length &&
        (bytes(p) >= '0' && bytes(p) <= '9' || bytes(p) == '.')) {
        if (bytes(p) == '.') isInt = false
        p += 1
      }
      if (p == start) fail("expected a number")
      val s = new String(bytes, start, p - start, "US-ASCII")
      PNum(s.toDouble, isInt)
    }

    def parseLiteralString(): PStr = {
      require(bytes(p) == '(', "literal string must start with (")
      p += 1
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (p >= bytes.length) fail("unterminated literal string")
        val c = bytes(p) & 0xff
        c match {
          case '(' => depth += 1; out.write(c); p += 1
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(c)
            p += 1
          case '\\' =>
            if (p + 1 >= bytes.length) fail("dangling backslash")
            val e = bytes(p + 1) & 0xff
            e match {
              case 'n' => out.write('\n'); p += 2
              case 'r' => out.write('\r'); p += 2
              case 't' => out.write('\t'); p += 2
              case 'b' => out.write('\b'); p += 2
              case 'f' => out.write('\f'); p += 2
              case '(' | ')' | '\\' => out.write(e); p += 2
              case '\r' => // line continuation: swallow \r or \r\n
                p += 2
                if (p < bytes.length && bytes(p) == '\n') p += 1
              case '\n' => p += 2
              case d if d >= '0' && d <= '7' =>
                var v = 0
                var k = 0
                p += 1
                while (k < 3 && p < bytes.length &&
                  bytes(p) >= '0' && bytes(p) <= '7') {
                  v = v * 8 + (bytes(p) - '0'); p += 1; k += 1
                }
                out.write(v & 0xff)
              case other => fail(f"bad string escape \\${other.toChar}")
            }
          case '\r' => // raw EOL inside a string normalizes to \n
            out.write('\n')
            p += 1
            if (p < bytes.length && bytes(p) == '\n') p += 1
          case _ => out.write(c); p += 1
        }
      }
      PStr(out.toByteArray)
    }

    def parseHexString(): PStr = {
      require(bytes(p) == '<', "hex string must start with <")
      p += 1
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var open = true
      while (open) {
        if (p >= bytes.length) fail("unterminated hex string")
        val c = bytes(p) & 0xff
        if (c == '>') {
          if (hi >= 0) out.write(hi << 4) // odd digit count: pad with 0
          open = false
          p += 1
        } else if (isWhite(c)) p += 1
        else {
          val d = Character.digit(c, 16)
          if (d < 0) fail(f"bad hex digit '${c.toChar}'")
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
          p += 1
        }
      }
      PStr(out.toByteArray)
    }

    def parseObject(): PObj = pushBackNum match {
      case Some(n) => pushBackNum = None; n
      case None => parseObjectRaw()
    }

    private def parseObjectRaw(): PObj = {
      skipWs()
      if (p >= bytes.length) fail("unexpected end of input")
      val c = bytes(p) & 0xff
      c match {
        case '/' => parseName()
        case '(' => parseLiteralString()
        case '[' =>
          p += 1
          val items = Vector.newBuilder[PObj]
          skipWs()
          // pushBackNum: a parked number is still an element — the
          // closing ']' test must not end the array over it
          while (pushBackNum.isDefined || {
            if (p >= bytes.length) fail("unterminated array")
            bytes(p) != ']' }) { items += parseObject(); skipWs() }
          p += 1
          PArr(items.result())
        case '<' =>
          if (p + 1 < bytes.length && bytes(p + 1) == '<') {
            p += 2
            val m = Map.newBuilder[String, PObj]
            skipWs()
            while ({ if (p + 1 >= bytes.length) fail("unterminated dict")
              !(bytes(p) == '>' && bytes(p + 1) == '>') }) {
              val PName(k) = parseName(): @unchecked
              m += k -> parseObject()
              skipWs()
            }
            p += 2
            PDict(m.result())
          } else parseHexString()
        case d if d >= '0' && d <= '9' || d == '+' || d == '-' || d == '.' =>
          val n = parseNumber()
          // two-token lookahead for `N G R` indirect references
          if (!content && n.isInt && n.v >= 0) {
            val save = p
            skipWs()
            val c2 = if (p < bytes.length) bytes(p) & 0xff else -1
            if (c2 >= '0' && c2 <= '9') {
              val g = parseNumber()
              val save2 = p
              skipWs()
              if (g.isInt && p < bytes.length && bytes(p) == 'R' &&
                (p + 1 >= bytes.length || isWhite(bytes(p + 1) & 0xff) ||
                  isDelim(bytes(p + 1) & 0xff))) {
                p += 1
                return PRef(n.v.toInt, g.v.toInt)
              }
              p = save2
              pushBackNum = Some(g) // already-parsed following number
              return n
            }
            p = save
          }
          n
        case _ =>
          keyword() match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case kw if content => POp(kw)
            case kw => fail(s"unexpected keyword '$kw'")
          }
      }
    }

    /** The `N G`-without-`R` lookahead parses one number too many; it
      * parks it here and the next [[parseObject]] replays it.
      */
    var pushBackNum: Option[PNum] = None

    def next(): PObj = parseObject()
  }

  // ------------------------------------------------------------------
  // File structure: xref + objects
  // ------------------------------------------------------------------

  /** Where an object lives: at a top-level byte offset, or inside an
    * object stream (PDF 1.5) at a given index.
    */
  private sealed trait Loc
  private final case class AtOffset(off: Long) extends Loc
  private final case class InObjStm(stm: Int, idx: Int) extends Loc

  private final class Doc(bytes: Array[Byte]) {
    require(bytes.length >= 8 &&
      new String(bytes, 0, 5, "US-ASCII") == "%PDF-", "not a PDF (no header)")

    // NOTE: declared before `xref`, whose initializer assigns it —
    // a later `= _` declaration would re-null it after the fact.
    var trailerDict: PDict = _

    /** Parse a top-level `N G obj …` at `off`. `directLengthOnly` is
      * the xref-stream bootstrap mode (the xref table is not built yet,
      * so an indirect /Length cannot resolve — the spec's own writers
      * keep cross-reference-stream lengths direct for this reason).
      */
    private def parseTop(off: Long, expectNum: Int,
                         directLengthOnly: Boolean): PObj = {
      val pr = new Parser(bytes, off.toInt, content = false)
      val n = pr.parseNumber()
      require(expectNum < 0 || (n.isInt && n.v.toInt == expectNum),
        s"xref points object $expectNum at an 'obj' numbered ${n.v}")
      pr.parseNumber() // generation
      pr.expectKeyword("obj")
      val body = pr.next()
      pr.skipWs()
      if (pr.p + 6 <= bytes.length && bytes(pr.p) == 's' &&
        new String(bytes, pr.p, 6, "US-ASCII") == "stream") {
        val dict = body match {
          case d: PDict => d
          case other => pr.fail(s"stream preceded by non-dict $other")
        }
        pr.p += 6
        // spec: 'stream' is followed by \r\n or \n (never bare \r)
        if (bytes(pr.p) == '\r') pr.p += 1
        require(bytes(pr.p) == '\n', "stream keyword not followed by EOL")
        pr.p += 1
        val lenObj = dict.m.getOrElse("Length", pr.fail("stream without /Length"))
        val len = (if (directLengthOnly) lenObj else resolve(lenObj)) match {
          case PNum(v, true) => v.toInt
          case other => pr.fail(
            s"bad /Length: $other" + (if (directLengthOnly)
              " (cross-reference streams need a direct length)" else ""))
        }
        require(pr.p + len <= bytes.length, "stream data past end of file")
        val raw = java.util.Arrays.copyOfRange(bytes, pr.p, pr.p + len)
        pr.p += len
        pr.skipWs()
        pr.expectKeyword("endstream")
        PStream(dict, raw)
      } else {
        pr.expectKeyword("endobj")
        body
      }
    }

    /** object number → location; classic `xref` TABLE sections and
      * PDF 1.5 cross-reference STREAMS both parse, chained via /Prev in
      * any mix (newest section wins per object).
      */
    val xref: Map[Int, Loc] = {
      val tailStart = math.max(0, bytes.length - 64)
      val tail = new String(bytes, tailStart, bytes.length - tailStart,
        "US-ASCII")
      val sx = tail.lastIndexOf("startxref")
      require(sx >= 0, "no startxref — truncated or not a PDF")
      val px = new Parser(bytes, tailStart + sx + "startxref".length,
        content = false)
      val off = px.parseNumber()
      require(off.isInt && off.v >= 0 && off.v < bytes.length,
        s"startxref offset ${off.v} out of range")
      val acc = scala.collection.mutable.Map.empty[Int, Loc]
      var sectionOff = off.v.toLong
      var guard = 0
      while (sectionOff >= 0) {
        require(guard < 64, "xref /Prev chain too deep (cycle?)")
        guard += 1
        val peek = new Parser(bytes, sectionOff.toInt, content = false)
        peek.skipWs()
        val trailer: PDict =
          if (bytes(peek.p) == 'x') parseClassicSection(sectionOff, acc)
          else parseXrefStreamSection(sectionOff, acc)
        require(!trailer.m.contains("Encrypt"),
          "encrypted PDF — out of scope, refusing rather than extracting garbage")
        if (trailerDict == null) trailerDict = trailer
        sectionOff = trailer.m.get("Prev") match {
          case Some(PNum(v, true)) => v.toLong
          case None => -1L
          case other => throw new IllegalArgumentException(s"bad /Prev: $other")
        }
      }
      acc.toMap
    }

    /** A classic `xref` table section + its `trailer` dictionary. */
    private def parseClassicSection(
        off: Long, acc: scala.collection.mutable.Map[Int, Loc]): PDict = {
      val pr = new Parser(bytes, off.toInt, content = false)
      pr.expectKeyword("xref")
      pr.skipWs()
      var inSections = true
      while (inSections) {
        pr.skipWs()
        if (bytes(pr.p) == 't') {
          pr.expectKeyword("trailer")
          inSections = false
        } else {
          val start = pr.parseNumber()
          val count = pr.parseNumber()
          require(start.isInt && count.isInt, "bad xref subsection header")
          (0 until count.v.toInt).foreach { i =>
            pr.skipWs()
            require(pr.p + 18 <= bytes.length, "truncated xref entry")
            val entry = new String(bytes, pr.p, 18, "US-ASCII")
            val eOff = entry.substring(0, 10).toLong
            val kind = entry.charAt(17)
            require(kind == 'n' || kind == 'f', s"bad xref entry '$entry'")
            val num = start.v.toInt + i
            // older sections must not override newer ones
            if (kind == 'n' && !acc.contains(num)) acc(num) = AtOffset(eOff)
            pr.p += 18
          }
        }
      }
      pr.parseObject() match {
        case d: PDict => d
        case other => pr.fail(s"trailer is not a dictionary: $other")
      }
    }

    /** A PDF 1.5 cross-reference STREAM section: `N G obj` holding a
      * /Type /XRef stream whose dict doubles as the trailer. Entries
      * decode per /W field widths over the (optionally predicted)
      * stream data; /Index subsections honored.
      */
    private def parseXrefStreamSection(
        off: Long, acc: scala.collection.mutable.Map[Int, Loc]): PDict = {
      val (dict, raw) =
        parseTop(off, expectNum = -1, directLengthOnly = true) match {
          case PStream(d, r) => (d, r)
          case other => throw new IllegalArgumentException(
            s"startxref points at a non-stream object: $other")
        }
      require(dict.m.get("Type").contains(PName("XRef")),
        s"object at the xref offset is not /Type /XRef: ${dict.m.get("Type")}")
      val data = decodeXrefData(dict, raw)
      def intOf(o: PObj, what: String): Int = o match {
        case PNum(v, true) => v.toInt
        case other => throw new IllegalArgumentException(s"bad $what: $other")
      }
      val size = intOf(dict.m.getOrElse("Size",
        throw new IllegalArgumentException("XRef stream without /Size")), "/Size")
      val w = dict.m.getOrElse("W",
        throw new IllegalArgumentException("XRef stream without /W")) match {
        case PArr(items) if items.length == 3 =>
          items.map(intOf(_, "/W width")).toArray
        case other => throw new IllegalArgumentException(s"bad /W: $other")
      }
      require(w.forall(x => x >= 0 && x <= 8), s"/W widths ${w.toSeq}")
      val index: Seq[(Int, Int)] = dict.m.get("Index") match {
        case None => Seq((0, size))
        case Some(PArr(items)) =>
          require(items.length % 2 == 0, "odd /Index array")
          items.map(intOf(_, "/Index")).grouped(2)
            .map(g => (g(0), g(1))).toSeq
        case Some(other) =>
          throw new IllegalArgumentException(s"bad /Index: $other")
      }
      val rowW = w.sum
      var p = 0
      def field(width: Int, default: Long): Long = {
        if (width == 0) default
        else {
          var v = 0L
          var i = 0
          while (i < width) { v = (v << 8) | (data(p + i) & 0xffL); i += 1 }
          p += width
          v
        }
      }
      index.foreach { case (start, count) =>
        require(p + count.toLong * rowW <= data.length,
          "XRef stream data shorter than /Index declares")
        (0 until count).foreach { i =>
          val typ = field(w(0), 1L) // absent type field defaults to 1
          val f2 = field(w(1), 0L)
          val f3 = field(w(2), 0L)
          val num = start + i
          if (!acc.contains(num)) typ match {
            case 0L => // free
            case 1L => acc(num) = AtOffset(f2)
            case 2L => acc(num) = InObjStm(f2.toInt, f3.toInt)
            case t => throw new IllegalArgumentException(
              s"XRef entry type $t for object $num")
          }
        }
      }
      dict
    }

    /** Filter + predictor decode for XRef stream data: none or
      * FlateDecode, then /DecodeParms /Predictor 1 (none) or 10–15
      * (the PNG row predictors real writers emit — each row carries
      * its own filter byte, unfiltered at 1 byte/pixel over /Columns).
      * TIFF predictor 2 refuses.
      */
    private def decodeXrefData(dict: PDict, raw: Array[Byte]): Array[Byte] = {
      val flat = dict.m.get("Filter") match {
        case None => raw
        case Some(PName("FlateDecode")) => inflate(raw)
        case Some(PArr(Vector(PName("FlateDecode")))) => inflate(raw)
        case Some(other) => throw new IllegalArgumentException(
          s"unsupported XRef stream filter $other")
      }
      dict.m.get("DecodeParms") match {
        case None => flat
        case Some(PDict(pm)) =>
          val pred = pm.get("Predictor") match {
            case None => 1
            case Some(PNum(v, true)) => v.toInt
            case other => throw new IllegalArgumentException(
              s"bad /Predictor: $other")
          }
          if (pred == 1) flat
          else {
            require(pred >= 10 && pred <= 15,
              s"predictor $pred out of scope (PNG predictors 10-15 only)")
            val cols = pm.get("Columns") match {
              case Some(PNum(v, true)) => v.toInt
              case None => 1
              case other => throw new IllegalArgumentException(
                s"bad /Columns: $other")
            }
            require(cols > 0 && flat.length % (cols + 1) == 0,
              s"predicted data ${flat.length}B not rows of ${cols + 1}")
            val nRows = flat.length / (cols + 1)
            val out = new Array[Byte](nRows * cols)
            var r = 0
            while (r < nRows) {
              val ft = flat(r * (cols + 1)) & 0xff
              var i = 0
              while (i < cols) {
                val x = flat(r * (cols + 1) + 1 + i) & 0xff
                val a = if (i > 0) out(r * cols + i - 1) & 0xff else 0
                val b = if (r > 0) out((r - 1) * cols + i) & 0xff else 0
                val c = if (r > 0 && i > 0) out((r - 1) * cols + i - 1) & 0xff
                        else 0
                val v = ft match {
                  case 0 => x
                  case 1 => x + a
                  case 2 => x + b
                  case 3 => x + (a + b) / 2
                  case 4 =>
                    val pp = a + b - c
                    val pa = math.abs(pp - a)
                    val pb = math.abs(pp - b)
                    val pc = math.abs(pp - c)
                    x + (if (pa <= pb && pa <= pc) a
                         else if (pb <= pc) b else c)
                  case other => throw new IllegalArgumentException(
                    s"bad PNG filter type $other in predicted XRef data")
                }
                out(r * cols + i) = (v & 0xff).toByte
                i += 1
              }
              r += 1
            }
            out
          }
        case Some(other) => throw new IllegalArgumentException(
          s"bad /DecodeParms: $other")
      }
    }

    private val cache = scala.collection.mutable.Map.empty[Int, PObj]
    private val objStmCache =
      scala.collection.mutable.Map.empty[Int, Vector[(Int, PObj)]]

    def resolve(o: PObj): PObj = o match {
      case PRef(num, _) => fetch(num)
      case other => other
    }

    private val fetching = scala.collection.mutable.Set.empty[Int]

    def fetch(num: Int): PObj = cache.getOrElseUpdate(num, {
      // a /Length (or any field) whose indirect ref cycles back into
      // the object being parsed must refuse, not recurse forever
      require(fetching.add(num), s"cyclic indirect reference at object $num")
      try xref.getOrElse(num,
        throw new IllegalArgumentException(s"object $num not in xref")) match {
        case AtOffset(off) => parseTop(off, num, directLengthOnly = false)
        case InObjStm(stm, idx) => objFromStream(num, stm, idx)
      } finally fetching.remove(num)
    })

    /** Extract an object from a /Type /ObjStm object stream: decode
      * once, parse the N (number, offset) header pairs, cache all
      * members. Object streams hold no streams and cannot nest.
      */
    private def objFromStream(num: Int, stm: Int, idx: Int): PObj = {
      val entries = objStmCache.getOrElseUpdate(stm, {
        require(xref.get(stm).exists(_.isInstanceOf[AtOffset]),
          s"object stream $stm is itself compressed — nesting is illegal")
        fetch(stm) match {
          case s @ PStream(dict, _) =>
            require(dict.m.get("Type").contains(PName("ObjStm")),
              s"object $stm is not /Type /ObjStm")
            def intOf(key: String): Int =
              resolve(dict.m.getOrElse(key, throw new IllegalArgumentException(
                s"ObjStm without /$key"))) match {
                case PNum(v, true) => v.toInt
                case other => throw new IllegalArgumentException(
                  s"bad ObjStm /$key: $other")
              }
            val n = intOf("N")
            val first = intOf("First")
            val data = decodedStream(s)
            val hp = new Parser(data, 0, content = false)
            val pairs = (0 until n).map { _ =>
              val onum = hp.parseNumber()
              val ooff = hp.parseNumber()
              require(onum.isInt && ooff.isInt, "bad ObjStm header pair")
              (onum.v.toInt, ooff.v.toInt)
            }
            pairs.map { case (onum, ooff) =>
              require(first + ooff < data.length, "ObjStm offset past data")
              val op = new Parser(data, first + ooff, content = false)
              (onum, op.parseObject())
            }.toVector
          case other => throw new IllegalArgumentException(
            s"object stream $stm is not a stream: $other")
        }
      })
      require(idx >= 0 && idx < entries.length,
        s"ObjStm index $idx outside $stm's ${entries.length} objects")
      val (onum, obj) = entries(idx)
      require(onum == num,
        s"ObjStm $stm index $idx holds object $onum, xref said $num")
      obj
    }

    def decodedStream(obj: PObj): Array[Byte] = obj match {
      case PStream(dict, raw) =>
        require(!dict.m.contains("DecodeParms"),
          "/DecodeParms predictors are out of scope for content streams")
        dict.m.get("Filter").map(resolve) match {
          case None => raw
          case Some(PName("FlateDecode")) => inflate(raw)
          case Some(PArr(Vector(PName("FlateDecode")))) => inflate(raw)
          case Some(other) =>
            throw new IllegalArgumentException(
              s"unsupported stream filter $other (only FlateDecode)")
        }
      case other =>
        throw new IllegalArgumentException(s"expected a stream, got $other")
    }
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0) {
          require(!inf.needsInput && !inf.needsDictionary,
            "truncated FlateDecode stream")
        } else out.write(buf, 0, n)
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"corrupt FlateDecode stream: $e")
    } finally inf.end()
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Text extraction
  // ------------------------------------------------------------------

  /** Extract per-page text. Page text is the content stream's shows in
    * order; every line-move (`Td`/`TD`/`T*`/`Tm`/`'`/`"`) starts a new
    * output line; TJ kerns at or below [[WordKernThreshold]] become
    * single spaces. Bytes decode as CP-1252/WinAnsi, loudly on the
    * undefined slots.
    */
  def extractText(pdf: Array[Byte]): Seq[String] = {
    val doc = new Doc(pdf)
    val root = doc.resolve(doc.trailerDict.m.getOrElse("Root",
      throw new IllegalArgumentException("trailer has no /Root"))) match {
      case d: PDict => d
      case other =>
        throw new IllegalArgumentException(s"/Root is not a dict: $other")
    }
    val pagesRoot = doc.resolve(root.m.getOrElse("Pages",
      throw new IllegalArgumentException("catalog has no /Pages")))

    // walk the page tree (nested /Pages nodes allowed)
    val pages = Vector.newBuilder[PDict]
    def walk(node: PObj, depth: Int): Unit = {
      // a crafted /Kids cycle must refuse loudly, not StackOverflow —
      // the page tree is the one recursive walk, so it gets the same
      // bounded-depth doctrine as the /Prev chain
      require(depth < 64, "page tree deeper than 64 levels (cycle?)")
      doc.resolve(node) match {
        case d: PDict =>
          doc.resolve(d.m.getOrElse("Type", PNull)) match {
            case PName("Pages") =>
              doc.resolve(d.m.getOrElse("Kids",
                throw new IllegalArgumentException("/Pages without /Kids"))) match {
                case PArr(kids) => kids.foreach(walk(_, depth + 1))
                case other =>
                  throw new IllegalArgumentException(s"bad /Kids: $other")
              }
            case PName("Page") => pages += d
            case other =>
              throw new IllegalArgumentException(s"bad page-tree node: $other")
          }
        case other =>
          throw new IllegalArgumentException(s"page-tree node not a dict: $other")
      }
    }
    walk(pagesRoot, 0)

    pages.result().map { page =>
      val content = doc.resolve(page.m.getOrElse("Contents", PNull)) match {
        case PNull => Array.emptyByteArray
        case s: PStream => doc.decodedStream(s)
        case PArr(parts) =>
          // multiple content streams concatenate with interleaved EOLs
          parts.map(r => doc.decodedStream(doc.resolve(r)))
            .reduceOption((a, b) => a ++ Array[Byte]('\n') ++ b)
            .getOrElse(Array.emptyByteArray)
        case other =>
          throw new IllegalArgumentException(s"bad /Contents: $other")
      }
      extractFromContent(content)
    }
  }

  /** The text machine over ONE page's decoded content bytes. */
  private[graft] def extractFromContent(content: Array[Byte]): String = {
    val pr = new Parser(content, 0, content = true)
    val sb = new java.lang.StringBuilder()
    var lineHasText = false
    val operands = scala.collection.mutable.ArrayBuffer.empty[PObj]

    def newline(): Unit =
      if (lineHasText) { sb.append('\n'); lineHasText = false }

    def show(s: PStr): Unit = {
      sb.append(graft.functions.Cp1252.decode(s.bytes))
      if (s.bytes.nonEmpty) lineHasText = true
    }

    while (!pr.eof) {
      pr.next() match {
        case POp(op) =>
          op match {
            case "BT" | "ET" => newline()
            case "Tj" =>
              operands.lastOption match {
                case Some(s: PStr) => show(s)
                case other => pr.fail(s"Tj without a string operand: $other")
              }
            case "'" =>
              newline()
              operands.lastOption match {
                case Some(s: PStr) => show(s)
                case other => pr.fail(s"' without a string operand: $other")
              }
            case "\"" =>
              newline()
              operands.lastOption match {
                case Some(s: PStr) => show(s)
                case other => pr.fail(s"\" without a string operand: $other")
              }
            case "TJ" =>
              operands.lastOption match {
                case Some(PArr(items)) =>
                  items.foreach {
                    case s: PStr => show(s)
                    case PNum(v, _) =>
                      // every deep kern is one space — consecutive deep
                      // kerns (an empty show string between them) carry
                      // consecutive source spaces and must all survive
                      if (v <= WordKernThreshold && lineHasText)
                        sb.append(' ')
                    case other => pr.fail(s"bad TJ element: $other")
                  }
                case other => pr.fail(s"TJ without an array operand: $other")
              }
            case "Td" | "TD" | "T*" | "Tm" => newline()
            case "BI" =>
              pr.fail("inline images (BI) are out of scope")
            case _ => // Tf, TL, Tc, Tw, Tz, Ts, graphics ops: consume operands
          }
          operands.clear()
        case operand => operands += operand
      }
    }
    newline()
    // drop the trailing newline: page text is '\n'-separated lines
    if (sb.length > 0 && sb.charAt(sb.length - 1) == '\n')
      sb.setLength(sb.length - 1)
    sb.toString
  }

  // ------------------------------------------------------------------
  // Writer (fixture path)
  // ------------------------------------------------------------------

  /** Escape a text line into a PDF literal string (CP-1252 bytes;
    * non-ASCII as octal escapes so the reader's octal path is
    * exercised on every high byte).
    */
  private def literal(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    sb.append('(')
    s.foreach { ch =>
      val b = graft.functions.Cp1252.fromChar(ch.toInt)
      require(b >= 0, f"char U+${ch.toInt}%04x has no CP-1252 byte")
      if (ch == '(' || ch == ')' || ch == '\\') sb.append('\\').append(ch)
      else if (b >= 0x20 && b < 0x7f) sb.append(ch)
      // always 3 octal digits: an unpadded \12 followed by a literal
      // digit would mis-parse as \120
      else sb.append(f"\\$b%03o")
    }
    sb.append(')')
    sb.toString
  }

  private def hexStr(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length * 2 + 2)
    sb.append('<')
    s.foreach { ch =>
      val b = graft.functions.Cp1252.fromChar(ch.toInt)
      require(b >= 0, f"char U+${ch.toInt}%04x has no CP-1252 byte")
      sb.append(f"$b%02X")
    }
    sb.append('>')
    sb.toString
  }

  /** Render one page's lines as a content stream, in one of three
    * show-operator styles:
    * 0 — `Td` moves + `Tj` literal strings;
    * 1 — one `TJ` per line, words as separate strings with −250 word
    *     kerns and −20 letter kerns (the reader's kern rule is load-
    *     bearing);
    * 2 — `TL` + `'` move-show with HEX strings.
    */
  private[graft] def contentFor(lines: Seq[String], style: Int): String = {
    val sb = new java.lang.StringBuilder()
    sb.append("BT\n/F1 12 Tf\n")
    style match {
      case 0 =>
        sb.append("72 720 Td\n")
        lines.zipWithIndex.foreach { case (ln, i) =>
          if (i > 0) sb.append("0 -14 Td\n")
          sb.append(literal(ln)).append(" Tj\n")
        }
      case 1 =>
        sb.append("72 720 Td\n")
        lines.zipWithIndex.foreach { case (ln, i) =>
          if (i > 0) sb.append("0 -14 Td\n")
          val words = ln.split(" ", -1)
          sb.append('[')
          words.zipWithIndex.foreach { case (w, j) =>
            if (j > 0) sb.append(" -250 ")
            // split the word once more to plant a harmless letter kern
            if (w.length > 2) {
              sb.append(literal(w.substring(0, 1))).append(" -20 ")
                .append(literal(w.substring(1)))
            } else sb.append(literal(w))
          }
          sb.append("] TJ\n")
        }
      case _ =>
        sb.append("14 TL\n72 734 Td\n")
        lines.foreach { ln =>
          sb.append(hexStr(ln)).append(" '\n")
        }
    }
    sb.append("ET")
    sb.toString
  }

  /** Serialize a classic PDF: catalog, page tree, one Helvetica/WinAnsi
    * font, one content stream per page (zlib-deflated when `compress`),
    * a single-section xref table, trailer, startxref.
    */
  private def deflate(plain: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(plain); d.finish()
    val buf = new Array[Byte](plain.length + 64)
    val bos = new java.io.ByteArrayOutputStream()
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  /** `xrefStream = false` emits the classic structure (xref table +
    * trailer keyword); `true` emits the PDF 1.5 structure: the
    * catalog/pages/font/page dictionaries packed into ONE `/Type
    * /ObjStm` object stream (content streams stay top-level — streams
    * cannot nest) and a `/Type /XRef` cross-reference stream whose
    * dict doubles as the trailer, with W=[1 4 2] binary entries —
    * `predictor = true` additionally runs those entries through the
    * PNG Up predictor (/DecodeParms /Predictor 12), the layout real
    * writers emit.
    */
  def encode(pageLines: Seq[Seq[String]], style: Int, compress: Boolean,
             xrefStream: Boolean = false,
             predictor: Boolean = false): Array[Byte] = {
    require(pageLines.nonEmpty, "a PDF needs at least one page")
    require(!predictor || xrefStream, "predictor implies the 1.5 structure")
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    // header with the conventional binary comment line
    ascii(if (xrefStream) "%PDF-1.5\n%" else "%PDF-1.4\n%")
    out.write(Array[Byte](0xe2.toByte, 0xe3.toByte, 0xcf.toByte, 0xd3.toByte))
    ascii("\n")

    val nPages = pageLines.size
    // object numbering: 1 catalog, 2 pages, 3 font,
    // 4..3+n page dicts, 4+n..3+2n content streams
    // (+ObjStm at 4+2n and the XRef stream at 5+2n in 1.5 mode)
    val firstPageObj = 4
    val firstContentObj = 4 + nPages
    val nDictObjs = 3 + nPages
    val objStmNum = 4 + 2 * nPages
    val xrefStmNum = 5 + 2 * nPages
    val offsets = new Array[Long](xrefStmNum) // index = obj number - 1

    def obj(num: Int)(body: => Unit): Unit = {
      offsets(num - 1) = out.size().toLong
      ascii(s"$num 0 obj\n")
      body
      ascii("\nendobj\n")
    }

    val dictBodies: Seq[(Int, String)] =
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> {
          val kids = (0 until nPages)
            .map(i => s"${firstPageObj + i} 0 R").mkString(" ")
          s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"
        },
        3 -> ("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
          "/Encoding /WinAnsiEncoding >>")) ++
        (0 until nPages).map { i =>
          (firstPageObj + i) ->
            (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              s"/Resources << /Font << /F1 3 0 R >> >> " +
              s"/Contents ${firstContentObj + i} 0 R >>")
        }

    if (!xrefStream) dictBodies.foreach { case (n, b) => obj(n)(ascii(b)) }

    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val plain = contentFor(lines, style).getBytes("US-ASCII")
      val data = if (compress) deflate(plain) else plain
      obj(firstContentObj + i) {
        val filter = if (compress) " /Filter /FlateDecode" else ""
        ascii(s"<< /Length ${data.length}$filter >>\nstream\n")
        out.write(data)
        ascii("\nendstream")
      }
    }

    if (!xrefStream) {
      val xrefOff = out.size().toLong
      val total = 3 + 2 * nPages
      ascii(s"xref\n0 ${total + 1}\n")
      ascii("0000000000 65535 f \n")
      (0 until total).foreach(k => ascii(f"${offsets(k)}%010d 00000 n \n"))
      ascii(s"trailer\n<< /Size ${total + 1} /Root 1 0 R >>\n" +
        s"startxref\n$xrefOff\n%%EOF\n")
      return out.toByteArray
    }

    // --- PDF 1.5 structure ---
    // object stream holding every dictionary object
    val stmBody = new java.io.ByteArrayOutputStream()
    val headerParts = new StringBuilder
    dictBodies.foreach { case (n, b) =>
      headerParts.append(s"$n ${stmBody.size()} ")
      stmBody.write(b.getBytes("US-ASCII"))
      stmBody.write(' ')
    }
    val header = headerParts.toString.getBytes("US-ASCII")
    val objStmPlain = header ++ stmBody.toByteArray
    val objStmData = if (compress) deflate(objStmPlain) else objStmPlain
    obj(objStmNum) {
      val filter = if (compress) " /Filter /FlateDecode" else ""
      ascii(s"<< /Type /ObjStm /N ${dictBodies.size} " +
        s"/First ${header.length} /Length ${objStmData.length}$filter >>" +
        "\nstream\n")
      out.write(objStmData)
      ascii("\nendstream")
    }

    // cross-reference stream: W = [1 4 2], one row per object 0..self
    val xrefOff = out.size().toLong
    offsets(xrefStmNum - 1) = xrefOff
    val size = xrefStmNum + 1
    val cols = 1 + 4 + 2
    val rows = new Array[Byte](size * cols)
    def putRow(num: Int, typ: Int, f2: Long, f3: Int): Unit = {
      val base = num * cols
      rows(base) = typ.toByte
      rows(base + 1) = ((f2 >> 24) & 0xff).toByte
      rows(base + 2) = ((f2 >> 16) & 0xff).toByte
      rows(base + 3) = ((f2 >> 8) & 0xff).toByte
      rows(base + 4) = (f2 & 0xff).toByte
      rows(base + 5) = ((f3 >> 8) & 0xff).toByte
      rows(base + 6) = (f3 & 0xff).toByte
    }
    putRow(0, 0, 0L, 0xffff) // the free head
    dictBodies.zipWithIndex.foreach { case ((n, _), idx) =>
      putRow(n, 2, objStmNum.toLong, idx)
    }
    (0 until nPages).foreach(i =>
      putRow(firstContentObj + i, 1, offsets(firstContentObj + i - 1), 0))
    putRow(objStmNum, 1, offsets(objStmNum - 1), 0)
    putRow(xrefStmNum, 1, xrefOff, 0)
    val (xrefData, parms) =
      if (!predictor) (rows, "")
      else {
        // PNG Up filter: each row minus the previous row, filter byte 2
        val filtered = new Array[Byte](size * (cols + 1))
        var r = 0
        while (r < size) {
          filtered(r * (cols + 1)) = 2
          var i = 0
          while (i < cols) {
            val up = if (r > 0) rows((r - 1) * cols + i) & 0xff else 0
            filtered(r * (cols + 1) + 1 + i) =
              (((rows(r * cols + i) & 0xff) - up) & 0xff).toByte
            i += 1
          }
          r += 1
        }
        (filtered,
          s" /DecodeParms << /Predictor 12 /Columns $cols >>")
      }
    // the xref stream itself is always Flate-compressed — the layout
    // every real writer emits (and /DecodeParms parameterizes a filter)
    val xrefPayload = deflate(xrefData)
    ascii(s"$xrefStmNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
      s"/Root 1 0 R /Length ${xrefPayload.length} /Filter /FlateDecode" +
      s"$parms >>\nstream\n")
    out.write(xrefPayload)
    ascii("\nendstream\nendobj\n")
    ascii(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Lines-per-page layout rule shared by the fixture and the q386
    * oracle: 6 words per line, 4 lines per page.
    */
  val WordsPerLine = 6
  val LinesPerPage = 4

  /** Render each document's text through the writer: words wrap at
    * [[WordsPerLine]], pages at [[LinesPerPage]]; show style =
    * doc_id % 3. EVEN doc_ids write the classic structure with Flate
    * content; ODD ids write the PDF 1.5 structure (object stream +
    * cross-reference stream), with the PNG Up predictor on the xref
    * entries for doc_id % 4 == 3 — every structural family the reader
    * supports appears in the corpus under the one q386 oracle.
    */
  def asPdfMedia(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val words = text.split(" ", -1).toSeq
        val lines = words.grouped(WordsPerLine).map(_.mkString(" ")).toSeq
        val pages = lines.grouped(LinesPerPage).map(_.toSeq).toSeq
        val payload = encode(if (pages.isEmpty) Seq(Seq("")) else pages,
          style = (id % 3).toInt, compress = id % 2 == 0,
          xrefStream = id % 2 == 1, predictor = id % 4 == 3)
        Multimodal.MediaRecord(id, payload)
      }
    }.toDF("doc_id", "payload")
  }

  final case class PdfText(doc_id: Long, n_pages: Int, text: String)

  /** Distributed extraction: one narrow pass, payloads never at the
    * driver. `text` is all pages' text joined with newlines.
    */
  def extractTexts(media: DataFrame): Dataset[PdfText] = {
    Multimodal.perPayload(media) { records =>
      records.map { r =>
        val pages = extractText(r.payload)
        PdfText(r.doc_id, pages.size, pages.mkString("\n"))
      }
    }
  }
}
