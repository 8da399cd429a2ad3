package graft.io

import graft.functions.Digest
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.{ByteBuffer, ByteOrder}

/** Avro object-container I/O — the row-oriented interchange format of
  * the data-engineering stack (published spec: the `Obj\1` container
  * with a metadata map, per-block sync markers, and Avro binary
  * encoding: zigzag-varint longs, length-prefixed strings/bytes,
  * little-endian floats, block-encoded arrays).
  *
  * Built from the spec only — no avro jars: the writer emits
  * deflate-compressed blocks (raw deflate per the spec, no zlib
  * wrapper) with a partition-derived deterministic sync marker; the
  * reader parses the metadata map, REQUIRES a supported codec, parses
  * the schema JSON into a small AST (null/boolean/int/long/float/
  * double/bytes/string/record/array/union), verifies EVERY block's
  * sync marker (a corrupted or spliced block fails loudly), inflates,
  * and decodes records generically by schema — so files written by
  * other Avro producers with the same schema shape read back too.
  *
  * Scale shape: one shard per partition on write, one task per shard
  * on read — identical to [[SafeTensors]]/[[TfRecord]].
  */
object AvroWire {

  // ------------------------------------------------------------------
  // Schema AST
  // ------------------------------------------------------------------

  sealed trait AvType
  case object ANull extends AvType
  case object ABool extends AvType
  case object AInt extends AvType
  case object ALong extends AvType
  case object AFloat extends AvType
  case object ADouble extends AvType
  case object ABytes extends AvType
  case object AString extends AvType
  final case class AArray(items: AvType) extends AvType
  final case class AUnion(branches: Seq[AvType]) extends AvType
  final case class ARecord(name: String, fields: Seq[(String, AvType)])
    extends AvType

  /** Parse an Avro schema JSON into the AST (the subset above;
    * anything else refuses loudly).
    */
  def parseSchema(json: String): AvType = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def walk(v: JValue): AvType = v match {
      case JString(s) => primitive(s)
      case JArray(branches) => AUnion(branches.map(walk))
      case JObject(fields) =>
        val m = fields.toMap
        m.get("type") match {
          case Some(JString("record")) =>
            val name = m.get("name") match {
              case Some(JString(n)) => n
              case _ => throw new IllegalArgumentException(
                "record schema without a name")
            }
            val fs = m.get("fields") match {
              case Some(JArray(fl)) => fl.map {
                case JObject(fb) =>
                  val fm = fb.toMap
                  val fn = fm.get("name") match {
                    case Some(JString(n)) => n
                    case _ => throw new IllegalArgumentException(
                      "field without a name")
                  }
                  fn -> walk(fm.getOrElse("type",
                    throw new IllegalArgumentException(
                      s"field $fn without a type")))
                case other => throw new IllegalArgumentException(
                  s"bad field entry: $other")
              }
              case _ => throw new IllegalArgumentException(
                s"record $name without fields")
            }
            ARecord(name, fs)
          case Some(JString("array")) =>
            AArray(walk(m.getOrElse("items",
              throw new IllegalArgumentException("array without items"))))
          case Some(JString(p)) => primitive(p)
          case other => throw new IllegalArgumentException(
            s"unsupported schema node: $other")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported schema value: $other")
    }
    def primitive(s: String): AvType = s match {
      case "null" => ANull
      case "boolean" => ABool
      case "int" => AInt
      case "long" => ALong
      case "float" => AFloat
      case "double" => ADouble
      case "bytes" => ABytes
      case "string" => AString
      case other => throw new IllegalArgumentException(
        s"unsupported avro type: $other")
    }
    walk(JsonMethods.parse(json))
  }

  // ------------------------------------------------------------------
  // Binary encoding
  // ------------------------------------------------------------------

  private def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private[graft] def writeLong(out: java.io.ByteArrayOutputStream,
    n: Long): Unit = {
    var v = zigzag(n)
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write((v & 0x7F).toInt)
  }

  private[graft] final class Decoder(b: Array[Byte], var pos: Int) {
    def u8(): Int = {
      require(pos < b.length, "truncated avro payload")
      val v = b(pos) & 0xFF
      pos += 1
      v
    }
    def readLong(): Long = {
      var shift = 0
      var v = 0L
      var more = true
      while (more) {
        require(shift < 64, "over-long avro varint")
        val x = u8()
        v |= (x & 0x7FL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      unzigzag(v)
    }
    def readBytes(): Array[Byte] = {
      val len = readLong()
      require(len >= 0 && pos + len <= b.length,
        s"avro bytes of $len overrun the buffer")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + len.toInt)
      pos += len.toInt
      out
    }
    def readFixed(n: Int): Array[Byte] = {
      require(pos + n <= b.length, "truncated avro fixed")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      out
    }
  }

  private def encodeValue(out: java.io.ByteArrayOutputStream,
    t: AvType, v: Any): Unit = (t, v) match {
    case (ANull, _) => ()
    case (ABool, b: Boolean) => out.write(if (b) 1 else 0)
    case (AInt, i: Int) => writeLong(out, i.toLong)
    case (ALong, l: Long) => writeLong(out, l)
    case (AFloat, f: Float) =>
      out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putFloat(f).array(), 0, 4)
    case (ADouble, d: Double) =>
      out.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putDouble(d).array(), 0, 8)
    case (AString, s: String) =>
      val bs = s.getBytes("UTF-8")
      writeLong(out, bs.length.toLong)
      out.write(bs, 0, bs.length)
    case (ABytes, bs: Array[Byte]) =>
      writeLong(out, bs.length.toLong)
      out.write(bs, 0, bs.length)
    case (AArray(items), xs: Seq[_]) =>
      if (xs.nonEmpty) {
        writeLong(out, xs.length.toLong)
        xs.foreach(x => encodeValue(out, items, x))
      }
      writeLong(out, 0L)
    case (ARecord(_, fields), r: Seq[_]) =>
      require(fields.length == r.length,
        s"record arity ${r.length} != schema ${fields.length}")
      fields.zip(r).foreach { case ((_, ft), fv) =>
        encodeValue(out, ft, fv)
      }
    case (AUnion(branches), x) =>
      // encode into the first branch whose type accepts the value
      val idx = x match {
        case null => branches.indexOf(ANull)
        case _ => branches.indexWhere(_ != ANull)
      }
      require(idx >= 0, s"no union branch for $x")
      writeLong(out, idx.toLong)
      encodeValue(out, branches(idx), x)
    case (tt, vv) => throw new IllegalArgumentException(
      s"cannot encode ${if (vv == null) "null" else vv.getClass} as $tt")
  }

  private def decodeValue(in: Decoder, t: AvType): Any = t match {
    case ANull => null
    case ABool => in.u8() != 0
    case AInt => in.readLong().toInt
    case ALong => in.readLong()
    case AFloat => ByteBuffer.wrap(in.readFixed(4))
      .order(ByteOrder.LITTLE_ENDIAN).getFloat
    case ADouble => ByteBuffer.wrap(in.readFixed(8))
      .order(ByteOrder.LITTLE_ENDIAN).getDouble
    case AString => new String(in.readBytes(), "UTF-8")
    case ABytes => in.readBytes()
    case AArray(items) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var n = in.readLong()
      while (n != 0L) {
        if (n < 0) { in.readLong(); n = -n } // block byte-size form
        var i = 0L
        while (i < n) { out += decodeValue(in, items); i += 1 }
        n = in.readLong()
      }
      out.toSeq
    case ARecord(_, fields) => fields.map { case (_, ft) =>
      decodeValue(in, ft)
    }
    case AUnion(branches) =>
      val idx = in.readLong()
      require(idx >= 0 && idx < branches.length,
        s"union branch $idx out of ${branches.length}")
      decodeValue(in, branches(idx.toInt))
  }

  // ------------------------------------------------------------------
  // Object container
  // ------------------------------------------------------------------

  private val Magic = Array[Byte]('O', 'b', 'j', 1)

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true) // raw, per spec
    d.setInput(raw)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def inflate(comp: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(comp)
    val out = new java.io.ByteArrayOutputStream(comp.length * 3 + 64)
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      require(n > 0 || inf.finished(),
        "truncated deflate stream in avro block")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  /** Serialize records into one container file's bytes. */
  private[graft] def renderContainer(schemaJson: String, schema: AvType,
    records: Seq[Seq[Any]], codec: String, sync: Array[Byte],
    blockSize: Int = 1000): Array[Byte] = {
    require(sync.length == 16, "sync marker must be 16 bytes")
    require(codec == "null" || codec == "deflate",
      s"unsupported avro codec: $codec")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    // metadata map: one block of 2 entries, then terminator
    writeLong(out, 2L)
    def kv(k: String, v: Array[Byte]): Unit = {
      val kb = k.getBytes("UTF-8")
      writeLong(out, kb.length.toLong); out.write(kb, 0, kb.length)
      writeLong(out, v.length.toLong); out.write(v, 0, v.length)
    }
    kv("avro.schema", schemaJson.getBytes("UTF-8"))
    kv("avro.codec", codec.getBytes("UTF-8"))
    writeLong(out, 0L)
    out.write(sync, 0, 16)
    records.grouped(blockSize).foreach { group =>
      val raw = new java.io.ByteArrayOutputStream()
      group.foreach(r => encodeValue(raw, schema, r))
      val payload = codec match {
        case "null" => raw.toByteArray
        case "deflate" => deflate(raw.toByteArray)
        case other => throw new IllegalArgumentException(
          s"unsupported avro codec: $other")
      }
      writeLong(out, group.length.toLong)
      writeLong(out, payload.length.toLong)
      out.write(payload, 0, payload.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  /** Parse one container file: returns (schema, records). Every
    * block's sync marker is verified.
    */
  def parseContainer(bytes: Array[Byte]): (AvType, Seq[Seq[Any]]) = {
    val in = new Decoder(bytes, 0)
    require(in.readFixed(4).sameElements(Magic), "not an avro container")
    var schemaJson: Option[String] = None
    var codec = "null"
    var n = in.readLong()
    while (n != 0L) {
      if (n < 0) { in.readLong(); n = -n }
      var i = 0L
      while (i < n) {
        val k = new String(in.readBytes(), "UTF-8")
        val v = in.readBytes()
        k match {
          case "avro.schema" => schemaJson = Some(new String(v, "UTF-8"))
          case "avro.codec" => codec = new String(v, "UTF-8")
          case _ => () // unknown metadata: the spec says ignore
        }
        i += 1
      }
      n = in.readLong()
    }
    val schema = parseSchema(schemaJson.getOrElse(
      throw new IllegalArgumentException("container without avro.schema")))
    require(codec == "null" || codec == "deflate",
      s"unsupported avro codec: $codec")
    val sync = in.readFixed(16)
    val records = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    while (in.pos < bytes.length) {
      val count = in.readLong()
      val size = in.readLong()
      require(count >= 0 && size >= 0, "negative avro block header")
      val payload = in.readFixed(size.toInt)
      require(in.readFixed(16).sameElements(sync),
        "avro block sync marker mismatch")
      val raw = if (codec == "deflate") inflate(payload) else payload
      val rd = new Decoder(raw, 0)
      var i = 0L
      while (i < count) {
        val v = decodeValue(rd, schema) match {
          case s: Seq[Any @unchecked] => s
          case other => Seq(other)
        }
        records += v
        i += 1
      }
      require(rd.pos == raw.length,
        s"avro block decoded ${rd.pos} of ${raw.length} bytes")
    }
    (schema, records.toSeq)
  }

  // ------------------------------------------------------------------
  // Spark I/O (documents shape: doc_id long, text string)
  // ------------------------------------------------------------------

  private val DocSchemaJson =
    """{"type":"record","name":"Doc","fields":[""" +
      """{"name":"doc_id","type":"long"},""" +
      """{"name":"text","type":"string"}]}"""

  /** Write (doc_id, text) rows as one deflate avro shard per
    * partition, sync marker derived from the partition id.
    */
  def writeDocs(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    fs.mkdirs(hPath)
    val confBc = spark.sparkContext.broadcast(
      new HadoopConfCarrier(spark.sparkContext.hadoopConfiguration))
    val schema = parseSchema(DocSchemaJson)
    df.select(col("doc_id").cast("long"),
      coalesce(col("text"), lit("")).as("text"))
      .foreachPartition { (rows: Iterator[Row]) =>
        val recs = rows.map(r => Seq[Any](r.getLong(0), r.getString(1)))
          .toSeq
        if (recs.nonEmpty) {
          val pid = TaskContext.getPartitionId()
          val sync = Digest.md5(s"graft-avro-$pid".getBytes("UTF-8"))
          val bytes =
            renderContainer(DocSchemaJson, schema, recs, "deflate", sync)
          val fsw = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(confBc.value.toConf)
          val shard = new org.apache.hadoop.fs.Path(path,
            f"part-$pid%05d.avro")
          val out = fsw.create(shard, true)
          try out.write(bytes) finally out.close()
        }
      }
  }

  /** Read a directory of avro shards back as (doc_id, text) — one
    * task per shard, schema shape enforced.
    */
  def readDocs(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hPath.getFileSystem(conf)
    val shards = fs.listStatus(hPath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".avro"))
      .map(_.getPath.toString).sorted
    require(shards.nonEmpty, s"no .avro shards under $path")
    val confBc = spark.sparkContext.broadcast(new HadoopConfCarrier(conf))
    spark.sparkContext
      .parallelize(shards.toIndexedSeq, shards.length)
      .flatMap { shard =>
        val fsr = new org.apache.hadoop.fs.Path(shard)
          .getFileSystem(confBc.value.toConf)
        val status = fsr.getFileStatus(new org.apache.hadoop.fs.Path(shard))
        val buf = new Array[Byte](status.getLen.toInt)
        val in = fsr.open(status.getPath)
        try in.readFully(0, buf) finally in.close()
        val (schema, records) = parseContainer(buf)
        schema match {
          case ARecord(_, Seq(("doc_id", ALong), ("text", AString))) => ()
          case other => throw new IllegalArgumentException(
            s"$shard: unexpected schema $other")
        }
        records.map(r => (r(0).asInstanceOf[Long],
          r(1).asInstanceOf[String]))
      }
      .toDF("doc_id", "text")
  }
}
