package graft.sources

import java.io.OutputStream
import java.nio.ByteBuffer

import scala.collection.immutable.ArraySeq

import graft.lang.Ast._
import graft.lang.UdScript
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** msgpack wire format — the reference's native framing ("The input is a
  * stream of binary records (in msgpack)", /root/reference/README.md:54-57;
  * decode stub main.rs:42-48; roadmap.md:25-26 "simple binary framing").
  *
  * msgpack values are self-delimiting, so a record stream needs no extra
  * framing: a file is just concatenated top-level values, one per record
  * (the reference's planned framing). The codec below is a clean-room
  * implementation of the public msgpack spec, restricted to the types a
  * uDLang record can carry (nil, bool, int, float64, str, bin, array, map).
  *
  * Scale notes:
  *  - Reading goes through Spark's binaryFile source: one task per file, so
  *    parallelism = file count. A msgpack stream (like gzip JSON) is not
  *    record-splittable; the writer emits one file per input partition so a
  *    round trip preserves parallelism. For 100 TB landing zones the format
  *    is an ingest edge, not a storage format — first hop converts to
  *    parquet.
  *  - All file IO uses the Hadoop FileSystem API resolved from the path
  *    URI, so any scheme works (file:, hdfs:, s3a:), not just local disk.
  *
  * Absent vs null follows JsonRecords: for every absent-optional declared
  * field a `<name>__present` column records whether the KEY existed in the
  * record map — a nil value is present-but-null, a missing key is absent.
  */
object Msgpack extends Serializable {

  final case class MsgpackError(msg: String) extends RuntimeException(msg)

  // ---- encoder (big-endian, minimal-width encodings) ----

  private def writeN(o: OutputStream, x: Long, n: Int): Unit = {
    var i = n - 1
    while (i >= 0) { o.write(((x >>> (8 * i)) & 0xff).toInt); i -= 1 }
  }

  def writeLong(o: OutputStream, x: Long): Unit =
    if (x >= 0 && x <= 127) o.write(x.toInt)
    else if (x < 0 && x >= -32) o.write(0xe0 | (x.toInt & 0x1f))
    else if (x >= Byte.MinValue && x <= Byte.MaxValue) {
      o.write(0xd0); o.write(x.toInt & 0xff)
    } else if (x >= Short.MinValue && x <= Short.MaxValue) {
      o.write(0xd1); writeN(o, x, 2)
    } else if (x >= Int.MinValue && x <= Int.MaxValue) {
      o.write(0xd2); writeN(o, x, 4)
    } else { o.write(0xd3); writeN(o, x, 8) }

  def writeValue(o: OutputStream, v: Any): Unit = v match {
    case null         => o.write(0xc0)
    case b: Boolean   => o.write(if (b) 0xc3 else 0xc2)
    case i: Byte      => writeLong(o, i.toLong)
    case i: Short     => writeLong(o, i.toLong)
    case i: Int       => writeLong(o, i.toLong)
    case i: Long      => writeLong(o, i)
    case f: Float     => writeValue(o, f.toDouble)
    case d: Double =>
      o.write(0xcb); writeN(o, java.lang.Double.doubleToLongBits(d), 8)
    case s: String =>
      val b = s.getBytes("UTF-8")
      if (b.length <= 31) o.write(0xa0 | b.length)
      else if (b.length < 256) { o.write(0xd9); o.write(b.length) }
      else if (b.length < 65536) { o.write(0xda); writeN(o, b.length.toLong, 2) }
      else { o.write(0xdb); writeN(o, b.length.toLong, 4) }
      o.write(b, 0, b.length)
    case b: Array[Byte] =>
      if (b.length < 256) { o.write(0xc4); o.write(b.length) }
      else if (b.length < 65536) { o.write(0xc5); writeN(o, b.length.toLong, 2) }
      else { o.write(0xc6); writeN(o, b.length.toLong, 4) }
      o.write(b, 0, b.length)
    case r: Row =>
      writeMap(o, r.schema.fieldNames.toSeq.zip(r.toSeq))
    case xs: scala.collection.Seq[_] =>
      if (xs.length <= 15) o.write(0x90 | xs.length)
      else if (xs.length < 65536) { o.write(0xdc); writeN(o, xs.length.toLong, 2) }
      else { o.write(0xdd); writeN(o, xs.length.toLong, 4) }
      xs.foreach(writeValue(o, _))
    case m: scala.collection.Map[_, _] =>
      writeMap(o, m.toSeq.map { case (k, x) => (String.valueOf(k), x) })
    case other =>
      // fail at WRITE time: silently stringifying a Timestamp/Decimal/...
      // would change the column's type in a way that only surfaces (if
      // ever) as a coerce error on read-back
      throw MsgpackError(
        s"unsupported runtime type for msgpack encode: ${other.getClass.getName}")
  }

  def writeMap(o: OutputStream, entries: Seq[(String, Any)]): Unit = {
    if (entries.length <= 15) o.write(0x80 | entries.length)
    else if (entries.length < 65536) { o.write(0xde); writeN(o, entries.length.toLong, 2) }
    else { o.write(0xdf); writeN(o, entries.length.toLong, 4) }
    entries.foreach { case (k, v) => writeValue(o, k); writeValue(o, v) }
  }

  // ---- decoder ----

  private def readStr(b: ByteBuffer, n: Int): String = {
    val arr = new Array[Byte](n); b.get(arr); new String(arr, "UTF-8")
  }
  private def readBin(b: ByteBuffer, n: Int): Array[Byte] = {
    val arr = new Array[Byte](n); b.get(arr); arr
  }
  private def readArr(b: ByteBuffer, n: Int): Vector[Any] =
    Vector.fill(n)(readValue(b))
  private def readMapEntries(b: ByteBuffer, n: Int): Vector[(String, Any)] =
    Vector.fill(n) {
      readValue(b) match {
        case k: String => k -> readValue(b)
        case other => throw MsgpackError(s"non-string map key: $other")
      }
    }
  private def u8(b: ByteBuffer): Int = b.get() & 0xff
  private def u16(b: ByteBuffer): Int = b.getShort() & 0xffff
  private def u32(b: ByteBuffer): Int = {
    val x = b.getInt()
    if (x < 0) throw MsgpackError("length > Int.MaxValue") else x
  }

  /** Decode one msgpack value. Maps decode to Vector[(String, Any)]
    * preserving key order (uDLang records are ordered). */
  def readValue(b: ByteBuffer): Any = {
    val t = b.get() & 0xff
    t match {
      case x if x <= 0x7f          => x.toLong           // positive fixint
      case x if x >= 0xe0          => (x - 256).toLong   // negative fixint
      case x if (x & 0xf0) == 0x80 => readMapEntries(b, x & 0x0f)
      case x if (x & 0xf0) == 0x90 => readArr(b, x & 0x0f)
      case x if (x & 0xe0) == 0xa0 => readStr(b, x & 0x1f)
      case 0xc0 => null
      case 0xc2 => false
      case 0xc3 => true
      case 0xc4 => readBin(b, u8(b))
      case 0xc5 => readBin(b, u16(b))
      case 0xc6 => readBin(b, u32(b))
      case 0xca => b.getFloat().toDouble
      case 0xcb => b.getDouble()
      case 0xcc => u8(b).toLong
      case 0xcd => u16(b).toLong
      case 0xce => b.getInt().toLong & 0xffffffffL
      case 0xcf =>
        val x = b.getLong()                               // uint64 (as i64)
        if (x < 0) throw MsgpackError(
          s"uint64 value ${java.lang.Long.toUnsignedString(x)} exceeds i64 range")
        x
      case 0xd0 => b.get().toLong
      case 0xd1 => b.getShort().toLong
      case 0xd2 => b.getInt().toLong
      case 0xd3 => b.getLong()
      case 0xd9 => readStr(b, u8(b))
      case 0xda => readStr(b, u16(b))
      case 0xdb => readStr(b, u32(b))
      case 0xdc => readArr(b, u16(b))
      case 0xdd => readArr(b, u32(b))
      case 0xde => readMapEntries(b, u16(b))
      case 0xdf => readMapEntries(b, u32(b))
      case other => throw MsgpackError(f"unsupported tag 0x$other%02x")
    }
  }

  // ---- msgpack value → declared Spark type ----
  // Decoded values take the shape of a collected Spark row: structs carry
  // their schema (`rowToValue` and the writer look fields up by name) and
  // arrays are ArraySeqs.

  private def row(cells: Seq[Any], st: StructType): Row =
    new GenericRowWithSchema(cells.toArray, st)

  private def coerce(v: Any, dt: DataType, path: String): Any = (v, dt) match {
    case (null, _)                 => null
    case (x: Long, LongType)       => x
    case (x: Long, DoubleType)     => x.toDouble
    case (x: Double, DoubleType)   => x
    case (x: Boolean, BooleanType) => x
    case (x: String, StringType)   => x
    case (x: Array[Byte], BinaryType) => x
    case (xs: Vector[_], ArrayType(et, _)) if !xs.headOption.exists(_.isInstanceOf[(_, _)]) =>
      ArraySeq.from(xs.map(coerce(_, et, path)))
    case (es: Vector[_], st: StructType) =>
      val entries = es.collect { case (k: String, x) => k -> x }.toMap
      row(st.fields.toSeq.map(f =>
        entries.get(f.name).map(coerce(_, f.dataType, s"$path.${f.name}")).orNull), st)
    case (es: Vector[_], MapType(StringType, vt, _)) =>
      es.collect { case (k: String, x) => k -> coerce(x, vt, path) }.toMap
    case (x, t) =>
      throw MsgpackError(s"type:$path expected ${t.simpleString} got ${x.getClass.getSimpleName}")
  }

  // ---- declared-type-driven coercion (true union ingest) ----

  /** Does a decoded wire value fit a union branch? Exact runtime types
    * only — declared order resolves any ambiguity (empty collections
    * match list, record and map shapes alike). */
  private def branchMatches(v: Any, t: UdType): Boolean = (v, t) match {
    case (_: Long, TInt)        => true
    case (x: Long, n: TIntN)    => n.contains(x)
    case (_: Double, TFloat)    => true
    case (x: Double, TFloat32)  => x.toFloat.toDouble == x // precision test
    case (x: String, TValue(s)) => x == s
    case (_: String, TStr)      => true
    case (_: Boolean, TBool)    => true
    case (xs: Vector[_], TList(_)) =>
      xs.isEmpty || !xs.head.isInstanceOf[(_, _)]
    case (es: Vector[_], TRecord(_, _)) =>
      es.isEmpty || es.head.isInstanceOf[(_, _)]
    case (es: Vector[_], TMap(_)) =>
      es.isEmpty || es.head.isInstanceOf[(_, _)]
    case (es: Vector[_], TPoint) =>
      es.collect { case (k: String, _) => k } == Seq("x", "y")
    case _ => false
  }

  /** Coerce under the DECLARED uDLang type: union fields arrive as their
    * raw wire value, and the tag is inferred here — at validation time —
    * by probing branches in declared order (manual.md:112-115). The
    * result is the engine's tagged-struct encoding {_tag, v0, ...}; a
    * value matching no branch is a decode error (mode-routed upstream).
    * Non-union shapes recurse so NESTED records keep union support; the
    * scalar leaves delegate to the DataType-driven coerce. */
  def coerceTyped(v: Any, t: UdType, dt: DataType, path: String): Any =
    (v, t) match {
      case (null, _) => null
      // string-literal enum: a CHECK constraint at the boundary
      case (x: String, TUnion(ts))
          if ts.nonEmpty && ts.forall(_.isInstanceOf[TValue]) =>
        if (ts.exists { case TValue(s) => s == x; case _ => false }) x
        else throw MsgpackError(s"bad_enum:$path=$x")
      case (_, TUnion(ts)) if !ts.forall(_.isInstanceOf[TValue]) =>
        val i = ts.indexWhere(branchMatches(v, _))
        if (i < 0) throw MsgpackError(s"union_no_branch:$path")
        val st = dt.asInstanceOf[StructType]
        row(UdScript.tagOf(ts(i)) +: ts.zipWithIndex.map {
          case (bt, j) =>
            if (j == i) coerceTyped(v, bt, st(s"v$j").dataType, path)
            else null
        }, st)
      case (_, TOption(inner)) => coerceTyped(v, inner, dt, path)
      // sized ints enforce their declared range AT THE BOUNDARY, so an
      // out-of-range record routes through abort/skip/dlq like any other
      // invalid input instead of erroring mid-query
      case (x: Long, n: TIntN) =>
        if (n.contains(x)) x
        else throw MsgpackError(
          s"range:$path=$x not a ${if (n.signed) "I" else "U"}${n.bits}")
      // declared F32 rounds through float32 at the boundary (the float
      // twin of the sized-int range check; both codecs agree)
      case (x: Long, TFloat32)   => x.toFloat.toDouble
      case (x: Double, TFloat32) => x.toFloat.toDouble
      case (es: Vector[_], TPoint) if branchMatches(v, TPoint) =>
        val m = es.collect { case (k: String, x) => k -> x }.toMap
        def d(x: Any): Any = x match {
          case l: Long => l.toDouble; case dd: Double => dd
          case other => throw MsgpackError(s"type:$path Point wants floats")
        }
        row(Seq(d(m("x")), d(m("y"))), dt.asInstanceOf[StructType])
      case (es: Vector[_], TRecord(fs, _)) if dt.isInstanceOf[StructType] =>
        val st = dt.asInstanceOf[StructType]
        val entries = es.collect { case (k: String, x) => k -> x }.toMap
        // a nested struct ends with one flag per absent-optional field,
        // set from key presence
        row(fs.zipWithIndex.map { case (f, i) =>
          entries.get(f.name).map(x =>
            coerceTyped(x, f.t, st.fields(i).dataType, s"$path.${f.name}"))
            .orNull
        } ++ fs.filter(_.absentOptional).map(f => entries.contains(f.name)), st)
      case (xs: Vector[_], TList(et))
          if dt.isInstanceOf[ArrayType] && branchMatches(v, TList(et)) =>
        ArraySeq.from(xs.map(coerceTyped(_, et,
          dt.asInstanceOf[ArrayType].elementType, path)))
      case (es: Vector[_], TMap(vt)) if dt.isInstanceOf[MapType] =>
        es.collect { case (k: String, x) =>
          k -> coerceTyped(x, vt, dt.asInstanceOf[MapType].valueType, path)
        }.toMap
      case _ => coerce(v, dt, path)
    }

  /** Decode a whole file (concatenated record maps) into Rows of
    * `decodedSchema`: declared fields ++ __present flags ++
    * _invalid_reason. Records decode one at a time, as the iterator is
    * read. A record whose shape mismatches the declaration yields a reason
    * row; a byte level decode failure yields one final reason row (a
    * corrupt stream cannot be resynced — msgpack has no sync markers) and
    * stops the file.
    */
  def decodeFile(bytes: Array[Byte], declared: TRecord): Iterator[Row] = {
    val schema = decodedSchema(declared)
    val absentOpt = declared.fields.filter(_.absentOptional).map(_.name)
    def invalid(reason: String): Row =
      row(declared.fields.map(_ => null) ++ absentOpt.map(_ => false) :+ reason,
        schema)
    val buf = ByteBuffer.wrap(bytes)
    var halted = false
    Iterator.continually(()).takeWhile(_ => buf.hasRemaining && !halted).map { _ =>
      val offset = buf.position()
      try {
        readValue(buf) match {
          case entries: Vector[_] if entries.forall(_.isInstanceOf[(_, _)]) =>
            val m = entries.collect { case (k: String, v) => k -> v }.toMap
            var reason: String = null // the first field's wins
            def fail(r: String): Any = { if (reason == null) reason = r; null }
            val fieldVals = declared.fields.map { f =>
              val required = !f.absentOptional && !f.t.isInstanceOf[TOption]
              m.get(f.name) match {
                // explicit nil for a REQUIRED field — same posture as a
                // missing key, distinct reason
                case Some(null) if required => fail(s"null:${f.name}")
                case Some(v) =>
                  try coerceTyped(v, f.t, schema(f.name).dataType, f.name)
                  catch { case e: MsgpackError => fail(e.msg) }
                case None => if (required) fail(s"missing:${f.name}") else null
              }
            }
            row(fieldVals ++ absentOpt.map(m.contains) :+ reason, schema)
          case _ => invalid(s"not_a_record@$offset")
        }
      } catch {
        case e: Throwable =>
          halted = true
          invalid(s"malformed@$offset:${e.getMessage}")
      }
    }
  }

  /** Decode exactly one framed record (socket/pipe ingest: one frame =
    * one record map). Same row shape as decodeFile. */
  def decodeOne(bytes: Array[Byte], declared: TRecord): Row =
    decodeFile(bytes, declared).next()

  /** Schema of the decoded frame: `UdScript.inputFrame` (declared
    * fields, all nullable, + presence flags) + the (pre-routing) invalid
    * reason. */
  def decodedSchema(declared: TRecord): StructType =
    StructType(UdScript.inputFrame(declared).fields :+
      StructField("_invalid_reason", StringType, nullable = true))

  /** Read a directory (or file) of msgpack record streams under a declared
    * uDLang record type, with the ValidatedIngest modes. */
  def read(s: SparkSession, path: String, declared: TRecord,
           mode: ValidatedIngest.Mode): ValidatedIngest.Validated = {
    val enc = Encoders.row(decodedSchema(declared))
    val bin = s.read.format("binaryFile").load(path).select("content")
    val tagged = bin.flatMap(r =>
      decodeFile(r.getAs[Array[Byte]](0), declared))(enc)
    ValidatedIngest.routeTagged(tagged.toDF(), mode)
  }

  /** Encode rows as concatenated record maps. Columns named
    * `<f>__present` are presence flags: when false, field `f` is OMITTED
    * from the record map (absent) rather than encoded as nil. */
  def writeRows(o: OutputStream, names: Seq[String], rows: Iterator[Row]): Unit = {
    val present = names.filter(_.endsWith("__present")).map { p =>
      p.stripSuffix("__present") -> p
    }.toMap
    val dataCols = names.filterNot(_.endsWith("__present"))
    rows.foreach { r =>
      val entries = dataCols.flatMap { c =>
        val isPresent = present.get(c).forall(pc => r.getAs[Boolean](pc))
        if (!isPresent) None
        else Some(c -> r.get(r.fieldIndex(c)))
      }
      writeMap(o, entries)
    }
  }

  /** Write a DataFrame as msgpack record streams, one file per partition. */
  def write(df: DataFrame, path: String): Unit = {
    val names = df.schema.fieldNames.toSeq
    val uri = new java.net.URI(path)
    // the SESSION Hadoop conf, serialized to executors: scheme-specific
    // settings (s3a credentials/endpoints, hdfs nameservices) live there,
    // and a fresh Configuration() on the executor would not see them
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val fsDriver = org.apache.hadoop.fs.FileSystem.get(uri, hconf.value)
    val finalPath = new org.apache.hadoop.fs.Path(path)
    // two-phase commit: tasks write into a temp dir, the driver renames it
    // into place only after the whole job succeeds — a mid-job failure
    // must never leave a readable half-written directory (silent row loss
    // on the next read)
    val tmpPath = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "._tmp_" + java.util.UUID.randomUUID().toString)
    fsDriver.mkdirs(tmpPath)
    val tmpStr = tmpPath.toString
    try {
      df.foreachPartition { rows: Iterator[Row] =>
        if (rows.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val fs = org.apache.hadoop.fs.FileSystem.get(uri, hconf.value)
          // stream rows straight to the file — no whole-partition buffer
          val out = new java.io.BufferedOutputStream(fs.create(
            new org.apache.hadoop.fs.Path(tmpStr, f"part-$pid%05d.msgpack"),
            true), 1 << 16)
          try writeRows(out, names, rows) finally out.close()
        }
      }
      if (fsDriver.exists(finalPath)) fsDriver.delete(finalPath, true)
      if (!fsDriver.rename(tmpPath, finalPath))
        throw MsgpackError(s"commit rename failed: $tmpPath -> $finalPath")
    } finally {
      if (fsDriver.exists(tmpPath)) fsDriver.delete(tmpPath, true)
    }
  }
}
