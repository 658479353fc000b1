package graft.sources

import java.io.OutputStream
import java.nio.ByteBuffer

import graft.lang.Ast._
import graft.lang.UdScript
import graft.lang.Values._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
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
  * One decoder reads every msgpack record: `Decoder` turns each record
  * map straight into the interpreter's input value, or into the reason it
  * is invalid with the fields it did decode. The CLI's stdin pipe runs it
  * record by record with no session; `read`/`ingest` run it in one
  * `mapPartitions` and encode each value with `UdScript.valueToRow` into
  * the source's frame, as `JsonRecords` does for JSON lines.
  *
  * Absent vs null follows JsonRecords: an absent-optional field whose KEY
  * is missing from the record map is omitted from the value, and its
  * `<name>__present` column reads false — a nil value is present-but-null.
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

  // ---- msgpack records → interpreter values ----

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

  /** A decoded map's entries by key; a duplicate key keeps its last value. */
  private def entries(es: Vector[_]): Map[String, Any] =
    es.collect { case (k: String, x) => k -> x }.toMap

  /** The reader of a wire value under the declared type t, planned once:
    * the interpreter value, or a MsgpackError whose message is the
    * record's invalid reason. `path` names the top-level field, then the
    * nested record fields below it. Nil is none at any depth. A union
    * field arrives as its raw wire value and takes the first branch, in
    * declared order, that it fits (manual.md:112-115); a sized int
    * outside its range and a string outside its enum are invalid, and a
    * declared F32 rounds through float32, at every depth. */
  private def reader(t: UdType, path: String): Any => Value = {
    def mismatch(v: Any): Nothing = throw MsgpackError(s"type:$path expected " +
      s"${UdScript.sparkType(t).simpleString} got ${v.getClass.getSimpleName}")
    // nil is none at any depth; a value no case takes is a type mismatch
    def reading(read: PartialFunction[Any, Value]): Any => Value =
      v => if (v == null) VNone else read.applyOrElse(v, mismatch)
    t match {
      case TOption(inner) => reader(inner, path)
      case TInt => reading { case x: Long => VInt(x) }
      case n: TIntN => reading {
        case x: Long =>
          if (n.contains(x)) VInt(x)
          else throw MsgpackError(s"range:$path=$x not a ${UdScript.tagOf(n)}")
      }
      case TFloat | TFloat32 => reading {
        case x: Long => VFloat(if (t == TFloat32) x.toFloat.toDouble else x.toDouble)
        case x: Double => VFloat(if (t == TFloat32) x.toFloat.toDouble else x)
      }
      case TBool => reading { case b: Boolean => VBool(b) }
      case TStr | TAny | TValue(_) => reading { case s: String => VStr(s) }
      // string-literal enum: a CHECK constraint at the boundary
      case TUnion(ts) if ts.forall(_.isInstanceOf[TValue]) =>
        val lits = ts.collect { case TValue(s) => s }.toSet
        reading {
          case s: String =>
            if (lits(s)) VStr(s) else throw MsgpackError(s"bad_enum:$path=$s")
        }
      case TUnion(ts) =>
        val branches = ts.map(reader(_, path)).toArray
        reading { case v =>
          val i = ts.indexWhere(branchMatches(v, _))
          if (i < 0) throw MsgpackError(s"union_no_branch:$path")
          branches(i)(v)
        }
      case TList(et) =>
        val element = reader(et, path)
        reading { case xs: Vector[_] if branchMatches(xs, t) => VList(xs.map(element)) }
      case TMap(vt) =>
        val value = reader(vt, path)
        reading { case es: Vector[_] =>
          VMap(es.collect { case (k: String, x) => k -> value(x) }.toMap
            .toVector.sortBy(_._1))()
        }
      // a nested record reads what it finds: a field with no key is none,
      // or omitted when it is absent-optional
      case rec @ TRecord(fs, _) =>
        val fields = fs.map(f => (f, reader(f.t, s"$path.${f.name}")))
        val absentOk = UdScript.absentOkOf(rec)
        reading { case es: Vector[_] =>
          val m = entries(es)
          VMap(fields.collect {
            case (f, read) if !f.absentOptional || m.contains(f.name) =>
              f.name -> read(m.getOrElse(f.name, null))
          }.toVector)(absentOk)
        }
      // a point is {x, y}: with exactly those keys in that order both must
      // be numbers; otherwise it is none unless both coordinates read
      case TPoint =>
        val (x, y) = (reader(TFloat, s"$path.x"), reader(TFloat, s"$path.y"))
        def coordinate(c: Any): Double = c match {
          case l: Long => l.toDouble
          case d: Double => d
          case _ => throw MsgpackError(s"type:$path Point wants floats")
        }
        reading {
          case es: Vector[_] if branchMatches(es, TPoint) =>
            val m = entries(es)
            VPoint(coordinate(m("x")), coordinate(m("y")))
          case es: Vector[_] =>
            val m = entries(es)
            (x(m.getOrElse("x", null)), y(m.getOrElse("y", null))) match {
              case (VFloat(a), VFloat(b)) => VPoint(a, b)
              case _ => VNone
            }
        }
      case TTuple(ts) =>
        val slots = ts.indices.map(i => (s"_${i + 1}", reader(ts(i), s"$path._${i + 1}")))
        reading { case es: Vector[_] =>
          val m = entries(es)
          VTuple(slots.map { case (k, read) => read(m.getOrElse(k, null)) }.toVector)
        }
      case _ => reading(PartialFunction.empty)
    }
  }

  /** The decoder of a declared input record, planned once: a reader per
    * field. `records` turns a stream of concatenated record maps into, per
    * record, the interpreter's input value (Right), or the reason it is
    * invalid with the fields it did decode (Left) — a failed field is
    * none. A record's reason is its first failing field's: `null:<f>` or
    * `missing:<f>` for a required field, else its reader's. A top-level
    * value that is not a map is `not_a_record@<offset>`; bytes that do not
    * decode are `malformed@<offset>:<error>` and stop the stream (msgpack
    * has no sync markers to resync on). */
  final class Decoder(val declared: TRecord) {
    private val fs = declared.fields.toArray
    private val readers = fs.map(f => reader(f.t, f.name))
    private val required = fs.map(f => !f.absentOptional && !f.t.isInstanceOf[TOption])
    private val absentOk = UdScript.absentOkOf(declared)
    private val empty = VMap(Vector.empty)(absentOk)

    def records(bytes: Array[Byte]): Iterator[Either[(String, VMap), VMap]] = {
      val buf = ByteBuffer.wrap(bytes)
      var halted = false
      Iterator.continually(()).takeWhile(_ => buf.hasRemaining && !halted).map { _ =>
        val offset = buf.position()
        try readValue(buf) match {
          case es: Vector[_] if es.forall(_.isInstanceOf[(_, _)]) => record(entries(es))
          case _ => Left(s"not_a_record@$offset" -> empty)
        } catch {
          case e: Throwable =>
            halted = true
            Left(s"malformed@$offset:${e.getMessage}" -> empty)
        }
      }
    }

    private def record(m: Map[String, Any]): Either[(String, VMap), VMap] = {
      var reason: String = null // the first field's wins
      def fail(r: String): Value = { if (reason == null) reason = r; VNone }
      val value = VMap(fs.indices.collect {
        case i if m.contains(fs(i).name) || !fs(i).absentOptional =>
          val f = fs(i)
          f.name -> (m.getOrElse(f.name, null) match {
            // a nil for a required field is as invalid as a missing key
            case null if required(i) =>
              fail(s"${if (m.contains(f.name)) "null" else "missing"}:${f.name}")
            case v => try readers(i)(v) catch { case e: MsgpackError => fail(e.msg) }
          })
      }.toVector)(absentOk)
      if (reason == null) Right(value) else Left(reason -> value)
    }

    /** The same row's cells as a DLQ line prints them (`Row.mkString`),
      * built with no Spark type. */
    def cells(v: Value): String =
      UdScript.rowCells(v.asInstanceOf[VMap], declared).mkString("\t")
  }

  /** Read a directory (or file) of msgpack record streams under a declared
    * uDLang record type, with the ValidatedIngest modes. */
  def read(s: SparkSession, path: String, declared: TRecord,
           mode: ValidatedIngest.Mode): ValidatedIngest.Validated =
    ingest(s.read.format("binaryFile").load(path).select("content")
      .as[Array[Byte]](Encoders.BINARY), declared, mode)

  /** Decode each record stream of `streams` (a file's bytes, or one
    * socket frame) in one `mapPartitions`, encode each record's value with
    * `UdScript.valueToRow` into the input frame plus `_invalid_reason`,
    * and route by mode. An invalid record's row keeps the fields it did
    * decode. */
  def ingest(streams: Dataset[Array[Byte]], declared: TRecord,
             mode: ValidatedIngest.Mode): ValidatedIngest.Validated = {
    val tagged = UdScript.inputFrame(declared).add("_invalid_reason", StringType)
    val rows = streams.mapPartitions { it =>
      val decoder = new Decoder(declared)
      it.flatMap(decoder.records).map {
        case Right(v) => UdScript.valueToRow(v, declared, tagged)
        case Left((reason, v)) => new GenericRowWithSchema(
          (UdScript.valueToRow(v, declared, tagged).toSeq.init :+ reason).toArray, tagged)
      }
    }(Encoders.row(tagged))
    ValidatedIngest.routeTagged(rows.toDF(), mode)
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
