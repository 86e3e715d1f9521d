package graft.avro

import java.io.ByteArrayOutputStream

import org.apache.avro.{Schema, SystemLimitException}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro <-> Spark codec built directly on avro-java (the same library
  * family the reference uses through libserdes;
  * `src/KafkaConsumerCallback.cpp:70-116`).
  *
  * Spark-side shape: encode/decode run in `mapPartitions` with ONE
  * reader/writer + reused decoder/encoder/record per partition — the
  * per-record cost is pure (de)serialization, no allocation churn, and
  * the operation is embarrassingly parallel across a 1000-executor
  * cluster. mapPartitions (not a per-row UDF) is deliberate: an opaque
  * binary codec can't be expressed as a Catalyst expression tree, and
  * partition-level reuse is the fastest JVM shape for it.
  */
object AvroCodec {

  /** Most bytes a decoded string or bytes field, and most items an array
    * or map, may claim. avro sizes each buffer from the length prefix
    * BEFORE it reads the body, so a hostile ~2 GB prefix behind a valid
    * CP1 header would allocate 2 GB and kill the executor with an
    * OutOfMemoryError instead of counting a `decode_error`. A frame
    * cannot hold a field longer than itself, and a Kafka record is at
    * most the broker's `message.max.bytes` (1 MiB by default), so 8 MiB
    * rejects no record a default-configured topic can carry, leaves 8×
    * headroom for raised broker limits, and bounds what one hostile
    * frame allocates before it fails. */
  private[avro] val MaxFieldLength: Int = 8 << 20

  /** Applies [[MaxFieldLength]] through avro's own length checks, which
    * then throw `SystemLimitException` (counted as
    * `decode_error:SystemLimitException`). avro reads the limits once per
    * JVM, when `SystemLimitException` initializes, so this runs before a
    * partition builds its first reader — on executors and in sessions
    * that never touch `GraftSession` alike — and makes avro re-read them
    * if an earlier avro use in the JVM (an encoder's Utf8 checks its
    * length too) initialized them first. */
  private lazy val lengthLimits: Unit = {
    Seq(SystemLimitException.MAX_STRING_LENGTH_PROPERTY,
      SystemLimitException.MAX_BYTES_LENGTH_PROPERTY,
      SystemLimitException.MAX_COLLECTION_LENGTH_PROPERTY)
      .foreach(System.setProperty(_, MaxFieldLength.toString))
    def limited = try { SystemLimitException.checkMaxStringLength(MaxFieldLength + 1L); false }
      catch { case _: SystemLimitException => true }
    if (!limited) {
      val reset = classOf[SystemLimitException].getDeclaredMethod("resetLimits")
      reset.setAccessible(true)
      reset.invoke(null)
    }
    require(limited, s"avro did not apply the $MaxFieldLength-byte length limit")
  }

  /** Avro record schema -> Spark StructType (types the reference's
    * `assemble_schema` emits + nullable unions + boolean/bytes). */
  def toStructType(schemaJson: String): StructType = {
    val schema = new Schema.Parser().parse(schemaJson)
    require(schema.getType == Schema.Type.RECORD, s"not a record schema: $schemaJson")
    StructType(schema.getFields.asScala.map { f =>
      val (dt, nullable) = fieldType(f.schema())
      StructField(f.name(), dt, nullable)
    }.toArray)
  }

  private def fieldType(s: Schema): (DataType, Boolean) = s.getLogicalType match {
    // logical types (decimal / timestamp-micros / timestamp-millis /
    // date) — what any real Avro pipeline hits immediately; the
    // annotation rides the underlying primitive, so evolution and the
    // resolving reader work unchanged
    case d: org.apache.avro.LogicalTypes.Decimal
        if s.getType == Schema.Type.BYTES || s.getType == Schema.Type.FIXED =>
      require(d.getPrecision <= DecimalType.MAX_PRECISION,
        s"decimal precision ${d.getPrecision} exceeds Spark's ${DecimalType.MAX_PRECISION}")
      (DecimalType(d.getPrecision, d.getScale), false)
    case _: org.apache.avro.LogicalTypes.TimestampMicros => (TimestampType, false)
    case _: org.apache.avro.LogicalTypes.TimestampMillis => (TimestampType, false)
    case _: org.apache.avro.LogicalTypes.Date => (DateType, false)
    case _ => s.getType match {
      case Schema.Type.STRING => (StringType, false)
      case Schema.Type.INT => (IntegerType, false)
      case Schema.Type.LONG => (LongType, false)
      case Schema.Type.FLOAT => (FloatType, false)
      case Schema.Type.DOUBLE => (DoubleType, false)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.BYTES => (BinaryType, false)
      case Schema.Type.UNION =>
        val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1, s"unsupported union: $s")
        (fieldType(nonNull.head)._1, true)
      // complex types: enums surface as strings (symbol name), plain
      // fixed as binary, arrays/maps/records recurse — container
      // nullability comes from a nullable-union element/value type
      case Schema.Type.ENUM => (StringType, false)
      case Schema.Type.FIXED => (BinaryType, false)
      case Schema.Type.ARRAY =>
        val (et, en) = fieldType(s.getElementType)
        (ArrayType(et, containsNull = en), false)
      case Schema.Type.MAP =>
        val (vt, vn) = fieldType(s.getValueType)
        (MapType(StringType, vt, valueContainsNull = vn), false)
      case Schema.Type.RECORD =>
        (StructType(s.getFields.asScala.map { f =>
          val (dt, n) = fieldType(f.schema())
          StructField(f.name(), dt, n)
        }.toArray), false)
      case other => throw new IllegalArgumentException(s"unsupported avro type: $other")
    }
  }

  private def unwrapUnion(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  /** avro-java datum -> Spark Row external value for one field. The
    * default arm is the historical behavior (Utf8 -> String, ByteBuffer
    * -> copied Array[Byte]); logical types convert via their annotation.
    */
  private def fromAvroConv(s0: Schema): Any => Any = {
    val s = unwrapUnion(s0)
    s.getLogicalType match {
      case d: org.apache.avro.LogicalTypes.Decimal =>
        val scale = d.getScale;
        {
          case null => null
          case bb: java.nio.ByteBuffer =>
            val arr = new Array[Byte](bb.remaining())
            bb.duplicate().get(arr)
            new java.math.BigDecimal(new java.math.BigInteger(arr), scale)
          case fx: org.apache.avro.generic.GenericFixed =>
            new java.math.BigDecimal(new java.math.BigInteger(fx.bytes()), scale)
          case v => v
        }
      case _: org.apache.avro.LogicalTypes.TimestampMicros => {
        case null => null
        case us: java.lang.Long =>
          val ts = new java.sql.Timestamp(Math.floorDiv(us.longValue(), 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(us.longValue(), 1000000L) * 1000L).toInt)
          ts
        case v => v
      }
      case _: org.apache.avro.LogicalTypes.TimestampMillis => {
        case null => null
        case ms: java.lang.Long => new java.sql.Timestamp(ms.longValue())
        case v => v
      }
      case _: org.apache.avro.LogicalTypes.Date => {
        case null => null
        case days: java.lang.Integer =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.longValue()))
        case v => v
      }
      case _ => s.getType match {
        // complex types build fresh Scala collections per row — the
        // avro record and every container inside it are REUSED across
        // rows by the resolving reader, so sharing structure would
        // corrupt earlier rows
        case Schema.Type.ARRAY =>
          val elemConv = fromAvroConv(s.getElementType);
          {
            case null => null
            case c: java.util.Collection[_] => c.asScala.iterator.map(elemConv).toSeq
            case v => v
          }
        case Schema.Type.MAP =>
          val valConv = fromAvroConv(s.getValueType);
          {
            case null => null
            case m: java.util.Map[_, _] =>
              m.asScala.iterator.map { case (k, v) => (k.toString, valConv(v)) }.toMap
            case v => v
          }
        case Schema.Type.RECORD =>
          val convs = s.getFields.asScala.map(f => fromAvroConv(f.schema())).toArray;
          {
            case null => null
            case r: GenericRecord =>
              Row.fromSeq((0 until convs.length).map(i => convs(i)(r.get(i))))
            case v => v
          }
        case _ => {
          case u: Utf8 => u.toString
          case e: org.apache.avro.generic.GenericEnumSymbol[_] => e.toString
          case fx: org.apache.avro.generic.GenericFixed => fx.bytes().clone()
          case bb: java.nio.ByteBuffer =>
            // avro-java returns ByteBuffer for BYTES; Spark needs
            // Array[Byte] for BinaryType (copy — the record and its
            // buffers are reused across rows)
            val arr = new Array[Byte](bb.remaining())
            bb.duplicate().get(arr)
            arr
          case v => v
        }
      }
    }
  }

  private def fromAvroConvs(schema: Schema): Array[Any => Any] =
    schema.getFields.asScala.map(f => fromAvroConv(f.schema())).toArray

  /** Spark Row external value -> avro-java datum for one field. A
    * decimal that needs rounding to reach the schema scale throws
    * (ArithmeticException) — silent precision loss on the encode path
    * would corrupt money. */
  private def toAvroConv(s0: Schema): Any => Any = {
    val s = unwrapUnion(s0)
    s.getLogicalType match {
      case d: org.apache.avro.LogicalTypes.Decimal =>
        val scale = d.getScale;
        {
          case null => null
          case dec: java.math.BigDecimal =>
            val scaled = dec.setScale(scale)
            val bytes = scaled.unscaledValue().toByteArray
            if (s.getType == Schema.Type.FIXED) {
              val size = s.getFixedSize
              require(bytes.length <= size, s"decimal overflows fixed($size)")
              val out = new Array[Byte](size)
              if (scaled.signum() < 0) java.util.Arrays.fill(out, -1: Byte)
              System.arraycopy(bytes, 0, out, size - bytes.length, bytes.length)
              new GenericData.Fixed(s, out)
            } else java.nio.ByteBuffer.wrap(bytes)
          case v => v
        }
      case _: org.apache.avro.LogicalTypes.TimestampMicros => {
        case null => null
        case t: java.sql.Timestamp =>
          java.lang.Long.valueOf(
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
        case v => v
      }
      case _: org.apache.avro.LogicalTypes.TimestampMillis => {
        case null => null
        case t: java.sql.Timestamp => java.lang.Long.valueOf(t.getTime)
        case v => v
      }
      case _: org.apache.avro.LogicalTypes.Date => {
        case null => null
        case dt: java.sql.Date =>
          java.lang.Integer.valueOf(dt.toLocalDate.toEpochDay.toInt)
        case v => v
      }
      case _ => s.getType match {
        case Schema.Type.ENUM => {
          case null => null
          case str: String => new GenericData.EnumSymbol(s, str)
          case v => v
        }
        case Schema.Type.FIXED => {
          case null => null
          case a: Array[Byte] =>
            require(a.length == s.getFixedSize,
              s"fixed(${s.getFixedSize}) got ${a.length} bytes")
            new GenericData.Fixed(s, a)
          case v => v
        }
        case Schema.Type.ARRAY =>
          val elemConv = toAvroConv(s.getElementType);
          {
            case null => null
            case seq: scala.collection.Seq[_] => seq.map(elemConv).asJava
            case v => v
          }
        case Schema.Type.MAP =>
          val valConv = toAvroConv(s.getValueType);
          {
            case null => null
            case m: scala.collection.Map[_, _] =>
              m.map { case (k, v) => (k.toString, valConv(v)) }.toMap.asJava
            case v => v
          }
        case Schema.Type.RECORD =>
          val fieldConvs = s.getFields.asScala.map(f => toAvroConv(f.schema())).toArray;
          {
            case null => null
            case r: Row =>
              val rec = new GenericData.Record(s)
              var i = 0
              while (i < fieldConvs.length) { rec.put(i, fieldConvs(i)(r.get(i))); i += 1 }
              rec
            case v => v
          }
        case _ => {
          // avro-java represents BYTES as ByteBuffer; Spark rows carry Array[Byte]
          case a: Array[Byte] => java.nio.ByteBuffer.wrap(a)
          case v => v
        }
      }
    }
  }

  /** Build the Avro record schema JSON for (name, avroType) fields —
    * the mirror of the reference's config-driven `assemble_schema`
    * (`src/config/ConfigParser.cpp:137-166`). */
  def recordSchemaJson(name: String, fields: Seq[(String, String)]): String = {
    // a type starting with '{' or '[' is raw schema JSON (logical-type
    // annotations, unions); a bare word is a primitive name
    val fs = fields.map { case (n, t) =>
      val tj = if (t.startsWith("{") || t.startsWith("[")) t else s""""$t""""
      s"""{"name":"$n","type":$tj}"""
    }.mkString(",")
    s"""{"type":"record","name":"$name","fields":[$fs]}"""
  }

  /** Encode selected columns of `df` into CP1-framed Confluent Avro
    * binary. Output schema: the passthrough columns + `value BINARY`.
    */
  def encode(df: DataFrame, schemaJson: String, schemaId: Int,
             passthrough: Seq[String] = Nil): DataFrame = {
    val avroFields = toStructType(schemaJson).fields.map(_.name).toSeq
    val inSchema = df.schema
    val fieldIdx = avroFields.map(inSchema.fieldIndex)
    val passIdx = passthrough.map(inSchema.fieldIndex)
    val outSchema = StructType(
      passthrough.map(inSchema(_)) :+ StructField("value", BinaryType, nullable = false))
    df.mapPartitions { iter =>
      val schema = new Schema.Parser().parse(schemaJson)
      val writer = new GenericDatumWriter[GenericRecord](schema)
      val convs = schema.getFields.asScala.map(f => toAvroConv(f.schema())).toArray
      val out = new ByteArrayOutputStream(256)
      var encoder: BinaryEncoder = null
      val rec = new GenericData.Record(schema)
      iter.map { row =>
        out.reset()
        encoder = EncoderFactory.get().binaryEncoder(out, encoder)
        var i = 0
        while (i < fieldIdx.length) {
          rec.put(i, convs(i)(row.get(fieldIdx(i))))
          i += 1
        }
        writer.write(rec, encoder)
        encoder.flush()
        val framed = ConfluentFraming.frame(schemaId, out.toByteArray)
        Row.fromSeq(passIdx.map(row.get) :+ framed)
      }
    }(Encoders.row(outSchema))
  }

  /** Decode a CP1-framed binary column into typed columns + an `err`
    * column (`null` on success; the reference counts these failures,
    * `src/main.cpp:247-251`). Passthrough columns are preserved.
    * Single-schema topic: every frame id is read with `schemaJson`, so
    * this path never emits `unknown_schema_id`.
    */
  def decode(df: DataFrame, valueCol: String, schemaJson: String,
             passthrough: Seq[String] = Nil): DataFrame = {
    val writer = Some(schemaJson)
    decodeFrames(df, valueCol, _ => writer, schemaJson, passthrough)
  }

  /** Schema-evolution decode: each CP1 frame's id selects its WRITER
    * schema from `writerSchemas` (a registry snapshot — driver-fetched,
    * shipped with the closure, never a per-record network call), and all
    * records are resolved to the single `readerSchemaJson` via standard
    * Avro schema resolution: reader-added fields fill from defaults,
    * reader-dropped fields are skipped. Output schema is the READER's.
    * Frames with an id the snapshot doesn't know decode to
    * `err = unknown_schema_id:<id>` — the same per-error-class counting
    * discipline as the reference's consume loop.
    */
  def decodeMulti(df: DataFrame, valueCol: String,
                  writerSchemas: Map[Int, String], readerSchemaJson: String,
                  passthrough: Seq[String] = Nil): DataFrame =
    decodeFrames(df, valueCol, writerSchemas.get, readerSchemaJson, passthrough)

  /** The one per-partition decode kernel behind [[decode]] and
    * [[decodeMulti]]: `writerFor` maps a frame's schema id to its writer
    * schema JSON (None = `unknown_schema_id`). */
  private def decodeFrames(df: DataFrame, valueCol: String,
                           writerFor: Int => Option[String], readerSchemaJson: String,
                           passthrough: Seq[String]): DataFrame = {
    val structType = toStructType(readerSchemaJson)
    val inSchema = df.schema
    val valIdx = inSchema.fieldIndex(valueCol)
    val passIdx = passthrough.map(inSchema.fieldIndex)
    val outSchema = StructType(
      passthrough.map(inSchema(_)) ++
        structType.fields.map(_.copy(nullable = true)) :+
        StructField("err", StringType, nullable = true))
    val nFields = structType.fields.length
    df.mapPartitions { iter =>
      lengthLimits
      val readerSchema = new Schema.Parser().parse(readerSchemaJson)
      val convs = fromAvroConvs(readerSchema)
      // one resolving reader per distinct writer schema, built lazily
      // per partition
      val readers = scala.collection.mutable.Map.empty[String, GenericDatumReader[GenericRecord]]
      var decoder: BinaryDecoder = null
      var rec: GenericRecord = null
      iter.map { row =>
        val pass = passIdx.map(row.get)
        val bytes = row.getAs[Array[Byte]](valIdx)
        ConfluentFraming.unframe(bytes) match {
          case ConfluentFraming.Framed(id, b, off, len) =>
            writerFor(id) match {
              case None =>
                Row.fromSeq(pass ++ Seq.fill[Any](nFields)(null) :+ s"unknown_schema_id:$id")
              case Some(writerJson) =>
                try {
                  val reader = readers.getOrElseUpdate(writerJson,
                    new GenericDatumReader[GenericRecord](
                      new Schema.Parser().parse(writerJson), readerSchema))
                  decoder = DecoderFactory.get().binaryDecoder(b, off, len, decoder)
                  rec = reader.read(rec, decoder)
                  val vals = (0 until nFields).map(i => convs(i)(rec.get(i)))
                  Row.fromSeq(pass ++ vals :+ null)
                } catch {
                  case e: Exception =>
                    Row.fromSeq(pass ++ Seq.fill[Any](nFields)(null) :+ s"decode_error:${e.getClass.getSimpleName}")
                }
            }
          case ConfluentFraming.BadMagic =>
            Row.fromSeq(pass ++ Seq.fill[Any](nFields)(null) :+ "bad_magic")
          case ConfluentFraming.Truncated =>
            Row.fromSeq(pass ++ Seq.fill[Any](nFields)(null) :+ "truncated")
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Avro binary -> canonical Avro JSON (mirror of `avro2json`,
    * `src/KafkaConsumerCallback.cpp:42-68`), emitted as a `json` string
    * column next to the decoded fields.
    *
    * Hot-path note: avro-java's `jsonEncoder` regenerates the full JSON
    * grammar on EVERY construction and cannot be re-targeted at a new
    * stream, so the generic path pays that per row. For flat records of
    * string/int/long/boolean fields (the reference's SPO shape) we emit
    * the identical canonical JSON from a reused StringBuilder with
    * Jackson-equivalent string escaping — same bytes, none of the
    * per-row grammar work.
    */
  def decodeToJson(df: DataFrame, valueCol: String, schemaJson: String,
                   passthrough: Seq[String] = Nil): DataFrame = {
    val inSchema = df.schema
    val valIdx = inSchema.fieldIndex(valueCol)
    val passIdx = passthrough.map(inSchema.fieldIndex)
    val outSchema = StructType(
      passthrough.map(inSchema(_)) :+ StructField("json", StringType, nullable = true))
    val parsed = new Schema.Parser().parse(schemaJson)
    val fastPath = parsed.getType == Schema.Type.RECORD &&
      parsed.getFields.asScala.forall { f =>
        f.schema().getType match {
          case Schema.Type.STRING | Schema.Type.INT | Schema.Type.LONG |
               Schema.Type.BOOLEAN => true
          case _ => false
        }
      }
    df.mapPartitions { iter =>
      lengthLimits
      val schema = new Schema.Parser().parse(schemaJson)
      val reader = new GenericDatumReader[GenericRecord](schema)
      val writer = new GenericDatumWriter[GenericRecord](schema)
      val fieldNames = schema.getFields.asScala.map(_.name()).toArray
      val isString = schema.getFields.asScala
        .map(_.schema().getType == Schema.Type.STRING).toArray
      var decoder: BinaryDecoder = null
      var rec: GenericRecord = null
      val sb = new java.lang.StringBuilder(256)
      iter.map { row =>
        val pass = passIdx.map(row.get)
        val bytes = row.getAs[Array[Byte]](valIdx)
        ConfluentFraming.unframe(bytes) match {
          case ConfluentFraming.Framed(_, b, off, len) =>
            try {
              decoder = DecoderFactory.get().binaryDecoder(b, off, len, decoder)
              rec = reader.read(rec, decoder)
              val json =
                if (fastPath) {
                  sb.setLength(0)
                  sb.append('{')
                  var i = 0
                  while (i < fieldNames.length) {
                    if (i > 0) sb.append(',')
                    sb.append('"').append(fieldNames(i)).append("\":")
                    if (isString(i)) appendJsonString(sb, rec.get(i).toString)
                    else sb.append(rec.get(i))
                    i += 1
                  }
                  sb.append('}')
                  sb.toString
                } else {
                  val out = new ByteArrayOutputStream(256)
                  val jsonEnc = EncoderFactory.get().jsonEncoder(schema, out)
                  writer.write(rec, jsonEnc)
                  jsonEnc.flush()
                  out.toString("UTF-8")
                }
              Row.fromSeq(pass :+ json)
            } catch {
              case _: Exception => Row.fromSeq(pass :+ null)
            }
          case _ => Row.fromSeq(pass :+ null)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Append `s` as a JSON string literal with Jackson-default escaping
    * (what avro's jsonEncoder emits): `"`, `\`, and control chars; the
    * common controls as short escapes, the rest as `\u00XX`. */
  private def appendJsonString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
