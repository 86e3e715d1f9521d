package graft.avro

import java.io.ByteArrayOutputStream

import org.apache.avro.{LogicalTypes, Schema, SystemLimitException}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{DataFrame, Encoders, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, RebaseDateTime}
import org.apache.spark.sql.functions.{col, length, octet_length, struct, to_json, udf, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Avro <-> Spark codec built directly on avro-java (the same library
  * family the reference uses through libserdes;
  * `src/KafkaConsumerCallback.cpp:70-116`).
  *
  * Decoding is one Catalyst generator, [[DecodeFrames]], that writes
  * every field as a Catalyst value (`UTF8String` from the `Utf8` bytes,
  * micros, days, `Decimal`, `ArrayData`, `MapData`, `InternalRow`), so a
  * record costs the avro read plus one copy into the `UnsafeRow`, with no
  * external `Row`, `java.lang.String` or encoder in between, on batch and
  * streaming plans alike. `encode` runs in `mapPartitions` over external
  * `Row`s.
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
  private[avro] lazy val lengthLimits: Unit = {
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

  /** avro-java datum -> Catalyst value for one field: strings as
    * `UTF8String` straight from the `Utf8` bytes, timestamps as micros,
    * dates as days, decimals as `Decimal`, containers as `ArrayData`,
    * `MapData` and `InternalRow`. Every value is a copy: the resolving
    * reader reuses the record, its containers and its buffers from one
    * frame to the next. */
  private[avro] def catalystConv(s0: Schema): AnyRef => Any = {
    val s = unwrapUnion(s0)
    def bytes(bb: java.nio.ByteBuffer): Array[Byte] = {
      val arr = new Array[Byte](bb.remaining())
      bb.duplicate().get(arr)
      arr
    }
    val conv: AnyRef => Any = s.getLogicalType match {
      case d: LogicalTypes.Decimal =>
        v => {
          val unscaled = v match { case bb: java.nio.ByteBuffer => bytes(bb); case fx: GenericFixed => fx.bytes() }
          Decimal(new java.math.BigDecimal(new java.math.BigInteger(unscaled), d.getScale),
            d.getPrecision, d.getScale)
        }
      // the micros a `java.sql.Timestamp` of the same instant encodes to,
      // as `encode`'s inverse: Spark rebases a Timestamp before 1582 from
      // the hybrid Julian calendar
      case _: LogicalTypes.TimestampMicros =>
        us => RebaseDateTime.rebaseJulianToGregorianMicros(us.asInstanceOf[java.lang.Long].longValue())
      case _: LogicalTypes.TimestampMillis =>
        ms => RebaseDateTime.rebaseJulianToGregorianMicros(
          Math.multiplyExact(ms.asInstanceOf[java.lang.Long].longValue(), 1000L))
      case _ => s.getType match {
        case Schema.Type.ARRAY =>
          val elem = catalystConv(s.getElementType)
          v => new GenericArrayData(
            v.asInstanceOf[java.util.Collection[AnyRef]].iterator().asScala.map(elem).toArray)
        case Schema.Type.MAP =>
          val value = catalystConv(s.getValueType)
          v => ArrayBasedMapData(v.asInstanceOf[java.util.Map[AnyRef, AnyRef]],
            k => string(k.asInstanceOf[AnyRef]), x => value(x.asInstanceOf[AnyRef]))
        case Schema.Type.RECORD =>
          val convs = s.getFields.asScala.map(f => catalystConv(f.schema())).toArray
          v => new GenericInternalRow(
            Array.tabulate[Any](convs.length)(i => convs(i)(v.asInstanceOf[GenericRecord].get(i))))
        case Schema.Type.STRING | Schema.Type.ENUM => string
        case Schema.Type.BYTES => v => bytes(v.asInstanceOf[java.nio.ByteBuffer])
        case Schema.Type.FIXED => v => v.asInstanceOf[GenericFixed].bytes().clone()
        // int, long, float, double, boolean and date days are Catalyst's own
        case _ => identity
      }
    }
    v => if (v == null) null else conv(v)
  }

  /** A string, enum symbol or map key as a `UTF8String` that owns its
    * bytes. */
  private def string(v: AnyRef): UTF8String = v match {
    case u: Utf8 => UTF8String.fromBytes(java.util.Arrays.copyOf(u.getBytes, u.getByteLength))
    case other => UTF8String.fromString(other.toString)
  }

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
             passthrough: Seq[String] = Nil): DataFrame =
    decodeFrames(df, valueCol, None, schemaJson, passthrough)

  /** Schema-evolution decode: each CP1 frame's id selects its WRITER
    * schema from `writerSchemas` (a registry snapshot — driver-fetched,
    * shipped with the plan, never a per-record network call), and all
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
    decodeFrames(df, valueCol, Some(writerSchemas), readerSchemaJson, passthrough)

  /** The passthrough columns, then one [[DecodeFrames]] generator over
    * `valueCol`: the plan's one decode operator, for [[decode]],
    * [[decodeMulti]] and [[decodeToJson]], batch and streaming alike. */
  private def decodeFrames(df: DataFrame, valueCol: String,
                           writerSchemas: Option[Map[Int, String]], readerSchemaJson: String,
                           passthrough: Seq[String]): DataFrame = {
    val output = df.queryExecution.analyzed.output
    def column(name: String) = GraftSqlBridge.column(output(df.schema.fieldIndex(name)))
    val decoded = DecodeFrames(
      GraftSqlBridge.expression(column(valueCol)), readerSchemaJson, writerSchemas)
    df.select(passthrough.map(column) :+ GraftSqlBridge.column(decoded): _*)
  }

  /** The field types [[decodeToJson]] writes. */
  private val JsonTypes: Set[Schema.Type] = Set(Schema.Type.STRING, Schema.Type.INT,
    Schema.Type.LONG, Schema.Type.FLOAT, Schema.Type.DOUBLE, Schema.Type.BOOLEAN,
    Schema.Type.ENUM)

  /** `to_json` writes a character beyond the BMP raw; avro's jsonEncoder
    * (Jackson's UTF-8 generator) escapes each of its two surrogates, as
    * `\uD83D\uDE00`. */
  private val escapeSurrogates = udf { (json: String) =>
    val sb = new java.lang.StringBuilder(json.length + 16)
    json.foreach(c => if (Character.isSurrogate(c)) sb.append(f"\\u${c.toInt}%04X") else sb.append(c))
    sb.toString
  }

  /** Avro binary -> canonical Avro JSON (mirror of `avro2json`,
    * `src/KafkaConsumerCallback.cpp:42-68`): the [[decode]] kernel, then
    * Spark's `to_json` over the record's fields. Output: the passthrough
    * columns + `json` + `err`, with `json` null exactly where `err` names
    * the frame's failure class.
    *
    * `to_json` writes the bytes avro's `jsonEncoder` writes only for
    * non-nullable string, int, long, float, double, boolean and enum
    * fields, so any other field is refused on the driver, by name, before
    * a job runs: avro wraps a union's value in a `{"type": value}`
    * object, writes bytes and fixed as ISO-8859-1 strings, a logical type
    * as its underlying primitive, and a container as its own JSON.
    */
  def decodeToJson(df: DataFrame, valueCol: String, schemaJson: String,
                   passthrough: Seq[String] = Nil): DataFrame = {
    val schema = new Schema.Parser().parse(schemaJson)
    require(schema.getType == Schema.Type.RECORD, s"not a record schema: $schemaJson")
    val fields = schema.getFields.asScala.map { f =>
      require(f.schema().getLogicalType == null && JsonTypes(f.schema().getType),
        s"decodeToJson cannot write field '${f.name()}' (${f.schema()}) as avro's JSON; " +
          s"its fields must be one of ${JsonTypes.map(_.getName).toSeq.sorted.mkString(", ")}")
      // avro's jsonEncoder writes a float as the double `f + 0d`
      // (0.1f as 0.10000000149011612, -0.0f as 0.0)
      if (f.schema().getType == Schema.Type.FLOAT) (col(f.name()).cast(DoubleType) + 0.0).as(f.name())
      else col(f.name())
    }.toSeq
    val json = col("json")
    decode(df, valueCol, schemaJson, passthrough)
      .select(passthrough.map(col) :+
        when(col("err").isNull, to_json(struct(fields: _*))).as("json") :+ col("err"): _*)
      // only a row with a non-ASCII character can hold a surrogate pair
      .withColumn("json",
        when(octet_length(json) =!= length(json), escapeSurrogates(json)).otherwise(json))
  }
}

/** The decode kernel as a Catalyst generator: one output row per frame,
  * evaluated once per input row by `GenerateExec` on batch and streaming
  * plans alike, with no planner strategy or session extension. Each
  * task's copy reads with one resolving reader per distinct writer schema
  * (built on first use) and reuses its decoder and record across rows.
  * `writerSchemas` None reads every id with the reader schema. */
private[avro] final case class DecodeFrames(child: Expression, readerSchemaJson: String,
                                            writerSchemas: Option[Map[Int, String]])
    extends UnaryExpression with Generator with CodegenFallback with ExpectsInputTypes {

  /** The reader schema's fields, all nullable, then `err`. */
  override lazy val elementSchema: StructType =
    StructType(AvroCodec.toStructType(readerSchemaJson).fields.map(_.copy(nullable = true)) :+
      StructField("err", StringType, nullable = true))
  override def inputTypes = Seq(BinaryType)
  override def prettyName: String = "decode_frames"
  // each task's copy keeps its readers, decoder and record across rows
  override def stateful: Boolean = true

  @transient private lazy val readerSchema = {
    AvroCodec.lengthLimits
    new Schema.Parser().parse(readerSchemaJson)
  }
  @transient private lazy val convs =
    readerSchema.getFields.asScala.map(f => AvroCodec.catalystConv(f.schema())).toArray
  @transient private lazy val readers =
    scala.collection.mutable.Map.empty[String, GenericDatumReader[GenericRecord]]
  @transient private var decoder: BinaryDecoder = _
  @transient private var rec: GenericRecord = _

  /** The frame's row: its fields and a null `err`, or null fields and the
    * failure's class. The row owns every value in it. */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val values = new Array[Any](convs.length + 1)
    val err = ConfluentFraming.unframe(child.eval(input).asInstanceOf[Array[Byte]]) match {
      case ConfluentFraming.Framed(id, b, off, len) =>
        writerSchemas.fold(Option(readerSchemaJson))(_.get(id)) match {
          case None => s"unknown_schema_id:$id"
          case Some(writerJson) =>
            try {
              val reader = readers.getOrElseUpdate(writerJson,
                new GenericDatumReader[GenericRecord](new Schema.Parser().parse(writerJson), readerSchema))
              decoder = DecoderFactory.get().binaryDecoder(b, off, len, decoder)
              rec = reader.read(rec, decoder)
              var i = 0
              while (i < convs.length) { values(i) = convs(i)(rec.get(i)); i += 1 }
              null
            } catch {
              case e: Exception => s"decode_error:${e.getClass.getSimpleName}"
            }
        }
      case ConfluentFraming.BadMagic => "bad_magic"
      case ConfluentFraming.Truncated => "truncated"
    }
    if (err == null) Iterator.single(new GenericInternalRow(values))
    else {
      val failed = new Array[Any](convs.length + 1)
      failed(convs.length) = UTF8String.fromString(err)
      Iterator.single(new GenericInternalRow(failed))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeFrames =
    copy(child = newChild)
}
