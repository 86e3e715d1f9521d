package graft.avro

import java.io.ByteArrayOutputStream

import graft.SparkFixture
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class AvroCodecSpec extends AnyFunSuite with SparkFixture {

  test("CP1 framing roundtrips and classifies errors") {
    val body = Array[Byte](1, 2, 3, 4, 5)
    val framed = ConfluentFraming.frame(123456, body)
    assert(framed.length == body.length + 5)
    ConfluentFraming.unframe(framed) match {
      case ConfluentFraming.Framed(id, b, off, len) =>
        assert(id == 123456)
        assert(java.util.Arrays.copyOfRange(b, off, off + len).sameElements(body))
      case other => fail(s"expected Framed, got $other")
    }
    framed(0) = 1
    assert(ConfluentFraming.unframe(framed) == ConfluentFraming.BadMagic)
    assert(ConfluentFraming.unframe(Array[Byte](0, 1)) == ConfluentFraming.Truncated)
    assert(ConfluentFraming.unframe(null) == ConfluentFraming.Truncated)
  }

  test("schema registry follows {topic}-value subject semantics") {
    val r = new SchemaRegistry
    val id = r.register("spo-value", AvroQueries.SpoSchemaJson)
    assert(r.register("spo-value", AvroQueries.SpoSchemaJson) == id) // idempotent
    assert(r.fetchValueSchema("spo").contains((id, AvroQueries.SpoSchemaJson)))
    assert(r.fetchValueSchema("nope").isEmpty)
    assert(r.fetchById(id).contains(AvroQueries.SpoSchemaJson))
  }

  test("schema registry versions subjects; latest wins for the topic") {
    val r = new SchemaRegistry
    val v1 = r.register("events-value", AvroQueries.EventsSchemaJson)
    val v2 = r.register("events-value", AvroQueries.EventsSchemaV2Json)
    assert(v2 != v1)
    assert(r.fetchValueSchema("events").contains((v2, AvroQueries.EventsSchemaV2Json)))
    assert(r.fetchById(v1).contains(AvroQueries.EventsSchemaJson))
    assert(r.snapshot == Map(v1 -> AvroQueries.EventsSchemaJson, v2 -> AvroQueries.EventsSchemaV2Json))
  }

  test("logical types roundtrip: decimal scale/sign, epoch dates, micros timestamps") {
    val schemaJson = AvroCodec.recordSchemaJson("lt", Seq(
      "id" -> "long",
      "d" -> """{"type":"int","logicalType":"date"}""",
      "t" -> """{"type":"long","logicalType":"timestamp-micros"}""",
      "m" -> """{"type":"bytes","logicalType":"decimal","precision":18,"scale":4}"""))
    assert(AvroCodec.toStructType(schemaJson) == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", DateType, nullable = false),
      StructField("t", TimestampType, nullable = false),
      StructField("m", DecimalType(18, 4), nullable = false))))
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val rows = Seq(
      Row(1L, java.sql.Date.valueOf("2024-02-29"), ts(1704067200123456L),
        new java.math.BigDecimal("12345.6789")),
      // negative decimal (two's-complement unscaled bytes) + pre-epoch date
      Row(2L, java.sql.Date.valueOf("1969-12-25"), ts(-42L),
        new java.math.BigDecimal("-0.0001")),
      Row(3L, java.sql.Date.valueOf("1970-01-01"), ts(0L),
        new java.math.BigDecimal("0.0000")))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), AvroCodec.toStructType(schemaJson))
    val back = AvroCodec.decode(
        AvroCodec.encode(df, schemaJson, 7), "value", schemaJson)
      .orderBy("id").collect()
    assert(back.forall(_.getAs[String]("err") == null))
    assert(back.map(r => (r.getLong(0), r.getDate(1).toString,
        r.getTimestamp(2).getTime * 1000 + r.getTimestamp(2).getNanos / 1000 % 1000,
        r.getDecimal(3).toPlainString)).toSeq ==
      rows.map(r => (r.getLong(0), r.getDate(1).toString,
        r.getTimestamp(2).getTime * 1000 + r.getTimestamp(2).getNanos / 1000 % 1000,
        r.getDecimal(3).toPlainString)))
  }

  test("logical-type-adding evolution fills the zero-decimal default") {
    val v1 = AvroQueries.EventsLogicalV1Json
    val v2 = AvroQueries.EventsLogicalV2Json
    val v1Schema = AvroCodec.toStructType(v1)
    val row = Row(5L, java.sql.Date.valueOf("2024-01-02"),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678901"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](Seq(row).asJava), v1Schema)
    val out = AvroCodec.decodeMulti(
      AvroCodec.encode(df, v1, 1), "value", Map(1 -> v1, 2 -> v2), v2).collect()
    assert(out.length == 1 && out.head.getAs[String]("err") == null)
    assert(out.head.getAs[java.math.BigDecimal]("amount").toPlainString == "0.0000")
    assert(out.head.getAs[java.sql.Date]("day").toString == "2024-01-02")
  }

  test("decodeMulti resolves per-frame writer schemas against the reader") {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    val v1Rows = spark.createDataFrame(
      java.util.List.of(Row(2L, 7L, "view", 1.5, "{}")), schema)
    val v2Schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("source", StringType)))
    val v2Rows = spark.createDataFrame(
      java.util.List.of(Row(3L, 8L, "click", 2.5, "src_0")), v2Schema)
    val r = new SchemaRegistry
    val v1Id = r.register("events-value", AvroQueries.EventsSchemaJson)
    val v2Id = r.register("events-value", AvroQueries.EventsSchemaV2Json)
    val enc = AvroCodec.encode(v1Rows, AvroQueries.EventsSchemaJson, v1Id)
      .unionByName(AvroCodec.encode(v2Rows, AvroQueries.EventsSchemaV2Json, v2Id))
    val out = AvroCodec.decodeMulti(enc, "value", r.snapshot, AvroQueries.EventsSchemaV2Json)
      .collect().sortBy(_.getLong(0))
    assert(out.forall(_.getAs[String]("err") == null))
    // v1 message: source filled from the reader default (null), props dropped
    assert(out(0).getLong(0) == 2L && out(0).isNullAt(out(0).fieldIndex("source")))
    assert(out(1).getLong(0) == 3L && out(1).getAs[String]("source") == "src_0")
    assert(!out(0).schema.fieldNames.contains("props"))
    // unknown writer id -> classified error, not an exception
    val errs = AvroCodec.decodeMulti(enc, "value", Map(v1Id -> AvroQueries.EventsSchemaJson),
      AvroQueries.EventsSchemaV2Json)
      .select("err").collect().map(_.getString(0)).toSet
    assert(errs == Set(null, s"unknown_schema_id:$v2Id"))
  }

  test("avro schema -> StructType covers the reference's type menu") {
    val json = AvroCodec.recordSchemaJson("m", Seq(
      "s" -> "string", "i" -> "int", "l" -> "long", "f" -> "float", "d" -> "double"))
    assert(AvroCodec.toStructType(json) == StructType(Seq(
      StructField("s", StringType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("l", LongType, nullable = false),
      StructField("f", FloatType, nullable = false),
      StructField("d", DoubleType, nullable = false))))
  }

  test("encode -> decode roundtrips values exactly (incl. doubles)") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType), StructField("c", DoubleType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, "x", 1.5), Row(2L, "y", math.Pi), Row(3L, "z", -0.0)),
      schema)
    val json = AvroCodec.recordSchemaJson("m", Seq("a" -> "long", "b" -> "string", "c" -> "double"))
    val encoded = AvroCodec.encode(df, json, 7)
    val decoded = AvroCodec.decode(encoded, "value", json).collect().sortBy(_.getLong(0))
    assert(decoded.forall(_.getAs[String]("err") == null))
    assert(decoded.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "x", 1.5), (2L, "y", math.Pi), (3L, "z", -0.0)))
  }

  test("encode -> decode roundtrips bytes fields (ByteBuffer <-> Array[Byte])") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, Array[Byte](0, 1, 2, -1)),
        Row(2L, Array.emptyByteArray),
        Row(3L, Array[Byte](127, -128))),
      schema)
    val json = AvroCodec.recordSchemaJson("m", Seq("id" -> "long", "payload" -> "bytes"))
    val decoded = AvroCodec.decode(AvroCodec.encode(df, json, 9), "value", json)
      .collect().sortBy(_.getLong(0))
    assert(decoded.forall(_.getAs[String]("err") == null))
    assert(decoded.map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload").toSeq)) ===
      Array((1L, Seq[Byte](0, 1, 2, -1)), (2L, Seq.empty[Byte]), (3L, Seq[Byte](127, -128))))
  }

  test("decodeToJson emits canonical Avro JSON") {
    val schema = StructType(Seq(StructField("subject", StringType),
      StructField("predicate", StringType), StructField("object", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row("Don Vito", "Email", "donvito@example.com")), schema)
    val encoded = AvroCodec.encode(df, AvroQueries.SpoSchemaJson, 2)
    val json = AvroCodec.decodeToJson(encoded, "value", AvroQueries.SpoSchemaJson)
      .collect().head.getString(0)
    assert(json == """{"subject":"Don Vito","predicate":"Email","object":"donvito@example.com"}""")
  }

  test("decodeToJson fast path escapes like the avro jsonEncoder") {
    val schema = StructType(Seq(StructField("subject", StringType),
      StructField("predicate", StringType), StructField("object", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row("a\"b\\c", "x\ny\tz", "ctl\u0001end")), schema)
    val encoded = AvroCodec.encode(df, AvroQueries.SpoSchemaJson, 2)
    val json = AvroCodec.decodeToJson(encoded, "value", AvroQueries.SpoSchemaJson)
      .collect().head.getString(0)
    assert(json == "{\"subject\":\"a\\\"b\\\\c\",\"predicate\":\"x\\ny\\tz\",\"object\":\"ctl\\u0001end\"}")
  }

  test("decodeToJson writes exactly avro's jsonEncoder bytes for every accepted field type") {
    import spark.implicits._
    val params = Gen.Parameters.default
    val symbols = Seq("A", "b_2", "Zz")
    val types = Seq("string", "int", "long", "float", "double", "boolean",
      s"""{"type":"enum","name":"E","symbols":[${symbols.map(s => s""""$s"""").mkString(",")}]}""")
    // every char 0x00-0x7F, non-ASCII from Latin-1 to the BMP's end, and
    // surrogate pairs (valid code points only: avro's UTF-8 encoder
    // replaces a lone surrogate)
    val piece: Gen[String] = Gen.frequency(
      6 -> Gen.choose(0, 0x7F).map(_.toChar.toString),
      2 -> Gen.oneOf('\u00e9', '\u00ff', '\u2028', '\u4e2d', '\ufeff', '\uffff').map(_.toString),
      1 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))))
    val str = Gen.choose(0, 12).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    def edge[T](special: Seq[T], any: Gen[T]): Gen[T] =
      Gen.frequency(1 -> Gen.oneOf(special), 1 -> any)
    val floats = edge(Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f,
      0.0f, Float.MinPositiveValue, 1e-40f, java.lang.Float.MIN_NORMAL, Float.MaxValue, 0.1f),
      Arbitrary.arbitrary[Int].map(java.lang.Float.intBitsToFloat))
    val doubles = edge(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
      0.0, Double.MinPositiveValue, 1e-310, java.lang.Double.MIN_NORMAL, Double.MaxValue, 0.1),
      Arbitrary.arbitrary[Long].map(java.lang.Double.longBitsToDouble))
    def value(schema: Schema): Gen[Any] = schema.getType match {
      case Schema.Type.STRING => str
      case Schema.Type.INT => edge(Seq(Int.MinValue, -1, 0, 1, Int.MaxValue), Arbitrary.arbitrary[Int])
      case Schema.Type.LONG => edge(Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue), Arbitrary.arbitrary[Long])
      case Schema.Type.FLOAT => floats
      case Schema.Type.DOUBLE => doubles
      case Schema.Type.BOOLEAN => Arbitrary.arbitrary[Boolean]
      case Schema.Type.ENUM => Gen.oneOf(symbols).map(new GenericData.EnumSymbol(schema, _))
      case other => fail(s"no generator for $other")
    }
    // every type in one record, then records of 1-7 fields in seeded
    // random type order
    val fieldTypes = types +: (1 to 7).map { i =>
      Gen.choose(1, 7).flatMap(Gen.listOfN(_, Gen.oneOf(types)))
        .apply(params, Seed(40L + i)).get
    }
    fieldTypes.zipWithIndex.foreach { case (fts, k) =>
      val schemaJson = AvroCodec.recordSchemaJson(s"r$k", fts.zipWithIndex.map {
        case (t, i) => s"f$i" -> t })
      val schema = new Schema.Parser().parse(schemaJson)
      val binWriter = new GenericDatumWriter[GenericRecord](schema)
      val expected = (0 until 60).map { i =>
        val rec = new GenericData.Record(schema)
        schema.getFields.asScala.foreach(f =>
          rec.put(f.pos(), value(f.schema()).apply(params, Seed(1000L * k + 10L * i + f.pos())).get))
        val bin = new ByteArrayOutputStream()
        val binEnc = EncoderFactory.get().binaryEncoder(bin, null)
        binWriter.write(rec, binEnc)
        binEnc.flush()
        val js = new ByteArrayOutputStream()
        val jsEnc = EncoderFactory.get().jsonEncoder(schema, js)
        binWriter.write(rec, jsEnc)
        jsEnc.flush()
        (i.toLong, ConfluentFraming.frame(k, bin.toByteArray), js.toString("UTF-8"))
      }
      val got = AvroCodec.decodeToJson(expected.map(e => (e._1, e._2)).toDF("row_id", "value"),
          "value", schemaJson, passthrough = Seq("row_id"))
        .collect().map(r => r.getLong(0) -> r.getAs[String]("json")).toMap
      expected.foreach { case (i, _, json) =>
        assert(got(i) == json, s"schema $schemaJson, record $i")
      }
    }
  }

  test("complex types roundtrip: enum, array, map, nested record, fixed, null unions") {
    // array elements and map values are nullable unions — the container
    // conversions must recurse through unwrapUnion on both paths
    val schemaJson =
      """{"type":"record","name":"cx","fields":[
        |{"name":"id","type":"long"},
        |{"name":"e","type":{"type":"enum","name":"E","symbols":["a","b","c"]}},
        |{"name":"arr","type":{"type":"array","items":["null","string"]}},
        |{"name":"m","type":{"type":"map","values":["null","long"]}},
        |{"name":"rec","type":{"type":"record","name":"Inner","fields":[
        |  {"name":"s","type":"string"},{"name":"x","type":"double"}]}},
        |{"name":"fx","type":{"type":"fixed","name":"F4","size":4}}]}""".stripMargin
    assert(AvroCodec.toStructType(schemaJson) == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("e", StringType, nullable = false),
      StructField("arr", ArrayType(StringType, containsNull = true), nullable = false),
      StructField("m", MapType(StringType, LongType, valueContainsNull = true), nullable = false),
      StructField("rec", StructType(Seq(
        StructField("s", StringType, nullable = false),
        StructField("x", DoubleType, nullable = false))), nullable = false),
      StructField("fx", BinaryType, nullable = false))))
    val rows = Seq(
      Row(1L, "b", Seq("x", null, "y"), Map("k1" -> 7L, "k2" -> null),
        Row("inner", 2.5), Array[Byte](1, 2, 3, 4)),
      Row(2L, "a", Seq.empty[String], Map.empty[String, Long],
        Row("", -0.0), Array[Byte](-1, 0, 127, -128)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), AvroCodec.toStructType(schemaJson))
    val back = AvroCodec.decode(
        AvroCodec.encode(df, schemaJson, 9), "value", schemaJson)
      .orderBy("id").collect()
    assert(back.forall(_.getAs[String]("err") == null))
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2),
        r.getMap[String, Any](3), r.getStruct(4).toSeq,
        r.getAs[Array[Byte]](5).toSeq)).toSeq ==
      rows.map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2),
        scala.collection.Map(r.getMap[String, Any](3).toSeq: _*), r.getStruct(4).toSeq,
        r.getAs[Array[Byte]](5).toSeq)))
    // an unknown enum symbol on the encode path must fail loudly, not
    // silently write a wrong ordinal
    val bad = spark.createDataFrame(
      new java.util.ArrayList[Row](Seq(
        Row(3L, "zzz", Seq.empty[String], Map.empty[String, Long],
          Row("", 0.0), Array[Byte](0, 0, 0, 0))).asJava),
      AvroCodec.toStructType(schemaJson))
    val thrown = intercept[org.apache.spark.SparkException] {
      AvroCodec.encode(bad, schemaJson, 9).collect()
    }
    assert(thrown.getMessage != null)
  }

  test("decoded rows own their values: one partition, reused reader buffers, a decode_error between") {
    // the reader reuses its record, arrays, nested records and bytes
    // buffers (and, with avro's non-fast reader, its Utf8s) from frame to
    // frame; the longest values come first, so a later, shorter record
    // overwrites buffers an earlier row would still point at
    val schemaJson =
      """{"type":"record","name":"rb","fields":[
        |{"name":"id","type":"long"},
        |{"name":"s","type":"string"},
        |{"name":"arr","type":{"type":"array","items":"string"}},
        |{"name":"m","type":{"type":"map","values":"string"}},
        |{"name":"rec","type":{"type":"record","name":"In","fields":[
        |  {"name":"name","type":"string"},
        |  {"name":"tags","type":{"type":"array","items":"string"}}]}},
        |{"name":"b","type":"bytes"}]}""".stripMargin
    val rows = Seq(
      Row(1L, "x" * 40 + "\u00e9\u4e2d", Seq("alpha-long-string", "beta", "gamma"),
        Map("k1" -> "v-long-value", "k2" -> "v2", "k3" -> "v3"),
        Row("inner-long-name", Seq("t1", "t2", "t3")), Array.tabulate[Byte](10)(_.toByte)),
      Row(2L, "short", Seq("a"), Map("z" -> "1"), Row("n", Seq("u")), Array[Byte](7, 8)),
      Row(3L, "", Seq.empty[String], Map.empty[String, String], Row("", Seq.empty[String]),
        Array.empty[Byte]),
      Row(4L, "mid-length", Seq("aa", "bb"), Map("k1" -> "x", "k9" -> "y"),
        Row("mm", Seq("q", "r")), Array[Byte](-1, 0, 1, 2, 3)))
    val encoded = AvroCodec.encode(spark.createDataFrame(
        new java.util.ArrayList[Row](rows.asJava), AvroCodec.toStructType(schemaJson)),
        schemaJson, 5, passthrough = Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).sortBy(_._1).toSeq
    // a valid header whose body ends mid-record, between records 1 and 2
    val cut = encoded.head._2.take(encoded.head._2.length / 2)
    val frames = encoded.head +: (-1L -> cut) +: encoded.tail
    def key(id: Long, r: Row, at: Int) = (id, r.getString(at), r.getSeq[String](at + 1),
      r.getMap[String, String](at + 2).toMap,
      (r.getStruct(at + 3).getString(0), r.getStruct(at + 3).getSeq[String](1)),
      r.getAs[Array[Byte]](at + 4).toSeq)
    val want = rows.map(r => key(r.getLong(0), r, 1))

    import spark.implicits._
    val out = AvroCodec.decode(frames.toDF("row_id", "value").coalesce(1), "value", schemaJson,
      passthrough = Seq("row_id")).collect()
    assert(out.length == frames.length)
    val bad = out.filter(_.getLong(0) == -1L).head
    assert(bad.getAs[String]("err").startsWith("decode_error:"))
    assert((1 until 7).forall(bad.isNullAt), "a failed frame's fields must be null")
    val good = out.filter(_.getLong(0) >= 0L).sortBy(_.getLong(0))
    assert(good.forall(_.getAs[String]("err") == null))
    assert(good.map(r => key(r.getLong(1), r, 2)).toSeq == want)

    // the kernel itself, every row held until the last frame is read: a
    // row that views the reader's buffers instead of copying them reads
    // the later frames' bytes here
    val kernel = DecodeFrames(org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, BinaryType, nullable = true), schemaJson, None)
    val held = frames.map { case (_, f) =>
      kernel.eval(org.apache.spark.sql.catalyst.InternalRow(f)).iterator.next()
    }
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(kernel.elementSchema)
    val external = held.map(toRow(_).asInstanceOf[Row])
    assert(external(1).getString(6).startsWith("decode_error:") &&
      (0 until 6).forall(external(1).isNullAt))
    assert(external.patch(1, Nil, 1).map(r => key(r.getLong(0), r, 1)) == want)
  }
}
