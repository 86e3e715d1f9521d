package graft.avro

import graft.SparkFixture
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Fuzzes the full decode surface the way FramingPropertySpec fuzzes
  * the wire layer: ARBITRARY bytes behind a valid CP1 header must
  * total-function through `AvroCodec.decode`/`decodeMulti`/`decodeToJson`
  * — one output row per input row, every failure CLASSIFIED into the err
  * taxonomy, never a thrown exception (the reference's consume loop
  * counts failures rather than crashing, `src/main.cpp:247-251`).
  */
class DecodeFuzzSpec extends AnyFunSuite with SparkFixture {

  private val params = Gen.Parameters.default
  private def garbage(seed: Long): Array[Byte] =
    Gen.containerOf[Array, Byte](Arbitrary.arbitrary[Byte])
      .apply(params, Seed(seed)).getOrElse(Array.empty)

  test("decode classifies every framed garbage body, one row per input") {
    import spark.implicits._
    val known = 7
    // well-formed records framed under three OTHER ids: `decode` is the
    // single-schema path, so every id reads with the one schema
    val spo = Seq(("s1", "p1", "o1"), ("s2", "p2", "o2"))
    val otherIds = Seq(3, 11, 4242)
    val valid: Seq[Array[Byte]] = otherIds.flatMap(id =>
      AvroCodec.encode(spo.toDF("subject", "predicate", "object"),
        AvroQueries.SpoSchemaJson, id).collect().map(_.getAs[Array[Byte]]("value")))
    val frames: Seq[Array[Byte]] =
      // garbage bodies behind a well-formed header for the KNOWN id
      (0 until 300).map(i => ConfluentFraming.frame(known, garbage(i.toLong))) ++
      // raw garbage (bad magic / truncated territory)
      (300 until 500).map(i => garbage(i.toLong)) ++
      Seq(Array.empty[Byte]) ++
      valid
    val df = frames.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("row_id", "value")

    val out = AvroCodec.decode(df, "value", AvroQueries.SpoSchemaJson,
      passthrough = Seq("row_id")).collect()
    assert(out.length == frames.length, "decode must emit one row per input")
    val errIdx = out.head.schema.fieldIndex("err")
    val errClasses = out.map(_.getString(errIdx)).filter(_ != null).toSet
    // every non-null err is a known taxonomy class — never
    // unknown_schema_id, whatever the frame's id
    assert(errClasses.forall(e =>
      e == "bad_magic" || e == "truncated" || e.startsWith("decode_error:")),
      s"unknown err classes: $errClasses")
    val decodedValid = out.filter(_.getLong(0) >= frames.length - valid.length)
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getString(errIdx)))
    assert(decodedValid.toSeq ==
      otherIds.flatMap(_ => spo.map { case (s, p, o) => (s, p, o, null) }))
    // the garbage corpus must actually exercise the classes
    assert(errClasses.exists(_.startsWith("decode_error:")), "no decode_error seen")
    assert(errClasses.contains("bad_magic") || errClasses.contains("truncated"))
    // decodeToJson runs the same kernel: the same class on every frame,
    // and a json string exactly where the frame decoded
    val json = AvroCodec.decodeToJson(df, "value", AvroQueries.SpoSchemaJson,
      passthrough = Seq("row_id")).collect().map(r =>
        r.getLong(0) -> (r.getAs[String]("json"), r.getAs[String]("err"))).toMap
    assert(json.size == frames.length, "decodeToJson must emit one row per input")
    out.foreach { r =>
      val (js, err) = json(r.getLong(0))
      assert(err == r.getString(errIdx), s"row ${r.getLong(0)}")
      assert((js == null) == (err != null), s"row ${r.getLong(0)}: json $js, err $err")
    }
  }

  test("decodeToJson refuses, by field and before any job, what to_json cannot write as avro's JSON") {
    import spark.implicits._
    val frames = Seq((0L, ConfluentFraming.frame(7, Array[Byte](2, 65)))).toDF("row_id", "value")
    val group = "decodeToJson-refusal"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try {
      Seq("""["null","string"]""", "\"bytes\"",
          """{"type":"long","logicalType":"timestamp-micros"}""").foreach { t =>
        val schemaJson = s"""{"type":"record","name":"R","fields":[
          |{"name":"ok","type":"string"},{"name":"odd_field","type":$t}]}""".stripMargin
        val e = intercept[IllegalArgumentException] {
          AvroCodec.decodeToJson(frames, "value", schemaJson, passthrough = Seq("row_id"))
        }
        assert(e.getMessage.contains("'odd_field'"), e.getMessage)
      }
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty, "a job ran before the refusal")
  }

  /** Avro's zig-zag varint encoding of `n` (string/bytes lengths and
    * array/map block counts). */
  private def varint(n: Long): Array[Byte] = {
    var z = (n << 1) ^ (n >> 63)
    val out = Array.newBuilder[Byte]
    while ((z & ~0x7FL) != 0L) { out += ((z & 0x7F) | 0x80).toByte; z >>>= 7 }
    out += z.toByte
    out.result()
  }

  private def decodeErrs(frames: Seq[Array[Byte]], schemaJson: String): Seq[String] = {
    import spark.implicits._
    val df = frames.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("row_id", "value")
    val out = AvroCodec.decode(df, "value", schemaJson, passthrough = Seq("row_id"))
      .collect().sortBy(_.getLong(0))
    assert(out.length == frames.length, "decode must emit one row per input")
    val errIdx = out.head.schema.fieldIndex("err")
    out.map(_.getString(errIdx)).toSeq
  }

  test("hostile length prefixes are decode errors, not allocations") {
    // a valid header, then a first length (string or bytes) or block
    // count (array or map) claiming ~2 GB / ~1G items: avro sizes the
    // buffer from the prefix, so without the codec's length limit each
    // of these allocates gigabytes and the executor dies with an
    // OutOfMemoryError instead of counting a decode_error
    def record(field: String) =
      s"""{"type":"record","name":"R","fields":[{"name":"f","type":$field}]}"""
    val cases = Seq(
      AvroQueries.SpoSchemaJson -> varint(2000000000L),
      record("\"bytes\"") -> varint(2000000000L),
      record("""{"type":"array","items":"string"}""") -> varint(1000000000L),
      record("""{"type":"map","values":"string"}""") -> varint(1000000000L))
    for ((schema, prefix) <- cases) {
      val errs = decodeErrs(Seq(ConfluentFraming.frame(7, prefix ++ Array[Byte](1, 2, 3))), schema)
      assert(errs == Seq("decode_error:SystemLimitException"), s"$schema: $errs")
    }
    // seeded random 0-60-byte bodies behind a valid header: every one
    // decodes or is a decode_error (lengths here range up to ~2^63)
    val body = Gen.choose(0, 60).flatMap(n => Gen.containerOfN[Array, Byte](n, Arbitrary.arbitrary[Byte]))
    val frames = (0 until 4000).map(i =>
      ConfluentFraming.frame(7, body.apply(params, Seed(7000L + i)).getOrElse(Array.empty)))
    val errs = decodeErrs(frames, AvroQueries.SpoSchemaJson)
    assert(errs.forall(e => e == null || e.startsWith("decode_error:")), errs.toSet)
    assert(errs.contains("decode_error:SystemLimitException"), "no random length hit the limit")
  }

  test("decodeMulti classifies unknown schema ids alongside body garbage") {
    import spark.implicits._
    val registry = new SchemaRegistry
    val knownId = registry.register("spo-value", AvroQueries.SpoSchemaJson)
    val frames: Seq[Array[Byte]] =
      (0 until 200).map(i => ConfluentFraming.frame(knownId, garbage(2000L + i))) ++
      (0 until 100).map(i => ConfluentFraming.frame(knownId + 1 + i % 3, garbage(3000L + i)))
    val df = frames.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("row_id", "value")
    val out = AvroCodec.decodeMulti(df, "value", registry.snapshot,
      AvroQueries.SpoSchemaJson, passthrough = Seq("row_id")).collect()
    assert(out.length == frames.length)
    val errIdx = out.head.schema.fieldIndex("err")
    val errs = out.map(_.getString(errIdx)).filter(_ != null)
    assert(errs.forall(e =>
      e.startsWith("decode_error:") || e.startsWith("unknown_schema_id:") ||
        e == "bad_magic" || e == "truncated"),
      s"unknown err classes: ${errs.toSet}")
    // all 100 unknown-id frames classified as such (ids never registered)
    assert(errs.count(_.startsWith("unknown_schema_id:")) == 100)
  }
}
