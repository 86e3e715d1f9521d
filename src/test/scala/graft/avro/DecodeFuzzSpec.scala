package graft.avro

import graft.SparkFixture
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Fuzzes the full decode surface the way FramingPropertySpec fuzzes
  * the wire layer: ARBITRARY bytes behind a valid CP1 header must
  * total-function through `AvroCodec.decode`/`decodeMulti` — one output
  * row per input row, every failure CLASSIFIED into the err taxonomy,
  * never a thrown exception (the reference's consume loop counts
  * failures rather than crashing, `src/main.cpp:247-251`).
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
