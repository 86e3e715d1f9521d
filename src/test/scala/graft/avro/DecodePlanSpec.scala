package graft.avro

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Generate, LogicalPlan, MapPartitions, SerializeFromObject}
import org.apache.spark.sql.execution.{DeserializeToObjectExec, GenerateExec, MapPartitionsExec, SerializeFromObjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.scalatest.funsuite.AnyFunSuite

/** The decode stage stays inside Spark's binary-row engine: every plan
  * of `decode`, `decodeMulti` and `decodeToJson`, batch and streaming,
  * holds exactly one decode operator (a `Generate` of [[DecodeFrames]])
  * and no object round trip (`DeserializeToObject`, `MapPartitions`,
  * `SerializeFromObject`). */
class DecodePlanSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private val schemaJson = AvroQueries.SpoSchemaJson

  private def decodes(df: DataFrame): Seq[(String, DataFrame)] = Seq(
    "decode" -> AvroCodec.decode(df, "value", schemaJson, passthrough = Seq("row_id")),
    "decodeMulti" -> AvroCodec.decodeMulti(df, "value", Map(3 -> schemaJson), schemaJson,
      passthrough = Seq("row_id")),
    "decodeToJson" -> AvroCodec.decodeToJson(df, "value", schemaJson, passthrough = Seq("row_id")))

  private def assertLogical(name: String, plan: LogicalPlan): Unit = {
    val generates = plan.collect { case g: Generate => g.generator }
    assert(generates.size == 1 && generates.head.isInstanceOf[DecodeFrames],
      s"$name: want one decode Generate, got $generates in\n$plan")
    val objects = plan.collect {
      case p @ (_: DeserializeToObject | _: MapPartitions | _: SerializeFromObject) => p.nodeName
    }
    assert(objects.isEmpty, s"$name: object round trip $objects in\n$plan")
  }

  private def assertPhysical(name: String, plan: SparkPlan): Unit = {
    val generates = collect(plan) { case g: GenerateExec => g.generator }
    assert(generates.size == 1 && generates.head.isInstanceOf[DecodeFrames],
      s"$name: want one decode GenerateExec, got $generates in\n$plan")
    val objects = collect(plan) {
      case p @ (_: DeserializeToObjectExec | _: MapPartitionsExec | _: SerializeFromObjectExec) =>
        p.nodeName
    }
    assert(objects.isEmpty, s"$name: object round trip $objects in\n$plan")
  }

  private def frames: Seq[(Long, Array[Byte])] = {
    import spark.implicits._
    AvroCodec.encode(Seq((1L, "s1", "p1", "o1"), (2L, "s2", "p2", "o2"))
        .toDF("row_id", "subject", "predicate", "object"), schemaJson, 3, passthrough = Seq("row_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
  }

  test("batch plans hold one decode operator and no object round trip") {
    import spark.implicits._
    val input = frames.toDF("row_id", "value")
    decodes(input).foreach { case (name, df) =>
      assertLogical(name, df.queryExecution.analyzed)
      assertLogical(name, df.queryExecution.optimizedPlan)
      assert(df.collect().length == 2, name)
      assertPhysical(name, df.queryExecution.executedPlan)
    }
  }

  test("streaming plans hold one decode operator and no object round trip") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Array[Byte])]
    input.addData(frames)
    decodes(input.toDF().toDF("row_id", "value")).foreach { case (name, df) =>
      assert(df.isStreaming, name)
      assertLogical(name, df.queryExecution.analyzed)
      val q = df.writeStream.format("memory").queryName(s"decode_plan_$name").start()
      try {
        q.processAllAvailable()
        assert(spark.table(s"decode_plan_$name").count() == 2, name)
        val execution = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        assertLogical(name, execution.optimizedPlan)
        assertPhysical(name, execution.executedPlan)
      } finally q.stop()
    }
  }
}
