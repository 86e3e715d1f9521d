package graft.streaming

import graft.SparkFixture
import graft.avro.{AvroCodec, AvroQueries}
import graft.config.PipelineConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KafkaSourceSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  test("config kafka block maps to kafka.-prefixed consumer options") {
    val cfg = PipelineConfig.parseYaml(AvroQueries.ConfigYaml)
    val opts = KafkaSource.kafkaOptions(cfg)
    assert(opts.get("kafka.bootstrap.servers").contains(cfg.kafka("bootstrap.servers")))
    assert(opts.get("kafka.client.id") == cfg.kafka.get("client.id").orElse(None))
    // libserdes' registry url is not a consumer property
    assert(!opts.keys.exists(_.contains("schema.registry")))
  }

  test("schema.registry.url routes to the HTTP registry client") {
    val cfg = PipelineConfig.parseYaml(AvroQueries.ConfigYaml)
    if (cfg.kafka.contains("schema.registry.url"))
      assert(KafkaSource.registryFromConfig(cfg).exists(_.isInstanceOf[graft.avro.HttpSchemaRegistry]))
    val bare = cfg.copy(kafka = cfg.kafka - "schema.registry.url")
    assert(KafkaSource.registryFromConfig(bare).isEmpty)
  }

  test("kafka wire rows decode identically to the file stand-in frames") {
    // the stand-in topic log, reshaped to the kafka connector's fixed
    // wire schema (offset instead of msg_offset)
    val log = AvroQueries.topicLog(spark, dir)
    val wire = log.select(col("key"), col("value"), col("topic"),
      col("partition"), col("msg_offset").as("offset"))
    val viaKafka = KafkaSource.decode(wire, AvroQueries.EventsSchemaJson)
      .withColumn("key", col("key").cast("string"))
      .collect().map(_.toString).sorted
    val viaFile = AvroCodec.decode(
        log.select(col("key"), col("value"), col("topic"), col("partition"), col("msg_offset")),
        "value", AvroQueries.EventsSchemaJson,
        passthrough = Seq("key", "topic", "partition", "msg_offset"))
      .withColumn("key", col("key").cast("string"))
      .collect().map(_.toString).sorted
    assert(viaKafka.nonEmpty)
    assert(viaKafka.toSeq == viaFile.toSeq)
  }

  test("open() wires through to the kafka datasource lookup") {
    val cfg = PipelineConfig.parseYaml(AvroQueries.ConfigYaml)
    // no spark-sql-kafka jar in this sandbox: the wiring must reach the
    // DataSource resolution for "kafka" and fail THERE (not earlier, in
    // our own code)
    val e = intercept[Exception](KafkaSource.open(spark, cfg, AvroQueries.Topic))
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("consumer error taxonomy mirrors the reference switch") {
    import ConsumerErrors._
    assert(classify("TIMED_OUT") == Continue)
    assert(classify("PARTITION_EOF") == Continue)
    assert(classify("PARTITION_EOF", exitEof = true) == StopAtEof)
    assert(classify("UNKNOWN_TOPIC") == Fail)
    assert(classify("UNKNOWN_PARTITION") == Fail)
    assert(classify("SOMETHING_ELSE") == Fail)
  }

  test("stream exceptions classify through the cause chain by class name") {
    import ConsumerErrors._
    class TimeoutException extends RuntimeException("poll timed out")
    class UnknownTopicOrPartitionException extends RuntimeException("no such topic")
    assert(classifyThrowable(new RuntimeException(new TimeoutException)) == Continue)
    assert(classifyThrowable(new RuntimeException(new UnknownTopicOrPartitionException)) == Fail)
    assert(classifyThrowable(new IllegalStateException("boom")) == Fail)
  }

  test("producer delivery reports classify and account like the reference dr_cb") {
    import DeliveryReport._
    // per-message classification: err set => permanent failure
    assert(classify(None) == Delivered)
    assert(classify(Some("")) == Delivered)
    assert(classify(Some("Broker: Message size too large")) == Failed)
    // the reference's two log lines, byte-for-byte format
    assert(formatLine("SPO_2", 3, 1042L, None) ==
      "Message delivered to topic SPO_2 [3] at offset 1042")
    assert(formatLine("SPO_2", 0, -1L, Some("Local: Message timed out")) ==
      "Message delivery failed: Local: Message timed out")

    // set-oriented accounting over synthetic outcomes: two topics, a
    // mix of acks and permanent failures, null and empty err spellings
    import spark.implicits._
    val reports = Seq(
      ("SPO_2", 0, 0L, None: Option[String]),
      ("SPO_2", 0, 1L, None),
      ("SPO_2", 1, 7L, Some("")),              // empty errstr == delivered
      ("SPO_2", 1, 8L, Some("Local: Message timed out")),
      ("audit", 0, 3L, None),
      ("audit", 0, -1L, Some("Broker: Unknown topic or partition")),
      ("audit", 0, -1L, Some("Broker: Unknown topic or partition")))
      .toDF("topic", "partition", "offset", "err")
    val acc = DeliveryReport.account(reports).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(acc("SPO_2") == ((3L, 1L, 7L)))  // 3 delivered, 1 failed, hwm 7
    assert(acc("audit") == ((1L, 2L, 3L)))
    // frame classification agrees with the scalar classifier row-by-row
    val frameDelivered = DeliveryReport.account(reports)
      .agg(org.apache.spark.sql.functions.sum("delivered_count")).head.getLong(0)
    val scalarDelivered = reports.collect()
      .count(r => classify(Option(r.getString(3))) == Delivered)
    assert(frameDelivered == scalarDelivered)
  }
}
