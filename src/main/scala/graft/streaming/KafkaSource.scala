package graft.streaming

import graft.avro.AvroCodec
import graft.config.PipelineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kafka source adapter: the reference's consumer wiring
  * (`/root/reference/src/main.cpp:238-258` poll loop,
  * `/root/reference/src/KafkaPoller.cpp`) as a Structured Streaming
  * source feeding the SAME decode path the file-source stand-in uses.
  *
  * The sandbox has no broker and no kafka connector jar, so this module
  * is compile-complete and spec-proven up to the source lookup: config
  * mapping, wire-schema normalization, and decode identity are tested;
  * `open()` itself needs `spark-sql-kafka` on the classpath at runtime
  * (standard on any real cluster distro).
  */
object KafkaSource {

  /** Spark consumer options from the reference's `kafka:` config block
    * (`configs/SPO_2_kafka.yaml`): librdkafka properties map to
    * `kafka.`-prefixed datasource options; `schema.registry.url` is NOT
    * a consumer property (libserdes reads it) and is routed to
    * [[registryFromConfig]] instead.
    */
  def kafkaOptions(cfg: PipelineConfig): Map[String, String] =
    cfg.kafka.collect {
      case (k, v) if k != "schema.registry.url" => s"kafka.$k" -> v
    }

  /** The registry client the config points at — the Spark placement of
    * the reference's `SchemaRegistry::init(config.schema_registry_url)`:
    * constructed driver-side, snapshotted, broadcast. */
  def registryFromConfig(cfg: PipelineConfig): Option[graft.avro.RegistryClient] =
    cfg.kafka.get("schema.registry.url").map(url => new graft.avro.HttpSchemaRegistry(url))

  /** `readStream.format("kafka")` with the config's consumer options.
    * `startingOffsets=earliest` mirrors the reference's
    * `OFFSET_BEGINNING` start. */
  def open(spark: SparkSession, cfg: PipelineConfig, topic: String,
           startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaOptions(cfg))
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Normalize a Kafka wire DataFrame (the connector's fixed schema:
    * key/value binary, topic, partition, offset, ...) to the shared
    * frame shape the file stand-in produces (`AvroQueries.topicLog`), so
    * one decode path serves both sources. */
  def normalizeWire(wire: DataFrame): DataFrame =
    wire.select(col("key"), col("value"), col("topic"),
      col("partition"), col("offset").as("msg_offset"))

  /** Wire rows → decoded rows via the SAME batch/streaming codec,
    * `AvroCodec.decode`: CP1 unframe, Avro decode, per-row error
    * column. */
  def decode(wire: DataFrame, schemaJson: String): DataFrame =
    AvroCodec.decode(normalizeWire(wire), "value", schemaJson,
      passthrough = Seq("key", "topic", "partition", "msg_offset"))
}

/** The reference's consumer-level (transport) error taxonomy —
  * `KafkaConsumerCallback::consume_message`'s switch
  * (`/root/reference/src/KafkaConsumerCallback.cpp:13-38`) — mapped to
  * Structured Streaming, where transport errors surface as stream
  * exceptions rather than per-message statuses. Deserialization-level
  * errors (bad magic / truncated / unknown schema id / decode failure)
  * are per-row `err` values from `AvroCodec.decode` and are NOT handled
  * here, exactly as the reference splits the two layers.
  */
object ConsumerErrors {

  sealed trait ConsumeAction
  /** Benign: keep polling (reference: ERR__TIMED_OUT, and
    * ERR__PARTITION_EOF when exit_eof is unset). */
  case object Continue extends ConsumeAction
  /** Clean end of input (ERR__PARTITION_EOF with exit_eof). */
  case object StopAtEof extends ConsumeAction
  /** Fatal: surface and stop (ERR__UNKNOWN_TOPIC/PARTITION, default). */
  case object Fail extends ConsumeAction

  /** librdkafka error-code names → action, the reference switch verbatim. */
  def classify(errName: String, exitEof: Boolean = false): ConsumeAction =
    errName match {
      case "TIMED_OUT" => Continue
      case "PARTITION_EOF" => if (exitEof) StopAtEof else Continue
      case "UNKNOWN_TOPIC" | "UNKNOWN_PARTITION" => Fail
      case _ => Fail
    }

  /** Streaming-side classification: map a failed stream's exception
    * chain onto the same taxonomy. Matched by class name so the module
    * compiles without kafka-clients on the classpath. */
  def classifyThrowable(t: Throwable, exitEof: Boolean = false): ConsumeAction = {
    val names = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .map(_.getClass.getName).toSeq
    if (names.exists(_.contains("TimeoutException"))) classify("TIMED_OUT", exitEof)
    else if (names.exists(_.contains("UnknownTopicOrPartitionException"))) classify("UNKNOWN_TOPIC", exitEof)
    else Fail
  }
}

/** The reference's producer-side delivery-report accounting —
  * `KafkaDeliveryReportCb::dr_cb` (`/root/reference/src/
  * KafkaDeliveryReportCb.cpp:5-15`): librdkafka invokes the callback
  * once per message after the send is resolved, either delivered (log
  * topic/partition/offset) or failed permanently after retries (log the
  * error string). Re-expressed set-oriented: a producer run yields a
  * FRAME of delivery reports (one row per message: topic, partition,
  * offset, nullable err), and the callback's two branches become a
  * classification column + per-(topic, outcome) counts — the
  * aggregate a cluster operator actually monitors, instead of two log
  * lines per message.
  *
  * On a real cluster the Spark Kafka sink has batch-commit semantics
  * (a task's sends either all ack or the task fails and retries), so
  * per-message reports come from the producer stand-ins
  * ([[graft.avro.CsvProducer]] + a transport result) — the taxonomy is
  * the parity layer, independent of which transport produced it.
  */
object DeliveryReport {

  sealed trait Outcome
  /** The broker acked the message (dr_cb's else branch). */
  case object Delivered extends Outcome
  /** Failed permanently after retries (dr_cb's `message.err()` branch). */
  case object Failed extends Outcome

  /** Per-message classification: a delivery error string (librdkafka's
    * `errstr()`) marks permanent failure; absence means delivered. */
  def classify(err: Option[String]): Outcome =
    err match {
      case None | Some("") => Delivered
      case Some(_)         => Failed
    }

  /** The reference's two log lines, verbatim format
    * (KafkaDeliveryReportCb.cpp:9 and :13). */
  def formatLine(topic: String, partition: Int, offset: Long,
                 err: Option[String]): String =
    classify(err) match {
      case Failed    => s"Message delivery failed: ${err.getOrElse("")}"
      case Delivered => s"Message delivered to topic $topic [$partition] at offset $offset"
    }

  /** Set-oriented accounting over a delivery-report frame
    * (`topic: string, partition: int, offset: long, err: string?`):
    * per-topic delivered/failed counts plus the high-water offset of
    * the delivered messages — one narrow aggregate per topic, scale-safe
    * at any report volume. */
  def account(reports: DataFrame): DataFrame =
    reports
      .withColumn("delivered", col("err").isNull || col("err") === lit(""))
      .groupBy(col("topic"))
      .agg(
        sum(when(col("delivered"), 1L).otherwise(0L)).as("delivered_count"),
        sum(when(!col("delivered"), 1L).otherwise(0L)).as("failed_count"),
        max(when(col("delivered"), col("offset"))).as("max_delivered_offset"))
}
