package graft

import graft.stream.Pipelines
import org.scalatest.funsuite.AnyFunSuite

/** LIVE-BROKER integration for the S1/S3 Kafka wiring — the one path
  * the sandbox cannot exercise (no broker, no kafka connector jar).
  * The spec is `assume`-gated on SPARK_GRAFT_KAFKA_BOOTSTRAP: unset →
  * reported canceled (not failed); set → the EXACT production
  * functions ([[Pipelines.kafkaSource]] with earliest offsets +
  * [[Pipelines.parquetSink]] with checkpoint and PK dedup) run a full
  * produce → stream-ingest → sink round-trip against the broker.
  *
  * Run with e.g.
  * `SPARK_GRAFT_KAFKA_BOOTSTRAP=localhost:9092 sbt "testOnly graft.KafkaIntegrationSpec"`
  * (needs the spark-sql-kafka connector on the classpath, which ships
  * with any Kafka-enabled Spark distribution).
  */
class KafkaIntegrationSpec extends AnyFunSuite {

  private val bootstrap = sys.env.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")

  test("S1/S3 live round-trip: produce, stream-ingest, checkpointed PK-dedup sink") {
    assume(bootstrap.isDefined,
      "SPARK_GRAFT_KAFKA_BOOTSTRAP not set — no broker in this environment")
    val spark = TestSpark.spark
    import spark.implicits._
    val servers = bootstrap.get
    // unique topic per run: earliest-offset reads must not see a
    // previous run's messages
    val topic = s"graft_it_${System.nanoTime()}"
    val tmp = TestSpark.tmp("graft_kafka_it")
    // produce through the connector's batch write path; key k7 is sent
    // twice so the sink's PK dedup has something to drop
    val msgs = (1 to 20).map(i => (s"k$i", s"""{"id":$i}""")) :+
      (("k7", """{"id":7}"""))
    msgs.toDF("key", "value")
      .selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
      .write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .save()
    // the production source + sink, verbatim
    val src = Pipelines.kafkaSource(spark, servers, topic)
      .selectExpr("CAST(key AS STRING) AS key",
        "CAST(value AS STRING) AS value")
    val q = Pipelines.parquetSink(src, s"$tmp/out", s"$tmp/ckpt",
      pk = Seq("key"))
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
    }
    val got = spark.read.parquet(s"$tmp/out")
    val keys = got.select("key").collect().map(_.getString(0))
    // at-least-once + per-batch PK dedup: every key arrives; the k7
    // duplicate collapses when both copies land in one micro-batch
    // (maxOffsetsPerTrigger=10000 ≫ 21 ⇒ single batch from earliest)
    assert(keys.toSet == (1 to 20).map(i => s"k$i").toSet)
    assert(keys.length == 20, s"PK dedup left ${keys.length} rows")
  }
}
