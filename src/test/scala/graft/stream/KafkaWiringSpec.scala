package graft.stream

import graft.SparkTestBase

/** Golden test of the Kafka option maps against the reference's literals —
  * the strongest check available without a broker or the connector jar
  * (/opt/spark/jars ships none): every option key/value the reference sets
  * (main.py:77-87 reader, main.py:208-217 writer) must appear verbatim,
  * with the subscription-mode heuristic routing each topic-string family
  * exactly as the reference's if/else does. */
class KafkaWiringSpec extends SparkTestBase {

  test("source options: reference main.py:77-87 literals, per subscription family") {
    // single plain topic → subscribe (no comma, no * or .)
    assert(SourceFactory.kafkaSourceOptions("broker:9092", "trades") == Seq(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "trades",
      "startingOffsets" -> "earliest"))
    // comma list → subscribe even when topics contain dots/stars
    assert(SourceFactory.kafkaSourceOptions("b:1", "trades.v1,quotes.*")
      .contains("subscribe" -> "trades.v1,quotes.*"))
    // glob pattern → subscribePattern
    assert(SourceFactory.kafkaSourceOptions("b:1", "trades.*")
      .contains("subscribePattern" -> "trades.*"))
    // the preserved quirk: ONE plain topic with a dot routes to PATTERN
    // mode (reference main.py:80-85 treats any '.' as a pattern marker)
    assert(SourceFactory.kafkaSourceOptions("b:1", "trades.v1")
      .contains("subscribePattern" -> "trades.v1"))
    // full-history replay is always on, and is the LAST option set, as in
    // the reference's reader.option("startingOffsets", "earliest").load()
    Seq("trades", "a,b", "t.*").foreach { topics =>
      assert(SourceFactory.kafkaSourceOptions("b:1", topics).last ==
        ("startingOffsets" -> "earliest"))
    }
  }

  test("sink options: reference main.py:208-217 literals, checkpoint isolated per query") {
    assert(SinkFactory.kafkaSinkOptions("broker:9092", "/ckpt", "kafka_sink") == Seq(
      "kafka.bootstrap.servers" -> "broker:9092",
      // os.path.join(CHECKPOINT_LOCATION, "kafka_sink") — main.py:206
      "checkpointLocation" -> "/ckpt/kafka_sink"))
    // two queries against one checkpoint root never collide
    assert(SinkFactory.kafkaSinkOptions("b:1", "/c", "q1").last._2 !=
      SinkFactory.kafkaSinkOptions("b:1", "/c", "q2").last._2)
  }

  test("sink checkpoint: a URI root keeps its scheme and authority") {
    Seq(
      "hdfs://nn:8020/ckpt" -> "hdfs://nn:8020/ckpt/kafka_sink",
      "s3a://bucket/ckpt" -> "s3a://bucket/ckpt/kafka_sink",
      "file:///tmp/ck" -> "file:/tmp/ck/kafka_sink",
      "/ckpt/" -> "/ckpt/kafka_sink"
    ).foreach { case (root, joined) =>
      val dir = SinkFactory.checkpointDir(root, "kafka_sink")
      assert(dir == joined, root)
      assert(new org.apache.hadoop.fs.Path(dir).toUri.getAuthority ==
        java.net.URI.create(root).getAuthority, root)
    }
  }

  test("sink projection: exactly (topic, key, value) with key/value cast to STRING") {
    import spark.implicits._
    val out = SinkFactory.kafkaProjection(
      Seq(("candles.BTC", 1L, 42.0)).toDF("topic", "key", "value"))
    assert(out.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq ==
      Seq("topic" -> "string", "key" -> "string", "value" -> "string"))
    assert(out.collect().head.toSeq == Seq("candles.BTC", "1", "42.0"))
  }
}
