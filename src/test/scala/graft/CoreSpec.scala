package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Core settings / serializer / control-plane semantics
  * (mirrors reference behaviors: `ProducerSettings.scala:61` batch cap,
  * `Serializer.scala` instances, `Firehose.scala:36-56` + 404→None,
  * `FirehoseOps.scala:32-40` bracketed lifecycle).
  */
class CoreSpec extends SparkTestBase {

  test("DeliverySettings enforces the 500-record batch cap") {
    assertThrows[IllegalArgumentException](DeliverySettings("s", batchSize = 501))
    assertThrows[IllegalArgumentException](DeliverySettings("s", batchSize = 0))
    assert(DeliverySettings("s").batchSize == 500)
    assert(DeliverySettings("s").withBatchSize(1).batchSize == 1)
    assert(DeliverySettings("s").triggerIntervalMs == 5000L)
    assert(DeliverySettings("s").parallelism == 1)
    assert(DeliverySettings("s").retryPolicy.contains(RetryPolicy(500L, 6)))
  }

  test("RetryPolicy backoff grows exponentially and caps") {
    val p = RetryPolicy(baseDelayMs = 500, maxRetries = 6)
    assert(p.delayMs(1) == 500)
    assert(p.delayMs(2) == 1000)
    assert(p.delayMs(3) == 2000)
    assert(p.delayMs(10) == 30000)
    // a base near Long.MaxValue must saturate, not wrap negative and skip the sleep
    assert(RetryPolicy(Long.MaxValue / 2).delayMs(3) == 30000)
    assert(RetryPolicy(Long.MaxValue).delayMs(1) == 30000)
    assert(RetryPolicy(Long.MaxValue).delayMs(21) == 30000)
  }

  test("Serializers frame payloads with the separator") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val framed = df.select(
      Serializers.framedRow(spark, "\n".getBytes(StandardCharsets.UTF_8), col("k"), col("v"))
        .as("p"))
      .collect().map(r => new String(r.getAs[Array[Byte]](0), StandardCharsets.UTF_8))
    assert(framed.toSeq == Seq("{\"k\":\"a\",\"v\":1}\n", "{\"k\":\"b\",\"v\":2}\n"))

    val strs = df.select(Serializers.framed(
      Serializers.stringPayload(col("k")), "|".getBytes).as("p"))
      .collect().map(r => new String(r.getAs[Array[Byte]](0), StandardCharsets.UTF_8))
    assert(strs.toSeq == Seq("a|", "b|"))
  }

  test("DeliveryCatalog control plane with 404→None semantics") {
    val cat = new DeliveryCatalog
    assert(cat.describeStream("missing").isEmpty)
    assert(cat.deleteStream("missing").isEmpty)
    assert(cat.listTags("missing").isEmpty)
    assert(cat.tag("missing", Map("a" -> "b")).isEmpty)
    assert(cat.startStreamEncryption("missing").isEmpty)
    assert(cat.updateDestination("missing", "x").isEmpty)

    cat.createStream("s1")
    assertThrows[IllegalArgumentException](cat.createStream("s1"))
    assert(cat.describeStream("s1").exists(!_.encrypted))
    assert(cat.listStreams() == Seq("s1"))
    assert(cat.tag("s1", Map("env" -> "test", "team" -> "x")).isDefined)
    assert(cat.listTags("s1").contains(Map("env" -> "test", "team" -> "x")))
    assert(cat.untag("s1", Seq("team")).isDefined)
    assert(cat.listTags("s1").contains(Map("env" -> "test")))
    assert(cat.startStreamEncryption("s1").exists(_.encrypted))
    assert(cat.stopStreamEncryption("s1").exists(!_.encrypted))
    assert(cat.updateDestination("s1", "paths").exists(_.destination == "paths"))
    assert(cat.deleteStream("s1").isDefined)
    assert(cat.describeStream("s1").isEmpty)
  }

  test("withStream brackets create/delete even on failure") {
    val cat = new DeliveryCatalog
    cat.withStream("tmp")(info => assert(info.name == "tmp"))
    assert(cat.describeStream("tmp").isEmpty)
    assertThrows[RuntimeException] {
      cat.withStream("tmp2")(_ => throw new RuntimeException("boom"))
    }
    assert(cat.describeStream("tmp2").isEmpty)
  }
}
