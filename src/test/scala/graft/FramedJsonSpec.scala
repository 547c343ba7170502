package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, StructsToJson}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{DeliverySettings, FramedJsonKernel, FramedJsonWriter}
import graft.streaming.DeliverySink

/** `DeliverySink.payloads` (the one-pass [[graft.core.FramedJson]] kernel
  * for flat rows) is byte-identical to the reference expression
  * `concat(cast(to_json(struct(cols)) as binary), lit(sep))`, Spark's own
  * JSON generator, on rows built to hit every escaping, number and UTF-8
  * edge; rows with any other field type keep Spark's generator.
  */
class FramedJsonSpec extends SparkTestBase {

  /** The reference implementation: Spark's JSON generator, then the separator. */
  private def reference(df: DataFrame, sep: Array[Byte]): DataFrame =
    df.select(concat(to_json(struct(df.columns.toSeq.map(col): _*)).cast(BinaryType), lit(sep)))

  private def hex(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => java.util.HexFormat.of().formatHex(r.getAs[Array[Byte]](0)))

  private def assertSameBytes(df: DataFrame, sep: Array[Byte]): Unit = {
    val got = hex(DeliverySink.payloads(df, DeliverySettings("s", separator = sep)))
    val want = hex(reference(df, sep))
    assert(got.size == want.size)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"row $i differs:\n  got  $g\n  want $w")
    }
  }

  private def optimizedHas(df: DataFrame)(p: PartialFunction[Any, Boolean]): Boolean =
    df.queryExecution.optimizedPlan.expressions.exists(_.exists(e => p.applyOrElse(e, (_: Any) => false)))

  /** Spark 4.1 replaces `StructsToJson` in the optimizer by an `Invoke` of
    * its evaluator, so Spark's generator shows as either. */
  private def usesSparkGenerator(df: DataFrame): Boolean = optimizedHas(df) {
    case _: StructsToJson => true
    case Literal(_: StructsToJsonEvaluator, _) => true
  }

  private def usesKernel(df: DataFrame): Boolean = optimizedHas(df) { case _: FramedJsonKernel => true }

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ---- generators ----

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** UTF-8 byte pieces: every byte below 0x20, the escaped and the
    * never-escaped ASCII, 2-4-byte sequences, and ill-formed ones. */
  private val pieces: Seq[Array[Byte]] =
    (0 until 0x20).map(b => bytes(b)) ++ Seq(
      "\"", "\\", "/", "\u007f", "a", "Z", "0", " ", "{}", "é", "ß", "流", "データ",
      " ", "﻿", "😀", "𝄞").map(_.getBytes(StandardCharsets.UTF_8)) ++ Seq(
      bytes(0x80), bytes(0xBF), bytes(0xC0, 0x80), bytes(0xC1, 0xBF), bytes(0xC3),
      bytes(0xE0, 0x80, 0x80), bytes(0xED, 0xA0, 0x80), bytes(0xE6, 0xB5),
      bytes(0xF0, 0x80, 0x80, 0x80), bytes(0xF4, 0x90, 0x80, 0x80), bytes(0xF0, 0x9F, 0x98),
      bytes(0xF5, 0x80, 0x80, 0x80), bytes(0xFE), bytes(0xFF))

  private val textGen: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(Array.emptyByteArray),
    6 -> Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(pieces))).map(_.toArray.flatten),
    1 -> Gen.alphaNumStr.map(_.getBytes(StandardCharsets.UTF_8)))

  private def edges[A](special: A*)(other: Gen[A]): Gen[Any] =
    Gen.frequency(3 -> Gen.oneOf(special), 2 -> other).map(_.asInstanceOf[Any])

  private val kernelTypes: Seq[(DataType, Gen[Any])] = Seq(
    StringType -> textGen.map(b => b: Any),
    BooleanType -> Gen.oneOf(true, false).map(b => b: Any),
    ByteType -> edges(Byte.MinValue, Byte.MaxValue, 0.toByte)(Gen.choose(Byte.MinValue, Byte.MaxValue)),
    ShortType -> edges(Short.MinValue, Short.MaxValue, 0.toShort)(Gen.choose(Short.MinValue, Short.MaxValue)),
    IntegerType -> edges(Int.MinValue, Int.MaxValue, 0)(Gen.choose(Int.MinValue, Int.MaxValue)),
    LongType -> edges(Long.MinValue, Long.MaxValue, 0L, -1L, 10L)(Gen.choose(Long.MinValue, Long.MaxValue)),
    FloatType -> edges(Float.MinValue, Float.MaxValue, 0f, -0f, Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinPositiveValue, 1e7f, 1e-3f)(Gen.choose(-1e30f, 1e30f)),
    DoubleType -> edges(Double.MinValue, Double.MaxValue, 0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, 1e7, 1e-3, 0.1)(
      Gen.choose(-1e300, 1e300)))

  /** Field types the kernel does not write, with a value generator each. */
  private val otherTypes: Seq[(DataType, Gen[Any])] = Seq(
    DecimalType(10, 2) -> Gen.choose(-99999999L, 99999999L).map(v => java.math.BigDecimal.valueOf(v, 2)),
    TimestampType -> Gen.choose(0L, 4102444800000L).map(ms => new java.sql.Timestamp(ms)),
    DateType -> Gen.choose(0L, 4102444800000L).map(ms => java.sql.Date.valueOf(
      new java.sql.Date(ms).toLocalDate)),
    ArrayType(IntegerType) -> Gen.listOf(Gen.choose(-5, 5)),
    MapType(StringType, IntegerType) -> Gen.mapOf(Gen.zip(Gen.alphaStr, Gen.choose(0, 9))),
    StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))) ->
      Gen.zip(Gen.choose(0, 9), Gen.alphaStr).map { case (a, b) => Row(a, b) })

  /** Field names, including ones that need escaping (no `.` or backtick,
    * which `col` would parse). */
  private val nameGen: Gen[String] = Gen.frequency(
    4 -> Gen.identifier.map(_.take(8)),
    1 -> Gen.oneOf("q\"uote", "back\\slash", "tab\tname", "ctl\u0001\u001f", "é名", "sp ace", "/", "\u007f"))

  private val separatorGen: Gen[Array[Byte]] = Gen.oneOf(
    bytes('\n'), bytes('|'), bytes('\r', '\n'), Array.emptyByteArray,
    "␞".getBytes(StandardCharsets.UTF_8), bytes(0xFF, 0x00))

  private final case class Case(
      fields: Seq[(String, DataType, Gen[Any])], rows: Int, sep: Array[Byte], ignoreNulls: Boolean,
      seed: Long)

  private val caseGen: Gen[Case] = for {
    n <- Gen.chooseNum(1, 8)
    kinds <- Gen.listOfN(n, Gen.oneOf(kernelTypes))
    other <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.oneOf(otherTypes).map(Some(_)))
    names <- Gen.listOfN(n + 1, nameGen)
    rows <- Gen.chooseNum(1, 20)
    sep <- separatorGen
    ignoreNulls <- Gen.oneOf(true, false)
    seed <- Gen.long
  } yield {
    val types = kinds ++ other.toSeq
    // distinct names: suffix the position
    val fields = types.zip(names).zipWithIndex.map { case (((t, g), nm), i) => (s"$nm$i", t, g) }
    Case(fields, rows, sep, ignoreNulls, seed)
  }

  /** The frame of a case: strings are built as binary and cast, so their
    * bytes (ill-formed UTF-8 included) reach the serializers as they are.
    * The rows come from an RDD, so the projection is generated code; over a
    * local relation the optimizer would evaluate it, interpreted. */
  private def frameOf(c: Case): DataFrame = {
    val rawSchema = StructType(c.fields.zipWithIndex.map { case ((_, t, _), i) =>
      StructField(s"c$i", if (t.isInstanceOf[StringType]) BinaryType else t) })
    val rows = (0 until c.rows).map { r =>
      Row.fromSeq(c.fields.zipWithIndex.map { case ((_, _, g), i) =>
        val p = Gen.Parameters.default
        val s = Seed(c.seed + 1000L * r + i)
        if (Gen.choose(0, 4).apply(p, s).contains(0)) null
        else g.apply(p, s.next).get
      })
    }
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), rawSchema)
    raw.select(c.fields.zipWithIndex.map { case ((nm, t, _), i) =>
      (if (t.isInstanceOf[StringType]) col(s"c$i").cast(StringType) else col(s"c$i")).as(nm)
    }: _*)
  }

  test("payloads equal to_json + separator byte for byte (property)") {
    var kernelCases = 0
    (0 until 60).foreach { i =>
      val c = caseGen.apply(Gen.Parameters.default, Seed(7000L + i)).get
      val df = frameOf(c)
      withConf("spark.sql.jsonGenerator.ignoreNullFields", c.ignoreNulls.toString) {
        val p = DeliverySink.payloads(df, DeliverySettings("s", separator = c.sep))
        val flat = c.fields.forall(f => graft.core.FramedJson.inKernel(f._2))
        assert(usesKernel(p) == flat, s"case $i: kernel path expected = $flat")
        assert(usesSparkGenerator(p) == !flat, s"case $i: Spark generator expected = ${!flat}")
        if (flat) kernelCases += 1
        assertSameBytes(df, c.sep)
      }
    }
    assert(kernelCases >= 30)
  }

  test("every piece at every offset of ASCII filler, across 8-byte words and in the tail") {
    val filler = "abcdefghijklmnopqrstuvwxyz".getBytes(StandardCharsets.UTF_8)
    val texts = for {
      p <- pieces
      len <- 0 to 24
      at <- 0 to math.min(16, len)
    } yield filler.take(at) ++ p ++ filler.slice(at, len)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(texts.map(b => Row(b)), 4),
      StructType(Seq(StructField("b", BinaryType)))).select(col("b").cast(StringType).as("s"))
    assert(usesKernel(DeliverySink.payloads(df, DeliverySettings("s"))))
    assertSameBytes(df, bytes('\n'))
  }

  test("ill-formed UTF-8 reaches the kernel unchanged and matches Spark's text") {
    val raw = Seq(bytes(0xC0, 0x80), bytes('a', 0xED, 0xA0, 0x80, 'b'), bytes(0xFF, '"', 0x01),
      bytes(0xE6, 0xB5), bytes(0xF4, 0x90, 0x80, 0x80, '\n'))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(raw.map(b => Row(b))),
      StructType(Seq(StructField("b", BinaryType)))).select(col("b").cast(StringType).as("s"))
    // the cast keeps the bytes, so the strings really are ill-formed
    assert(df.select(col("s").cast(BinaryType)).collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq ==
      raw.map(_.toSeq))
    assertSameBytes(df, bytes('\n'))
  }

  test("interpreted evaluation matches too") {
    val flat = Iterator.from(0).map(i => caseGen.apply(Gen.Parameters.default, Seed(900L + i)).get)
      .filter(_.fields.forall(f => graft.core.FramedJson.inKernel(f._2))).take(5).toSeq
    withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
        flat.foreach(c => assertSameBytes(frameOf(c), c.sep))
      }
    }
  }

  test("path guard: flat frames take the kernel, a timestamp column takes Spark's generator") {
    val flat = spark.range(3).select(col("id").cast(StringType).as("k"), col("id").as("n"),
      (col("id") / 2).as("x"), (col("id") > 1).as("b"))
    val p = DeliverySink.payloads(flat, DeliverySettings("s"))
    assert(usesKernel(p) && !usesSparkGenerator(p), p.queryExecution.optimizedPlan.toString)

    val ts = flat.withColumn("t", lit(java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
    val q = DeliverySink.payloads(ts, DeliverySettings("s"))
    assert(usesSparkGenerator(q) && !usesKernel(q), q.queryExecution.optimizedPlan.toString)
    assertSameBytes(ts, bytes('\n'))
  }

  test("a record larger than the per-record cap matches, and the writer buffer shrinks back") {
    import spark.implicits._
    val big = "x\"\u0001é" * (DeliverySettings.MaxRecordBytes / 3)
    assertSameBytes(spark.sparkContext.parallelize(Seq((big, 1), ("small", 2)), 1).toDF("t", "i"),
      bytes('\n'))

    val w = new FramedJsonWriter(Array("t"), bytes('\n'), ignoreNullFields = true)
    w.begin()
    w.writeString(0, org.apache.spark.unsafe.types.UTF8String.fromString(big))
    assert(w.end().length > DeliverySettings.MaxRecordBytes)
    assert(w.capacity <= DeliverySettings.MaxRecordBytes)
  }
}
