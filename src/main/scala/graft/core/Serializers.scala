package graft.core

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** The reference's `Serializer` typeclass (reference `Serializer.scala:24-34`:
  * `T → Array[Byte]`, with identity-on-bytes and charset-encoded-string
  * instances) re-expressed as Catalyst column builders: serialization is a
  * codegen'd expression over the row, not a per-element closure, so it runs
  * inside whole-stage codegen on the executors. Whole-row framing
  * ([[framedRow]]) is [[FramedJson]]: one pass from Spark's binary row to
  * the framed bytes for flat rows, byte-identical to [[jsonPayload]] plus
  * the separator.
  */
object Serializers {

  /** Charset-encoded string payload (reference `Serializer.scala:33`). */
  def stringPayload(c: Column, charset: Charset = StandardCharsets.UTF_8): Column =
    encode(c, charset.name())

  /** Whole-row JSON payload — the engine's default `Serializer[Row]`.
    * `to_json` output is always well-formed UTF-8, so a binary cast gives
    * its UTF-8 bytes without `encode`'s validation pass. */
  def jsonPayload(cols: Column*): Column =
    to_json(struct(cols: _*)).cast(BinaryType)

  /** Frame a payload by appending the record separator
    * (reference `firehose.scala:59`: `Serializer[T].apply(x) ++ separator`).
    */
  def framed(payload: Column, separator: Array[Byte]): Column =
    concat(payload, lit(separator))

  /** Serialize + frame a whole row in one expression: `framed(jsonPayload(cols),
    * separator)`, byte for byte, via [[FramedJson]], registered on `spark`:
    * the session of the frame that selects the column, which resolves it
    * (the active session may be another). */
  def framedRow(spark: SparkSession, separator: Array[Byte], cols: Column*): Column = {
    graft.functions.GraftFunctions.register(spark)
    call_function("framed_json", struct(cols: _*), lit(separator))
  }
}
