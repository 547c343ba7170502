package graft.core

import java.nio.ByteOrder
import java.nio.charset.StandardCharsets
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Concat, CreateNamedStruct, Expression, RuntimeReplaceable, StructsToJson, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.TreePattern.{RUNTIME_REPLACEABLE, TreePattern}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `framed_json(row, separator)`: the row's JSON text as UTF-8 bytes with
  * `separator` appended — the reference's `Serializer[T].apply(x) ++
  * separator` (`firehose.scala:58-60`) — byte-identical to
  * `concat(cast(to_json(row) as binary), separator)`.
  *
  * The choice of path is made once, from the resolved schema, when the
  * optimizer replaces this expression: a `struct(...)` of string, boolean,
  * byte, short, int, long, float and double fields becomes a
  * [[FramedJsonKernel]], which writes each row in one pass straight from
  * Spark's binary row; any other row keeps Spark's JSON generator.
  * `spark.sql.jsonGenerator.ignoreNullFields` is read at that moment too,
  * for both paths.
  */
case class FramedJson(row: Expression, separator: Expression, timeZoneId: Option[String] = None)
    extends BinaryExpression with RuntimeReplaceable with TimeZoneAwareExpression {

  override def left: Expression = row
  override def right: Expression = separator
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = row.nullable
  override def prettyName: String = "framed_json"
  override def nodePatternsInternal(): Seq[TreePattern] = Seq(RUNTIME_REPLACEABLE)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!row.dataType.isInstanceOf[StructType])
      TypeCheckResult.TypeCheckFailure(s"$prettyName(row, sep) requires a STRUCT row, got ${row.dataType.sql}")
    else if (separator.dataType != BinaryType || !separator.foldable || separator.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName(row, sep) requires a non-null BINARY literal separator")
    else TypeCheckResult.TypeCheckSuccess

  override lazy val replacement: Expression = {
    val ignoreNullFields = SQLConf.get.jsonGeneratorIgnoreNullFields
    row match {
      case s: CreateNamedStruct if s.dataType.forall(f => FramedJson.inKernel(f.dataType)) =>
        FramedJsonKernel(s.valExprs, s.dataType.fieldNames.toSeq,
          separator.eval().asInstanceOf[Array[Byte]], ignoreNullFields)
      case _ =>
        val json = StructsToJson(Map("ignoreNullFields" -> ignoreNullFields.toString), row, timeZoneId)
        Concat(Seq(Cast(json, BinaryType), separator))
    }
  }

  override def withTimeZone(timeZoneId: String): FramedJson = copy(timeZoneId = Option(timeZoneId))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FramedJson =
    copy(row = l, separator = r)
}

object FramedJson {
  /** Field types the kernel writes; any other keeps Spark's generator. */
  def inKernel(t: DataType): Boolean = t match {
    case _: StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType => true
    case _ => false
  }
}

/** The one-pass framing kernel behind [[FramedJson]]: the fields are its
  * children, so whole-stage codegen evaluates them in place (no struct is
  * built per row) and passes each to a per-task [[FramedJsonWriter]]. */
case class FramedJsonKernel(
    fields: Seq[Expression], names: Seq[String], separator: Array[Byte], ignoreNullFields: Boolean)
    extends Expression {

  override def children: Seq[Expression] = fields
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def toString: String = s"framed_json(${fields.mkString(", ")})"

  @transient private lazy val writer = new FramedJsonWriter(names.toArray, separator, ignoreNullFields)

  override def eval(input: InternalRow): Any = {
    writer.begin()
    var i = 0
    while (i < fields.length) {
      val v = fields(i).eval(input)
      if (v == null) writer.writeNull(i)
      else fields(i).dataType match {
        case _: StringType => writer.writeString(i, v.asInstanceOf[UTF8String])
        case BooleanType => writer.writeBoolean(i, v.asInstanceOf[Boolean])
        case FloatType => writer.writeFloat(i, v.asInstanceOf[Float])
        case DoubleType => writer.writeDouble(i, v.asInstanceOf[Double])
        case _ => writer.writeLong(i, v.asInstanceOf[Number].longValue)
      }
      i += 1
    }
    writer.end()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[FramedJsonWriter].getName
    val namesRef = ctx.addReferenceObj("fieldNames", names.toArray, "java.lang.String[]")
    val sepRef = ctx.addReferenceObj("separator", separator, "byte[]")
    val w = ctx.addMutableState(cls, "framedJsonWriter",
      v => s"$v = new $cls($namesRef, $sepRef, $ignoreNullFields);")
    val writes = fields.zipWithIndex.map { case (f, i) =>
      val e = f.genCode(ctx)
      val write = f.dataType match {
        case _: StringType => "writeString"
        case BooleanType => "writeBoolean"
        case FloatType => "writeFloat"
        case DoubleType => "writeDouble"
        case _ => "writeLong"
      }
      s"""${e.code}
         |if (${e.isNull}) { $w.writeNull($i); } else { $w.$write($i, ${e.value}); }""".stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(writes, funcName = "framedJsonFields")
    ev.copy(code = code"""
      |$w.begin();
      |$body
      |byte[] ${ev.value} = $w.end();""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FramedJsonKernel =
    copy(fields = newChildren)
}

/** Writes one framed row at a time into a reusable buffer, escaping as
  * Jackson's default generator does: `"` and `\` get a backslash, `\b \f
  * \n \r \t` their short escapes, other bytes below 0x20 `\u00XX` (upper
  * hex); nothing else is escaped. String bytes are read in place and their
  * UTF-8 is checked inline; an ill-formed value is first re-encoded through
  * `toString.getBytes(UTF_8)`, the text Jackson is handed. Numbers are
  * `Long`/`Double`/`Float.toString`, non-finite ones quoted.
  *
  * Strings are scanned 8 bytes per step: one `Platform.getLong` and a
  * branch-free mask that flags any byte ≥ 0x80, < 0x20, `"` or `\`. A clean
  * word only extends the pending run, which is copied with one
  * `copyMemory`; a flagged word sends the scan to its lowest flagged byte
  * (always a true hit, see `flags`), which is handled on its own before
  * the word scan resumes after it. The last bytes of fewer than a word are
  * read one by one, so the scan never reads past the string, which may
  * live off-heap. */
final class FramedJsonWriter(names: Array[String], separator: Array[Byte], ignoreNullFields: Boolean) {
  import FramedJsonWriter._

  private var buf = new Array[Byte](InitialBytes)
  private var pos = 0

  /** `"name":` per field, escaped like a string value. */
  private val prefixes: Array[Array[Byte]] = names.map { n =>
    pos = 0
    val b = n.getBytes(StandardCharsets.UTF_8)
    quoted(b, Platform.BYTE_ARRAY_OFFSET, b.length)
    ascii(":")
    Arrays.copyOf(buf, pos)
  }

  /** Current buffer size (for tests). */
  private[graft] def capacity: Int = buf.length

  def begin(): Unit = {
    buf(0) = '{'
    pos = 1
  }

  /** The framed row; the buffer is dropped if a large row grew it past
    * [[DeliverySettings.MaxRecordBytes]]. */
  def end(): Array[Byte] = {
    ensure(1 + separator.length)
    buf(pos) = '}'
    System.arraycopy(separator, 0, buf, pos + 1, separator.length)
    pos += 1 + separator.length
    val out = Arrays.copyOf(buf, pos)
    if (buf.length > DeliverySettings.MaxRecordBytes) buf = new Array[Byte](InitialBytes)
    out
  }

  def writeNull(i: Int): Unit =
    if (!ignoreNullFields) {
      field(i)
      ascii("null")
    }

  def writeBoolean(i: Int, v: Boolean): Unit = {
    field(i)
    ascii(if (v) "true" else "false")
  }

  def writeLong(i: Int, v: Long): Unit = {
    field(i)
    if (v == Long.MinValue) ascii(java.lang.Long.toString(v))
    else {
      ensure(20)
      var x = v
      if (x < 0) {
        buf(pos) = '-'
        pos += 1
        x = -x
      }
      var end = pos + 1
      var t = x / 10
      while (t > 0) { end += 1; t /= 10 }
      pos = end
      do {
        end -= 1
        buf(end) = ('0' + x % 10).toByte
        x /= 10
      } while (x > 0)
    }
  }

  def writeDouble(i: Int, v: Double): Unit = {
    field(i)
    number(java.lang.Double.toString(v), java.lang.Double.isFinite(v))
  }

  def writeFloat(i: Int, v: Float): Unit = {
    field(i)
    number(java.lang.Float.toString(v), java.lang.Float.isFinite(v))
  }

  def writeString(i: Int, s: UTF8String): Unit = {
    field(i)
    val start = pos
    if (!quoted(s.getBaseObject, s.getBaseOffset, s.numBytes)) {
      pos = start
      val b = s.toString.getBytes(StandardCharsets.UTF_8)
      quoted(b, Platform.BYTE_ARRAY_OFFSET, b.length)
    }
  }

  private def field(i: Int): Unit = {
    val p = prefixes(i)
    ensure(1 + p.length)
    if (pos > 1) {
      buf(pos) = ','
      pos += 1
    }
    System.arraycopy(p, 0, buf, pos, p.length)
    pos += p.length
  }

  private def number(s: String, finite: Boolean): Unit =
    if (finite) ascii(s) else ascii("\"" + s + "\"")

  private def ascii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) {
      buf(pos + i) = s.charAt(i).toByte
      i += 1
    }
    pos += s.length
  }

  private def ensure(extra: Int): Unit =
    if (pos + extra > buf.length) buf = Arrays.copyOf(buf, math.max(buf.length * 2, pos + extra))

  /** Writes the `n` bytes at `base`+`off` as a quoted, escaped JSON string;
    * false (output incomplete) if they are not well-formed UTF-8. Clean
    * bytes are skipped a word at a time (`flags`) and copied in runs. */
  private def quoted(base: AnyRef, off: Long, n: Int): Boolean = {
    ensure(n + 2)
    buf(pos) = '"'
    pos += 1
    var run = 0
    var i = 0
    while (i < n) {
      // advance `i` to the next byte that needs a look (`b`), or to `n`
      var b = -1
      while (b < 0 && i <= n - 8) {
        val m = flags(Platform.getLong(base, off + i))
        if (m == 0) i += 8
        else {
          i += java.lang.Long.numberOfTrailingZeros(m) >>> 3
          b = Platform.getByte(base, off + i) & 0xFF
        }
      }
      // the tail of fewer than 8 bytes, one at a time: never read past `n`
      while (b < 0 && i < n) {
        val c = Platform.getByte(base, off + i) & 0xFF
        if (c >= 0x80 || c < 0x20 || c == '"' || c == '\\') b = c else i += 1
      }
      if (b >= 0x80) {
        val len = sequenceLength(base, off, i, n)
        if (len == 0) return false
        i += len
      } else if (b >= 0) {
        copy(base, off + run, i - run)
        ensure(6 + (n - i - 1) + 1)
        escape(b)
        i += 1
        run = i
      }
    }
    copy(base, off + run, n - run)
    buf(pos) = '"'
    pos += 1
    true
  }

  private def copy(base: AnyRef, off: Long, len: Int): Unit = {
    Platform.copyMemory(base, off, buf, Platform.BYTE_ARRAY_OFFSET + pos, len)
    pos += len
  }

  private def escape(b: Int): Unit = {
    buf(pos) = '\\'
    val short = b match {
      case '"' => '"'
      case '\\' => '\\'
      case '\b' => 'b'
      case '\f' => 'f'
      case '\n' => 'n'
      case '\r' => 'r'
      case '\t' => 't'
      case _ => 0
    }
    if (short != 0) {
      buf(pos + 1) = short.toByte
      pos += 2
    } else {
      buf(pos + 1) = 'u'
      buf(pos + 2) = '0'
      buf(pos + 3) = '0'
      buf(pos + 4) = Hex(b >> 4)
      buf(pos + 5) = Hex(b & 0xF)
      pos += 6
    }
  }
}

object FramedJsonWriter {
  val InitialBytes = 4096
  private val Hex = "0123456789ABCDEF".getBytes(StandardCharsets.US_ASCII)

  private final val Ones = 0x0101010101010101L
  private final val Highs = 0x8080808080808080L

  /** Flags, in its high bit, each byte of `word` (8 bytes of text read in
    * native order) that needs a look: ≥ 0x80 (its own high bit), < 0x20
    * (`w - 0x20` per byte), `"` or `\` (the byte xor the character, minus
    * 1 per byte). A subtraction also sets the high bit of a byte ≥ 0xA0
    * or ≥ 0x80 after the xor, which is flagged anyway. A big-endian word is
    * reversed, so the first byte in memory is the lowest on either byte
    * order. The flags may hold false hits, but the lowest flag is always
    * exact, and it is the only one used: a subtraction borrows out of a byte
    * only at a true hit or after a borrow came in, and borrows run upwards,
    * so every byte below the lowest true hit is tested exactly. */
  private def flags(word: Long): Long = {
    // `nativeOrder` returns a static final field: the JIT folds this test
    val w = if (ByteOrder.nativeOrder eq ByteOrder.BIG_ENDIAN) java.lang.Long.reverseBytes(word) else word
    (w | (w - Ones * 0x20) | ((w ^ (Ones * '"')) - Ones) | ((w ^ (Ones * '\\')) - Ones)) & Highs
  }

  /** Length of the well-formed UTF-8 sequence (Unicode Table 3-7) that
    * starts at byte `i` (≥ 0x80) of the `n` at `base`+`off`, or 0. */
  private def sequenceLength(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    def at(j: Int): Int = if (j < n) Platform.getByte(base, off + j) & 0xFF else -1
    def cont(j: Int): Boolean = (at(j) & 0xC0) == 0x80
    val b0 = at(i)
    if (b0 >= 0xC2 && b0 <= 0xDF) { if (cont(i + 1)) 2 else 0 }
    else if (b0 >= 0xE0 && b0 <= 0xEF) {
      val b1 = at(i + 1)
      val lo = if (b0 == 0xE0) 0xA0 else 0x80
      val hi = if (b0 == 0xED) 0x9F else 0xBF
      if (b1 >= lo && b1 <= hi && cont(i + 2)) 3 else 0
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      val b1 = at(i + 1)
      val lo = if (b0 == 0xF0) 0x90 else 0x80
      val hi = if (b0 == 0xF4) 0x8F else 0xBF
      if (b1 >= lo && b1 <= hi && cont(i + 2) && cont(i + 3)) 4 else 0
    } else 0
  }
}
