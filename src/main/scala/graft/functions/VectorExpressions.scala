package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the similarity-search hot path
  * (SURVEY §4.2 upgrade path, taken): a fused single-pass dot product and
  * cosine similarity over `array<double>` with whole-stage codegen
  * (`doGenCode`), replacing three `aggregate(zip_with(...))` higher-order
  * traversals per pair. At 100 TB the near-dup pairing join evaluates this
  * once per candidate pair — the fused loop is the difference between one
  * array traversal and six (zip materialization + fold, ×3).
  */
abstract class VectorBinaryExpression extends BinaryExpression with ImplicitCastInputTypes {
  // AbstractDataType is private[sql]; the inferred Seq[ArrayType] conforms.
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
}

/** dot(x, y) = Σ xᵢ·yᵢ over the common prefix length. */
case class VectorDot(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
  override def prettyName: String = "vector_dot"
}

/** cosine_sim(x, y) = dot(x,y) / (|x|·|y|), 0.0 when either norm is 0 —
  * one fused pass computing dot and both norms together. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $x.getDouble($i);
         |  double $yv = $y.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Function registration: via `SparkSessionExtensions` (config
  * `spark.sql.extensions=graft.functions.GraftExtensions`) or imperatively
  * with [[GraftFunctions.register]]. Both are idempotent.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.injectables.foreach(ext.injectFunction)
    // opt-in (spark.graft.lsh.joinRewrite): brute-force cosine-threshold
    // joins become sign-LSH bucket equi-joins — see plans.LshJoinRewrite
    ext.injectOptimizerRule(_ => graft.plans.LshJoinRewrite)
    // opt-in (spark.graft.approx.countDistinct): exact count(DISTINCT x)
    // becomes an HLL++ sketch — see plans.ApproxDistinctRewrite
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // opt-in (spark.graft.lsh.jaccardJoinRewrite): brute-force
    // Jaccard-threshold joins become MinHash bucket equi-joins — see
    // plans.JaccardJoinRewrite
    ext.injectOptimizerRule(_ => graft.plans.JaccardJoinRewrite)
    // opt-in (spark.graft.approx.percentile): exact buffering
    // percentile(x, p) becomes the bounded GK sketch — see
    // plans.ApproxPercentileRewrite
    ext.injectOptimizerRule(_ => graft.plans.ApproxPercentileRewrite)
  }
}

object GraftFunctions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val injectables: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (es: Seq[Expression]) => VectorDot(es(0), es(1))),
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    (FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[ShingleGenerator].getName, "shingles"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"shingles(text, n) requires exactly 2 arguments, got ${es.length}")
        val n = es(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"shingles(text, n): n must be an integer literal, got $other")
        }
        ShingleGenerator(es(0), n)
      }),
    (FunctionIdentifier("shingle_key"),
      new ExpressionInfo(classOf[ShingleKey].getName, "shingle_key"),
      (es: Seq[Expression]) => {
        require(es.length == 1,
          s"shingle_key(text) requires exactly 1 argument, got ${es.length}")
        ShingleKey(es(0))
      }),
    (FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSimilarity].getName, "jaccard_sim"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"jaccard_sim(a, b) requires exactly 2 arguments, got ${es.length}")
        JaccardSimilarity(es(0), es(1))
      }),
    (FunctionIdentifier("minhash_bucket"),
      new ExpressionInfo(classOf[MinHashBucket].getName, "minhash_bucket"),
      (es: Seq[Expression]) => {
        require(es.length == 1,
          s"minhash_bucket(a) requires exactly 1 argument, got ${es.length}")
        MinHashBucket(es(0))
      }),
    (FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (es: Seq[Expression]) => {
        require(es.length == 1,
          s"minhash_bands(a) requires exactly 1 argument, got ${es.length}")
        MinHashBands(es(0))
      }),
    (FunctionIdentifier("minhash_first_band"),
      new ExpressionInfo(classOf[MinHashFirstBand].getName, "minhash_first_band"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"minhash_first_band(a, b) requires exactly 2 arguments, got ${es.length}")
        MinHashFirstBand(es(0), es(1))
      }),
    (FunctionIdentifier("double_order_key"),
      new ExpressionInfo(classOf[DoubleOrderKey].getName, "double_order_key"),
      (es: Seq[Expression]) => {
        require(es.length == 1,
          s"double_order_key(x) requires exactly 1 argument, got ${es.length}")
        DoubleOrderKey(es(0))
      }),
    (FunctionIdentifier("text_full_hash"),
      new ExpressionInfo(classOf[TextFullHash].getName, "text_full_hash"),
      (es: Seq[Expression]) => {
        require(es.length == 1,
          s"text_full_hash(text) requires exactly 1 argument, got ${es.length}")
        TextFullHash(es(0))
      }),
    (FunctionIdentifier("min_shingle_hash"),
      new ExpressionInfo(classOf[MinShingleHash].getName, "min_shingle_hash"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"min_shingle_hash(text, k) requires exactly 2 arguments, got ${es.length}")
        val k = es(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"min_shingle_hash(text, k): k must be an integer literal, got $other")
        }
        MinShingleHash(es(0), k)
      }),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (es: Seq[Expression]) => {
        require(es.length == 1,
          s"nfc_normalize(text) requires exactly 1 argument, got ${es.length}")
        NfcNormalize(es(0))
      }),
    (FunctionIdentifier("nfkc_normalize"),
      new ExpressionInfo(classOf[NfkcNormalize].getName, "nfkc_normalize"),
      (es: Seq[Expression]) => {
        require(es.length == 1,
          s"nfkc_normalize(text) requires exactly 1 argument, got ${es.length}")
        NfkcNormalize(es(0))
      }),
    (FunctionIdentifier("block_hashes"),
      new ExpressionInfo(classOf[BlockHashGenerator].getName, "block_hashes"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"block_hashes(text, w) requires exactly 2 arguments, got ${es.length}")
        val w = es(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"block_hashes(text, w): w must be an integer literal, got $other")
        }
        BlockHashGenerator(es(0), w)
      }),
    (FunctionIdentifier("sliding_hashes"),
      new ExpressionInfo(classOf[SlidingHashGenerator].getName, "sliding_hashes"),
      (es: Seq[Expression]) => {
        require(es.length >= 2,
          s"sliding_hashes(text, w1[, w2 …]) requires at least 2 arguments, got ${es.length}")
        SlidingHashGenerator(es.head,
          es.tail.map(intLit(_, "sliding_hashes", "w")))
      }),
    (FunctionIdentifier("winnow_hashes"),
      new ExpressionInfo(classOf[WinnowGenerator].getName, "winnow_hashes"),
      (es: Seq[Expression]) => {
        require(es.length == 3,
          s"winnow_hashes(text, k, w) requires exactly 3 arguments, got ${es.length}")
        WinnowGenerator(es(0), intLit(es(1), "winnow_hashes", "k"),
          intLit(es(2), "winnow_hashes", "w"))
      }),
    (FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunkGenerator].getName, "cdc_chunks"),
      (es: Seq[Expression]) => {
        require(es.length == 3,
          s"cdc_chunks(text, k, mod) requires exactly 3 arguments, got ${es.length}")
        CdcChunkGenerator(es(0), intLit(es(1), "cdc_chunks", "k"),
          intLit(es(2), "cdc_chunks", "mod"))
      }),
    (FunctionIdentifier("framed_json"),
      new ExpressionInfo(classOf[graft.core.FramedJson].getName, "framed_json"),
      (es: Seq[Expression]) => {
        require(es.length == 2,
          s"framed_json(row, sep) requires exactly 2 arguments, got ${es.length}")
        graft.core.FramedJson(es(0), es(1))
      }))

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Imperative registration on an existing session (idempotent override). */
  def register(spark: SparkSession): Unit =
    injectables.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
