package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst `Generator`: disjoint `w`-token block hashes of a text
  * column as (blk, bh) rows — the candidate stage of span-level exact
  * dedup (the "remove duplicated 50-token spans" operator of
  * reference-class corpus curation, sized to this corpus's short docs).
  *
  * Emits one row per COMPLETE `w`-token block (stride `w`, trailing
  * partial block dropped): `blk` is the 0-based block index, `bh` the
  * [[ReplayableHash]] fold over the block's token hashes — both engines
  * compute it bit-identically, so the whole downstream df-count / dup-flag
  * pipeline replays in the DuckDB oracle.
  *
  * Deliberately emits DIGESTS, not span text: every exchange downstream of
  * the scan carries (doc_id, blk, bh) only — the plan-audit rule-5 "no raw
  * text on a shuffle" discipline is satisfied by construction.
  */
case class BlockHashGenerator(child: Expression, w: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  require(w >= 1 && w <= 64, s"block width out of range: $w")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"block_hashes(text, w) requires a STRING first argument, got ${child.dataType.sql}")

  override def elementSchema: StructType = StructType(Seq(
    StructField("blk", LongType, nullable = false),
    StructField("bh", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val toks = v.asInstanceOf[UTF8String].toString
        .split(' ').iterator.filter(_.nonEmpty).toArray
      val nBlocks = toks.length / w
      if (nBlocks == 0) Nil
      else new Iterator[InternalRow] {
        private var b = 0
        override def hasNext: Boolean = b < nBlocks
        override def next(): InternalRow = {
          var h = 0L
          var j = b * w
          while (j < (b + 1) * w) {
            h = (h * ReplayableHash.BlockBase
              + ReplayableHash.tokenHash(toks(j))) % ReplayableHash.P
            j += 1
          }
          val row = InternalRow(b.toLong, h)
          b += 1
          row
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BlockHashGenerator =
    copy(child = newChild)
  override def prettyName: String = "block_hashes"
}

/** Custom Catalyst `Generator`: SLIDING `w`-token window digests of a text
  * column as (w, pos, wh) rows, for every width in `widths` — the
  * exact-substring candidate stage of span-granular dedup (Lee et al.
  * 2022's "remove any repeated ≥w-token span" at full granularity: a
  * repeated span of ANY alignment contains a repeated aligned w-window at
  * every offset, so the dup-window position set reconstructs the exact
  * maximal span via a gaps-and-islands merge).
  *
  * Per width, one row per position `pos` in [0, n-w]: `wh` is the 60-bit
  * pairing digest `fold(BlockBase, th131) * P + fold(BlockBase2, th137)` —
  * two independent fold chains over two independent token-hash bases, so
  * a cross-window collision needs both ~2^30 chains to collide (the
  * ShingleKey discipline; a single fold would birthday-collide at ~50k
  * distinct windows and flag false dup spans). The tokens are split and
  * hashed once per document; each width then runs the rolling fold
  * [[SlidingHashGenerator.digests]]. Emits digests only — no window text
  * ever reaches an exchange (rule-5 discipline by construction).
  */
case class SlidingHashGenerator(child: Expression, widths: Seq[Int])
  extends UnaryExpression with Generator with CodegenFallback {

  SlidingHashGenerator.checkWidths(widths)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sliding_hashes(text, w1[, w2 …]) requires a STRING first argument, got ${child.dataType.sql}")

  override def elementSchema: StructType = StructType(Seq(
    StructField("w", LongType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("wh", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val (th1, th2) = SlidingHashGenerator.tokenHashes(
        v.asInstanceOf[UTF8String].toString)
      widths.iterator.flatMap { w =>
        val d = SlidingHashGenerator.digests(th1, th2, w)
        d.indices.iterator.map(p => InternalRow(w.toLong, p.toLong, d(p)))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): SlidingHashGenerator =
    copy(child = newChild)
  override def prettyName: String = "sliding_hashes"
}

object SlidingHashGenerator {
  /** The widths `sliding_hashes` accepts: at least one, each in [1, 64],
    * none repeated (a repeated width would double every digest count and
    * flag every window as a duplicate). */
  private[functions] def checkWidths(widths: Seq[Int]): Unit = {
    require(widths.nonEmpty, "sliding_hashes(text, w1[, w2 …]) needs at least one width")
    widths.foreach(w =>
      require(w >= 1 && w <= 64, s"sliding_hashes: window width out of range [1, 64]: $w"))
    require(widths.distinct.size == widths.size,
      s"sliding_hashes: repeated window width in ${widths.mkString(", ")}")
  }

  /** Per-token hashes of `text` (split on ' ', empty tokens dropped) on
    * the two token-hash bases of the pairing digest. */
  private[functions] def tokenHashes(text: String): (Array[Long], Array[Long]) = {
    val toks = text.split(' ').iterator.filter(_.nonEmpty).toArray
    (toks.map(ReplayableHash.tokenHash(_)),
      toks.map(ReplayableHash.tokenHash(_, ReplayableHash.Base2)))
  }

  /** Sliding `w`-window pairing digests over the token hashes: element
    * `p` is the digest of tokens [p, p+w). Computed ROLLING (O(n), not
    * O(n·w)): h' = ((h − th[p]·B^{w-1})·B + th[p+w]) mod P, every
    * intermediate < 2^60. */
  private[functions] def digests(th1: Array[Long], th2: Array[Long], w: Int): Array[Long] = {
    val P = ReplayableHash.P
    val B1 = ReplayableHash.BlockBase
    val B2 = ReplayableHash.BlockBase2
    val m = th1.length - w + 1
    if (m <= 0) return Array.emptyLongArray
    val pw1 = powMod(B1, w - 1, P)
    val pw2 = powMod(B2, w - 1, P)
    var h1 = 0L
    var h2 = 0L
    var j = 0
    while (j < w) {
      h1 = (h1 * B1 + th1(j)) % P
      h2 = (h2 * B2 + th2(j)) % P
      j += 1
    }
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      out(p) = h1 * P + h2
      if (p + 1 < m) {
        h1 = (((h1 - th1(p) * pw1 % P + P) % P) * B1 + th1(p + w)) % P
        h2 = (((h2 - th2(p) * pw2 % P + P) % P) * B2 + th2(p + w)) % P
      }
      p += 1
    }
    out
  }

  /** [[digests]] of a text, tokens split and hashed as the generator does. */
  private[graft] def digests(text: String, w: Int): Array[Long] = {
    val (th1, th2) = tokenHashes(text)
    digests(th1, th2, w)
  }

  private[functions] def powMod(b: Long, e: Int, p: Long): Long = {
    var r = 1L
    var i = 0
    while (i < e) { r = r * b % p; i += 1 }
    r
  }
}
