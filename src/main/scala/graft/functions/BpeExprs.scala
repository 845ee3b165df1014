package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BPE kernels as tight JVM loops. `mergeChain` applies a rank-ordered
  * merge list to one word's segmentation: the learner (ops/Bpe) calls
  * it on its RDD rows, and `encode` through the [[BpeMergeChain]]
  * expression. `adjacentPairs` is the pair explode behind
  * [[AdjacentPairs]]. Merge semantics are locked to
  * `Bpe.referenceLearn` (the gate's cross-path identity check): a
  * greedy left-to-right pass where a symbol fuses iff the LAST
  * EMITTED symbol equals `left` and the current equals `right`.
  */
object BpeKernel {

  /** The whole merge chain in rank order: per merge (lefts(r),
    * rights(r)), one greedy left-to-right pass over the current
    * segmentation. Returns a new array; `syms` is not modified. */
  def mergeChain(syms: Array[UTF8String], lefts: Array[UTF8String],
                 rights: Array[UTF8String]): Array[UTF8String] = {
    val cur = syms.clone()
    val len = fuse(cur, lefts, rights)
    if (len == cur.length) cur else java.util.Arrays.copyOf(cur, len)
  }

  /** [[mergeChain]] over a Catalyst array<string> value. Elements are
    * cloned off the (possibly unsafe-backed) input buffer. */
  def mergeChain(syms: ArrayData, lefts: Array[UTF8String],
                 rights: Array[UTF8String]): ArrayData = {
    val n = syms.numElements()
    val cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) { cur(i) = syms.getUTF8String(i).clone(); i += 1 }
    val len = fuse(cur, lefts, rights)
    val out = new Array[Any](len)
    i = 0
    while (i < len) { out(i) = cur(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Applies the chain to `cur` in place; returns the new length. */
  private def fuse(cur: Array[UTF8String], lefts: Array[UTF8String],
                   rights: Array[UTF8String]): Int = {
    var len = cur.length
    var r = 0
    while (r < lefts.length && len > 1) {
      val a = lefts(r)
      val b = rights(r)
      var m = 0
      var i = 0
      while (i < len) {
        val s = cur(i)
        if (m > 0 && cur(m - 1).equals(a) && s.equals(b)) cur(m - 1) = UTF8String.concat(a, b)
        else { cur(m) = s; m += 1 }
        i += 1
      }
      len = m
      r += 1
    }
    len
  }

  /** Adjacent (left, right) symbol pairs of a segmentation — the
    * pair-frequency explode's input, built in one pass. */
  def adjacentPairs(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = syms.getUTF8String(0).clone()
    var i = 1
    while (i < n) {
      val cur = syms.getUTF8String(i).clone()
      out(i - 1) = new GenericInternalRow(Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class BpeMergeChain(child: Expression, lefts: Array[String], rights: Array[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<string> column")
  }
  override def prettyName: String = "graft_bpe_merge_chain"
  @transient private lazy val leftsU = lefts.map(UTF8String.fromString)
  @transient private lazy val rightsU = rights.map(UTF8String.fromString)
  override protected def nullSafeEval(input: Any): Any =
    BpeKernel.mergeChain(input.asInstanceOf[ArrayData], leftsU, rightsU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val utf8s = "org.apache.spark.unsafe.types.UTF8String[]"
    val lRef = ctx.addReferenceObj("bpeLefts", leftsU, utf8s)
    val rRef = ctx.addReferenceObj("bpeRights", rightsU, utf8s)
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeKernel.mergeChain($c, $lRef, $rRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeMergeChain =
    copy(child = newChild)
}

case class AdjacentPairs(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("left", StringType, nullable = false),
    StructField("right", StringType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<string> column")
  }
  override def prettyName: String = "graft_adjacent_pairs"
  override protected def nullSafeEval(input: Any): Any =
    BpeKernel.adjacentPairs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeKernel.adjacentPairs($c)")
  override protected def withNewChildInternal(newChild: Expression): AdjacentPairs =
    copy(child = newChild)
}

object BpeFunctions {
  def mergeChain(syms: Column, lefts: Array[String], rights: Array[String]): Column =
    CatalystBridge.column(BpeMergeChain(CatalystBridge.expression(syms), lefts, rights))
  def adjacentPairs(syms: Column): Column =
    CatalystBridge.column(AdjacentPairs(CatalystBridge.expression(syms)))
}
