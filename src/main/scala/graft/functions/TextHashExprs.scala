package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-hash kernels (SURVEY.md
  * §7.3 "custom Expression beats UDF"): each generates a single static
  * call into the compiled TextHash kernel, so scans over documents stay
  * inside whole-stage codegen with no interpreted higher-order
  * functions and no UDF serialization.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.shingles(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.shingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_minhash"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.minhash(input.asInstanceOf[UTF8String], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.minhash($c, $k, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_simhash"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Hashed-BoW feature buckets of a document (hashing trick,
  * floorMod(fnv1a(token), dims); empty tokens dropped). */
case class BucketArray(child: Expression, dims: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_bow_buckets"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.bucketArray(input.asInstanceOf[UTF8String], dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.bucketArray($c, $dims)")
  override protected def withNewChildInternal(newChild: Expression): BucketArray =
    copy(child = newChild)
}

/** Linear hashed-BoW score: bias + Σ w[bucket(token)], all-integer.
  * The weight vector rides into generated code as a referenced
  * object — one compiled pass per document, no explode, no join. */
case class BowScore(child: Expression, dims: Int,
                    weights: Array[Long], bias: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_bow_score"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.bowScore(input.asInstanceOf[UTF8String], dims, weights, bias)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("bowWeights", weights, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.bowScore($c, $dims, $wRef, ${bias}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): BowScore =
    copy(child = newChild)
}

/** Agreeing-position count between two signature arrays — the
  * estimated-Jaccard numerator as one compiled call, keeping LSH
  * pair scoring inside whole-stage codegen (the HOF spelling it
  * replaces dominated q_dedup_minhash at 10× scale). */
case class SigAgree(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<bigint> columns")
  override def prettyName: String = "graft_sig_agree"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.sigAgreement(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.sigAgreement($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SigAgree = copy(left = newLeft, right = newRight)
}

/** Character k-shingles (optionally per-document distinct) as one
  * compiled pass — the `transform(sequence, substring)` HOF it
  * replaces dominated the overlap-matrix and trigram-index builds. */
case class CharShingles(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_char_shingles"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.charShingles(input.asInstanceOf[UTF8String], k, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.charShingles($c, $k, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

/** 64-bit hashes of the k-char shingles (hashed sibling of
  * [[CharShingles]]): equality-only consumers shuffle 8-byte longs
  * instead of raw shingle strings. */
case class CharShingleHashes(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_char_shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.charShingleHashes(input.asInstanceOf[UTF8String], k, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.charShingleHashes($c, $k, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): CharShingleHashes =
    copy(child = newChild)
}

/** Per-band LSH bucket keys of a MinHash signature as one compiled
  * pass (long-fold per band — no per-band string building). */
case class BandHashes(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<bigint> column")
  }
  override def prettyName: String = "graft_band_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.bandHashes(input.asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.bandHashes($c, $bands, $rows)")
  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

/** Fixed-width token-window lines of a document as one compiled
  * pass (tokenize → window → join). */
case class TokenWindowLines(child: Expression, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_token_window_lines"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.tokenWindowLines(input.asInstanceOf[UTF8String], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.tokenWindowLines($c, $width)")
  override protected def withNewChildInternal(newChild: Expression): TokenWindowLines =
    copy(child = newChild)
}

/** SymSpell deletion-neighborhood keys (distinct, k in 1..2) as one
  * compiled pass per string. */
case class DeletionNeighborhood(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def prettyName: String = "graft_deletion_neighborhood"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.deletionNeighborhood(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.deletionNeighborhood($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): DeletionNeighborhood =
    copy(child = newChild)
}

/** Unordered (min, max) id pair expansion of a blocking bucket. */
case class LongPairCombos(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<bigint> column")
  }
  override def prettyName: String = "graft_long_pair_combos"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.longPairCombos(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.longPairCombos($c)")
  override protected def withNewChildInternal(newChild: Expression): LongPairCombos =
    copy(child = newChild)
}

/** One-pass Jaccard over two distinct hash-set arrays (|A∩B| probe +
  * complement union count) — pair verification for the exact n-gram
  * dedup without materializing intersect/union arrays per pair. */
case class JaccardDistinct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<bigint> columns")
  override def prettyName: String = "graft_jaccard_distinct"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccardDistinct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.jaccardDistinct($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaccardDistinct = copy(left = newLeft, right = newRight)
}

/** Column-level entry points. */
object TextHashFunctions {
  def shingleHashes(text: Column, k: Int): Column =
    CatalystBridge.column(ShingleHashes(CatalystBridge.expression(text), k))
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    CatalystBridge.column(MinHashSig(CatalystBridge.expression(text), k, numHashes))
  def simhash(text: Column): Column =
    CatalystBridge.column(SimHash64(CatalystBridge.expression(text)))
  def bowBuckets(text: Column, dims: Int): Column =
    CatalystBridge.column(BucketArray(CatalystBridge.expression(text), dims))
  def bowScore(text: Column, dims: Int, weights: Array[Long], bias: Long): Column =
    CatalystBridge.column(BowScore(CatalystBridge.expression(text), dims, weights, bias))
  def sigAgree(a: Column, b: Column): Column =
    CatalystBridge.column(SigAgree(CatalystBridge.expression(a), CatalystBridge.expression(b)))
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    CatalystBridge.column(BandHashes(CatalystBridge.expression(sig), bands, rows))
  def tokenWindowLines(text: Column, width: Int): Column =
    CatalystBridge.column(TokenWindowLines(CatalystBridge.expression(text), width))
  def deletionNeighborhood(text: Column, k: Int): Column =
    CatalystBridge.column(DeletionNeighborhood(CatalystBridge.expression(text), k))
  def longPairCombos(ids: Column): Column =
    CatalystBridge.column(LongPairCombos(CatalystBridge.expression(ids)))
  def charShingles(text: Column, k: Int, distinct: Boolean): Column =
    CatalystBridge.column(CharShingles(CatalystBridge.expression(text), k, distinct))
  def charShingleHashes(text: Column, k: Int, distinct: Boolean): Column =
    CatalystBridge.column(CharShingleHashes(CatalystBridge.expression(text), k, distinct))
  def jaccardDistinct(a: Column, b: Column): Column =
    CatalystBridge.column(JaccardDistinct(CatalystBridge.expression(a), CatalystBridge.expression(b)))
}
