package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the graft hot paths. Each generates a
  * single static call into [[Hashing]], so they participate in
  * whole-stage codegen (no UDF boxing, no Encoder round-trip) — the
  * preference order mandated by SURVEY.md §3: builtin functions first,
  * then a codegen'd Expression, never a Scala UDF in a hot loop.
  */

/** Portable polynomial hash of a string (see [[Hashing.polyHash]]). */
case class PolyHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.polyHash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.polyHash($c)")
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
  override def prettyName: String = "graft_polyhash"
}

/** Unicode NFC normalization (canonical composition) — the text-
  * cleanup pass that makes visually-identical strings byte-identical
  * before hashing/dedup (decomposed e + U+0301 → precomposed é).
  * Codegen'd call into `java.text.Normalizer`; stays inside
  * whole-stage codegen like the hash kernels.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.nfc(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "graft_nfc"
}

/** Winnowing fingerprint: sorted distinct window-minima of k-gram hashes
  * (see [[Hashing.winnow]]).
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Hashing.winnow(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.winnow($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
  override def prettyName: String = "graft_winnow"
}

/** Cosine similarity of two array<float> columns in double precision. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hashing.cosineF(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Hashing.cosineF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

/** Cosine of an array<float> column against an array<double> column
  * (see [[Hashing.cosineFD]]): lets quantizer centroids stay at their
  * trained double precision on the broadcast side.
  */
case class CosineSimFD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hashing.cosineFD(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Hashing.cosineFD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimFD =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine_fd"
}

/** PQ asymmetric-distance score: codes array<int> × per-query flat
  * LUT array<double> (M·K) → approximate dot (see [[Hashing.adcScore]]).
  * The PQ scan's hot path: M table lookups per (query, vector) pair,
  * inside whole-stage codegen.
  */
case class AdcScore(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hashing.adcScore(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Hashing.adcScore($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcScore =
    copy(left = l, right = r)
  override def prettyName: String = "graft_adc_score"
}

/** 64-bit SimHash of an array<long> of token hashes. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.simHash64(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.simHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash"
}

/** Seeded 64-bit SimHash — an independent signature per seed; two
  * seeds compose C3's 128-bit sketch.
  */
case class SimHash64Seeded(child: Expression, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.simHash64Seeded(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.simHash64Seeded($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Seeded =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash_seeded"
}

/** 128-bit SimHash as `array<long>(2)` — both tallies in one pass over
  * the element array (the hot path of C3 at scale computes this per
  * document; two separate expressions would iterate the shingle array
  * twice).
  */
case class SimHash128(child: Expression, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Hashing.simHash128(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.simHash128($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHash128 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash128"
}

/** Distinct word n-gram shingles of a text column (array<string>). */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Hashing.wordShingles(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.wordShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "graft_shingles"
}

/** Distinct word n-gram shingles hashed to 64 bits (array<long>). */
case class ShingleHashes(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Hashing.shingleHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.shingleHashes($c, $n, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "graft_shingle_hashes"
}

/** Distinct 64-bit hashes of a string's CHARACTER n-grams (q-gram
  * index input for edit-distance candidates); codegen'd narrow kernel.
  */
case class CharGramHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Hashing.charGramHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.charGramHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)
  override def prettyName: String = "graft_chargram_hashes"
}

/** |A ∩ B| of two SORTED long arrays (linear merge, codegen'd) — the
  * q-gram count-filter kernel for edit-distance candidates.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hashing.intersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Hashing.intersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_intersect_count"
}

/** MinHash-LSH band keys of an array<long> of shingle hashes. */
case class MinHashBands(child: Expression, seed: Long, nHashes: Int, nBands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nHashes % nBands == 0, "nHashes must divide into nBands")
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Hashing.minHashBandKeys(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seed, nHashes, nBands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.minHashBandKeys($c, ${seed}L, $nHashes, $nBands)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_bands"
}

/** Sign-random-projection LSH signature of an array<float> vector; the
  * hyperplanes are derived from the seed on each executor (no broadcast,
  * no shuffle — the signature is a pure narrow map at any scale).
  */
case class LshSignature(child: Expression, seed: Long, nBits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nBits > 0 && nBits <= 63, "nBits in 1..63")
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.lshSignature(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seed, nBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.lshSignature($c, ${seed}L, $nBits)")
  override protected def withNewChildInternal(newChild: Expression): LshSignature =
    copy(child = newChild)
  override def prettyName: String = "graft_lsh_sig"
}

/** Nearest-centroid assignment for IVF indexing; centroids ride along
  * as a plan constant (addReferenceObj) so the assignment is a pure
  * narrow map over the corpus.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.nearestCentroid(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.nearestCentroid($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
  override def prettyName: String = "graft_nearest_centroid"
}

/** Cluster-indexed nearest-centroid assignment: the codebook used for
  * the argmax is selected by the row's coarse-cluster id from a
  * plan-constant array of books — IVFPQ *per-list* PQ encoding as a
  * pure narrow map (no per-cluster join, no row explosion; the whole
  * nlist×K×dim book array rides along as one reference object).
  */
case class NearestCentroidBy(left: Expression, right: Expression,
    books: Array[Array[Array[Double]]])
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), IntegerType)
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(vec: Any, cluster: Any): Any =
    Hashing.nearestCentroid(
      vec.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      books(cluster.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "double[][][]")
    defineCodeGen(ctx, ev,
      (v, c) => s"graft.functions.Hashing.nearestCentroid($v, $ref[$c])")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidBy =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_nearest_centroid_by"
}

/** Residual against the nearest centroid (see
  * [[Hashing.centroidResidual]]) — IVFPQ's residual encoding as a pure
  * narrow map, centroids riding along as a plan constant.
  */
case class CentroidResidual(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Hashing.centroidResidual(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.centroidResidual($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): CentroidResidual =
    copy(child = newChild)
  override def prettyName: String = "graft_centroid_residual"
}

/** SQ8 encode to a byte-code binary; lo/invSpan ride as plan
  * constants (see [[Hashing.sqEncode]]).
  */
case class SqEncode(child: Expression, lo: Array[Double], invSpan: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.sqEncode(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], lo, invSpan)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", lo, "double[]")
    val isRef = ctx.addReferenceObj("invSpan", invSpan, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.sqEncode($c, $loRef, $isRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): SqEncode =
    copy(child = newChild)
  override def prettyName: String = "graft_sq_encode"
}

/** SQ8 asymmetric scan kernel: unsigned-byte codes × double weights
  * (see [[Hashing.sqDot]]).
  */
case class SqDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hashing.sqDot(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Hashing.sqDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDot =
    copy(left = l, right = r)
  override def prettyName: String = "graft_sq_dot"
}

/** Reconstructed-vector norm of an SQ8 code (see [[Hashing.sqRecNorm]]). */
case class SqRecNorm(child: Expression, lo: Array[Double], span255: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.sqRecNorm(input.asInstanceOf[Array[Byte]], lo, span255)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", lo, "double[]")
    val spRef = ctx.addReferenceObj("span255", span255, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.sqRecNorm($c, $loRef, $spRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): SqRecNorm =
    copy(child = newChild)
  override def prettyName: String = "graft_sq_rec_norm"
}

/** Raw float×double dot product (see [[Hashing.dotFD]]). */
case class DotFD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hashing.dotFD(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Hashing.dotFD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotFD =
    copy(left = l, right = r)
  override def prettyName: String = "graft_dot_fd"
}

/** Z-order key over up to 4 integral columns (see [[Hashing.zorderKey]]);
  * column min/max ride along as plan constants.
  */
case class ZOrderKey(children: Seq[Expression], mins: Array[Long], maxs: Array[Long])
    extends Expression {
  require(children.nonEmpty && children.size <= 4, "1..4 zorder columns")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = new Array[Long](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      vals(i) = if (v == null) mins(i) else v.asInstanceOf[Long]
      i += 1
    }
    Hashing.zorderKey(vals, mins, maxs)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val minsRef = ctx.addReferenceObj("mins", mins, "long[]")
    val maxsRef = ctx.addReferenceObj("maxs", maxs, "long[]")
    val arr = ctx.freshName("zvals")
    val evals = children.map(_.genCode(ctx))
    val fills = evals.zipWithIndex.map { case (e, i) =>
      s"""${e.code}
         |$arr[$i] = ${e.isNull} ? $minsRef[$i] : ${e.value};""".stripMargin
    }.mkString("\n")
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.CodeBlock(
        Seq(s"""long[] $arr = new long[${children.size}];
               |$fills
               |long ${ev.value} = graft.functions.Hashing.zorderKey($arr, $minsRef, $maxsRef);""".stripMargin),
        Seq.empty),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZOrderKey = copy(children = newChildren)
  override def prettyName: String = "graft_zorder"
}

/** Column-API entry points (the public surface of this package). */
/** Deletion-vector membership: true iff `pos` is set in the serialized
  * [[graft.lake.GraftDv]] bitmap. The read path's per-row kernel for
  * merge-on-read deletes — one directory binary search + one container
  * probe on the raw bytes, inside whole-stage codegen.
  */
case class DvContains(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType, LongType)
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(dv: Any, pos: Any): Any =
    graft.lake.GraftDv.contains(dv.asInstanceOf[Array[Byte]], pos.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.lake.GraftDv.contains($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvContains =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dv_contains"
}

/** Union of two serialized deletion vectors (commit-time merge: the
  * new delete's bitmap ∪ the file's existing DV — evaluated on
  * one-row-per-file frames, never in a scan hot path).
  */
case class DvUnion(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.lake.GraftDv.union(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.lake.GraftDv.union($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvUnion =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dv_union"
}

/** Cardinality of a serialized deletion vector (directory sum). */
case class DvCardinality(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(dv: Any): Any =
    graft.lake.GraftDv.cardinality(dv.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.lake.GraftDv.cardinality($c)")
  override protected def withNewChildInternal(newChild: Expression): DvCardinality =
    copy(child = newChild)
  override def prettyName: String = "graft_dv_cardinality"
}

/** Positions in `left` missing from `right` (right null ⇒ all of
  * left) — changelog's in-window DV-deletion reconstruction; output is
  * bounded by the window's actual deletions.
  */
case class DvDiffPositions(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes = Seq(BinaryType, BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // right-null means "no prior DV": diff = all of left — so null
  // handling is custom, not nullSafeEval
  override def nullable: Boolean = left.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) null
    else {
      val b = right.eval(input)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        graft.lake.GraftDv.diffPositions(a.asInstanceOf[Array[Byte]],
          if (b == null) null else b.asInstanceOf[Array[Byte]]))
    }
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvDiffPositions =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dv_diff_positions"
}

/** Hilbert-curve key over up to 4 integral columns (see
  * [[Hashing.hilbertKey]]) — OPTIMIZE's alternative clustering curve
  * (`write.optimize.curve=hilbert`): unit-step adjacency gives files
  * tighter per-column min/max ranges than Morton's boundary jumps.
  */
case class HilbertKey(children: Seq[Expression], mins: Array[Long], maxs: Array[Long])
    extends Expression {
  require(children.nonEmpty && children.size <= 4, "1..4 hilbert columns")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = new Array[Long](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      vals(i) = if (v == null) mins(i) else v.asInstanceOf[Long]
      i += 1
    }
    Hashing.hilbertKey(vals, mins, maxs)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val minsRef = ctx.addReferenceObj("mins", mins, "long[]")
    val maxsRef = ctx.addReferenceObj("maxs", maxs, "long[]")
    val arr = ctx.freshName("hvals")
    val evals = children.map(_.genCode(ctx))
    val fills = evals.zipWithIndex.map { case (e, i) =>
      s"""${e.code}
         |$arr[$i] = ${e.isNull} ? $minsRef[$i] : ${e.value};""".stripMargin
    }.mkString("\n")
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.CodeBlock(
        Seq(s"""long[] $arr = new long[${children.size}];
               |$fills
               |long ${ev.value} = graft.functions.Hashing.hilbertKey($arr, $minsRef, $maxsRef);""".stripMargin),
        Seq.empty),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HilbertKey = copy(children = newChildren)
  override def prettyName: String = "graft_hilbert_key"
}

/** Viterbi piece count of a word under a plan-constant unigram-LM
  * vocabulary ([[graft.pipeline.UnigramLm.Vocab]]) — C77's distributed
  * encode kernel: the few-KB vocab rides as a reference object, the
  * per-row work is one lattice DP over the word.
  */
case class UnigramSegmentN(child: Expression, vocab: graft.pipeline.UnigramLm.Vocab)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    graft.pipeline.UnigramLm.segmentCount(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocab", vocab, "graft.pipeline.UnigramLm.Vocab")
    defineCodeGen(ctx, ev, c => s"graft.pipeline.UnigramLm.segmentCount($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): UnigramSegmentN =
    copy(child = newChild)
  override def prettyName: String = "graft_unigram_segment_n"
}

/** The Viterbi segmentation itself, pieces space-joined (spec surface). */
case class UnigramSegment(child: Expression, vocab: graft.pipeline.UnigramLm.Vocab)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.pipeline.UnigramLm.segmentJoined(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocab", vocab, "graft.pipeline.UnigramLm.Vocab")
    defineCodeGen(ctx, ev, c => s"graft.pipeline.UnigramLm.segmentJoined($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): UnigramSegment =
    copy(child = newChild)
  override def prettyName: String = "graft_unigram_segment"
}

/** Plan-constant keyed lookup: string key → long value, `default` when
  * the key is absent. The map (collected driver-side, bounded by
  * construction — |langs|/|sources| rows) rides along as ONE reference
  * object, so per-key quotas/thresholds become a pure narrow map over
  * the corpus instead of a broadcast join whose tiny build subtree is
  * re-planned per reference (the C45/C33 apportionment-chain fix).
  */
case class ConstLongLookup(child: Expression,
    m: java.util.HashMap[UTF8String, java.lang.Long], default: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.constLookup(m, input.asInstanceOf[UTF8String], default)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("quotas", m, "java.util.HashMap")
    // `${default}L` is valid Java for EVERY Long: -9223372036854775808L
    // parses as unary minus on the max-negative literal (JLS 3.10.1)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Hashing.constLookup($ref, $c, ${default}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): ConstLongLookup =
    copy(child = newChild)
  override def prettyName: String = "graft_const_lookup"
}

/** Double twin of [[ConstLongLookup]] — per-key thresholds (quantile
  * cut points, calibrated gates) as a plan constant.
  */
case class ConstDoubleLookup(child: Expression,
    m: java.util.HashMap[UTF8String, java.lang.Double], default: Double)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    Hashing.constLookupD(m, input.asInstanceOf[UTF8String], default)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("thresholds", m, "java.util.HashMap")
    // the default goes out as raw bits: a NaN/Infinity default would
    // otherwise interpolate as `NaND`/`InfinityD` — invalid Java
    val bits = java.lang.Double.doubleToLongBits(default)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Hashing.constLookupD($ref, $c, " +
        s"java.lang.Double.longBitsToDouble(${bits}L))")
  }
  override protected def withNewChildInternal(newChild: Expression): ConstDoubleLookup =
    copy(child = newChild)
  override def prettyName: String = "graft_const_lookup_d"
}

object exprs {
  private def col(e: Expression): Column = Shim.column(e)
  private def ex(c: Column): Expression = Shim.expression(c)

  def polyHash(c: Column): Column = col(PolyHash(ex(c)))
  def nfcNormalize(c: Column): Column = col(NfcNormalize(ex(c)))
  def wordShingles(c: Column, n: Int): Column = col(WordShingles(ex(c), n))
  def shingleHashes(c: Column, n: Int): Column = col(ShingleHashes(ex(c), n))
  def charGramHashes(c: Column, n: Int): Column = col(CharGramHashes(ex(c), n))
  def sortedIntersectCount(a: Column, b: Column): Column =
    col(SortedIntersectCount(ex(a), ex(b)))
  /** Multiset variant: every n-gram occurrence, duplicates preserved. */
  def shingleHashesAll(c: Column, n: Int): Column =
    col(ShingleHashes(ex(c), n, distinct = false))
  def winnowFp(c: Column, k: Int, w: Int): Column = col(WinnowFingerprint(ex(c), k, w))
  def cosineSim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))
  def cosineSimFD(a: Column, b: Column): Column = col(CosineSimFD(ex(a), ex(b)))

  def adcScore(codes: Column, lut: Column, k: Int): Column =
    col(AdcScore(ex(codes), ex(lut), k))
  def simHash(c: Column): Column = col(SimHash64(ex(c)))
  def simHashSeeded(c: Column, seed: Long): Column = col(SimHash64Seeded(ex(c), seed))
  def simHash128(c: Column, seed: Long): Column = col(SimHash128(ex(c), seed))
  def minHashBands(c: Column, seed: Long, nHashes: Int, nBands: Int): Column =
    col(MinHashBands(ex(c), seed, nHashes, nBands))
  def lshSig(c: Column, seed: Long, nBits: Int): Column = col(LshSignature(ex(c), seed, nBits))
  def nearestCentroid(c: Column, cents: Array[Array[Double]]): Column =
    col(NearestCentroid(ex(c), cents))
  def nearestCentroidBy(c: Column, cluster: Column,
      books: Array[Array[Array[Double]]]): Column =
    col(NearestCentroidBy(ex(c), ex(cluster), books))
  def centroidResidual(c: Column, cents: Array[Array[Double]]): Column =
    col(CentroidResidual(ex(c), cents))
  def dotFD(a: Column, b: Column): Column = col(DotFD(ex(a), ex(b)))
  def sqEncode(c: Column, lo: Array[Double], invSpan: Array[Double]): Column =
    col(SqEncode(ex(c), lo, invSpan))
  def sqDot(codes: Column, w: Column): Column = col(SqDot(ex(codes), ex(w)))
  def sqRecNorm(codes: Column, lo: Array[Double], span255: Array[Double]): Column =
    col(SqRecNorm(ex(codes), lo, span255))
  def zorderKey(cs: Seq[Column], mins: Array[Long], maxs: Array[Long]): Column =
    col(ZOrderKey(cs.map(ex), mins, maxs))
  def hilbertKey(cs: Seq[Column], mins: Array[Long], maxs: Array[Long]): Column =
    col(HilbertKey(cs.map(ex), mins, maxs))
  def dvContains(dv: Column, pos: Column): Column = col(DvContains(ex(dv), ex(pos)))
  def dvUnion(a: Column, b: Column): Column = col(DvUnion(ex(a), ex(b)))
  def dvCardinality(dv: Column): Column = col(DvCardinality(ex(dv)))
  def dvDiffPositions(a: Column, b: Column): Column = col(DvDiffPositions(ex(a), ex(b)))
  def dvAgg(pos: Column): Column = Shim.column(DvAgg(ex(pos)).toAggregateExpression())
  def constLookup(c: Column, m: Map[String, Long], default: Long): Column = {
    val hm = new java.util.HashMap[UTF8String, java.lang.Long](m.size * 2)
    m.foreach { case (k, v) => hm.put(UTF8String.fromString(k), java.lang.Long.valueOf(v)) }
    col(ConstLongLookup(ex(c), hm, default))
  }
  def constLookupD(c: Column, m: Map[String, Double], default: Double): Column = {
    val hm = new java.util.HashMap[UTF8String, java.lang.Double](m.size * 2)
    m.foreach { case (k, v) => hm.put(UTF8String.fromString(k), java.lang.Double.valueOf(v)) }
    col(ConstDoubleLookup(ex(c), hm, default))
  }
  def unigramSegmentN(c: Column, v: graft.pipeline.UnigramLm.Vocab): Column =
    col(UnigramSegmentN(ex(c), v))
  def unigramSegment(c: Column, v: graft.pipeline.UnigramLm.Vocab): Column =
    col(UnigramSegment(ex(c), v))
}
