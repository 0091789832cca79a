package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The hand-written scalar expressions of [[Gf]]'s table. Every function
  * that is one static kernel call is a [[KernelCall]] row of `Gf.defs`;
  * the shells here keep their own class because a [[KernelCall]] cannot
  * express them: a primitive result that is null on non-null input
  * (`haversine_mean_path`), an analysis-time type check (`seq_accuracy`),
  * implicit input casts (`img_synth`, `img_synth_phash`) or a plan-time
  * constant validated by the builder (`ivf_cells`).
  */

case class HaversineMeanPath(left: Expression, right: Expression)
    extends BinaryExpression with codegen.CodegenFallback {
  override def prettyName: String = "haversine_mean_path"
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // no valid pair → null on non-null input
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    CatalystHelpers.haversineMeanPath(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class SeqAccuracy(left: Expression, right: Expression)
    extends BinaryExpression with codegen.CodegenFallback {
  override def prettyName: String = "seq_accuracy"
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // empty zip → null on non-null input
  override def dataType: DataType = DoubleType
  private lazy val elemType =
    left.dataType.asInstanceOf[ArrayType].elementType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == r &&
          !l.isInstanceOf[ArrayType] && !l.isInstanceOf[StructType] &&
          !l.isInstanceOf[MapType] =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        // nested element types would fall into reference equality in the
        // kernel — refuse at analysis like the old <=> refused mismatches
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"seq_accuracy needs two arrays of the same ATOMIC element type, got $l / $r")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    CatalystHelpers.seqAccuracy(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], elemType)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** img_synth(k, patterns) — encoded bytes of the deterministic synthetic
  * image for key k (the Images table's `bytes` column as a prunable,
  * codegen projection: consumers that never read the bytes never pay the
  * encode). */
case class ImgSynth(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "img_synth"
  override def nullIntolerant: Boolean = true
  // declared input types so a SQL call with integer literals coerces
  // instead of CCE-ing in the interpreted path (round-7 review)
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(k: Any, p: Any): Any =
    ImageOps.synthBytes(k.asInstanceOf[Long], p.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, p) => s"graft.functions.ImageOps.synthBytes($k, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** img_synth_phash(k, patterns) — perceptual hash of the synthetic image
  * for key k (the Images table's `phash` column, prunable like img_synth). */
case class ImgSynthPhash(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "img_synth_phash"
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(k: Any, p: Any): Any =
    ImageOps.synthPhash(k.asInstanceOf[Long], p.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, p) => s"graft.functions.ImageOps.synthPhash($k, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** ivf_cells(array<float>) → array<int>: the `nprobe` nearest IVF centroid
  * indices by dot product. The centroid matrix is a plan-time constant
  * (trained driver-side on a bounded sample — [[graft.operators.Similarity.trainIvf]])
  * carried as a constructor field and shipped to codegen as a reference
  * object, so the kernel reads a raw double[] — no per-row ArrayData
  * re-extraction of a 4096-element literal. */
case class IvfCells(child: Expression, centroids: Array[Double], dim: Int,
                    nprobe: Int)
    extends UnaryExpression {
  override def prettyName: String = "ivf_cells"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VecTextOps.ivfCells(v.asInstanceOf[ArrayData], centroids, dim, nprobe)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VecTextOps.ivfCells($v, $cRef, $dim, $nprobe)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
