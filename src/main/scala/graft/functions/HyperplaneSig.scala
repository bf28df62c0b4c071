package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: banded random-hyperplane LSH signature of
  * an `array<double>` embedding — `bands` packed sign-bit buckets
  * (`rowsPerBand` bits each) in one pass.
  *
  * Why a custom expression (SURVEY §7.3 ladder, step (b)): the composed
  * form evaluates `bands × rowsPerBand` separate
  * `aggregate(zip_with(e, plane, *))` lambda chains — higher-order
  * functions are interpreted, so a 64-dim embedding costs ~2k boxed
  * lambda calls per row. At corpus scale the signature stage is a full
  * scan of every vector; this loop is allocation-free, fuses into the
  * surrounding whole-stage codegen, and reads each embedding element
  * exactly once per plane.
  *
  * The plane matrix is deterministic ([[HyperplaneSig.planeComponent]]:
  * md5("plane:dim") → uniform [-1,1)), precomputed once driver-side and
  * shipped as a codegen reference object — identical values to the
  * previous literal-array formulation, so LSH bucketing (and the recall
  * tested in SimilaritySpec) is unchanged. Embeddings whose length is
  * not `dims` yield NULL.
  */
case class HyperplaneSig(child: Expression, dims: Int, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_sig"

  /** Flat [plane][dim] matrix, row-major; one instance per expression. */
  @transient private lazy val planes: Array[Double] = {
    val nPlanes = bands * rowsPerBand
    Array.tabulate(nPlanes * dims)(i =>
      HyperplaneSig.planeComponent(i / dims, i % dims))
  }

  override def nullSafeEval(a: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    if (e.numElements() != dims) return null
    val out = new Array[Int](bands)
    var p = 0
    while (p < bands * rowsPerBand) {
      var dot = 0.0
      var d = 0
      val base = p * dims
      while (d < dims) { dot += e.getDouble(d) * planes(base + d); d += 1 }
      if (dot > 0) out(p / rowsPerBand) |= 1 << (p % rowsPerBand)
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, e => {
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val base = ctx.freshName("base")
      s"""
         |if ($e.numElements() != $dims) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int[] $out = new int[$bands];
         |  for (int $p = 0; $p < ${bands * rowsPerBand}; $p++) {
         |    double $dot = 0.0;
         |    final int $base = $p * $dims;
         |    for (int $d = 0; $d < $dims; $d++) {
         |      $dot += $e.getDouble($d) * $planesRef[$base + $d];
         |    }
         |    if ($dot > 0) $out[$p / $rowsPerBand] |= 1 << ($p % $rowsPerBand);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSig {
  /** Deterministic pseudo-random hyperplane component in [-1, 1): md5 of
    * "plane:dim", first 4 bytes as a 32-bit uniform. */
  def planeComponent(plane: Int, dim: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$plane:$dim".getBytes(StandardCharsets.UTF_8))
    val u = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    u / 2147483648.0 - 1.0
  }
}
