package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Native argmax-cosine centroid assignment: `nearest_centroid(cents, v)`
  * → `struct(csim: double, ncid: int)` — the best cosine against the
  * literal centroid matrix and the NEGATED winning centroid id (so the
  * struct is field-for-field the one `Similarity.bestCentroid`'s
  * greatest-of-structs produces, and `-ncid` recovers the cell id).
  *
  * Why this exists (r12 verdict #1): the composable formulation builds
  * ONE `struct(cosine_sim(array(<dim literals>), v), -cid)` per centroid
  * and takes `greatest` — at the 16×64 toy shape that is ~1k literal
  * nodes and measures fine, but at a production quantizer (k=256..4096
  * cells, dim=256..1024) it is a 10⁵–10⁶-node expression tree that blows
  * the JVM's 64KB method / constant-pool limits out of whole-stage
  * codegen and pays minutes of driver-side plan construction. Here the
  * whole matrix is ONE folded literal referenced from generated code, and
  * assignment is one fused k·dim loop — the expression tree stays O(1) in
  * k and dim, so the scan projection shape (pure map, zero corpus
  * shuffle) survives to arbitrary quantizer sizes. SCALING.md records
  * both paths at production shape; NativeKernelSpec +
  * SimilaritySpec pin struct-for-struct equality with the greatest-of-
  * structs formulation.
  *
  * Exactness contract: per-centroid cosine accumulates dot/na/nb
  * left-to-right exactly like [[CosineSim]] (bit-identical doubles);
  * centroids are scanned in ascending cid with SQL double ordering
  * (NaN greatest, -0.0 == 0.0 — `greatest`'s comparator) and a strict
  * improvement test, so ties keep the smaller cid exactly like the
  * struct max's (csim DESC, ncid DESC) order. Null contract: a MALFORMED
  * `v` (length mismatch vs the matrix's dim, or a null element) makes
  * every per-centroid cosine null, which under struct ordering leaves
  * the max at (null, ncid=0) — the kernel returns exactly that struct.
  * A NULL `v` returns a null struct (standard null-in/null-out), where
  * the greatest-of-structs form would produce (null, 0) — out of
  * contract: the embeddings tables carry no null vectors (checked at
  * every SF), and a corpus that did would already corrupt every cosine
  * downstream.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val okR = right.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (okL && okR && !left.foldable)
      // surface misuse at analysis time, not as an opaque executor
      // exception from the lazy-val require() (r13 ADVICE)
      TypeCheckResult.TypeCheckFailure(
        "nearest_centroid matrix must be a foldable literal (trained state is plan-injected)")
    else if (okL && okR) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects (array<array<double>> literal, array<double>), " +
        s"got (${left.dataType}, ${right.dataType})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("csim", DoubleType, nullable = true),
    StructField("ncid", IntegerType, nullable = false)))
  override def nullable: Boolean = right.nullable
  override def prettyName: String = "nearest_centroid"

  // the literal quantizer, parsed once per expression instance (the
  // collect-once contract shared with pq_encode's codebook)
  @transient private lazy val cents: Array[Array[Double]] = {
    require(left.foldable, "nearest_centroid matrix must be a literal")
    val m = left.eval(null).asInstanceOf[ArrayData]
    require(m.numElements() > 0, "nearest_centroid matrix must be non-empty")
    val out = (0 until m.numElements()).map(i => m.getArray(i).toDoubleArray()).toArray
    require(out.forall(_.length == out(0).length),
      "nearest_centroid matrix must be rectangular")
    out
  }

  override def nullSafeEval(mIgnored: Any, v: Any): Any =
    NearestCentroidKernel.assign(v.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroidMatrix", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, (_, v) =>
      s"${ev.value} = graft.functions.NearestCentroidKernel.assign($v, $cRef);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroidKernel {
  /** SQL double comparator: -0.0 == 0.0, NaN greater than everything —
    * the ordering `greatest` applies to the csim struct field. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Best-centroid struct of `v` under `cs`, bit-identical to
    * greatest-of-(csim, -cid)-structs over [[CosineSim]] scores. */
  def assign(v: ArrayData, cs: Array[Array[Double]]): InternalRow = {
    val dim = cs(0).length
    val n = v.numElements()
    var malformed = n != dim
    if (!malformed) {
      var i = 0
      while (i < n && !malformed) { malformed = v.isNullAt(i); i += 1 }
    }
    if (malformed) // every per-centroid cosine is null -> max = (null, -0)
      return new GenericInternalRow(Array[Any](null, 0))
    val x = v.toDoubleArray()
    var bestSim = 0.0
    var bestCid = 0
    var first = true
    var c = 0
    while (c < cs.length) {
      val w = cs(c)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        val xi = w(i); val yi = x(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val sim = dot / java.lang.Math.sqrt(na * nb)
      if (first || cmp(sim, bestSim) > 0) { bestSim = sim; bestCid = c; first = false }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestSim, -bestCid))
  }
}
