package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native cosine similarity over two `array<double>` columns.
  *
  * The composable alternative — `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0D, (acc,x) -> acc+x) / sqrt(...)` — is semantically identical but runs
  * the lambdas interpreted (higher-order functions don't participate in
  * whole-stage codegen), which makes it the hot inner loop of brute-force
  * ANN. This expression generates a single fused Java loop.
  *
  * Exactness contract: accumulates dot/norm sums left-to-right exactly like
  * the fold-based formula (and DuckDB's `list_reduce`), so results are
  * bit-identical to the oracle — swapping implementations cannot change a
  * single hash.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  // can return null even for non-null inputs (length mismatch, null element)
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  /** Null contract matches the fold-based formula it replaces: a length
    * mismatch (zip_with pads with null) or any null element folds to a
    * null sum there, so this expression returns null in those cases too —
    * never a silently-wrong similarity with nulls read as 0.0.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Injects graft's native functions into any session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — after which
  * plain SQL and `expr("cosine_sim(a, b)")` resolve to the codegen'd
  * expression — and graft's optimizer rule, [[PushProjectBelowCoalesce]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => PushProjectBelowCoalesce)
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => MinHashSig(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      (children: Seq[Expression]) => ShingleSet(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("top_ngram_counts"),
      new ExpressionInfo(classOf[TopNgramCounts].getName, "top_ngram_counts"),
      (children: Seq[Expression]) => TopNgramCounts(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("phash_blocks"),
      new ExpressionInfo(classOf[PhashBlocks].getName, "phash_blocks"),
      (children: Seq[Expression]) => PhashBlocks(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("phash_blocks64"),
      new ExpressionInfo(classOf[PhashBlocks64].getName, "phash_blocks64"),
      (children: Seq[Expression]) => PhashBlocks64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => PqEncode(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("top_token_count"),
      new ExpressionInfo(classOf[TopTokenCount].getName, "top_token_count"),
      (children: Seq[Expression]) => TopTokenCount(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("winnow_stats"),
      new ExpressionInfo(classOf[WinnowStats].getName, "winnow_stats"),
      (children: Seq[Expression]) => WinnowStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("window_md5_idx"),
      new ExpressionInfo(classOf[WindowMd5Idx].getName, "window_md5_idx"),
      (children: Seq[Expression]) => WindowMd5Idx(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("window_md5_set"),
      new ExpressionInfo(classOf[WindowMd5Set].getName, "window_md5_set"),
      (children: Seq[Expression]) => WindowMd5Set(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("char_collision"),
      new ExpressionInfo(classOf[CharCollision].getName, "char_collision"),
      (children: Seq[Expression]) => CharCollision(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("cdc_chunk_hashes"),
      new ExpressionInfo(classOf[CdcChunkHashes].getName, "cdc_chunk_hashes"),
      (children: Seq[Expression]) => CdcChunkHashes(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("dot_i64"),
      new ExpressionInfo(classOf[DotI64].getName, "dot_i64"),
      (children: Seq[Expression]) => DotI64(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("eq_count"),
      new ExpressionInfo(classOf[EqCount].getName, "eq_count"),
      (children: Seq[Expression]) => EqCount(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("outer_upper_i64"),
      new ExpressionInfo(classOf[OuterUpperI64].getName, "outer_upper_i64"),
      (children: Seq[Expression]) => OuterUpperI64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("nearest_centroid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid"),
      (children: Seq[Expression]) => NearestCentroid(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      (children: Seq[Expression]) => BpeTokenCount(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("gate_stats"),
      new ExpressionInfo(classOf[GateStats].getName, "gate_stats"),
      (children: Seq[Expression]) => GateStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[BpeTokens].getName, "bpe_tokens"),
      (children: Seq[Expression]) => BpeTokens(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("gram_dup_stats"),
      new ExpressionInfo(classOf[GramDupStats].getName, "gram_dup_stats"),
      (children: Seq[Expression]) => GramDupStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("term_counts"),
      new ExpressionInfo(classOf[TermCounts].getName, "term_counts"),
      (children: Seq[Expression]) => TermCounts(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bigram_counts"),
      new ExpressionInfo(classOf[BigramCounts].getName, "bigram_counts"),
      (children: Seq[Expression]) => BigramCounts(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("dsir_bucket_counts"),
      new ExpressionInfo(classOf[DsirBucketCounts].getName, "dsir_bucket_counts"),
      (children: Seq[Expression]) => DsirBucketCounts(children.head, children(1))))
  }
}
