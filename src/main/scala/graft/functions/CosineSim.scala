package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity between two float/double
  * arrays, with `doGenCode` emitting a single fused Java loop.
  *
  * Why a custom Expression (SURVEY.md §2.10 / the custom-operator ladder):
  * the composed form — three `aggregate(zip_with(...))` higher-order calls
  * — is interpreted per element (HigherOrderFunction has no codegen) and
  * allocates a lambda frame per step; on the near-dup verify path that is
  * the hot loop over hundreds of thousands of candidate pairs. This
  * expression runs inside whole-stage codegen as one branch-free loop.
  *
  * Numeric parity: accumulates dot/normA/normB sequentially in doubles —
  * the SAME operation order as the HOF form and the DuckDB oracle's
  * list_sum, so results are bit-identical and hash-checks still pass
  * (PropertySpec pins the equivalence).
  *
  * Null semantics mirror the HOF form: null input, length mismatch, or a
  * null element yields null. A degenerate input — empty array or
  * zero-norm vector, where cosine is 0/0 — also yields null (rather than
  * NaN), matching JaccardSim's union==0 => null convention so both
  * similarity kernels agree on "undefined".
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<float|double> inputs, " +
          s"got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lf, rf) = (elemType(left) == FloatType, elemType(right) == FloatType)
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0d || nb == 0d) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getL =
      if (elemType(left) == FloatType) (a: String, i: String) => s"(double) $a.getFloat($i)"
      else (a: String, i: String) => s"$a.getDouble($i)"
    val getR =
      if (elemType(right) == FloatType) (a: String, i: String) => s"(double) $a.getFloat($i)"
      else (a: String, i: String) => s"$a.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $x = ${getL(a, i)};
         |    final double $y = ${getR(b, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Every native function of the library: SQL name, expression class and
    * builder. Both registration paths read this one table — [[register]]
    * on a live session and [[GraftExtensions]] at session build. */
  val natives: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim], args => CosineSim(args.head, args(1))),
    ("jaccard_sim", classOf[JaccardSim], args => JaccardSim(args.head, args(1))),
    ("hyperplane_sig", classOf[HyperplaneSig],
      args => HyperplaneSig(args.head, args(1), args(2))),
    ("poly_hash", classOf[PolyHash], args => PolyHash(args.head)),
    ("minhash_sigs", classOf[MinHashSigs], args => MinHashSigs(args.head, args(1))),
    ("simhash_sig", classOf[SimHashSig], args => SimHashSig(args.head, args(1))),
    ("ngram_hashes", classOf[NgramHashes], args => NgramHashes(args.head, args(1))),
    ("ngram_hashes_pos", classOf[NgramHashesPos],
      args => NgramHashesPos(args.head, args(1))),
    ("ngram_hashes_pos_b", classOf[NgramHashesPosB],
      args => NgramHashesPosB(args.head, args(1))),
    ("pq_nearest", classOf[PqNearest], args => PqNearest(args.head, args(1))),
    ("cos_argmax", classOf[CosArgmax], args => CosArgmax(args.head, args(1))))

  /** Idempotently registers every function of [[natives]] so query code
    * can use them via expr(...). Queries call this inside their builds, so
    * a re-call must be a cheap no-op: the functionExists guard skips
    * createOrReplaceTempFunction, which would also log a "replaced a
    * previously registered function" WARN per function per call. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((name, _, builder) <- natives
        if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
