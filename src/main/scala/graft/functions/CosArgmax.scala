package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: max-cosine assignment for the IVF family —
  * `cos_argmax(vec, candidates)` over
  * `candidates: array<struct<id: bigint, centroid: array<double>>>`
  * returns the `id` of the candidate minimizing
  * `(-(round(cosine, 6) + 0), id)` — i.e. max rounded cosine with id
  * tie-break, exactly the
  * `array_min(transform(cl, c -> named_struct('ns', -(round(cosine_sim(
  * vec, c.centroid), 6) + 0D), 'id', c.id))).id` HOF it replaces
  * (LlmSimilarity.ivfAssigned).
  *
  * Bit-identical on the non-null domain the pipeline guarantees:
  *   - the cosine accumulates dot/normA/normB sequentially in doubles over
  *     ascending k — the same operation order as [[CosineSim]] (which the
  *     HOF form calls) and the DuckDB twin's list_sum;
  *   - rounding is `BigDecimal.valueOf(x).setScale(6, HALF_UP)` — Spark's
  *     own `round(_, 6)` codegen for doubles;
  *   - `ns = -(r + 0.0)` normalizes the two IEEE zeros exactly like the
  *     SQL `+ 0D` (a rounded −0.000000 must order like 0.000000);
  *   - comparison is `java.lang.Double.compare` (struct-ordering
  *     semantics), with a NULL cosine — zero-norm vector or centroid, a
  *     null element, a length mismatch — sorting FIRST like a null struct
  *     field does in array_min's ascending ordering (among null-cosine
  *     candidates the lowest id wins). These degenerate inputs never
  *     occur in the pipeline (assignment filters the sentinel vec_id 0
  *     and centroids are non-empty cell means); the clause exists so the
  *     expression is total, not because the engine relies on it.
  *
  * Why native (the [[CosineSim]] / [[PqNearest]] rationale, at its
  * largest site): HigherOrderFunction has no codegen, so flat IVF
  * assignment — N vectors × K ≈ √(8N) candidate centroids, the
  * Sizing.ivfCells balanced-N^1.5 law — paid an interpreted lambda frame
  * per candidate. At sf100z (2M vectors, K = 4000) the Lloyd's training
  * loop alone walked through ~16 × 10⁹ interpreted 64-dim cosines per
  * measurement pass, and the warmup tax showed up as a 733 s vs 52 s
  * pass-1/pass-2 split at sf10z. This runs as one fused loop nest inside
  * whole-stage codegen: flat from the first pass, the property a fresh
  * 1000-executor cluster (where every executor is always on pass 1)
  * actually needs.
  *
  * Null semantics of the expression itself: null vec or null candidate
  * array → null; empty candidate array → null; null candidate elements
  * are skipped (array_min semantics).
  *
  * The rule is written once in plain Scala, [[CosArgmax.nearest]]: the
  * interpreted path (`nullSafeEval`) and the IVF trainer's Lloyd's step
  * (LlmSimilarity.lloydStep) call it, and `doGenCode` is its one
  * generated twin (PropertySpec pins the two equal).
  */
case class CosArgmax(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cos_argmax"

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val candOk = right.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }
    if (vecOk && candOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<float|double>, array<struct<bigint, " +
        s"array<double>>>), got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(vecV: Any, candsV: Any): Any =
    CosArgmax.nearest(vecV.asInstanceOf[ArrayData], vecIsFloat,
      candsV.asInstanceOf[ArrayData])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val getVec =
      if (vecIsFloat) (a: String, i: String) => s"(double) $a.getFloat($i)"
      else (a: String, i: String) => s"$a.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (vec, cands) => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val id = ctx.freshName("id")
      val cosNull = ctx.freshName("cosNull")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val ns = ctx.freshName("ns")
      val cmp = ctx.freshName("cmp")
      val better = ctx.freshName("better")
      val found = ctx.freshName("found")
      val bestNull = ctx.freshName("bestNull")
      val bestNs = ctx.freshName("bestNs")
      val bestId = ctx.freshName("bestId")
      s"""
         |final int $n = $vec.numElements();
         |boolean $found = false; boolean $bestNull = false;
         |double $bestNs = 0.0; long $bestId = 0L;
         |for (int $j = 0; $j < $cands.numElements(); $j++) {
         |  if ($cands.isNullAt($j)) continue;
         |  final InternalRow $c = $cands.getStruct($j, 2);
         |  final long $id = $c.getLong(0);
         |  final ArrayData $cent = $c.getArray(1);
         |  boolean $cosNull = $cent.numElements() != $n;
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; !$cosNull && $i < $n; ) {
         |    if ($vec.isNullAt($i) || $cent.isNullAt($i)) { $cosNull = true; }
         |    else {
         |      final double $x = ${getVec(vec, i)};
         |      final double $y = $cent.getDouble($i);
         |      $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |      $i++;
         |    }
         |  }
         |  if (!$cosNull && ($na == 0.0 || $nb == 0.0)) $cosNull = true;
         |  boolean $better;
         |  double $ns = 0.0;
         |  if (!$cosNull) {
         |    $ns = -(java.math.BigDecimal
         |      .valueOf($dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)))
         |      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0);
         |  }
         |  if (!$found) { $better = true; }
         |  else if ($cosNull != $bestNull) { $better = $cosNull; }
         |  else if ($cosNull) { $better = $id < $bestId; }
         |  else {
         |    final int $cmp = java.lang.Double.compare($ns, $bestNs);
         |    $better = $cmp < 0 || ($cmp == 0 && $id < $bestId);
         |  }
         |  if ($better) {
         |    $bestNull = $cosNull; $bestNs = $ns; $bestId = $id; $found = true;
         |  }
         |}
         |if (!$found) ${ev.isNull} = true;
         |else ${ev.value} = $bestId;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosArgmax =
    copy(left = newLeft, right = newRight)
}

object CosArgmax {
  /** The nearest-cell rule itself, in plain Scala: the `id` of the
    * candidate `cos_argmax` picks (see the class doc), or null when no
    * candidate is non-null. See the class doc for who calls it. */
  def nearest(vec: ArrayData, vecIsFloat: Boolean,
      cands: ArrayData): java.lang.Long = {
    val n = vec.numElements()
    var found = false; var bestNull = false
    var bestNs = 0d; var bestId = 0L
    var j = 0
    while (j < cands.numElements()) {
      if (!cands.isNullAt(j)) {
        val c = cands.getStruct(j, 2)
        val id = c.getLong(0)
        val cent = c.getArray(1)
        // cosine in CosineSim's exact operation order; null on any
        // degenerate input
        var cosNull = cent.numElements() != n
        var dot = 0d; var na = 0d; var nb = 0d
        var i = 0
        while (!cosNull && i < n) {
          if (vec.isNullAt(i) || cent.isNullAt(i)) cosNull = true
          else {
            val x = if (vecIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
            val y = cent.getDouble(i)
            dot += x * y; na += x * x; nb += y * y
            i += 1
          }
        }
        if (!cosNull && (na == 0d || nb == 0d)) cosNull = true
        val ns =
          if (cosNull) 0d
          else -(java.math.BigDecimal
            .valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0d)
        val better =
          if (!found) true
          else if (cosNull != bestNull) cosNull // null ns sorts first
          else if (cosNull) id < bestId
          else {
            val cmp = java.lang.Double.compare(ns, bestNs)
            cmp < 0 || (cmp == 0 && id < bestId)
          }
        if (better) {
          bestNull = cosNull; bestNs = ns; bestId = id; found = true
        }
      }
      j += 1
    }
    if (!found) null else java.lang.Long.valueOf(bestId)
  }
}
