package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the similarity hot path: cosine(a, b)
  * over two array<float|double> columns, computed as ONE fused loop
  * (dot product + both norms) with whole-stage codegen.
  *
  * The built-in formulation
  * `aggregate(zip_with(a,b,*), 0d, +) / (sqrt(aggregate(transform(a,sq)...)`
  * materializes three intermediate arrays per row and evaluates three
  * higher-order functions; at 10^12 rows × d=64+ floats that allocation
  * dominates. This expression reads both ArrayData buffers in place.
  * Summation order is ascending-index, identical to the built-in chain, so
  * results are bit-for-bit equal (asserted in SimilaritySpec and by the
  * DuckDB oracle).
  *
  * Null semantics: null input array → null result; a null ELEMENT in
  * either array → null (a null product poisons the zip_with/aggregate
  * sum); and a LENGTH MISMATCH → null too (zip_with pads the shorter side
  * with nulls, poisoning the sum the same way) — all three exactly as the
  * built-in chain behaves, so the two agree on malformed embeddings, not
  * just well-formed ones.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ALWAYS nullable: a length mismatch (statically unknowable) yields
  // null, as do null elements — and codegen may only assign ev.isNull
  // when nullable is true (otherwise the variable is never declared)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double>, got (${left.dataType}, ${right.dataType})")
  }

  override def dataType: DataType = DoubleType

  private def elemAccessor(e: Expression): (String, String) =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType  => ("getFloat", "(double)")
      case DoubleType => ("getDouble", "")
      case other => throw new IllegalArgumentException(
        s"cosine_sim expects array<float|double>, got array<$other>")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = left.dataType.asInstanceOf[ArrayType].elementType
    val rt = right.dataType.asInstanceOf[ArrayType].elementType
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = lt match { case FloatType => x.getFloat(i).toDouble; case _ => x.getDouble(i) }
      val yi = rt match { case FloatType => y.getFloat(i).toDouble; case _ => y.getDouble(i) }
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (accL, castL) = elemAccessor(left)
    val (accR, castR) = elemAccessor(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val bad = ctx.freshName("anyNullElem")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $bad = $n != $b.numElements();
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $xi = $castL $a.$accL($i);
         |  double $yi = $castR $b.$accR($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0)
         |    ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused cosine over the COMPRESSED embedding store: cosine(codes · scale,
  * query) where `codes` is an int8-quantized vector (array<int/smallint/
  * tinyint>, values in [−127, 127]) and `scale` its per-vector dequantization
  * factor (see [[graft.sim.Quantize]]).
  *
  * The composed formulation `CosineSimilarity(dequantize(codes, scale), q)`
  * is correct but materializes an interpreted double array per row
  * (`zip_with` + `array_repeat` run as CodegenFallback — exactly the
  * per-element-HOF shape the round-3 profiling lesson flags). This
  * expression reads the code buffer in place and dequantizes inside the one
  * codegen loop: xᵢ = (double)qᵢ · scale, then the identical ascending-index
  * dot/norm accumulation as [[CosineSimilarity]] — bit-for-bit equal to the
  * dequantize→cosine chain (asserted in SimilaritySpec), so the pruned ANN
  * paths can run directly over int8 storage with no intermediate arrays.
  *
  * Null semantics match the chain: any null input (codes, scale, query) →
  * null, a null ELEMENT in either array → null, and a code/query LENGTH
  * MISMATCH → null (zip_with pads with nulls; a null product poisons the
  * aggregate sum).
  */
case class Int8CosineSimilarity(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  // see CosineSimilarity.nullable: element nulls and length mismatches
  // null the result, so the expression is always nullable
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = first.dataType match {
      case ArrayType(IntegerType | ShortType | ByteType, _) => true
      case _                                                => false
    }
    val scaleOk = second.dataType == DoubleType
    val queryOk = third.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (codesOk && scaleOk && queryOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int8_cosine_sim expects (array<int|smallint|tinyint>, double, array<double>), " +
        s"got (${first.dataType}, ${second.dataType}, ${third.dataType})")
  }

  override def dataType: DataType = DoubleType

  private def codeAccessor: String =
    first.dataType.asInstanceOf[ArrayType].elementType match {
      case IntegerType => "getInt"
      case ShortType   => "getShort"
      case ByteType    => "getByte"
      case other => throw new IllegalArgumentException(s"unsupported code type $other")
    }

  override def nullSafeEval(c: Any, s: Any, q: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val scale = s.asInstanceOf[Double]
    val query = q.asInstanceOf[ArrayData]
    val et = first.dataType.asInstanceOf[ArrayType].elementType
    if (codes.numElements() != query.numElements()) return null
    val n = codes.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT poisons the whole similarity to null, exactly like
      // the dequantize->zip_with->aggregate chain (null product -> null sum)
      if (codes.isNullAt(i) || query.isNullAt(i)) return null
      val qi = et match {
        case IntegerType => codes.getInt(i).toDouble
        case ShortType   => codes.getShort(i).toDouble
        case _           => codes.getByte(i).toDouble
      }
      val xi = qi * scale
      val yi = query.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acc = codeAccessor
    nullSafeCodeGen(ctx, ev, (c, s, q) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val bad = ctx.freshName("anyNullElem")
      s"""
         |int $n = $c.numElements();
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $bad = $n != $q.numElements();
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($c.isNullAt($i) || $q.isNullAt($i)) { $bad = true; break; }
         |  double $xi = ((double) $c.$acc($i)) * $s;
         |  double $yi = $q.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0)
         |    ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object ArrayMath {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** cosine similarity of two array columns (fused native expression). */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** cosine similarity against a constant query vector. */
  def cosineSimTo(a: Column, query: Seq[Double]): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a),
      Literal.create(query.toArray, ArrayType(DoubleType, containsNull = false))))

  /** fused int8-store cosine against a constant (already-dequantized) query
    * vector: cosine(codes · scale, query) in one codegen loop. */
  def int8CosineSimTo(codes: Column, scale: Column, query: Seq[Double]): Column =
    ColumnBridge.column(Int8CosineSimilarity(
      ColumnBridge.expression(codes), ColumnBridge.expression(scale),
      Literal.create(query.toArray, ArrayType(DoubleType, containsNull = false))))

  /** all sign-LSH band signatures (array<long>, one per band) in one
    * fused codegen loop — see [[SignBandSignatures]]. `vecType` is `vec`'s
    * type, array<float|double>, read from the caller's schema. */
  def signBandSigs(vec: Column, vecType: DataType, planes: Array[Array[Double]],
      bands: Int): Column = {
    val floatElems = NearestCentroid.isFloatVector(vecType, "sign_band_sigs")
    val (flat, norms, d) = NearestCentroid.matrix(planes, "sign_band_sigs expects >= 1 planes")
    require(bands >= 1 && planes.length % bands == 0,
      s"bands ($bands) must divide the plane count (${planes.length})")
    require(planes.length / bands <= 63,
      s"planes per band (${planes.length / bands}) must fit a long's bits")
    // never null: NULL or malformed input gives the all-zero signatures
    Kernel.call(SignBandSignatures, "sigs", ArrayType(LongType, containsNull = false),
      propagateNull = false)(flat, norms, d, bands, vec -> vecType, floatElems)
  }
}
