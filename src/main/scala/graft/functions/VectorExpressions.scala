package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression for the dense dot product of two
  * `array<double>` columns.
  *
  * The built-in route (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * allocates an intermediate array and evaluates the lambda per element
  * in interpreted mode — measured ~20× slower at sf0.1. This expression
  * compiles to a tight primitive loop inside whole-stage codegen:
  * no allocation, no virtual calls, stays in the generated code path.
  *
  * Null elements inside the arrays are not expected (embedding vectors);
  * a null array yields null, and MISMATCHED LENGTHS also yield null —
  * a silently-truncated dot product would rank similarity on wrong
  * values with nothing to signal the corruption.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Maximum absolute element of an `array<double>` column — the
  * per-vector scale basis for symmetric int8 quantization. Same
  * codegen rationale as [[DotProduct]]: a tight primitive loop beats
  * the interpreted `array_max(transform(v, abs))` form, and at corpus
  * scale this runs once per embedding row. An empty array yields null
  * (no elements → no scale), as does a null input or an array holding
  * a null element. The null-element case is deliberately STRICTER than
  * `array_max` (which skips nulls): a skipped dimension would produce
  * a plausible-but-wrong scale and silently corrupt every quantized
  * value downstream, so the row degrades to null instead.
  */
case class MaxAbs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "max_abs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"max_abs requires array<double> input, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n == 0) null
    else {
      var m = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) return null
        val a = math.abs(x.getDouble(i))
        if (a > m) m = a
        i += 1
      }
      m
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val a = ctx.freshName("a")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $m = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $a = Math.abs($c.getDouble($i));
         |    if ($a > $m) $m = $a;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $m; }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MaxAbs =
    copy(child = newChild)
}

/** Symmetric int8 quantization of an `array<double>` vector with a
  * per-row scale: `q_i = clamp(floor(x_i * scale + 0.5), -127, 127)`,
  * emitted as `array<tinyint>` — 1 byte per dimension instead of the
  * 4/8 of float/double, the storage/bandwidth lever that makes a
  * 100 TB embedding corpus shippable to ANN serving tiers.
  *
  * `floor(x + 0.5)` (round-half-up) is used instead of a `round()`
  * builtin deliberately: floor over IEEE doubles is exact and
  * bit-identical across engines, while round() half-case semantics
  * differ between SQL dialects — the DuckDB oracle replays the same
  * floor form and must match byte-for-byte.
  *
  * An array holding a null element yields a null row (same rationale
  * as [[MaxAbs]]: a silently-zeroed dimension would corrupt every
  * downstream distance without signal).
  */
case class QuantizeInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "quantize_int8"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"quantize_int8 requires (array<double>, double), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  private def quantize(x: Double, scale: Double): Byte = {
    var q = math.floor(x * scale + 0.5)
    if (q > 127.0) q = 127.0
    if (q < -127.0) q = -127.0
    q.toByte
  }

  override def nullSafeEval(v: Any, s: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val scale = s.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      out(i) = quantize(x.getDouble(i), scale)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val q = ctx.freshName("q")
      val arr = ctx.freshName("arr")
      s"""
         |int $n = $v.numElements();
         |byte[] $arr = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $q = Math.floor($v.getDouble($i) * $s + 0.5);
         |  if ($q > 127.0) $q = 127.0;
         |  if ($q < -127.0) $q = -127.0;
         |  $arr[$i] = (byte) $q;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizeInt8 =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance (ADC) score for product quantization: sum the
  * per-subspace lookup-table entries selected by a PQ code array —
  * `score = Σ_j table[j*ksub + codes[j]]`. `codes` is the corpus row's
  * `array<int>` PQ code (one centroid id per subspace), `table` the
  * query's flattened `array<double>` of per-(subspace, centroid)
  * partial inner products.
  *
  * This is THE hot loop of PQ retrieval — one add per subspace per
  * corpus row — so it's a codegen expression for the same reason as
  * [[DotProduct]]: a tight primitive loop inside whole-stage codegen
  * beats any higher-order/interpreted form. A code outside
  * `[0, ksub)` or a table shorter than `m*ksub` yields null (a
  * silently-clamped index would score against the wrong centroid). */
case class AdcScore(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_score"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_score requires (array<int>, array<double>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(c: Any, t: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val table = t.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val tn = table.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val code = codes.getInt(j)
      val idx = j * ksub + code
      if (code < 0 || code >= ksub || idx >= tn || table.isNullAt(idx)) return null
      s += table.getDouble(idx)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val m = ctx.freshName("m")
      val tn = ctx.freshName("tn")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val code = ctx.freshName("code")
      val idx = ctx.freshName("idx")
      s"""
         |int $m = $c.numElements();
         |int $tn = $t.numElements();
         |double $s = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  int $code = $c.getInt($j);
         |  int $idx = $j * $ksub + $code;
         |  if ($code < 0 || $code >= $ksub || $idx >= $tn || $t.isNullAt($idx)) {
         |    ${ev.isNull} = true; break;
         |  }
         |  $s += $t.getDouble($idx);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

/** All `nTables` SRP-LSH signatures of a vector in ONE fused codegen
  * pass: signature t has bit b set iff v · plane(t,b) > 0. Output is
  * `array<long>` of length nTables (one packed bucket id per table).
  *
  * Why an expression and not `array(table-0 sig, table-1 sig, …)`
  * composed from [[DotProduct]]: the production config is 16-48 tables
  * × 2-8 bits, i.e. 64-192 independent dot-product subtrees with
  * dim-sized literal arrays in ONE projection — far past the
  * whole-stage-codegen method/splitting limits, so the projection
  * degrades to interpreted evaluation and the signature step alone
  * dominated its queries (measured: ~3.0 s of c14's ~4.3 s at sf0.1 on
  * a 2 000-vector corpus — ~1000× the raw FLOPs; PLANS.md
  * round 12). Here the plane matrix ships as ONE flattened double[]
  * constant and the generated code is a triple loop over
  * (table, bit, dim) — the vector is copied to a local primitive array
  * once per row, every multiply-add stays in registers.
  *
  * Semantics are EXACTLY the composed form's, bit for bit: the same
  * sequential-order dot products, and a vector whose length differs
  * from the plane dim yields ALL-ZERO signatures (the old per-bit
  * `when(dot > 0, …).otherwise(0)` turned the null dot of a mismatched
  * pair into an unset bit — preserved, and pinned by a generative
  * equivalence test). A null vector yields null. */
case class SrpSignatures(child: Expression, planes: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  require(planes.nonEmpty && planes.head.nonEmpty && planes.head.head.nonEmpty,
    "srp_signatures requires a non-empty nTables x nBits x dim plane matrix")
  private val nTables = planes.size
  private val nBits = planes.head.size
  private val dim = planes.head.head.size
  require(nBits <= 63, s"at most 63 bits per signature, got $nBits")
  require(planes.forall(t => t.size == nBits && t.forall(_.size == dim)),
    "ragged plane matrix")

  @transient private lazy val flat: Array[Double] =
    planes.flatten.flatten.toArray

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "srp_signatures"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_signatures requires array<double> input, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val sigs = new Array[Long](nTables)
    if (x.numElements() == dim) {
      val vv = new Array[Double](dim)
      var i = 0
      while (i < dim) { vv(i) = x.getDouble(i); i += 1 }
      var p = 0
      var t = 0
      while (t < nTables) {
        var sg = 0L
        var b = 0
        while (b < nBits) {
          var s = 0.0
          i = 0
          while (i < dim) { s += vv(i) * flat(p + i); i += 1 }
          if (s > 0.0) sg |= (1L << b)
          p += dim
          b += 1
        }
        sigs(t) = sg
        t += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val pl = ctx.addReferenceObj("srpPlanes", flat, "double[]")
      val sigs = ctx.freshName("sigs")
      val vv = ctx.freshName("vv")
      val p = ctx.freshName("p")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val sg = ctx.freshName("sg")
      s"""
         |long[] $sigs = new long[$nTables];
         |if ($v.numElements() == $dim) {
         |  double[] $vv = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) { $vv[$i] = $v.getDouble($i); }
         |  int $p = 0;
         |  for (int $t = 0; $t < $nTables; $t++) {
         |    long $sg = 0L;
         |    for (int $b = 0; $b < $nBits; $b++) {
         |      double $s = 0.0;
         |      for (int $i = 0; $i < $dim; $i++) { $s += $vv[$i] * $pl[$p + $i]; }
         |      if ($s > 0.0) { $sg |= (1L << $b); }
         |      $p += $dim;
         |    }
         |    $sigs[$t] = $sg;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sigs);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SrpSignatures =
    copy(child = newChild)
}

/** Per-centroid squared-distance scores (up to the ‖v‖² constant) of a
  * vector against a literal centroid matrix, in ONE fused codegen pass:
  * element c = ‖cen_c‖² − 2·(v · cen_c) — the same argmin as true
  * squared distance. Output `array<double>` of length nCells.
  *
  * Same rationale as [[SrpSignatures]]: the composed form
  * (`array(nCells × (lit − 2·dot(v, typedLit(cen))))`) puts nCells
  * dot subtrees with dim-sized literal arrays into one projection and
  * degrades to interpreted evaluation past the codegen limits; here the
  * centroid matrix ships as one flattened double[] constant and the
  * loop stays primitive.
  *
  * Semantics are the composed form's, bit for bit: norms² are
  * precomputed in the SAME driver-side order (Σ x²), dots accumulate in
  * element order, and a vector whose length differs from the centroid
  * dim yields an ALL-NULL-element array (the composed form's null dot
  * propagates through the arithmetic into each element) — pinned by a
  * generative equivalence test. A null vector yields null. */
case class CellDists(child: Expression, cents: Seq[Seq[Double]])
    extends UnaryExpression {
  require(cents.nonEmpty && cents.head.nonEmpty,
    "cell_dists requires a non-empty nCells x dim centroid matrix")
  private val nCells = cents.size
  private val dim = cents.head.size
  require(cents.forall(_.size == dim), "ragged centroid matrix")

  @transient private lazy val flat: Array[Double] = cents.flatten.toArray
  @transient private lazy val norms2: Array[Double] =
    cents.map(_.map(x => x * x).sum).toArray

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "cell_dists"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cell_dists requires array<double> input, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    if (x.numElements() != dim)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](nCells))
    else {
      val vv = new Array[Double](dim)
      var i = 0
      while (i < dim) { vv(i) = x.getDouble(i); i += 1 }
      val out = new Array[Double](nCells)
      var c = 0
      var p = 0
      while (c < nCells) {
        var s = 0.0
        i = 0
        while (i < dim) { s += vv(i) * flat(p + i); i += 1 }
        out(c) = norms2(c) - 2.0 * s
        p += dim
        c += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cen = ctx.addReferenceObj("cellCents", flat, "double[]")
      val nrm = ctx.addReferenceObj("cellNorms2", norms2, "double[]")
      val vv = ctx.freshName("vv")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val p = ctx.freshName("p")
      s"""
         |if ($v.numElements() != $dim) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    new Object[$nCells]);
         |} else {
         |  double[] $vv = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) { $vv[$i] = $v.getDouble($i); }
         |  double[] $out = new double[$nCells];
         |  int $p = 0;
         |  for (int $c = 0; $c < $nCells; $c++) {
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) { $s += $vv[$i] * $cen[$p + $i]; }
         |    $out[$c] = $nrm[$c] - 2.0 * $s;
         |    $p += $dim;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CellDists =
    copy(child = newChild)
}

/** Shared math of the fused PQ encoders: per-subspace argmin of
  * ‖cb‖² − 2·v_sub·cb (+ optional per-coarse-cell residual correction)
  * over a flattened codebook constant. Kept in one place so the plain
  * and residual expressions cannot drift. */
private[functions] object PqCodeMath {
  /** out(j) = Integer code or null, replicating the composed form's
    * per-subspace validity: subspace j is computable iff the vector
    * holds its full slice (`(j+1)·dsub ≤ numElements`) — the composed
    * `slice → dot` turned a short slice into a null element — and, in
    * the residual variant, iff the coarse cell is present
    * (cell = -1 encodes a null/invalid cell → null code, matching the
    * composed `element_at(corr, null+1)` null). Ties break to the
    * FIRST minimum (the composed `array_position(d, array_min(d))`).
    *
    * Known parity edge, out of contract (ADVICE r12): if EVERY
    * candidate distance in a subspace is NaN, `d < best` never fires
    * and the code is null here, whereas the composed
    * array_min/array_position path (NaN orders as largest and equal to
    * itself) returns code 0. Reachable only with NaN in vectors or
    * codebooks — the ANN operators reject/never produce NaN inputs, so
    * the bit-for-bit parity claim is scoped to NaN-free data. */
  def codes(x: ArrayData, m: Int, ksub: Int, dsub: Int,
            norms2: Array[Double], flat: Array[Double],
            corr: Array[Double], nCells: Int, cell: Int): Array[Any] = {
    val n = x.numElements()
    val out = new Array[Any](m)
    val cellOk = corr == null || (cell >= 0 && cell < nCells)
    var j = 0
    while (j < m) {
      if ((j + 1) * dsub <= n && cellOk) {
        var best = Double.MaxValue
        var bi = -1
        var c = 0
        while (c < ksub) {
          var s = 0.0
          val base = (j * ksub + c) * dsub
          var i = 0
          while (i < dsub) { s += x.getDouble(j * dsub + i) * flat(base + i); i += 1 }
          var d = norms2(j * ksub + c) - 2.0 * s
          if (corr != null) d += corr((j * ksub + c) * nCells + cell)
          if (d < best) { best = d; bi = c }
          c += 1
        }
        if (bi >= 0) out(j) = bi
      }
      j += 1
    }
    out
  }
}

/** PQ code array of a vector in ONE fused codegen pass: code j =
  * argmin_c (‖cb_{j,c}‖² − 2·v_sub_j·cb_{j,c}) — `array<int>` of m
  * codes. Same mechanism as [[SrpSignatures]]/[[CellDists]]: the
  * composed form put m×ksub literal-dot subtrees (128 at the c42
  * config) in one projection and degraded to interpreted eval; here
  * the codebooks ship as one flattened double[] constant.
  *
  * Parity with the composed form: per-subspace validity (a vector too
  * short for subspace j's slice yields a null code j, longer vectors
  * ignore the tail), first-minimum tie-break, identical summation
  * order — pinned by a generative equivalence test. A null vector
  * yields null (the composed form yields an all-null-element array;
  * both score to null downstream — fixtures have no null vectors). */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]], dim: Int)
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty, "empty codebooks")
  private val m = codebooks.size
  private val ksub = codebooks.head.size
  require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
  private val dsub = dim / m
  require(codebooks.forall(b => b.size == ksub && b.forall(_.size == dsub)),
    "ragged codebooks")

  @transient private lazy val flat: Array[Double] =
    codebooks.flatten.flatten.toArray
  @transient private lazy val norms2: Array[Double] =
    codebooks.flatten.map(_.map(x => x * x).sum).toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes requires array<double> input, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqCodeMath.codes(v.asInstanceOf[ArrayData], m, ksub, dsub,
        norms2, flat, null, 0, 0))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n2 = ctx.addReferenceObj("pqNorms2", norms2, "double[]")
      val fl = ctx.addReferenceObj("pqFlat", flat, "double[]")
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqCodeMath.codes($v, $m, $ksub, $dsub,
         |    $n2, $fl, null, 0, 0));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Residual-PQ code array (IVF+PQ): like [[PqCodes]] but each candidate
  * distance carries the coarse-cell correction
  * +2·(cen_cell_sub_j · cb_{j,c}), precomputed per (subspace, code,
  * cell) into one flattened constant. `cell` (int column) null or out
  * of range yields ALL-NULL codes — matching the composed
  * `element_at(corr, null+1)` null propagation (out-of-range cannot
  * occur: the cell comes from the coarse argmin). */
case class PqCodesResidual(left: Expression, right: Expression,
                           codebooks: Seq[Seq[Seq[Double]]],
                           coarse: Seq[Seq[Double]], dim: Int)
    extends BinaryExpression {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty, "empty codebooks")
  require(coarse.nonEmpty, "empty coarse centroids")
  private val m = codebooks.size
  private val ksub = codebooks.head.size
  require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
  private val dsub = dim / m
  private val nCells = coarse.size
  require(codebooks.forall(b => b.size == ksub && b.forall(_.size == dsub)),
    "ragged codebooks")
  require(coarse.forall(_.size == dim), "coarse centroid dim mismatch")

  @transient private lazy val flat: Array[Double] =
    codebooks.flatten.flatten.toArray
  @transient private lazy val norms2: Array[Double] =
    codebooks.flatten.map(_.map(x => x * x).sum).toArray
  // corr[(j*ksub + c)*nCells + cell] = 2·Σ_i coarse(cell)(j·dsub+i)·cb(c)(i)
  // — the same Σ order as the composed element_at literal
  @transient private lazy val corr: Array[Double] = {
    val out = new Array[Double](m * ksub * nCells)
    for (j <- 0 until m; c <- 0 until ksub; cell <- 0 until nCells)
      out((j * ksub + c) * nCells + cell) =
        2.0 * (0 until dsub).map(i => coarse(cell)(j * dsub + i) * codebooks(j)(c)(i)).sum
    out
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  // BOTH children (ADVICE r12): the vector child's null is the obvious
  // path, but a nullable CELL child must also declare a nullable output
  // — nullSafeEval/nullSafeCodeGen yield null when either child is
  // null. The VectorFunctions constructor wraps the cell in
  // coalesce(cell, -1), making the right side non-nullable there, but
  // the case class must be safe when constructed directly too: a
  // non-nullable declaration over a null-producing path lets downstream
  // codegen read an uninitialized value.
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "pq_codes_residual"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_codes_residual requires (array<double>, int), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  // the cell child is wrapped `coalesce(cell, -1)` by the
  // VectorFunctions constructor, so a NULL coarse cell reaches this
  // expression as the -1 sentinel and the standard null-safe paths
  // apply; PqCodeMath turns the sentinel into all-null codes — the
  // composed form's behavior when element_at(corr, null) nulls every
  // candidate
  override def nullSafeEval(v: Any, cellAny: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqCodeMath.codes(v.asInstanceOf[ArrayData], m, ksub, dsub,
        norms2, flat, corr, nCells, cellAny.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cell) => {
      val n2 = ctx.addReferenceObj("pqrNorms2", norms2, "double[]")
      val fl = ctx.addReferenceObj("pqrFlat", flat, "double[]")
      val co = ctx.addReferenceObj("pqrCorr", corr, "double[]")
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqCodeMath.codes($v, $m, $ksub, $dsub,
         |    $n2, $fl, $co, $nCells, (int) $cell));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCodesResidual =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column-level dot product backed by the codegen expression. */
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Maximum |element| of an array<double> column (codegen). */
  def max_abs(a: Column): Column =
    GraftColumnBridge.column(MaxAbs(GraftColumnBridge.expression(a)))

  /** Symmetric int8 quantization to array<tinyint> (codegen). */
  def quantize_int8(v: Column, scale: Column): Column =
    GraftColumnBridge.column(QuantizeInt8(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(scale)))

  /** PQ asymmetric-distance score from a code array and a flattened
    * per-query lookup table (codegen). */
  def adc_score(codes: Column, table: Column, ksub: Int): Column =
    GraftColumnBridge.column(AdcScore(
      GraftColumnBridge.expression(codes), GraftColumnBridge.expression(table), ksub))

  /** All nTables SRP signatures of an array<double> vector as ONE
    * fused codegen pass (array<long>). */
  def srp_signatures(v: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    GraftColumnBridge.column(SrpSignatures(GraftColumnBridge.expression(v), planes))

  /** Per-centroid ‖c‖²−2·v·c scores against a literal centroid matrix
    * as ONE fused codegen pass (array<double>). */
  def cell_dists(v: Column, cents: Seq[Seq[Double]]): Column =
    GraftColumnBridge.column(CellDists(GraftColumnBridge.expression(v), cents))

  /** PQ code array (m ints, null per unencodable subspace) as ONE
    * fused codegen pass. */
  def pq_codes(v: Column, codebooks: Seq[Seq[Seq[Double]]], dim: Int): Column =
    GraftColumnBridge.column(PqCodes(GraftColumnBridge.expression(v), codebooks, dim))

  /** Residual-PQ code array against a coarse cell column (IVF+PQ) as
    * ONE fused codegen pass. A null cell yields all-null codes (the
    * -1 sentinel below). */
  def pq_codes_residual(v: Column, cell: Column,
                        codebooks: Seq[Seq[Seq[Double]]],
                        coarse: Seq[Seq[Double]], dim: Int): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    GraftColumnBridge.column(PqCodesResidual(
      GraftColumnBridge.expression(v),
      GraftColumnBridge.expression(coalesce(cell, lit(-1))),
      codebooks, coarse, dim))
  }
}
