package graft.sim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst forms of the quantizer kernels (coarse assignment,
  * probe selection, residual, PQ encode, PQ LUT, ADC score).
  *
  * The first native attempt built these from `aggregate()`/`transform()`
  * higher-order functions. That satisfied "no ScalaUDF in the plan" but
  * regressed q52/q65/q66 4-6x versus the UDFs they replaced: HOF lambdas
  * evaluate INTERPRETED (one closure dispatch per element per row), and
  * the argmin's `when(d < acc.d || (d == acc.d && ...))` re-evaluates the
  * whole distance fold up to three times per centroid. These expressions
  * instead run ONE fused scalar loop per row directly over `ArrayData`
  * inside whole-stage codegen (`addReferenceObj` + a kernel call, the
  * [[graft.functions.CosineF32]] recipe), with the codebooks decoded once
  * per plan from literal children — not per row, not per element.
  *
  * FP parity: every loop replicates, term by term on well-formed
  * vectors, the independent scalar reference in `QuantExprSpec`
  * (`refNearest`/`refCodes`/`refLut`, the math the ANN DuckDB oracles
  * replay) — ascending dimension inside a distance, the (d, cid) argmin
  * tie rule, LUT slots of dropped clusters left 0.0 — so scalar-vs-column
  * parity, and therefore every DuckDB oracle (q52/q54/q55/q65/q66/q89),
  * stays bit-exact.
  *
  * Null contract: a null vector, a null element (when the schema admits
  * them), or a PQ/residual/JL vector whose length contradicts the trained
  * dim yields a NULL result — quarantine semantics, same spirit as
  * [[graft.functions.CosineF32]] and q133's decode audit; the ranking
  * paths filter null scores so corrupt embeddings never rank (the old
  * scalar UDFs either threw mid-job or silently zero-padded).
  */
object QuantExpr {

  /** Register the kernel expressions in the session's function registry
    * (the engine's standard Column-construction route). Idempotent.
    */
  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.functionRegistry
    r.createOrReplaceTempFunction("nearest_cid",
      e => NearestCid(e(0), e(1), e(2)), "built-in")
    r.createOrReplaceTempFunction("quant_probes",
      e => QuantProbes(e(0), e(1), e(2), e(3)), "built-in")
    r.createOrReplaceTempFunction("residual_f32",
      e => ResidualF32(e(0), e(1), e(2), e(3)), "built-in")
    r.createOrReplaceTempFunction("pq_codes",
      e => PqCodes(e(0), e(1), e(2)), "built-in")
    r.createOrReplaceTempFunction("pq_lut",
      e => PqLut(e(0), e(1), e(2), e(3)), "built-in")
    r.createOrReplaceTempFunction("pq_adc",
      e => PqAdc(e(0), e(1), e(2)), "built-in")
    r.createOrReplaceTempFunction("jl_project",
      e => JlProject(e(0), e(1)), "built-in")
    r.createOrReplaceTempFunction("sign_sig",
      e => SignSig(e(0), e(1)), "built-in")
  }

  private def cidsLit(cents: Array[(Int, Array[Double])]): Column =
    typedLit(cents.map(_._1).toSeq)
  private def cvsLit(cents: Array[(Int, Array[Double])]): Column =
    typedLit(cents.map(_._2.toSeq).toSeq)

  /** argmin centroid id of an array<float> vector — [[Similarity]]'s
    * scalar `nearestCidOf` as one codegen'd loop. */
  def nearestCid(spark: SparkSession, vec: Column,
      cents: Array[(Int, Array[Double])]): Column = {
    register(spark)
    call_function("nearest_cid", vec, cidsLit(cents), cvsLit(cents))
  }

  /** The nprobe nearest centroid ids by (distance, cid) ascending. */
  def probes(spark: SparkSession, vec: Column,
      cents: Array[(Int, Array[Double])], nprobe: Int): Column = {
    register(spark)
    call_function("quant_probes", vec, cidsLit(cents), cvsLit(cents),
      typedLit(nprobe))
  }

  /** (vec − cents[cid]) rounded through float — the scalar `residual`'s
    * exact per-element rounding, so encode/LUT inputs match bit-for-bit. */
  def residualF32(spark: SparkSession, vec: Column, cid: Column,
      cents: Array[(Int, Array[Double])]): Column = {
    register(spark)
    call_function("residual_f32", vec, cid, cidsLit(cents), cvsLit(cents))
  }

  /** Per-subspace argmin codes of an array<float> vector against `cbs`. */
  def pqCodes(spark: SparkSession, vec: Column,
      cbs: Array[Array[(Int, Array[Double])]]): Column = {
    register(spark)
    call_function("pq_codes", vec,
      typedLit(cbs.map(_.map(_._1).toSeq).toSeq),
      typedLit(cbs.map(_.map(_._2.toSeq).toSeq).toSeq))
  }

  /** All m·ksub LUT cells ‖v_j − c_{j,ci}‖²; dropped-cluster slots 0.0. */
  def pqLut(spark: SparkSession, vec: Column,
      cbs: Array[Array[(Int, Array[Double])]], ksub: Int): Column = {
    register(spark)
    call_function("pq_lut", vec,
      typedLit(cbs.map(_.map(_._1).toSeq).toSeq),
      typedLit(cbs.map(_.map(_._2.toSeq).toSeq).toSeq),
      typedLit(ksub))
  }

  /** ADC score Σⱼ lut[j·ksub + codes[j]], folded in subspace order. */
  def pqAdc(spark: SparkSession, codes: Column, lut: Column,
      ksub: Int): Column = {
    register(spark)
    call_function("pq_adc", codes, lut, typedLit(ksub))
  }

  /** All outDim JL projections yⱼ = Σᵢ v[i]·signs[j][i] in ONE fused loop
    * (the 16-interpreted-folds form this replaces re-dispatched a lambda
    * per element per output dim). Null on length mismatch, like zip_with. */
  def jlProject(spark: SparkSession, vec: Column,
      signs: Array[Array[Double]]): Column = {
    register(spark)
    call_function("jl_project", vec, typedLit(signs.map(_.toSeq).toSeq))
  }

  /** nBits-bit random-hyperplane sign signature — [[Similarity]]'s scalar
    * `signature` as one fused loop (this was the last corpus-sized
    * ScalaUDF on the ANN surface). Null vector/element → null, so corrupt
    * embeddings neither bucket nor rank instead of crashing the stage. */
  def signSig(spark: SparkSession, vec: Column, nBits: Int): Column = {
    register(spark)
    call_function("sign_sig", vec, typedLit(nBits))
  }

  // ——— literal-child decode (once per plan, at first eval / codegen) ———

  private[sim] def decodeInts(e: Expression): Array[Int] =
    e.eval(null).asInstanceOf[ArrayData].toIntArray()
  private[graft] def decodeInt(e: Expression): Int =
    e.eval(null).asInstanceOf[Int]
  private[sim] def decodeVecs(e: Expression): Array[Array[Double]] = {
    val a = e.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(i => a.getArray(i).toDoubleArray())
  }
  private[sim] def decodeInts2(e: Expression): Array[Array[Int]] = {
    val a = e.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(i => a.getArray(i).toIntArray())
  }
  private[sim] def decodeVecs3(e: Expression): Array[Array[Array[Double]]] = {
    val a = e.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { i =>
      val b = a.getArray(i)
      Array.tabulate(b.numElements())(j => b.getArray(j).toDoubleArray())
    }
  }

  private[graft] def elementsNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, n) => n
    case _ => false // non-array row children have no elements to check
  }
}

/** The fused per-row loops. Each mirrors a [[Similarity]] driver-side
  * scalar kernel term by term (see the object scaladoc above); the two
  * copies must stay in lockstep — the ANN oracles fail on any drift.
  * A null vector element returns null (boxed) from the nullable variants.
  */
object QuantKernel {

  def hasNullElement(v: ArrayData): Boolean = {
    var i = 0
    val n = v.numElements()
    while (i < n) { if (v.isNullAt(i)) return true; i += 1 }
    false
  }

  /** `nearestCidOf`: first-min by (distance, cid); zero-pad past the
    * vector's end is unreachable here (cv.length bound mirrors the scalar
    * `i < cv.length && i < v.length` guard). */
  def nearestCid(cids: Array[Int], cvs: Array[Array[Double]],
      v: ArrayData): Int = {
    val n = v.numElements()
    var best = -1
    var bestD = Double.MaxValue
    var p = 0
    while (p < cids.length) {
      val cv = cvs(p)
      var d = 0.0
      var i = 0
      while (i < cv.length && i < n) {
        val t = v.getFloat(i) - cv(i)
        d += t * t
        i += 1
      }
      val ci = cids(p)
      if (d < bestD || (d == bestD && ci < best)) { best = ci; bestD = d }
      p += 1
    }
    best
  }

  /** Probe list: (distance, cid) pairs sorted ascending, first nprobe.
    * An all-NaN distance profile (a NaN query vector) quarantines to
    * null — the sort would otherwise return an arbitrary probe list and
    * the corrupt query would receive k arbitrary "neighbors". */
  def probes(cids: Array[Int], cvs: Array[Array[Double]], v: ArrayData,
      nprobe: Int): GenericArrayData = {
    val n = v.numElements()
    val ds = new Array[Double](cids.length)
    var anyFinite = false
    var p = 0
    while (p < cids.length) {
      val cv = cvs(p)
      var d = 0.0
      var i = 0
      while (i < cv.length && i < n) {
        val t = v.getFloat(i) - cv(i)
        d += t * t
        i += 1
      }
      if (!java.lang.Double.isNaN(d)) anyFinite = true
      ds(p) = d
      p += 1
    }
    if (cids.length > 0 && !anyFinite) return null
    val order = Array.range(0, cids.length)
      .sortBy(p => (ds(p), cids(p)))
    new GenericArrayData(
      order.take(math.min(nprobe, cids.length)).map(p => cids(p)))
  }

  /** `residual`: (v[i] − cv[i]) rounded through float, full vector.
    * A vector whose length differs from the trained dim returns null
    * (quarantine semantics — the row never ranks; the scalar form threw). */
  def residual(byCid: java.util.HashMap[Integer, Array[Double]],
      v: ArrayData, cid: Int): GenericArrayData = {
    val cv = byCid.get(Integer.valueOf(cid))
    require(cv != null, s"residual_f32: unknown coarse cid $cid")
    val n = v.numElements()
    if (n != cv.length) return null
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = (v.getFloat(i).toDouble - cv(i)).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `pqCodesOf`: per-subspace argmin over the j·dsub slice. A vector
    * whose length ≠ m·dsub returns null — quarantine semantics: the old
    * scalar UDF zero-padded short vectors (Arrays.copyOfRange) and so
    * encoded garbage that then RANKED; a corrupt row must never rank. */
  def pqCodes(cids2: Array[Array[Int]], cvs3: Array[Array[Array[Double]]],
      v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    val m = cids2.length
    val dsub = if (m > 0 && cvs3(0).nonEmpty) cvs3(0)(0).length else 0
    if (n != m * dsub) return null
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      val subI = cids2(j)
      val subC = cvs3(j)
      var best = -1
      var bestD = Double.MaxValue
      var p = 0
      while (p < subI.length) {
        val cv = subC(p)
        var d = 0.0
        var i = 0
        while (i < cv.length) {
          val t = v.getFloat(base + i) - cv(i)
          d += t * t
          i += 1
        }
        val ci = subI(p)
        if (d < bestD || (d == bestD && ci < best)) { best = ci; bestD = d }
        p += 1
      }
      // best = -1 ⇔ every distance in this subspace was NaN (corrupt
      // vector): quarantine to null — a -1 code would index lut[-1] at
      // ADC time (crash or garbage ranking)
      if (best == -1) return null
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** `pqLutOf`: cell (j, ci) = ‖v_j − c_{j,ci}‖², dimension order inside,
    * codebook order across; unassigned slots stay 0.0. Wrong-dim
    * vectors return null (quarantine — the scalar form threw). */
  def pqLut(cids2: Array[Array[Int]], cvs3: Array[Array[Array[Double]]],
      ksub: Int, v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    val m = cids2.length
    val dsub = if (m > 0 && cvs3(0).nonEmpty) cvs3(0)(0).length else 0
    if (n != m * dsub) return null
    val lut = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      val base = j * dsub
      val subI = cids2(j)
      val subC = cvs3(j)
      var p = 0
      while (p < subI.length) {
        val cv = subC(p)
        var d = 0.0
        var i = 0
        while (i < cv.length) {
          val t = v.getFloat(base + i).toDouble - cv(i)
          d += t * t
          i += 1
        }
        lut(j * ksub + subI(p)) = d
        p += 1
      }
      j += 1
    }
    new GenericArrayData(lut)
  }

  /** JL: yⱼ = Σᵢ v[i]·signs[j][i], double accumulation ascending i —
    * the aggregate(zip_with(...)) fold order exactly. Null (length
    * mismatch ≡ zip_with's null padding poisoning the sum) → caller. */
  def jlProject(signs: Array[Array[Double]], v: ArrayData): GenericArrayData = {
    val out = new Array[Double](signs.length)
    var j = 0
    while (j < signs.length) {
      val sj = signs(j)
      var acc = 0.0
      var i = 0
      while (i < sj.length) {
        acc += v.getFloat(i).toDouble * sj(i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC: Σⱼ lut[j·ksub + codes[j]], left fold from 0.0. */
  def adc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lut.getDouble(j * ksub + codes.getInt(j))
      j += 1
    }
    s
  }

  /** `signature`: nBits hyperplane sign decisions — bit b set iff
    * Σ_d v(d)·hyper(b,d) > 0, accumulated in ascending dimension order
    * (the scalar kernel's loop, and the order q30's oracle replays). */
  def signSig(v: ArrayData, nBits: Int): Int = {
    val n = v.numElements()
    var sig = 0
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      var d = 0
      while (d < n) { acc += v.getFloat(d) * Similarity.hyper(b, d); d += 1 }
      if (acc > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }
}

/** Shared shape: per-row children (vector, string, …) plus literal
  * parameter children. Only the row-varying children generate code; the
  * literals are decoded once on the driver and ride into generated code
  * via `addReferenceObj`. Reused outside sim by the fused text kernels
  * ([[graft.text.TextExpr]]) — same recipe, different payload type.
  *
  * Every kernel declares `inputTypes` and mixes in implicit casting: the
  * analyzer coerces e.g. an `array<double>` embedding to `array<float>`
  * exactly as it did for the ScalaUDFs these kernels replaced — without
  * it, `getFloat` over double-backed ArrayData would read garbage
  * SILENTLY (wrong buckets, wrong scores, no error).
  */
private[graft] trait QuantKernelExpression extends Expression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def nullable: Boolean = true
  /** Row-varying children (generate code); the rest must be foldable. */
  protected def rowChildren: Seq[Expression]
  /** Boxed compute over the evaluated row children; null propagates. */
  def compute(rowValues: Array[Any]): Any

  protected lazy val vecElementsNullable: Boolean =
    QuantExpr.elementsNullable(rowChildren.head.dataType)

  override def eval(input: InternalRow): Any = {
    val vals = new Array[Any](rowChildren.length)
    var i = 0
    while (i < vals.length) {
      val v = rowChildren(i).eval(input)
      if (v == null) return null
      vals(i) = v
      i += 1
    }
    if (vecElementsNullable &&
        QuantKernel.hasNullElement(vals(0).asInstanceOf[ArrayData])) null
    else compute(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("quantKernel", this,
      classOf[QuantKernelExpression].getName)
    val gens = rowChildren.map(_.genCode(ctx))
    val boxed = ctx.freshName("quantRes")
    val arr = ctx.freshName("quantArgs")
    val javaTy = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    val boxedTy = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .boxedType(dataType)
    val anyNull = gens.map(_.isNull).map(n => s"$n").mkString(" || ")
    val nullElemCheck =
      if (vecElementsNullable)
        s" || graft.sim.QuantKernel.hasNullElement(${gens.head.value})"
      else ""
    val fills = gens.zipWithIndex.map { case (g, i) =>
      s"$arr[$i] = ${g.value};"
    }.mkString("\n")
    val code =
      code"""
        ${gens.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = true;
        $javaTy ${ev.value} = ${org.apache.spark.sql.catalyst.expressions.codegen
          .CodeGenerator.defaultValue(dataType)};
        if (!($anyNull$nullElemCheck)) {
          Object[] $arr = new Object[${gens.length}];
          $fills
          Object $boxed = $self.compute($arr);
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = ($boxedTy) $boxed;
          }
        }
      """
    ev.copy(code = code)
  }
}

/** argmin centroid id — see [[QuantKernel.nearestCid]]. */
case class NearestCid(vec: Expression, cidsL: Expression, cvsL: Expression)
    extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(vec, cidsL, cvsL)
  override protected def rowChildren: Seq[Expression] = Seq(vec)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cid"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(IntegerType), ArrayType(ArrayType(DoubleType)))
  @transient private lazy val cids = QuantExpr.decodeInts(cidsL)
  @transient private lazy val cvs = QuantExpr.decodeVecs(cvsL)
  override def compute(rv: Array[Any]): Any = {
    val best = QuantKernel.nearestCid(cids, cvs, rv(0).asInstanceOf[ArrayData])
    // -1 = no centroid ever compared less — an all-NaN vector (every
    // distance NaN). Quarantine to null like the other corruption modes;
    // the raw -1 crashed residual_f32's unknown-cid require and aborted
    // the whole IVFADC job on one corrupt row.
    if (best == -1) null else Integer.valueOf(best)
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2))
}

/** nprobe nearest centroid ids — see [[QuantKernel.probes]]. */
case class QuantProbes(vec: Expression, cidsL: Expression, cvsL: Expression,
    nprobeL: Expression) extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(vec, cidsL, cvsL, nprobeL)
  override protected def rowChildren: Seq[Expression] = Seq(vec)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "quant_probes"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(IntegerType), ArrayType(ArrayType(DoubleType)), IntegerType)
  @transient private lazy val cids = QuantExpr.decodeInts(cidsL)
  @transient private lazy val cvs = QuantExpr.decodeVecs(cvsL)
  @transient private lazy val nprobe = QuantExpr.decodeInt(nprobeL)
  override def compute(rv: Array[Any]): Any =
    QuantKernel.probes(cids, cvs, rv(0).asInstanceOf[ArrayData], nprobe)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2), c(3))
}

/** float-rounded residual vector — see [[QuantKernel.residual]]. */
case class ResidualF32(vec: Expression, cid: Expression, cidsL: Expression,
    cvsL: Expression) extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(vec, cid, cidsL, cvsL)
  override protected def rowChildren: Seq[Expression] = Seq(vec, cid)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "residual_f32"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), IntegerType, ArrayType(IntegerType), ArrayType(ArrayType(DoubleType)))
  @transient private lazy val byCid = {
    val cids = QuantExpr.decodeInts(cidsL)
    val cvs = QuantExpr.decodeVecs(cvsL)
    val m = new java.util.HashMap[Integer, Array[Double]](cids.length * 2)
    var i = 0
    while (i < cids.length) { m.put(Integer.valueOf(cids(i)), cvs(i)); i += 1 }
    m
  }
  override def compute(rv: Array[Any]): Any =
    QuantKernel.residual(byCid, rv(0).asInstanceOf[ArrayData],
      rv(1).asInstanceOf[Int])
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2), c(3))
}

/** per-subspace PQ codes — see [[QuantKernel.pqCodes]]. */
case class PqCodes(vec: Expression, cids2L: Expression, cvs3L: Expression)
    extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(vec, cids2L, cvs3L)
  override protected def rowChildren: Seq[Expression] = Seq(vec)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(ArrayType(IntegerType)), ArrayType(ArrayType(ArrayType(DoubleType))))
  @transient private lazy val cids2 = QuantExpr.decodeInts2(cids2L)
  @transient private lazy val cvs3 = QuantExpr.decodeVecs3(cvs3L)
  override def compute(rv: Array[Any]): Any =
    QuantKernel.pqCodes(cids2, cvs3, rv(0).asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2))
}

/** per-query ADC lookup table — see [[QuantKernel.pqLut]]. */
case class PqLut(vec: Expression, cids2L: Expression, cvs3L: Expression,
    ksubL: Expression) extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(vec, cids2L, cvs3L, ksubL)
  override protected def rowChildren: Seq[Expression] = Seq(vec)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(ArrayType(IntegerType)), ArrayType(ArrayType(ArrayType(DoubleType))), IntegerType)
  @transient private lazy val cids2 = QuantExpr.decodeInts2(cids2L)
  @transient private lazy val cvs3 = QuantExpr.decodeVecs3(cvs3L)
  @transient private lazy val ksub = QuantExpr.decodeInt(ksubL)
  override def compute(rv: Array[Any]): Any =
    QuantKernel.pqLut(cids2, cvs3, ksub, rv(0).asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2), c(3))
}

/** ADC score over (codes, lut) row pairs — see [[QuantKernel.adc]].
  * Both row children are engine-produced arrays (never null elements),
  * so only top-level nulls are checked. */
case class PqAdc(codes: Expression, lut: Expression, ksubL: Expression)
    extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(codes, lut, ksubL)
  override protected def rowChildren: Seq[Expression] = Seq(codes, lut)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType), ArrayType(DoubleType), IntegerType)
  override protected lazy val vecElementsNullable: Boolean = false
  @transient private lazy val ksub = QuantExpr.decodeInt(ksubL)
  override def compute(rv: Array[Any]): Any =
    java.lang.Double.valueOf(QuantKernel.adc(rv(0).asInstanceOf[ArrayData],
      rv(1).asInstanceOf[ArrayData], ksub))
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2))
}

/** fused JL sign-projection — see [[QuantKernel.jlProject]]. */
case class JlProject(vec: Expression, signsL: Expression)
    extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(vec, signsL)
  override protected def rowChildren: Seq[Expression] = Seq(vec)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(ArrayType(DoubleType)))
  @transient private lazy val signs = QuantExpr.decodeVecs(signsL)
  @transient private lazy val inDim =
    if (signs.nonEmpty) signs(0).length else 0
  override def compute(rv: Array[Any]): Any = {
    val v = rv(0).asInstanceOf[ArrayData]
    // zip_with pads the shorter side with nulls and a null poisons the
    // fold — a length mismatch must be null, never a silent zero-pad
    if (v.numElements() != inDim) null
    else QuantKernel.jlProject(signs, v)
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1))
}

/** random-hyperplane sign signature — see [[QuantKernel.signSig]]. */
case class SignSig(vec: Expression, nBitsL: Expression)
    extends QuantKernelExpression {
  override def children: Seq[Expression] = Seq(vec, nBitsL)
  override protected def rowChildren: Seq[Expression] = Seq(vec)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sign_sig"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), IntegerType)
  @transient private lazy val nBits = QuantExpr.decodeInt(nBitsL)
  override def compute(rv: Array[Any]): Any =
    Integer.valueOf(QuantKernel.signSig(rv(0).asInstanceOf[ArrayData], nBits))
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1))
}
