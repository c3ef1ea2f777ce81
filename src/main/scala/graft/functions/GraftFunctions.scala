package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Engine function surface.
  *
  * - `cell_of` / geo derivations are PLAIN COLUMN ARITHMETIC (codegen'd,
  *   whole-stage friendly, SQL-expressible for the DuckDB oracle) — no UDF.
  * - ray-cast point-in-polygon is a native Catalyst `Expression` evaluating
  *   directly over `ArrayData`/`InternalRow` (no per-row encoder round trip,
  *   no Scala-UDF boxing), with `doGenCode` calling the static kernel so the
  *   refine stays inside whole-stage codegen.
  */
object GraftFunctions {

  /** cellOf(lat, lon, res) as pure column arithmetic — exactly
    * graft.cell.CellIndex.cellOf: id = res*2^58 + x*2^29 + y, row-major.
    * SQL-equivalent (DuckDB):
    *   res*288230376151711744 + least(greatest(floor((lon+180)/360*2^res),0),2^res-1)*536870912
    *     + least(greatest(floor((lat+90)/180*2^res),0),2^res-1)
    */
  def cellOfCol(lat: Column, lon: Column, res: Int): Column = {
    val n = 1L << res
    val x = least(greatest(floor((lon + lit(180.0)) / lit(360.0) * lit(n.toDouble)), lit(0.0)),
      lit((n - 1).toDouble)).cast("long")
    val y = least(greatest(floor((lat + lit(90.0)) / lit(180.0) * lit(n.toDouble)), lit(0.0)),
      lit((n - 1).toDouble)).cast("long")
    lit(res.toLong * 288230376151711744L) + x * lit(536870912L) + y
  }

  /** Deterministic probe geotag from an integer key — FIXTURES.md §2
    * arithmetic, reproducible in ANSI SQL:
    *   lat = ((abs(key*9973+12345) % 170000)/1000.0) - 85.0
    *   lon = ((abs(key*7919+54321) % 360000)/1000.0) - 180.0
    */
  def latOfKey(key: Column): Column =
    (abs(key * lit(9973L) + lit(12345L)) % lit(170000L)).cast("double") / lit(1000.0) - lit(85.0)

  def lonOfKey(key: Column): Column =
    (abs(key * lit(7919L) + lit(54321L)) % lit(360000L)).cast("double") / lit(1000.0) - lit(180.0)

  /** Great-circle distance in km (haversine, sphere R = 6371 km) as pure
    * column arithmetic — codegen'd, no UDF, and term-for-term replayable in
    * ANSI SQL for the oracle. The asin argument is clamped to 1: for
    * near-antipodal pairs the float sum can exceed 1 by an ulp, and
    * asin(1 + ε) is NaN on both engines.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val s1 = sin(radians(lat2 - lat1) / lit(2.0))
    val s2 = sin(radians(lon2 - lon1) / lit(2.0))
    val h = s1 * s1 + cos(radians(lat1)) * cos(radians(lat2)) * s2 * s2
    lit(2.0 * 6371.0) * asin(least(lit(1.0), sqrt(h)))
  }

  /** Register engine expressions for SQL + call_function use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ray_cast_contains", exprs => RayCastContains(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_f32", exprs => CosineF32(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "splitmix64", exprs => SplitMix64(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "poly_intersects", exprs => PolyIntersects(exprs(0), exprs(1)), "built-in")
  }

  /** Column form: rings array<array<struct<lat:float,lon:float>>>, lat, lon. */
  def rayCastContains(rings: Column, lat: Column, lon: Column): Column =
    call_function("ray_cast_contains", rings, lat, lon)

  /** Polygon-pair interior-overlap test over two rings columns — native
    * codegen'd Expression (see [[graft.geom.PolyOverlapKernel]]); call
    * `register(spark)` first (idempotent, cheap).
    */
  def polyIntersects(ringsA: Column, ringsB: Column): Column =
    call_function("poly_intersects", ringsA, ringsB)

  /** Cosine similarity of two array<float> columns — native codegen'd
    * Expression; call `register(spark)` first (idempotent, cheap).
    */
  def cosineF32(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("cosine_f32", a, b)
  }

  /** splitmix64 (Steele et al.) over a bigint column as a NATIVE codegen'd
    * expression — deterministic hashing without a UDF. It cannot be plain
    * column arithmetic: the kernel's multiplies wrap mod 2^64, which
    * Spark's ANSI mode (the 4.x default) raises on; generated Java long
    * arithmetic wraps by definition. Bit parity with the scalar kernel
    * pinned in PlanAuditSpec.
    */
  def splitmixCol(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("splitmix64", c)
  }
}

/** splitmix64 as a native unary expression — see GraftFunctions.splitmixCol. */
case class SplitMix64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "splitmix64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"splitmix64 needs a bigint input, got $other")
    }

  protected override def nullSafeEval(input: Any): Any =
    graft.img.ImageTable.splitmix64(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val z = ctx.freshName("z")
      s"""
         |long $z = $c + 0x9E3779B97F4A7C15L;
         |$z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |$z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |${ev.value} = $z ^ ($z >>> 31);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SplitMix64 =
    copy(child = newChild)
}

/** Even-odd ray-cast containment over the union of rings (same semantics as
  * graft.geom.Geom.containsPoint — holes NOT subtracted, matching the
  * reference's free-standing-ring model). Operates directly on Catalyst
  * ArrayData — no materialization of Seq[Pt] — and participates in
  * whole-stage codegen via a static kernel call (doGenCode), so the refine
  * filter stays inside the probe scan's generated loop.
  */
case class RayCastContains(rings: Expression, lat: Expression, lon: Expression)
    extends TernaryExpression {

  override def first: Expression = rings
  override def second: Expression = lat
  override def third: Expression = lon
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "ray_cast_contains"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    rings.dataType match {
      case ArrayType(ArrayType(StructType(fields), _), _)
          if fields.length == 2 && fields.forall(_.dataType == FloatType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rings must be array<array<struct<float,float>>>, got $other")
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val r = rings.eval(input)
    val la = lat.eval(input)
    val lo = lon.eval(input)
    if (r == null || la == null || lo == null) return false
    val pLat = la match { case d: Double => d; case f: Float => f.toDouble }
    val pLon = lo match { case d: Double => d; case f: Float => f.toDouble }
    RayCastKernel.contains(r.asInstanceOf[ArrayData], pLat, pLon)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val r = rings.genCode(ctx)
    val la = lat.genCode(ctx)
    val lo = lon.genCode(ctx)
    val code =
      code"""
        ${r.code}
        ${la.code}
        ${lo.code}
        boolean ${ev.value} = false;
        if (!${r.isNull} && !${la.isNull} && !${lo.isNull}) {
          ${ev.value} = graft.functions.RayCastKernel.contains(
            ${r.value}, (double)(${la.value}), (double)(${lo.value}));
        }
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(rings = newFirst, lat = newSecond, lon = newThird)
}

/** Cosine similarity over two `array<float>` embeddings as a native
  * Catalyst expression. The `aggregate(zip_with(...))` built-in form it
  * replaces evaluates three interpreted higher-order lambdas per row (one
  * closure call per element per pass); this kernel is one fused loop over
  * the raw ArrayData inside whole-stage codegen. Same math, same order:
  * per-element products accumulated in double, array order — results are
  * bit-identical to the HOF form (pinned in SimilaritySpec).
  */
case class CosineF32(a: Expression, b: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = DoubleType
  // null when either input is null, lengths mismatch, OR any element is
  // null — the same rows the HOF form nulls out (zip_with pads the shorter
  // array with nulls and null elements poison the aggregate sum), so
  // corrupt embeddings never rank
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_f32"

  // the per-element null scan is only paid when the schema admits null
  // elements — a plan-time constant, so the generated code branches never
  private lazy val elementsNullable: Boolean = (a.dataType, b.dataType) match {
    case (ArrayType(_, an), ArrayType(_, bn)) => an || bn
    case _ => true
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (a.dataType, b.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_f32 needs two array<float> inputs, got $other")
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val av = a.eval(input)
    val bv = b.eval(input)
    if (av == null || bv == null) return null
    val aa = av.asInstanceOf[ArrayData]
    val ba = bv.asInstanceOf[ArrayData]
    if (aa.numElements() != ba.numElements()) null
    else if (elementsNullable) CosineKernel.cosineNullable(aa, ba)
    else CosineKernel.cosine(aa, ba)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("graftCosRes")
    nullSafeCodeGen(ctx, ev, (av, bv) =>
      if (elementsNullable)
        s"""
          if ($av.numElements() != $bv.numElements()) {
            ${ev.isNull} = true;
          } else {
            java.lang.Double $res = graft.functions.CosineKernel.cosineNullable($av, $bv);
            if ($res == null) {
              ${ev.isNull} = true;
            } else {
              ${ev.value} = $res.doubleValue();
            }
          }
        """
      else
        s"""
          if ($av.numElements() != $bv.numElements()) {
            ${ev.isNull} = true;
          } else {
            ${ev.value} = graft.functions.CosineKernel.cosine($av, $bv);
          }
        """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

object CosineKernel {
  /** dot/(‖a‖·‖b‖) over equal-length arrays, double accumulation in array
    * order — identical per-element op order to the
    * aggregate(zip_with(a,b,_*_), 0.0, _+_) / sqrt-norm composition, so
    * results match bit-for-bit (pinned in SimilaritySpec).
    */
  /** Null-element-aware wrapper: returns null if ANY slot of either array
    * is null (zip_with/aggregate semantics — a null element poisons the
    * sum), otherwise delegates to the bit-identical fast kernel. Called
    * only when the array schema admits null elements.
    */
  def cosineNullable(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    java.lang.Double.valueOf(cosine(a, b))
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Polygon-pair interior-overlap test — proper edge crossing ∪ strict
  * vertex containment, exact for integer-valued coordinates (semantics
  * and kernel in [[graft.geom.PolyOverlapKernel]]). Both inputs are the
  * reference ring shape `array<array<struct<lat:float,lon:float>>>`.
  */
case class PolyIntersects(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "poly_intersects"

  private def ringsType(dt: DataType): Boolean = dt match {
    case ArrayType(ArrayType(StructType(fields), _), _)
        if fields.length == 2 && fields.forall(_.dataType == FloatType) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ringsType(left.dataType) && ringsType(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"poly_intersects needs two array<array<struct<float,float>>> inputs, " +
        s"got ${left.dataType} / ${right.dataType}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) return false
    graft.geom.PolyOverlapKernel.intersects(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val code =
      code"""
        ${a.code}
        ${b.code}
        boolean ${ev.value} = false;
        if (!${a.isNull} && !${b.isNull}) {
          ${ev.value} = graft.geom.PolyOverlapKernel.intersects(${a.value}, ${b.value});
        }
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernel shared by interpreted eval and generated code. */
object RayCastKernel {
  def contains(arr: ArrayData, pLat: Double, pLon: Double): Boolean = {
    var k = 0
    while (k < arr.numElements()) {
      if (!arr.isNullAt(k)) {
        val ring = arr.getArray(k)
        val n = ring.numElements()
        if (n >= 3) {
          var inside = false
          var i = 0
          var j = n - 1
          while (i < n) {
            val pi = ring.getStruct(i, 2)
            val pj = ring.getStruct(j, 2)
            val yi = pi.getFloat(0).toDouble; val xi = pi.getFloat(1).toDouble
            val yj = pj.getFloat(0).toDouble; val xj = pj.getFloat(1).toDouble
            if (((yi > pLat) != (yj > pLat)) &&
                (pLon < (xj - xi) * (pLat - yi) / (yj - yi) + xi)) {
              inside = !inside
            }
            j = i; i += 1
          }
          if (inside) return true
        }
      }
      k += 1
    }
    false
  }
}
