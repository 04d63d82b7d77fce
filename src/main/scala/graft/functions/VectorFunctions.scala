package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Element access for the vector expressions, dispatched on the array's
  * ELEMENT TYPE at plan time: the base embeddings column is
  * `array<float>`, but derived vectors (e.g. the planted-margin fixture,
  * which must be arithmetically reproducible in the DuckDB oracle) are
  * `array<double>` — reading a double array through `getFloat` would
  * reinterpret half a double's bytes. Both paths accumulate in DOUBLE,
  * sequentially, so oracle parity is unchanged. */
private[functions] object VecAccess {
  /** Interpreted getter for one array child. array<bigint> supports the
    * integer-exact paths (q162's unit-quantized coords, |v| ≤ 1e6 —
    * exactly representable in double, so the widening is lossless). */
  def get(dt: DataType)(a: ArrayData, i: Int): Double = dt match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => a.getDouble(i)
    case ArrayType(LongType, _) => a.getLong(i).toDouble
    case other => throw new IllegalArgumentException(
      s"vector expressions need array<float|double|bigint>, got $other")
  }
  /** Codegen fragment reading element `i` of array variable `a`. */
  def gen(dt: DataType, a: String, i: String): String = dt match {
    case ArrayType(FloatType, _) => s"(double) $a.getFloat($i)"
    case ArrayType(DoubleType, _) => s"$a.getDouble($i)"
    case ArrayType(LongType, _) => s"(double) $a.getLong($i)"
    case other => throw new IllegalArgumentException(
      s"vector expressions need array<float|double|bigint>, got $other")
  }
}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns, with whole-stage codegen (SURVEY.md §2.9
  * upgrade path: "custom Catalyst Expression with codegen if profiling
  * demands" — the knn/LSH hot path evaluates this once per candidate
  * pair, so avoiding the boxed `zip_with`+`aggregate` lambda chain
  * matters at scale).
  *
  * Accumulates dot/norms in DOUBLE, sequentially (i = 0..n-1) — the same
  * order the DuckDB oracle uses, so results are bit-identical.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = VecAccess.get(left.dataType)(a, i)
      val y = VecAccess.get(right.dataType)(b, i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x$i = ${VecAccess.gen(left.dataType, a, i)};
         |  double y$i = ${VecAccess.gen(right.dataType, b, i)};
         |  $dot += x$i * y$i; $na += x$i * x$i; $nb += y$i * y$i;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product of an array<float> column with a constant double[]
  * weight vector (codegen; the weights live in a referenced field, not
  * the expression tree — 64 literals per plane would bloat the plan and
  * defeat codegen). Used for LSH hyperplane projections. */
case class DotWithConst(child: Expression, weights: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), weights.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += VecAccess.get(child.dataType)(a, i) * weights(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("weights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($a.numElements(), $w.length);
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${VecAccess.gen(child.dataType, a, i)} * $w[$i];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Plain dot product of two array<float> columns (codegen). Paired with
  * per-vector precomputed norms this does cosine at one third of
  * CosineSimilarity's flops — the norms of each vector are row-local
  * facts, so recomputing them per PAIR in an all-pairs join wastes
  * 2/3 of the arithmetic. Accumulation order matches CosineSimilarity
  * and the DuckDB oracle (sequential i = 0..n-1), so
  * dot/(sqrt(na)·sqrt(nb)) stays bit-identical. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += VecAccess.get(left.dataType)(a, i) * VecAccess.get(right.dataType)(b, i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${VecAccess.gen(left.dataType, a, i)}
         |        * ${VecAccess.gen(right.dataType, b, i)};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Top-`probe` quantizer cells for a vector, as ONE integer-exact
  * codegen expression, for the oracle-checked IVF path
  * (q55): the vector is quantized ONCE per row to 1e-6 fixed point with
  * half-away-from-zero rounding (the ROUND both engines apply — JVM
  * Math.round is half-toward-+∞, which differs at negative .5), and
  * every centroid score s_k = 2·cq_k·xq − |cq_k|² is exact int64
  * arithmetic — so cell assignment is bit-identical between Spark and a
  * DuckDB replay of the same integer centroids regardless of summation
  * order (int64 addition is associative; double dots are not). Overflow
  * headroom: |x| ≤ ~10 ⇒ |xq| ≤ 1e7, 64-dim dot ≤ 6.4e15, ×2 ≪ 2⁶³.
  *
  * Tie-break: score descending, LOWER cell id wins — mirroring the
  * oracle's `ORDER BY score DESC, cell` window. */
case class TopCellsInt(child: Expression, cents: Array[Array[Long]],
                       cids: Array[Int], probe: Int, scale: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val bias: Array[Long] =
    cents.map(c => c.map(x => x * x).sum)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val k = cents.length
    val dim = a.numElements()
    val xq = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      val x = VecAccess.get(child.dataType)(a, i) * scale
      xq(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
      i += 1
    }
    val keep = math.min(probe, k)
    val ts = new Array[Long](keep)
    val tc = new Array[Int](keep)
    var filled = 0
    var ki = 0
    while (ki < k) {
      val c = cents(ki)
      val n = math.min(dim, c.length)
      var dot = 0L
      i = 0
      while (i < n) { dot += xq(i) * c(i); i += 1 }
      val s = 2L * dot - bias(ki)
      val cid = cids(ki)
      var pos = filled
      while (pos > 0 && (s > ts(pos - 1) ||
          (s == ts(pos - 1) && cid < tc(pos - 1))))
        pos -= 1
      if (pos < keep) {
        val end = math.min(filled, keep - 1)
        var m = end
        while (m > pos) { ts(m) = ts(m - 1); tc(m) = tc(m - 1); m -= 1 }
        ts(pos) = s; tc(pos) = cid
        if (filled < keep) filled += 1
      }
      ki += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(tc, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", cents, "long[][]")
    val bRef = ctx.addReferenceObj("bias", bias, "long[]")
    val idRef = ctx.addReferenceObj("cids", cids, "int[]")
    nullSafeCodeGen(ctx, ev, a => {
      val keep = ctx.freshName("keep"); val ts = ctx.freshName("ts")
      val tc = ctx.freshName("tc"); val filled = ctx.freshName("filled")
      val ki = ctx.freshName("ki"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val cid = ctx.freshName("cid")
      val pos = ctx.freshName("pos"); val end = ctx.freshName("end")
      val m = ctx.freshName("m"); val dim = ctx.freshName("dim")
      val xq = ctx.freshName("xq"); val xv = ctx.freshName("xv")
      // NOTE: no generated line may START with '|' — downstream
      // formatting eats a leading pipe as a margin char (observed: a
      // `|| (` continuation lost its operator, Janino failed, and the
      // Predicate fell back to interpreted mode), so tie-breaks run
      // through plain statements.
      s"""
         |int $dim = $a.numElements();
         |long[] $xq = new long[$dim];
         |for (int $i = 0; $i < $dim; $i++) {
         |  double $xv = ${VecAccess.gen(child.dataType, a, i)} * ${scale}L;
         |  $xq[$i] = (long) ($xv >= 0 ? Math.floor($xv + 0.5D) : Math.ceil($xv - 0.5D));
         |}
         |int $keep = Math.min($probe, $cRef.length);
         |long[] $ts = new long[$keep];
         |int[] $tc = new int[$keep];
         |int $filled = 0;
         |for (int $ki = 0; $ki < $cRef.length; $ki++) {
         |  int $n = Math.min($dim, $cRef[$ki].length);
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $xq[$i] * $cRef[$ki][$i];
         |  }
         |  long $s = 2L * $dot - $bRef[$ki];
         |  int $cid = $idRef[$ki];
         |  int $pos = $filled;
         |  while ($pos > 0) {
         |    if ($s > $ts[$pos - 1] || ($s == $ts[$pos - 1] && $cid < $tc[$pos - 1])) $pos--;
         |    else break;
         |  }
         |  if ($pos < $keep) {
         |    int $end = Math.min($filled, $keep - 1);
         |    for (int $m = $end; $m > $pos; $m--) {
         |      $ts[$m] = $ts[$m - 1]; $tc[$m] = $tc[$m - 1];
         |    }
         |    $ts[$pos] = $s; $tc[$pos] = $cid;
         |    if ($filled < $keep) $filled++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(java.util.Arrays.copyOf($tc, $filled));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Integer-exact LSH bucket assignment for the oracle-checked q44 path:
  * the vector is quantized ONCE to `scale` fixed point (half-away
  * rounding), and each table's bucket is the sign pattern of its
  * hyperplane projections in exact int64 — Σ pq·xq ≥ 0 — so bucketing
  * replays bit-identically in DuckDB against the same frozen integer
  * planes. `planes` is [table·P + p][dim]; output is one bucket value
  * per table (array<int>, length T). Overflow headroom: |pq| ≤ 3.6e6
  * (quantized N(0,1) tails), |xq| ≤ 1e7, 64-dim dot ≤ 2.3e15 ≪ 2⁶³. */
case class LshBucketsInt(child: Expression, planes: Array[Array[Long]],
                         tables: Int, scale: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(planes.length % tables == 0, "planes not a multiple of tables")
  private val perTable = planes.length / tables

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val dim = a.numElements()
    val xq = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      val x = VecAccess.get(child.dataType)(a, i) * scale
      xq(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
      i += 1
    }
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var p = 0
      while (p < perTable) {
        val w = planes(t * perTable + p)
        val n = math.min(dim, w.length)
        var dot = 0L
        i = 0
        while (i < n) { dot += xq(i) * w(i); i += 1 }
        if (dot >= 0) bucket |= 1 << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "long[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim"); val xq = ctx.freshName("xq")
      val xv = ctx.freshName("xv"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val t = ctx.freshName("t")
      val bucket = ctx.freshName("bucket"); val p = ctx.freshName("p")
      val w = ctx.freshName("w"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $dim = $a.numElements();
         |long[] $xq = new long[$dim];
         |for (int $i = 0; $i < $dim; $i++) {
         |  double $xv = ${VecAccess.gen(child.dataType, a, i)} * ${scale}L;
         |  $xq[$i] = (long) ($xv >= 0 ? Math.floor($xv + 0.5D) : Math.ceil($xv - 0.5D));
         |}
         |int[] $out = new int[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $bucket = 0;
         |  for (int $p = 0; $p < $perTable; $p++) {
         |    long[] $w = $pRef[$t * $perTable + $p];
         |    int $n = Math.min($dim, $w.length);
         |    long $dot = 0L;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += $xq[$i] * $w[$i];
         |    }
         |    if ($dot >= 0) $bucket |= 1 << $p;
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  import org.apache.spark.sql.GraftInternal

  /** Column-level entry point: cosine similarity of two array<float>. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftInternal.toColumn(CosineSimilarity(
      GraftInternal.toExpression(a), GraftInternal.toExpression(b)))

  /** Dot product of two array<float> columns. */
  def dot_product(a: Column, b: Column): Column =
    GraftInternal.toColumn(DotProduct(
      GraftInternal.toExpression(a), GraftInternal.toExpression(b)))

  /** Dot product with a constant weight vector (LSH projections). */
  def dot_const(a: Column, weights: Array[Double]): Column =
    GraftInternal.toColumn(DotWithConst(GraftInternal.toExpression(a), weights))

  /** Integer-exact nearest-`probe` cells over 1e-6-quantized coords
    * (the oracle-checked IVF path). */
  def top_cells_int(v: Column, cents: Seq[(Int, Array[Long])], probe: Int,
                    scale: Long): Column =
    GraftInternal.toColumn(TopCellsInt(GraftInternal.toExpression(v),
      cents.map(_._2).toArray, cents.map(_._1).toArray, probe, scale))

  /** Integer-exact per-table LSH buckets (the oracle-checked q44 path). */
  def lsh_buckets_int(v: Column, planes: Array[Array[Long]], tables: Int,
                      scale: Long): Column =
    GraftInternal.toColumn(LshBucketsInt(GraftInternal.toExpression(v),
      planes, tables, scale))
}
