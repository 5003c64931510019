package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, coalesce, lit}
import org.apache.spark.sql.types._

/** Similarity kernels over `ArrayType(FloatType)` vectors, as native
  * Catalyst expressions with whole-stage-codegen bodies (a tight primitive
  * loop; no per-row allocation). Semantics follow the reference kernels in
  * `similarity.ts:2-41` (dot product, cosine, euclidean distance,
  * euclidean similarity = 1/(1+dist)), generalized to batch columns.
  *
  * All arithmetic accumulates in Double, sequentially over elements — the
  * same evaluation order as the reference's scalar JS loops and as DuckDB's
  * sequential list kernels, which makes results bit-reproducible across the
  * oracle boundary.
  */
abstract class VectorKernel extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  /** Java source for the loop body: given array vars `a`,`b`, assign the
    * result to `res` (a declared double). Every local MUST come from
    * `fresh` — two instances of one kernel can inline into the same
    * generated function, and fixed names would collide and silently drop
    * the whole stage back to interpreted eval. */
  protected def loopCode(a: String, b: String, res: String,
      fresh: String => String): String
  protected def evalKernel(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(l: Any, r: Any): Any =
    evalKernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |double $res = 0.0;
         |${loopCode(a, b, res, ctx.freshName)}
         |${ev.value} = $res;
       """.stripMargin
    })
}

/** The scalar similarity kernels over float arrays: the one
  * definition that the interpreted `evalKernel` of [[CosineSimilarityExpr]]
  * and [[EuclideanDistanceExpr]] and the fused graph walk
  * ([[graft.operators.GraphSnapshot]]) all call, so their scores cannot
  * drift. The generated code of the two expressions runs the same
  * arithmetic in the same order (double accumulation over
  * min(aLen, bLen) elements), which the walk parity spec pins bit for
  * bit. */
object ScalarKernels {
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def euclideanDist(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d; i += 1
    }
    math.sqrt(s)
  }

  /** 1/(1+dist): [[VectorFunctions.euclideanSim]]'s transform. */
  def euclideanSim(a: ArrayData, b: ArrayData): Double =
    1.0 / (1.0 + euclideanDist(a, b))
}

/** PUSHDOWN BARRIER: a value-identity wrapper DECLARED nondeterministic
  * so the optimizer cannot substitute the wrapped expression into pushed
  * predicates. The `withColumn("score", kernel).filter(score…)` shape
  * every scoring path uses gets its filter inlined below the projection
  * (PushPredicateThroughNonJoin substitutes the alias, then the predicate
  * folds into the join condition), so the kernel evaluated up to THREE
  * times per candidate row — twice in the pushed `score > t AND NOT
  * isnan(score)` condition, once more in the surviving projection (the
  * optimization guide's §4.4 duplication, Catalyst-native form; r16
  * measured it on the exact-scoring family's plans). Wrapping the kernel
  * makes the filter stay ABOVE the projection referencing the score
  * ATTRIBUTE — one kernel evaluation per row.
  *
  * The wrapped expression IS deterministic in reality (a retried task
  * recomputes identical values — no SPARK-38388-class hazard); the
  * declaration only blocks alias substitution and constant folding.
  * Codegen passes straight through to the child, so kernels stay inside
  * whole-stage codegen (PlanSpec's v01 pin still sees `cosine_sim`
  * inside a `*(n)` Project). */
case class BarrierExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "barrier"
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression)
      : BarrierExpr = copy(child = newChild)
}

/** Σ aᵢ·bᵢ — reference `similarity.ts:2-11`. */
case class DotProductExpr(left: Expression, right: Expression)
    extends VectorKernel {
  override def prettyName: String = "dot_product"
  protected def loopCode(a: String, b: String, res: String,
      fresh: String => String): String = {
    val n = fresh("n"); val i = fresh("i")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |for (int $i = 0; $i < $n; $i++) {
       |  $res += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
       |}
     """.stripMargin
  }
  protected def evalKernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** dot/(‖a‖·‖b‖) — reference `similarity.ts:13-23` (one fused pass). */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends VectorKernel {
  override def prettyName: String = "cosine_sim"
  protected def loopCode(a: String, b: String, res: String,
      fresh: String => String): String = {
    val n = fresh("n"); val i = fresh("i")
    val dot = fresh("dot"); val na = fresh("na"); val nb = fresh("nb")
    val x = fresh("x"); val y = fresh("y")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $dot = 0.0, $na = 0.0, $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $x = (double) $a.getFloat($i);
       |  double $y = (double) $b.getFloat($i);
       |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
       |}
       |$res = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
     """.stripMargin
  }
  protected def evalKernel(a: ArrayData, b: ArrayData): Double =
    ScalarKernels.cosine(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** √Σ(aᵢ−bᵢ)² — reference `similarity.ts:25-34`. */
case class EuclideanDistanceExpr(left: Expression, right: Expression)
    extends VectorKernel {
  override def prettyName: String = "euclidean_dist"
  protected def loopCode(a: String, b: String, res: String,
      fresh: String => String): String = {
    val n = fresh("n"); val i = fresh("i")
    val acc = fresh("acc"); val d = fresh("d")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
       |  $acc += $d * $d;
       |}
       |$res = java.lang.Math.sqrt($acc);
     """.stripMargin
  }
  protected def evalKernel(a: ArrayData, b: ArrayData): Double =
    ScalarKernels.euclideanDist(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Scalar-quantization squared-L2 kernel over two int-code arrays
  * (symmetric SQ distance): Σ (a_i − b_i)², accumulated in index order in
  * BIGINT — EXACT integer arithmetic, so the value is bit-identical on any
  * engine and any partitioning (8-bit codes over ≤ 2^41 dims cannot
  * overflow a long). Mismatched lengths return Long.MaxValue — corrupt
  * pairings surface as never-top-ranked, the [[PqAdcExpr]] rule. */
case class SqL2Expr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "sq_l2"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (ARRAY<INT>, ARRAY<INT>), got " +
            s"${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) Long.MaxValue
    else {
      var s = 0L; var i = 0
      while (i < n) {
        val d = (a.getInt(i) - b.getInt(i)).toLong
        s += d * d
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      s"""
         |long $res = Long.MAX_VALUE;
         |int $n = $a.numElements();
         |if ($n == $b.numElements()) {
         |  $res = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = (long) ($a.getInt($i) - $b.getInt($i));
         |    $res += $d * $d;
         |  }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Hamming-distance kernel over two packed bit-sign arrays (ARRAY<BIGINT>
  * of 32-bit words): Σ popcount(a_i XOR b_i) — exact integer arithmetic,
  * bit-identical on any engine/partitioning ([[SqL2Expr]] contract).
  * Mismatched lengths return Long.MaxValue (never-top-ranked). */
case class HammingExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "hamming64"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (ARRAY<BIGINT>, ARRAY<BIGINT>), got " +
            s"${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) Long.MaxValue
    else {
      var s = 0L; var i = 0
      while (i < n) {
        s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res"); val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |long $res = Long.MAX_VALUE;
         |int $n = $a.numElements();
         |if ($n == $b.numElements()) {
         |  $res = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $res += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** PQ asymmetric-distance kernel: `left` = the m sub-codes of one vector
  * (ARRAY<INT>), `right` = one query's flattened distance LUT
  * (ARRAY<DOUBLE>, laid out [sub*ksub + code]; ksub derived per row as
  * lutLen / m). Result = Σ_s lut[s*ksub + code_s], accumulated in sub
  * order 0..m−1 — a FIXED per-row summation order, so the value is
  * independent of partitioning and reproducible by any engine that sums
  * the per-sub distances in sub order (the oracle's ordered list_reduce).
  * Out-of-range codes contribute +∞, surfacing corrupt inputs as
  * never-top-ranked rather than wrong-but-plausible. */
case class PqAdcExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (ARRAY<INT>, ARRAY<DOUBLE>), got " +
            s"${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[ArrayData]
    val lut = r.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (m == 0) 0.0
    else {
      val ksub = lut.numElements() / m
      var s = 0.0; var i = 0
      while (i < m) {
        // validate the CODE, not the flattened index: a negative or
        // >= ksub code at an inner sub can still land inside [0, lutLen)
        // and silently read an adjacent sub's LUT block — corruption must
        // surface as +Inf, never as a plausible distance
        val code = codes.getInt(i)
        s += (if (code >= 0 && code < ksub) lut.getDouble(i * ksub + code)
              else Double.PositiveInfinity)
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val res = ctx.freshName("res"); val m = ctx.freshName("m")
      val ksub = ctx.freshName("ksub"); val i = ctx.freshName("i")
      val code = ctx.freshName("code")
      s"""
         |double $res = 0.0;
         |int $m = $c.numElements();
         |if ($m > 0) {
         |  int $ksub = $l.numElements() / $m;
         |  for (int $i = 0; $i < $m; $i++) {
         |    int $code = $c.getInt($i);
         |    $res += ($code >= 0 && $code < $ksub)
         |      ? $l.getDouble($i * $ksub + $code) : Double.POSITIVE_INFINITY;
         |  }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Nearest-codebook-entry argmin/argmax as ONE codegen'd loop — the
  * quantizer-assignment kernel ([[graft.operators.IvfIndex.assign]],
  * [[graft.operators.PqIndex.encode]]). The join-then-aggregate
  * formulation those sites used materializes n × k scored rows and
  * `max_by`'s struct ordering forces a SORT-based partial aggregate, so
  * the full candidate volume flows through an UnsafeExternalSorter —
  * measured at 6 M × 64-dim, cells = 1024: the level-1 super-assign
  * alone spilled > 75 GB and filled the probe host's disk. A codebook is
  * broadcast-tiny by construction (k × dim floats), so the argmax
  * belongs INSIDE the row pipeline: this expression carries the
  * codebook(s) as a foldable literal child (shipped once per task via
  * the codegen references array, exactly like a broadcast hint's build
  * side) and emits the winning entry's id directly — one map-side pass,
  * zero joined rows, zero sort, zero shuffle.
  *
  * Children: (book int, vec ARRAY<FLOAT>, books ARRAY<ARRAY<ARRAY
  * <FLOAT>>> foldable, ids ARRAY<ARRAY<INT>> foldable, metric STRING
  * foldable). `book` selects books[book]/ids[book] — the PQ subspace
  * index, or 0 for a single flat codebook, or a super-cell id for the
  * two-level assignment (each super-cell's fine-centroid sub-book).
  *
  * ORDERING PARITY with the `max_by` formulation it replaces (the a04/
  * a05/a10–a17 oracle rows pin assignments/codes bit-for-bit):
  * entries are scanned in ids-ascending order with STRICT improvement,
  * so exact-score ties keep the LOWEST id — `max_by`'s (score, −id)
  * tiebreak. Cosine maximizes dot/(‖a‖‖b‖) with NaN mapped to +2.0
  * (cosine of a zero vector; real sims are ≤ 1, so NaN wins like
  * Spark's NaN-greatest struct ordering). Euclidean minimizes
  * √Σ(aᵢ−bᵢ)² with NaN mapped to −1.0 (real distances are ≥ 0 — same
  * NaN-wins rule on the negated key). Accumulation order and widths
  * match [[CosineSimilarityExpr]]/[[EuclideanDistanceExpr]] exactly.
  * A `book` index outside [0, books.length) throws — corrupt sub/cell
  * inputs must surface, not rank. */
case class NearestCodeExpr(children: Seq[Expression])
    extends Expression with Serializable {
  override def prettyName: String = "nearest_code"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean =
    children(0).nullable || children(1).nullable
  override def foldable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def fail(msg: String) =
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(msg)
    if (children.size != 5) fail(s"$prettyName expects 5 arguments")
    else (children(0).dataType, children(1).dataType) match {
      case (IntegerType, ArrayType(FloatType, _)) =>
        if (!children(2).foldable || !children(3).foldable ||
            !children(4).foldable)
          fail(s"$prettyName books/ids/metric must be literals")
        // SQL-registered: shape-check the book/id literals too (the
        // top_cells rule — analysis-time error beats a ClassCast inside
        // generated code)
        else (children(2).dataType, children(3).dataType) match {
          case (ArrayType(ArrayType(ArrayType(FloatType, _), _), _),
              ArrayType(ArrayType(IntegerType, _), _)) =>
            children(4).eval() match {
              case m: org.apache.spark.unsafe.types.UTF8String
                  if m.toString == "cosine" || m.toString == "euclidean" =>
                org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
              case m =>
                fail(s"$prettyName metric must be cosine|euclidean, got $m")
            }
          case (bt, it) => fail(s"$prettyName expects books " +
            s"ARRAY<ARRAY<ARRAY<FLOAT>>>, ids ARRAY<ARRAY<INT>>, got " +
            s"${bt.simpleString}, ${it.simpleString}")
        }
      case (b, v) =>
        fail(s"$prettyName expects (INT, ARRAY<FLOAT>, ...), got " +
          s"${b.simpleString}, ${v.simpleString}")
    }
  }

  // foldable children → primitive arrays, once per (de)serialized instance
  @transient private lazy val books: Array[Array[Array[Float]]] = {
    val a = children(2).eval().asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { i =>
      val bk = a.getArray(i)
      Array.tabulate(bk.numElements()) { c =>
        bk.getArray(c).toFloatArray()
      }
    }
  }
  @transient private lazy val ids: Array[Array[Int]] = {
    val a = children(3).eval().asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(i => a.getArray(i).toIntArray())
  }
  @transient private lazy val cosineMetric: Boolean =
    children(4).eval().toString == "cosine"

  private def bestIn(book: Int, vec: ArrayData): Int = {
    if (book < 0 || book >= books.length)
      throw new IllegalStateException(
        s"$prettyName: book index $book outside [0, ${books.length})")
    val bk = books(book)
    if (bk.isEmpty)
      throw new IllegalStateException(s"$prettyName: empty book $book")
    var best = 0
    var bestKey = if (cosineMetric) -3.0 else Double.PositiveInfinity
    var c = 0
    while (c < bk.length) {
      val ct = bk(c)
      val n = math.min(vec.numElements(), ct.length)
      var key = 0.0
      if (cosineMetric) {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = vec.getFloat(i).toDouble; val y = ct(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        key = dot / (math.sqrt(na) * math.sqrt(nb))
        if (java.lang.Double.isNaN(key)) key = 2.0
        if (key > bestKey) { best = c; bestKey = key }
      } else {
        var s = 0.0; var i = 0
        while (i < n) {
          val d = vec.getFloat(i).toDouble - ct(i).toDouble
          s += d * d; i += 1
        }
        key = math.sqrt(s)
        if (java.lang.Double.isNaN(key)) key = -1.0
        if (key < bestKey) { best = c; bestKey = key }
      }
      c += 1
    }
    ids(book)(best)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val b = children(0).eval(input)
    val v = children(1).eval(input)
    if (b == null || v == null) null
    else bestIn(b.asInstanceOf[Int], v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, "float[][][]")
    val idsRef = ctx.addReferenceObj("ids", ids, "int[][]")
    val bEv = children(0).genCode(ctx)
    val vEv = children(1).genCode(ctx)
    val bk = ctx.freshName("bk"); val best = ctx.freshName("best")
    val bestKey = ctx.freshName("bestKey"); val c = ctx.freshName("c")
    val ct = ctx.freshName("ct"); val n = ctx.freshName("n")
    val i = ctx.freshName("i"); val key = ctx.freshName("key")
    val kernel =
      if (cosineMetric) {
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = (double) ${vEv.value}.getFloat($i);
           |  double $y = (double) $ct[$i];
           |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |}
           |double $key = $dot /
           |  (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           |if (java.lang.Double.isNaN($key)) $key = 2.0;
           |if ($key > $bestKey) { $best = $c; $bestKey = $key; }
         """.stripMargin
      } else {
        val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
        s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = ((double) ${vEv.value}.getFloat($i))
           |    - ((double) $ct[$i]);
           |  $acc += $d * $d;
           |}
           |double $key = java.lang.Math.sqrt($acc);
           |if (java.lang.Double.isNaN($key)) $key = -1.0;
           |if ($key < $bestKey) { $best = $c; $bestKey = $key; }
         """.stripMargin
      }
    val init = if (cosineMetric) "-3.0" else "Double.POSITIVE_INFINITY"
    val code =
      s"""
         |${bEv.code}
         |${vEv.code}
         |boolean ${ev.isNull} = ${bEv.isNull} || ${vEv.isNull};
         |int ${ev.value} = -1;
         |if (!${ev.isNull}) {
         |  if (${bEv.value} < 0 || ${bEv.value} >= $booksRef.length) {
         |    throw new IllegalStateException("$prettyName: book index "
         |      + ${bEv.value} + " outside [0, " + $booksRef.length + ")");
         |  }
         |  float[][] $bk = $booksRef[${bEv.value}];
         |  if ($bk.length == 0) {
         |    throw new IllegalStateException(
         |      "$prettyName: empty book " + ${bEv.value});
         |  }
         |  int $best = 0;
         |  double $bestKey = $init;
         |  for (int $c = 0; $c < $bk.length; $c++) {
         |    float[] $ct = $bk[$c];
         |    int $n = java.lang.Math.min(
         |      ${vEv.value}.numElements(), $ct.length);
         |    $kernel
         |  }
         |  ${ev.value} = $idsRef[${bEv.value}][$best];
         |}
       """.stripMargin
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block
      .BlockHelper(new StringContext(code)).code())
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Top-p nearest codebook entries as ONE codegen'd loop — the probe-
  * selection kernel ([[graft.operators.IvfIndex.probeCells]]'s
  * unfiltered path). The join-then-window formulation ranks Q × k rows
  * CARRYING the query vector through a per-query sort (at Q = 100 k ×
  * 1024 cells × 384-dim that is ~100 M rows × ~1.6 KB of sort input);
  * the centroid table is k × dim floats — literal-sized — so the top-p
  * selection runs on the query's own row and emits the probe list as
  * one ARRAY<INT>, exploded afterwards. RANK PARITY with
  * `row_number() over (order by sim desc, cell asc)`: candidates scan
  * in id-ascending order with strict-improvement insertion, NaN sims
  * map to +2.0 (NaN-greatest), so equal-score ties keep the lower id
  * first. Children: (vec ARRAY<FLOAT>, cents ARRAY<ARRAY<FLOAT>>
  * foldable, ids ARRAY<INT> foldable, p INT foldable). */
case class TopCellsExpr(children: Seq[Expression])
    extends Expression with Serializable {
  override def prettyName: String = "top_cells"
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = children(0).nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def fail(msg: String) =
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(msg)
    if (children.size != 4) fail(s"$prettyName expects 4 arguments")
    else if (children(0).dataType != ArrayType(FloatType, true) &&
        children(0).dataType != ArrayType(FloatType, false))
      fail(s"$prettyName expects ARRAY<FLOAT> vec")
    else if (!children(1).foldable || !children(2).foldable ||
        !children(3).foldable)
      fail(s"$prettyName cents/ids/p must be literals")
    // SQL-registered (`top_cells(...)` in query text): shape-check the
    // literals too, or a mistyped/negative literal surfaces as a
    // ClassCastException / NegativeArraySizeException inside generated
    // code instead of an analysis-time error
    else (children(1).dataType, children(2).dataType,
        children(3).dataType) match {
      case (ArrayType(ArrayType(FloatType, _), _),
          ArrayType(IntegerType, _), IntegerType) =>
        children(3).eval() match {
          case p: java.lang.Integer if p.intValue >= 0 =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
          case p => fail(s"$prettyName p must be a non-negative INT " +
            s"literal, got $p")
        }
      case (c, i, p) => fail(s"$prettyName expects (vec ARRAY<FLOAT>, " +
        s"cents ARRAY<ARRAY<FLOAT>>, ids ARRAY<INT>, p INT), got cents " +
        s"${c.simpleString}, ids ${i.simpleString}, p ${p.simpleString}")
    }
  }

  @transient private lazy val cents: Array[Array[Float]] = {
    val a = children(1).eval().asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(i => a.getArray(i).toFloatArray())
  }
  @transient private lazy val ids: Array[Int] =
    children(2).eval().asInstanceOf[ArrayData].toIntArray()
  @transient private lazy val p: Int =
    children(3).eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = children(0).eval(input)
    if (v == null) null
    else {
      val vec = v.asInstanceOf[ArrayData]
      val take = math.min(p, cents.length)
      val keys = new Array[Double](take)
      val out = new Array[Int](take)
      var filled = 0
      var c = 0
      while (c < cents.length) {
        val ct = cents(c)
        val n = math.min(vec.numElements(), ct.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = vec.getFloat(i).toDouble; val y = ct(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        var key = dot / (math.sqrt(na) * math.sqrt(nb))
        if (java.lang.Double.isNaN(key)) key = 2.0
        // strict-improvement insertion: equal keys keep the earlier
        // (lower-id) entry ahead — the window's (sim desc, cell asc)
        var pos = if (filled < take) filled else -1
        var j = filled - 1
        while (j >= 0 && key > keys(j)) { pos = j; j -= 1 }
        if (pos >= 0 && pos < take) {
          var m = math.min(filled, take - 1)
          while (m > pos) { keys(m) = keys(m - 1); out(m) = out(m - 1); m -= 1 }
          keys(pos) = key; out(pos) = ids(c)
          if (filled < take) filled += 1
        }
        c += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        java.util.Arrays.copyOf(out, filled))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", cents, "float[][]")
    val idRef = ctx.addReferenceObj("ids", ids, "int[]")
    val vEv = children(0).genCode(ctx)
    val take = ctx.freshName("take"); val keys = ctx.freshName("keys")
    val out = ctx.freshName("out"); val filled = ctx.freshName("filled")
    val c = ctx.freshName("c"); val ct = ctx.freshName("ct")
    val n = ctx.freshName("n"); val i = ctx.freshName("i")
    val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
    val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
    val y = ctx.freshName("y"); val key = ctx.freshName("key")
    val pos = ctx.freshName("pos"); val j = ctx.freshName("j")
    val m = ctx.freshName("m")
    val code =
      s"""
         |${vEv.code}
         |boolean ${ev.isNull} = ${vEv.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  int $take = java.lang.Math.min($p, $cRef.length);
         |  double[] $keys = new double[$take];
         |  int[] $out = new int[$take];
         |  int $filled = 0;
         |  for (int $c = 0; $c < $cRef.length; $c++) {
         |    float[] $ct = $cRef[$c];
         |    int $n = java.lang.Math.min(
         |      ${vEv.value}.numElements(), $ct.length);
         |    double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $x = (double) ${vEv.value}.getFloat($i);
         |      double $y = (double) $ct[$i];
         |      $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |    }
         |    double $key = $dot /
         |      (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    if (java.lang.Double.isNaN($key)) $key = 2.0;
         |    int $pos = ($filled < $take) ? $filled : -1;
         |    for (int $j = $filled - 1; $j >= 0 && $key > $keys[$j]; $j--) {
         |      $pos = $j;
         |    }
         |    if ($pos >= 0 && $pos < $take) {
         |      for (int $m = java.lang.Math.min($filled, $take - 1);
         |           $m > $pos; $m--) {
         |        $keys[$m] = $keys[$m - 1]; $out[$m] = $out[$m - 1];
         |      }
         |      $keys[$pos] = $key; $out[$pos] = $idRef[$c];
         |      if ($filled < $take) $filled++;
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData
         |    .toArrayData(java.util.Arrays.copyOf($out, $filled));
         |}
       """.stripMargin
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block
      .BlockHelper(new StringContext(code)).code())
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** PQ lookup-table construction as ONE codegen'd loop — the LUT kernel of
  * every ADC serving path ([[graft.operators.PqIndex]]). The former
  * formulation exploded each (query[, probed cell]) row into m × ksub
  * rows, joined the codebooks, and regrouped them through
  * `array_sort(collect_list(struct(sub, code, d)))` — a generator, a
  * shuffle of the long form and a sort-based collect per LUT. The
  * codebooks are m × ksub × subLen floats (the same literal
  * [[NearestCodeExpr]] ships for encode), so the LUT is computed on the
  * vector's OWN row: one map-side expression, no joined rows.
  *
  * Children: (vec ARRAY<FLOAT>, books ARRAY<ARRAY<ARRAY<FLOAT>>>
  * foldable, subLen INT foldable, metric STRING foldable). `books(s)`
  * holds subspace s's centroids in code-ascending order; entry (s, c)
  * scores vec's sub-slice `[s·subLen, (s+1)·subLen)` (clipped to the
  * vector, as `slice` clips) against `books(s)(c)` over the shorter of
  * the two lengths.
  *
  * BIT PARITY with the long form it replaces: the output is the
  * concatenation of books(0), books(1), … in code order — exactly the
  * (sub, code) order `array_sort` produced, ragged books included
  * (a sub with fewer entries contributes fewer values, an empty one
  * none). `euclidean` accumulates √Σ(qᵢ−cᵢ)² and `dot` Σ qᵢ·cᵢ in
  * double, element order, as [[EuclideanDistanceExpr]]/[[DotProductExpr]]
  * do, and every value passes the 8-dp LUT quantizer
  * `(double)(long) floor(x·1e8 + 0.5) / 1e8` — Spark's
  * `floor(x * 1e8 + 0.5).cast("double") / 1e8`, op for op. */
case class PqLutExpr(children: Seq[Expression])
    extends Expression with Serializable {
  override def prettyName: String = "pq_lut"
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = children(0).nullable
  override def foldable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def fail(msg: String) =
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(msg)
    val vecOk = children.nonEmpty && (children(0).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (children.size != 4) fail(s"$prettyName expects 4 arguments")
    else if (!vecOk) fail(s"$prettyName expects ARRAY<FLOAT> vec, got " +
      children(0).dataType.simpleString)
    else if (!children(1).foldable || !children(2).foldable ||
        !children(3).foldable)
      fail(s"$prettyName books/subLen/metric must be literals")
    // SQL-registered: shape-check the literals too (the top_cells rule)
    else (children(1).dataType, children(2).dataType,
        children(3).dataType) match {
      case (ArrayType(ArrayType(ArrayType(FloatType, _), _), _),
          IntegerType, StringType) =>
        (children(2).eval(), children(3).eval()) match {
          case (s: java.lang.Integer, _) if s.intValue < 0 =>
            fail(s"$prettyName subLen must be a non-negative INT literal, " +
              s"got $s")
          case (null, _) =>
            fail(s"$prettyName subLen must be a non-negative INT literal, " +
              "got NULL")
          case (_, m: org.apache.spark.unsafe.types.UTF8String)
              if m.toString == "euclidean" || m.toString == "dot" =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
          case (_, m) => fail(s"$prettyName metric must be euclidean|dot, got $m")
        }
      case (b, s, m) => fail(s"$prettyName expects (vec ARRAY<FLOAT>, " +
        s"books ARRAY<ARRAY<ARRAY<FLOAT>>>, subLen INT, metric STRING), " +
        s"got books ${b.simpleString}, subLen ${s.simpleString}, " +
        s"metric ${m.simpleString}")
    }
  }

  @transient private lazy val books: Array[Array[Array[Float]]] = {
    val a = children(1).eval().asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { s =>
      val bk = a.getArray(s)
      Array.tabulate(bk.numElements())(c => bk.getArray(c).toFloatArray())
    }
  }
  @transient private lazy val subLen: Int = children(2).eval().asInstanceOf[Int]
  @transient private lazy val dotMetric: Boolean =
    children(3).eval().toString == "dot"
  @transient private lazy val lutLen: Int = books.map(_.length).sum

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = children(0).eval(input)
    if (v == null) null
    else {
      val vec = v.asInstanceOf[ArrayData]
      val vn = vec.numElements()
      val out = new Array[Double](lutLen)
      var pos = 0
      var s = 0
      while (s < books.length) {
        val off = s * subLen
        val qn = if (off >= vn) 0 else math.min(subLen, vn - off)
        val bk = books(s)
        var c = 0
        while (c < bk.length) {
          val ct = bk(c)
          val n = math.min(qn, ct.length)
          var acc = 0.0; var i = 0
          if (dotMetric) {
            while (i < n) {
              acc += vec.getFloat(off + i).toDouble * ct(i).toDouble; i += 1
            }
          } else {
            while (i < n) {
              val d = vec.getFloat(off + i).toDouble - ct(i).toDouble
              acc += d * d; i += 1
            }
            acc = math.sqrt(acc)
          }
          out(pos) = math.floor(acc * 1.0e8 + 0.5).toLong.toDouble / 1.0e8
          pos += 1; c += 1
        }
        s += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("books", books, "float[][][]")
    val vEv = children(0).genCode(ctx)
    val out = ctx.freshName("out"); val pos = ctx.freshName("pos")
    val vn = ctx.freshName("vn"); val s = ctx.freshName("s")
    val off = ctx.freshName("off"); val qn = ctx.freshName("qn")
    val bk = ctx.freshName("bk"); val c = ctx.freshName("c")
    val ct = ctx.freshName("ct"); val n = ctx.freshName("n")
    val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    val kernel =
      if (dotMetric)
        s"""
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ((double) ${vEv.value}.getFloat($off + $i))
           |    * ((double) $ct[$i]);
           |}
         """.stripMargin
      else
        s"""
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = ((double) ${vEv.value}.getFloat($off + $i))
           |    - ((double) $ct[$i]);
           |  $acc += $d * $d;
           |}
           |$acc = java.lang.Math.sqrt($acc);
         """.stripMargin
    val code =
      s"""
         |${vEv.code}
         |boolean ${ev.isNull} = ${vEv.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  double[] $out = new double[$lutLen];
         |  int $pos = 0;
         |  int $vn = ${vEv.value}.numElements();
         |  for (int $s = 0; $s < $bRef.length; $s++) {
         |    int $off = $s * $subLen;
         |    int $qn = ($off >= $vn) ? 0 : java.lang.Math.min($subLen, $vn - $off);
         |    float[][] $bk = $bRef[$s];
         |    for (int $c = 0; $c < $bk.length; $c++) {
         |      float[] $ct = $bk[$c];
         |      int $n = java.lang.Math.min($qn, $ct.length);
         |      double $acc = 0.0;
         |      $kernel
         |      $out[$pos++] =
         |        ((double) (long) java.lang.Math.floor($acc * 1.0E8 + 0.5)) / 1.0E8;
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData
         |    .toArrayData($out);
         |}
       """.stripMargin
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block
      .BlockHelper(new StringContext(code)).code())
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Dense matrix × vector as ONE codegen'd double loop — the rotation /
  * projection kernel ([[graft.operators.OpqRotation.rotate]]). The
  * `array(dotProduct(vec, row_0), …, dotProduct(vec, row_{d-1}))`
  * formulation it replaces generates d separate kernel bodies in one
  * projection; at d = 384 the generated method blows past JIT limits
  * and the stage degrades to interpreted eval — measured: the 200 k ×
  * 384 OPQ rotation ran 25+ min of pure CPU where this kernel runs the
  * identical arithmetic in seconds. out[p] = (float) Σᵢ vec[i]·M[p][i],
  * accumulated in Double in ascending i — element-for-element the same
  * evaluation order as [[DotProductExpr]] + cast, so results are
  * bit-identical. Children: (vec ARRAY<FLOAT>, matrix
  * ARRAY<ARRAY<FLOAT>> foldable). */
case class MatVecExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "mat_vec"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _))
          if right.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (ARRAY<FLOAT>, literal ARRAY<ARRAY<FLOAT>>), " +
            s"got ${l.simpleString}, ${r.simpleString}")
    }

  @transient private lazy val matrix: Array[Array[Float]] = {
    val a = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(p => a.getArray(p).toFloatArray())
  }

  override def nullSafeEval(v: Any, m: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val out = new Array[Float](matrix.length)
    var p = 0
    while (p < matrix.length) {
      val row = matrix(p)
      val n = math.min(vec.numElements(), row.length)
      var s = 0.0; var i = 0
      while (i < n) { s += vec.getFloat(i).toDouble * row(i).toDouble; i += 1 }
      out(p) = s.toFloat
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("matrix", matrix, "float[][]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val out = ctx.freshName("out"); val p = ctx.freshName("p")
      val row = ctx.freshName("row"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""
         |float[] $out = new float[$mRef.length];
         |for (int $p = 0; $p < $mRef.length; $p++) {
         |  float[] $row = $mRef[$p];
         |  int $n = java.lang.Math.min($v.numElements(), $row.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((double) $v.getFloat($i)) * ((double) $row[$i]);
         |  }
         |  $out[$p] = (float) $s;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Column wrappers + SQL registration. Queries call [[VectorFunctions.register]]
  * once per session (idempotent) and then use either the `Column` API here or
  * `expr("cosine_sim(a,b)")` in SQL text.
  */
object VectorFunctions {
  /** (name, usage, builder) of every graft SQL function: the one table
    * that [[register]] and `graft.GraftExtensions` both read. */
  private[graft] val builders
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_product", "dot_product(a, b) - float-array dot product",
      es => DotProductExpr(es(0), es(1))),
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity",
      es => CosineSimilarityExpr(es(0), es(1))),
    ("euclidean_dist", "euclidean_dist(a, b) - euclidean distance",
      es => EuclideanDistanceExpr(es(0), es(1))),
    ("pq_adc", "pq_adc(codes, lut) - PQ asymmetric-distance lookup sum",
      es => PqAdcExpr(es(0), es(1))),
    ("sq_l2", "sq_l2(a, b) - symmetric SQ squared-L2 over int code arrays",
      es => SqL2Expr(es(0), es(1))),
    ("hamming64", "hamming64(a, b) - Hamming distance over packed " +
      "sign-bit word arrays",
      es => HammingExpr(es(0), es(1))),
    ("nearest_code", "nearest_code(book, vec, books, ids, metric) - id of " +
      "the nearest codebook entry",
      es => NearestCodeExpr(es)),
    ("top_cells", "top_cells(vec, cents, ids, p) - the p nearest centroid " +
      "ids by cosine",
      es => TopCellsExpr(es)),
    ("pq_lut", "pq_lut(vec, books, subLen, metric) - flat PQ lookup table",
      es => PqLutExpr(es)),
    ("mat_vec", "mat_vec(vec, matrix) - dense matrix times vector",
      es => MatVecExpr(es(0), es(1))),
    ("mmr_select", "mmr_select(candidates, k, lambdaMicro, metric) - " +
      "greedy maximal-marginal-relevance selection",
      es => MmrSelectExpr(es)),
    ("barrier", "barrier(x) - x, evaluated once per row",
      es => BarrierExpr(es(0))),
  )

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Evaluate `c` exactly once per row ([[BarrierExpr]] — blocks the
    * filter-pushdown alias substitution that re-evaluates an expensive
    * kernel inside pushed predicates). Identity on values. */
  def once(c: Column): Column = call_function("barrier", c)

  /** Reference null semantics: cosine of a missing vector is −1
    * (`similarity.ts:17`) rather than SQL NULL. */
  def cosineSimOrNeg1(a: Column, b: Column): Column =
    coalesce(cosineSim(a, b), lit(-1.0))
  def euclideanDist(a: Column, b: Column): Column =
    call_function("euclidean_dist", a, b)

  /** 1/(1+dist) distance→similarity transform — `similarity.ts:36-41`. */
  def euclideanSim(a: Column, b: Column): Column =
    lit(1.0) / (lit(1.0) + euclideanDist(a, b))

  /** PQ ADC lookup-sum over (codes ARRAY<INT>, flat LUT ARRAY<DOUBLE>). */
  def pqAdc(codes: Column, lut: Column): Column =
    call_function("pq_adc", codes, lut)

  /** Symmetric SQ squared-L2 over two ARRAY<INT> code rows (exact BIGINT). */
  def sqL2(a: Column, b: Column): Column = call_function("sq_l2", a, b)

  /** Hamming distance over two packed ARRAY<BIGINT> sign-bit rows. */
  def hamming64(a: Column, b: Column): Column =
    call_function("hamming64", a, b)

  /** Nearest-codebook-entry id ([[NearestCodeExpr]]): `book` selects
    * `books(book)`/`ids(book)`; the winning entry's id is emitted
    * directly on the input row — the quantizer-assignment kernel. The
    * codebooks ship as literals (k × dim floats — the same bound the
    * broadcast-join formulation shipped to every executor), so the
    * argmax never materializes a joined row. */
  def nearestCode(book: Column, vec: Column,
      books: Seq[Seq[Seq[Float]]], ids: Seq[Seq[Int]],
      metric: String): Column =
    call_function("nearest_code", book, vec,
      org.apache.spark.sql.functions.typedlit(books),
      org.apache.spark.sql.functions.typedlit(ids), lit(metric))

  /** Flat PQ lookup table of `vec` against the codebooks
    * ([[PqLutExpr]]): entry (sub, code) = the 8-dp-quantized `metric`
    * (`euclidean` distance or `dot` product) of vec's sub-slice and
    * `books(sub)(code)`, laid out in (sub, code) order — the ADC LUT
    * built on the vector's own row. */
  def pqLut(vec: Column, books: Seq[Seq[Seq[Float]]], subLen: Int,
      metric: String): Column =
    call_function("pq_lut", vec,
      org.apache.spark.sql.functions.typedlit(books), lit(subLen),
      lit(metric))

  /** Dense matrix × vector ([[MatVecExpr]]): out[p] = Σᵢ vec[i]·m[p][i],
    * double accumulation in i-order, each output cast to float — the
    * rotation/projection kernel. */
  def matVec(vec: Column, matrix: Seq[Seq[Float]]): Column =
    call_function("mat_vec", vec,
      org.apache.spark.sql.functions.typedlit(matrix))

  /** Top-p nearest centroid ids ([[TopCellsExpr]]): cosine rank with
    * `row_number() over (sim desc, id asc)` parity — the probe-
    * selection kernel. */
  def topCells(vec: Column, cents: Seq[Seq[Float]], ids: Seq[Int],
      p: Int): Column =
    call_function("top_cells", vec,
      org.apache.spark.sql.functions.typedlit(cents),
      org.apache.spark.sql.functions.typedlit(ids), lit(p))
}
