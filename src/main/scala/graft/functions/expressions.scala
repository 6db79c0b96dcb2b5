package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the embedding hot path.
  *
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is semantically right but the
  * lambda bodies of higher-order functions are INTERPRETED per element.
  * This expression participates in whole-stage codegen (`doGenCode` emits a
  * tight primitive loop), with the exact same left-to-right summation order,
  * so results are bit-identical to the fold (and to the DuckDB oracle's
  * `list_reduce`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must already be array<double> (callers cast); no ExpectsInputTypes
  // because AbstractDataType is private[sql]
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // Expression.foldable defaults to FALSE — without this override,
  // ConstantFolding leaves literal-literal dots (IVF centroid norms, query
  // self-norms) to be re-evaluated on every row
  override def foldable: Boolean = left.foldable && right.foldable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity `dot(a,b) / (√dot(a,a) · √dot(b,b))` in ONE
  * codegen'd pass: the three accumulators advance in the same element order
  * as three separate [[DotProduct]] folds (dot over min length, each norm
  * over its own full array), so the result is bit-identical to the composed
  * form and to the DuckDB oracle — just ~3× less array traversal on the
  * similarity hot paths. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def foldable: Boolean = left.foldable && right.foldable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    val n = math.min(nx, ny)
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { d += x.getDouble(i) * y.getDouble(i); i += 1 }
    i = 0
    while (i < nx) { val v = x.getDouble(i); na += v * v; i += 1 }
    i = 0
    while (i < ny) { val v = y.getDouble(i); nb += v * v; i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val v = ctx.freshName("v")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $n = java.lang.Math.min($nx, $ny);
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $d += $a.getDouble($i) * $b.getDouble($i);
         |}
         |for (int $i = 0; $i < $nx; $i++) {
         |  double $v = $a.getDouble($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $ny; $i++) {
         |  double $v = $b.getDouble($i); $nb += $v * $v;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Raw IEEE-754 bit pattern of a double as a long
  * (`Double.doubleToRawLongBits`) — the primitive the reference's XOR value
  * codec operates on (shard.cpp:121-123 memcpy). Not expressible with Spark
  * built-ins; trivially codegen'd. */
case class DoubleBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_double_bits"
  override def foldable: Boolean = child.foldable

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.doubleToRawLongBits($c)")

  override protected def withNewChildInternal(newChild: Expression): DoubleBits =
    copy(child = newChild)
}

/** Column-level API for the graft-native expressions. */
/** Floor-aligned time bucket of an epoch-micros long:
  * `floorDiv(ts, width) · width`. A plain codegen'd integer projection —
  * and the MARKER the [[graft.plans.RollupRewrite]] aggregate navigator
  * pattern-matches to recognize re-bucketing aggregates (the same
  * match-our-own-node technique as [[FuseCosine]]/[[DotProduct]]). */
case class TimeBucket(child: Expression, widthUs: Long)
    extends UnaryExpression {
  require(widthUs > 0, s"bucket width must be positive, got $widthUs")
  override def dataType: DataType = LongType
  override def prettyName: String = s"graft_time_bucket($widthUs)"

  // integral child only — declared via checkInputDataTypes (ExpectsInputTypes
  // needs the private[sql] AbstractDataType); without the check a string
  // child would fail codegen compilation instead of analysis
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType | org.apache.spark.sql.types.IntegerType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_time_bucket needs an integral timestamp column, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    // Number, not Long: ints promote here exactly as they do in the
    // generated Math.floorDiv call — interpreted and codegen agree
    Math.floorDiv(v.asInstanceOf[Number].longValue(), widthUs) * widthUs

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = java.lang.Math.floorDiv($c, ${widthUs}L) * ${widthUs}L;")

  override protected def withNewChildInternal(newChild: Expression): TimeBucket =
    copy(child = newChild)
}

/** Single-pass token-class counter over a string column — the native
  * replacement for `size(regexp_extract_all(text, <class>))` in the
  * BPE-ish pretokenizer ([[graft.functions.TextAnalysis.tokenCount]]).
  *
  * Why not regex: the r9→r10 growth dissection (PLANS.md "q_map_funcs")
  * measured java.util.regex char-class scans running up to 100× slower
  * per document inside Generate-bearing jobs than the IDENTICAL
  * expressions in aggregate-only jobs (hot frames in
  * `Pattern$CharPredicate` lambdas; whole-stage-codegen on/off
  * invariant) — a JVM inlining pathology, not a plan property. A branchy
  * byte loop has no such failure mode, allocates nothing (regex
  * materializes every match into an array just to `size` it), and is the
  * right 100 TB hot path regardless of JIT mood.
  *
  * Modes: 0 = maximal runs of `[a-z]`, 1 = maximal runs of `[0-9]`,
  * 2 = single characters outside `[a-z0-9 ]`. Counting is per CODEPOINT
  * (UTF-8 leading bytes; continuation bytes never count), which matches
  * RE2/DuckDB — `java.util.regex` counts non-BMP codepoints as two
  * UTF-16 units, so the regex form this replaces disagreed with the
  * oracle on astral-plane input; ASCII (all testdata) is identical
  * everywhere (spec-pinned against the regex form). */
case class CharClassCount(child: Expression, mode: Int)
    extends UnaryExpression {
  require(mode >= 0 && mode <= 2, s"mode must be 0|1|2, got $mode")
  override def dataType: DataType = LongType
  override def prettyName: String = s"graft_char_class_count($mode)"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_char_class_count needs a string column, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    CharClassCount.count(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mode)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharClassCount.count($c, $mode)")

  override protected def withNewChildInternal(newChild: Expression): CharClassCount =
    copy(child = newChild)
}

object CharClassCount {
  final val AlphaRuns = 0
  final val DigitRuns = 1
  final val Symbols = 2

  /** Shared by interpreted eval and generated code — one byte pass. */
  def count(s: org.apache.spark.unsafe.types.UTF8String, mode: Int): Long = {
    val n = s.numBytes
    var i = 0
    var cnt = 0L
    var inRun = false
    while (i < n) {
      val b = s.getByte(i)
      if (mode == 0) {
        if (b >= 'a' && b <= 'z') { if (!inRun) cnt += 1; inRun = true }
        else inRun = false
      } else if (mode == 1) {
        if (b >= '0' && b <= '9') { if (!inRun) cnt += 1; inRun = true }
        else inRun = false
      } else {
        // a UTF-8 continuation byte (0b10xxxxxx) is part of an already
        // counted codepoint; every other byte outside [a-z0-9 ] is one
        // symbol character
        if ((b & 0xC0) != 0x80 &&
            !(b >= 'a' && b <= 'z') && !(b >= '0' && b <= '9') && b != ' ')
          cnt += 1
      }
      i += 1
    }
    cnt
  }
}

/** Bloom-filter membership probe against a TORRENT-BROADCAST filter —
  * the scale-safe form of Spark's `BloomFilterMightContain(Literal(bytes),
  * h)`. A literal bloom is copied on the driver (source array → Literal →
  * serialized plan) and shipped inside every stage's task binary, so a
  * hundreds-of-MB filter multiplies across driver copies and stages —
  * that driver ceiling is exactly what capped the wedge-census prefilter
  * ([[graft.operators.Graph.closedWedges]]) at 500 M edges. Here the
  * expression carries only the `Broadcast` HANDLE (a few bytes in the
  * task binary); the filter bits travel once per executor over the
  * torrent protocol and are cached in a generated-class field, so the
  * driver holds exactly one copy and every probe is a field read +
  * `mightContainLong` inside the enclosing whole-stage-codegen span.
  * The filter is a [[graft.functions.ShardedBloom]] (hash-prefix
  * sub-filters — built in parallel with bounded per-task memory, see
  * [[graft.functions.BloomBuild]]); probes only read the bit arrays —
  * safe under concurrent task threads. Child must be a LONG hash
  * (xxhash64). */
case class BroadcastBloomMightContain(
    bloomBc: org.apache.spark.broadcast.Broadcast[
      graft.functions.ShardedBloom],
    child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_bloom_might_contain needs a LONG hash child, got $other")
    }

  // interpreted path: resolve the broadcast once per (deserialized)
  // expression instance, not per row
  @transient private lazy val bloom = bloomBc.value

  override def nullSafeEval(h: Any): Any =
    bloom.mightContainLong(h.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomCls = classOf[graft.functions.ShardedBloom].getName
    val bcRef = ctx.addReferenceObj("graftBloomBc", bloomBc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    // one .value() per generated-class instance (≈ per task), cached in a
    // field so the per-row probe never touches the broadcast manager
    val bloomTerm = ctx.addMutableState(bloomCls, "graftBloom",
      v => s"$v = ($bloomCls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = $bloomTerm.mightContainLong($h);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BroadcastBloomMightContain =
    copy(child = newChild)
}

/** Convex-hull prefilter for the LTTB bucket walk
  * ([[graft.operators.TimeSeries.lttb]]): keeps only the points that can
  * EVER win a bucket's argmax. The LTTB score of a candidate point p is
  * |cross(prev→p, prev→C)| — the absolute value of a LINEAR functional
  * of p (prev = previously selected point, C = next-bucket centroid) —
  * and a linear functional attains its maximum over a finite point set
  * only ON THE CONVEX-HULL BOUNDARY, for EVERY possible (prev, C). So
  * dropping strict-interior points provably never changes any bucket's
  * exact-score argmax, while shrinking the walk's per-bucket candidate
  * list from O(points/bucket) to O(hull) — at a 2 M-point series with
  * 50 output points that is ~42 k candidates/bucket down to tens, which
  * collapses both the interpreted fold's work and the one-row-per-series
  * frame the walk runs on (the measured 100× wall of q_lttb).
  *
  * Exactness requires the TIE rule to survive: the walk keeps the FIRST
  * point (in the array's (ts, event_id) order) among equal-score maxima,
  * scores compared as exact DECIMAL (no double rounding — see lttb).
  * With exact scores a tie set is the intersection of the point set with
  * a supporting line, which lies entirely on the boundary; this filter
  * keeps ALL boundary points (monotone chain popping only on STRICT
  * turns, so collinear edge points and coincident duplicates survive)
  * and preserves the original array order — hence the same winner. The
  * one degenerate case with interior ties is the zero functional
  * (score ≡ 0 for every point, prev collinear with C), whose winner is
  * the globally-first element — kept explicitly. Input structs must
  * carry `xd`, `yd` decimal(38,0) coordinates (exact integers). */
case class LttbHullFilter(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_lttb_hull"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n <= 2) return arr
    val st = child.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val nf = st.length
    val xi = st.fieldIndex("xd")
    val yi = st.fieldIndex("yd")
    val xs = new Array[BigInt](n)
    val ys = new Array[BigInt](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, nf)
      xs(i) = BigInt(row.getDecimal(xi, 38, 0).toJavaBigDecimal.toBigInteger)
      ys(i) = BigInt(row.getDecimal(yi, 38, 0).toJavaBigDecimal.toBigInteger)
      i += 1
    }
    // the chain runs over DISTINCT positions: coincident duplicates
    // (pervasive in replicated stress data — ScaleGen repeats every
    // (ts, value) ~copies× — and possible in any real feed) would sit
    // next to each other in the chain, make cross() identically 0, stall
    // the pop loop and silently degenerate the filter to keep-all. Every
    // member of a kept position is kept (equal positions tie exactly, so
    // the first-wins rule needs all of them); interior positions drop
    // with all their duplicates.
    val repOf = new java.util.HashMap[(BigInt, BigInt), Integer](n * 2)
    val reps = new scala.collection.mutable.ArrayBuffer[Int](math.min(n, 1024))
    var k = 0
    while (k < n) {
      val key = (xs(k), ys(k))
      if (repOf.putIfAbsent(key, k) == null) reps += k
      k += 1
    }
    val order = reps.toArray.sortInPlaceWith { (a, b) =>
      val c = xs(a).compare(xs(b))
      if (c != 0) c < 0 else ys(a).compare(ys(b)) < 0
    }
    def cross(o: Int, a: Int, b: Int): BigInt =
      (xs(a) - xs(o)) * (ys(b) - ys(o)) - (ys(a) - ys(o)) * (xs(b) - xs(o))
    val keptRep = new java.util.HashSet[Integer](64)
    // monotone chain, BOTH boundaries, popping only on STRICT turns so
    // collinear edge members stay — required by the first-wins tie rule
    def chain(idx: Iterator[Int], sign: Int): Unit = {
      val h = new scala.collection.mutable.ArrayBuffer[Int](16)
      idx.foreach { p =>
        while (h.length >= 2 &&
            cross(h(h.length - 2), h(h.length - 1), p).sign == sign)
          h.remove(h.length - 1)
        h += p
      }
      h.foreach(keptRep.add(_))
    }
    chain(order.iterator, -1)         // one boundary: pop strict turns
    chain(order.reverseIterator, -1)  // the other, by reversal
    val keep = new Array[Boolean](n)
    k = 0
    while (k < n) {
      if (keptRep.contains(repOf.get((xs(k), ys(k))))) keep(k) = true
      k += 1
    }
    keep(0) = true // zero-functional ties resolve to the global first
    val out = new Array[Any](keep.count(identity))
    var j = 0
    i = 0
    while (i < n) { // original order preserved — the tie rule needs it
      if (keep(i)) { out(j) = arr.getStruct(i, nf).copy(); j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): LttbHullFilter =
    copy(child = newChild)
}

object GraftFunctions {
  /** Codegen'd sequential dot product of two `array<double>` columns. */
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Floor-aligned time bucket (the rollup-navigator marker). */
  def time_bucket(c: Column, widthUs: Long): Column =
    GraftColumnBridge.column(TimeBucket(GraftColumnBridge.expression(c), widthUs))

  /** Raw bit pattern of a double column as a long. */
  def double_bits(c: Column): Column =
    GraftColumnBridge.column(DoubleBits(GraftColumnBridge.expression(c)))

  /** Fused codegen'd cosine similarity of two `array<double>` columns. */
  def cosine_similarity(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSimilarity(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Single-pass token-class count (mode: [[CharClassCount.AlphaRuns]],
    * [[CharClassCount.DigitRuns]], [[CharClassCount.Symbols]]). */
  def char_class_count(c: Column, mode: Int): Column =
    GraftColumnBridge.column(
      CharClassCount(GraftColumnBridge.expression(c), mode))
}

/** Optimizer rule: peephole-fuse the composed cosine pattern
  * `dot(x,y) / (sqrt(dot(x,x)) * sqrt(dot(y,y)))` into the single-pass
  * [[CosineSimilarity]] expression. Safe because the fused form is
  * BIT-IDENTICAL to the composed one (same accumulation orders —
  * spec-asserted), so this is purely an execution-cost rewrite: code that
  * composes the primitives by hand gets the fused traversal for free. */
object FuseCosine extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Divide(DotProduct(x, y),
          Multiply(Sqrt(DotProduct(x2, x3)), Sqrt(DotProduct(y2, y3)), _), _)
          if x.semanticEquals(x2) && x.semanticEquals(x3) &&
            y.semanticEquals(y2) && y.semanticEquals(y3) =>
        CosineSimilarity(x, y)
    }
}

/** SparkSessionExtensions registration — makes `graft_dot` callable from
  * SQL: `SELECT graft_dot(a, b)`, and adds the as-of planner strategy,
  * the optimizer rules, the physical rule that keeps per-query
  * constants out of generated code ([[graft.plans.StableCodegen]]) and
  * the one that collects small manifest reads on the driver with no job
  * ([[graft.plans.LocalCollect]]).
  * [[graft.plans.AsOfJoinNative.asOf]] also registers the strategy on a
  * session without these extensions; the injected copy is what plans an
  * as-of view read from a sibling session (`newSession()`, one per
  * Thrift JDBC connection), whose planner starts without it. Wire with
  * [[graft.GraftSession.configure]] (or [[graft.GraftSession.local]]) or
  * config `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_double_bits"),
      new ExpressionInfo(classOf[DoubleBits].getName, "graft_double_bits"),
      (exprs: Seq[Expression]) => DoubleBits(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_time_bucket"),
      new ExpressionInfo(classOf[TimeBucket].getName, "graft_time_bucket"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2 && exprs(1).foldable,
          "graft_time_bucket(ts, width) needs a LITERAL width")
        TimeBucket(exprs(0), exprs(1).eval().asInstanceOf[Number].longValue())
      }))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => FuseCosine)
    e.injectOptimizerRule(_ => graft.plans.RollupRewrite)
    e.injectColumnar(_ => graft.plans.StableCodegen)
    e.injectColumnar(_ => graft.plans.LocalCollect)
  }
}
