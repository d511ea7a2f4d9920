package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/**
 * Shared text primitives for the native expressions — ONE definition of
 * tokenization and shingle hashing, so the fused loops cannot drift
 * from each other or from the HOF reference they claim parity with.
 *
 * `tokens` replicates [[graft.functions.TextAnalysis.tokens]] EXACTLY.
 * Since the round-11 edge-trim fix, the HOF form strips the full Java
 * `\s` class ([ \t\n\x0B\f\r] — ASCII-only, NOT `Character
 * .isWhitespace`, which also accepts U+001C-001F and Unicode spaces)
 * at both edges before splitting, so neither path can produce empty
 * edge tokens; interior `\s+` runs still split with limit -1 for
 * bit-parity with Spark's `split`.
 */
private[plans] object NativeText {

  /** The Java-regex `\s` class, exactly. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
      c == '\f' || c == '\r'

  /** Spark-semantics tokens: edge-strip the `\s` class, then split
    * "\\s+" (matching `when(length(edgeStripped) === 0, [])`). */
  def tokens(input: Any): Array[String] = {
    val s = input.toString
    var b = 0
    var e = s.length
    while (b < e && isWs(s.charAt(b))) b += 1
    while (e > b && isWs(s.charAt(e - 1))) e -= 1
    val t = s.substring(b, e)
    if (t.isEmpty) Array.empty[String] else t.split("\\s+", -1)
  }

  /** The space-joined `shingleWords`-token window starting at `i` —
    * byte-identical to `concat_ws(" ", slice(toks, i+1, k))`. */
  def shingleString(toks: Array[String], i: Int, shingleWords: Int): String = {
    val sb = new java.lang.StringBuilder()
    var w = i
    val end = math.min(i + shingleWords, toks.length)
    while (w < end) {
      if (w > i) sb.append(' ')
      sb.append(toks(w))
      w += 1
    }
    sb.toString
  }

  /** Spark `xxhash64(s)` of a string; default seed 42 like the SQL
    * function. */
  def xxhash64(s: String, seed: Long = 42L): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }
}

/**
 * Native Catalyst expression for cosine similarity over two numeric
 * array columns, with whole-stage codegen (`doGenCode`).
 *
 * Why not the higher-order-function composition
 * (`aggregate(zip_with(a,b,*))`, see [[graft.operators.Similarity.cosine]])?
 * That chain is correct and codegen'd, but materializes an intermediate
 * array per row (`zip_with`) and walks the vectors three times (dot, |a|,
 * |b|). This expression runs one fused primitive loop per row with no
 * allocation — the difference matters when the ANN scorer is the inner
 * loop over a 100 TB corpus. Preference order per the build rules: built-in
 * composition first (kept, as the default), custom `Expression` where the
 * built-ins leave real performance behind (this).
 *
 * Null semantics: null if either side is null (standard binary-expression
 * contract); 0.0 when either vector has zero norm, matching
 * [[graft.operators.Similarity.cosine]].
 */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}" +
        " (cast array<float> inputs explicitly)")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = $a.getDouble($i);
         |  final double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi;
         |  $nx += $xi * $xi;
         |  $ny += $yi * $yi;
         |}
         |final double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : ($dot / $denom);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)
}

/**
 * Set-Jaccard of two SORTED DISTINCT `array<bigint>` inputs as one
 * fused primitive merge — the hot loop of
 * [[graft.operators.Dedup.ngramJaccardPairs]]'s hashed prefilter
 * stage, which runs once per LSH CANDIDATE pair (tens of millions of
 * times per corpus decade). The portable
 * `size(array_intersect)/size(array_union)` form allocates two boxed
 * hash sets and two result arrays per pair (measured ~50 µs/pair at
 * the x100 ScaleCurve decade — the whole stage was CPU, not shuffle);
 * this merge touches two primitive longs per step and allocates
 * nothing. Inputs MUST be ascending and duplicate-free (the caller
 * builds them with `array_sort ∘ array_distinct`, once per document —
 * O(n log n) amortized over ~30 pair evaluations each); the merge's
 * correctness is pinned against the portable form in NativeExprSpec.
 */
case class SortedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_sorted_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var m = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { m += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    val denom = nx + ny - m
    if (denom == 0) 0.0 else m.toDouble / denom
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      val denom = ctx.freshName("denom")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0, $j = 0, $m = 0;
         |while ($i < $nx && $j < $ny) {
         |  final long $xi = $a.getLong($i);
         |  final long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $m++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |final int $denom = $nx + $ny - $m;
         |${ev.value} = ($denom == 0) ? 0.0 : ((double) $m / $denom);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccardExpr =
    copy(left = newLeft, right = newRight)
}

/**
 * Nearest-centroid assignment (argmax over cosine) as ONE fused native
 * expression, for IVF cell assignment (`Similarity.ivfTopK`,
 * `Dedup.semanticDuplicates`).
 *
 * Why not `greatest(struct(cosine, cell), ...)` over one struct per
 * centroid (kept in NativeExprSpec as the reference)? Two reasons,
 * both structural:
 *  - the greatest-of-structs plan embeds one expression PER CENTROID —
 *    its generated source changes with every centroid VALUE set, so
 *    each Lloyd iteration recompiles the whole-stage codegen from
 *    scratch (measured: ~5s of Janino time across one
 *    `semanticDuplicates` call at nlist=32). Here the matrix rides as
 *    a codegen REFERENCE OBJECT: the generated source is identical
 *    across iterations and the compile cache hits;
 *  - expression size scales O(nlist): SemDeDup at web scale runs ~50k
 *    clusters — a 50k-arg `greatest` is not a plannable expression,
 *    a loop over a 50k-row matrix is.
 *
 * Tie-breaking matches the struct form bit-for-bit: equal similarity →
 * the LARGER cell index wins (`greatest` compares (sim, cell)
 * lexicographically), implemented as `SQLOrderingUtil.compareDoubles(sim,
 * best) >= 0` over ascending cells — Spark's own double ordering, so a NaN
 * similarity (a NaN component in the vector) is LARGEST on both paths
 * and an all-NaN row lands in the last cell either way; a plain `>=`
 * would silently leave such rows in cell 0 on the native path only.
 * The per-centroid cosine is the same fused loop as
 * [[CosineSimilarityExpr]] (same accumulation order → identical
 * doubles).
 */
case class NearestCentroidExpr(child: Expression,
                               centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(centroids.nonEmpty, "centroids must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString} " +
        "(cast array<float> inputs explicitly)")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var best = Double.NegativeInfinity
    var bestCell = 0
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      val n = math.min(v.numElements(), ct.length)
      var dot = 0.0; var nv = 0.0; var nc = 0.0
      var i = 0
      while (i < n) {
        val xi = v.getDouble(i); val yi = ct(i)
        dot += xi * yi; nv += xi * xi; nc += yi * yi
        i += 1
      }
      val denom = math.sqrt(nv) * math.sqrt(nc)
      val sim = if (denom == 0.0) 0.0 else dot / denom
      if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(sim, best) >= 0) {
        best = sim; bestCell = c
      }
      c += 1
    }
    bestCell
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val best = ctx.freshName("best")
      val bestCell = ctx.freshName("bestCell")
      val c = ctx.freshName("c")
      val ct = ctx.freshName("ct")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nv = ctx.freshName("nv")
      val nc = ctx.freshName("nc")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      val sim = ctx.freshName("sim")
      s"""
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestCell = 0;
         |for (int $c = 0; $c < $m.length; $c++) {
         |  final double[] $ct = $m[$c];
         |  final int $n = java.lang.Math.min($v.numElements(), $ct.length);
         |  double $dot = 0.0, $nv = 0.0, $nc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = $v.getDouble($i);
         |    final double $yi = $ct[$i];
         |    $dot += $xi * $yi; $nv += $xi * $xi; $nc += $yi * $yi;
         |  }
         |  final double $denom =
         |    java.lang.Math.sqrt($nv) * java.lang.Math.sqrt($nc);
         |  final double $sim = ($denom == 0.0) ? 0.0 : ($dot / $denom);
         |  if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
         |      .compareDoubles($sim, $best) >= 0) {
         |    $best = $sim; $bestCell = $c;
         |  }
         |}
         |${ev.value} = $bestCell;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidExpr = copy(child = newChild)
}

/**
 * TWO-LEVEL nearest-centroid assignment — the scale-safe form of
 * [[NearestCentroidExpr]] for SemDeDup-sized centroid sets, where
 * `nlist` must grow with the corpus (cells hold ~corpus/nlist vectors)
 * and the flat argmax's O(nlist · dim) per row makes the whole
 * assignment stage O(N · nlist · dim) — formally quadratic once
 * nlist ∝ N (measured: `scale_evidence/` r12, e = 0.90 only
 * constant-dominated). Here the nlist centroids are pre-clustered
 * (driver-side, `Similarity.coarseCentroidGroups`) into ~√nlist coarse
 * cells; a row first argmaxes over the coarse vectors, then over ONLY
 * the member centroids of its coarse cell — O(√nlist · dim) per row,
 * O(N · √nlist · dim) overall, sublinear-per-row by construction.
 *
 * Approximation contract: the result is a deterministic pure function
 * of the input vector (identical vectors ALWAYS co-assign — planted
 * exact-copy oracles hold unchanged), but a vector near a coarse-cell
 * boundary may assign to a different fine centroid than the flat scan
 * would (its true nearest centroid can live under an unprobed coarse
 * cell). That is the standard IVF/IMI coarse-quantizer trade — the
 * same class of approximation as `nlist` itself — and near-identical
 * vectors still co-assign with overwhelming probability because the
 * assignment function is continuous away from argmax boundaries.
 * With ONE coarse group holding all centroids the expression is
 * bit-exact with [[NearestCentroidExpr]] (tested).
 *
 * Tie-breaking at BOTH levels matches the flat form:
 * `SQLOrderingUtil.compareDoubles(sim, best) >= 0` over ascending
 * candidates — equal similarity picks the larger coarse cell / larger
 * centroid id (members are stored ascending), and NaN similarity is
 * LARGEST, so an all-NaN row deterministically lands in the last
 * coarse cell's last member on both paths. All three matrices ride as
 * codegen REFERENCE OBJECTS — generated source is identical across
 * Lloyd iterations, so Janino compiles once per query.
 */
case class NearestCentroidTwoLevelExpr(child: Expression,
                                       coarse: Array[Array[Double]],
                                       members: Array[Array[Int]],
                                       centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(coarse.nonEmpty, "coarse centroids must be non-empty")
  require(coarse.length == members.length,
    s"coarse/members length mismatch: ${coarse.length} vs ${members.length}")
  require(members.forall(_.nonEmpty),
    "empty coarse groups must be pruned before building the expression")
  require(centroids.nonEmpty, "centroids must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString} " +
        "(cast array<float> inputs explicitly)")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "graft_nearest_centroid_2l"

  private def cosineTo(v: ArrayData, ct: Array[Double]): Double = {
    val n = math.min(v.numElements(), ct.length)
    var dot = 0.0; var nv = 0.0; var nc = 0.0
    var i = 0
    while (i < n) {
      val xi = v.getDouble(i); val yi = ct(i)
      dot += xi * yi; nv += xi * xi; nc += yi * yi
      i += 1
    }
    val denom = math.sqrt(nv) * math.sqrt(nc)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var bestC = Double.NegativeInfinity
    var bestGroup = 0
    var g = 0
    while (g < coarse.length) {
      val sim = cosineTo(v, coarse(g))
      if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareDoubles(sim, bestC) >= 0) {
        bestC = sim; bestGroup = g
      }
      g += 1
    }
    val mem = members(bestGroup)
    var best = Double.NegativeInfinity
    var bestCell = mem(0)
    var m = 0
    while (m < mem.length) {
      val sim = cosineTo(v, centroids(mem(m)))
      if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareDoubles(sim, best) >= 0) {
        best = sim; bestCell = mem(m)
      }
      m += 1
    }
    bestCell
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("coarse", coarse, "double[][]")
    val me = ctx.addReferenceObj("members", members, "int[][]")
    val ce = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val cosFn = ctx.freshName("cos2l")
      ctx.addNewFunction(cosFn,
        s"""
           |private double $cosFn(
           |    org.apache.spark.sql.catalyst.util.ArrayData v,
           |    double[] ct) {
           |  final int n = java.lang.Math.min(v.numElements(), ct.length);
           |  double dot = 0.0, nv = 0.0, nc = 0.0;
           |  for (int i = 0; i < n; i++) {
           |    final double xi = v.getDouble(i);
           |    final double yi = ct[i];
           |    dot += xi * yi; nv += xi * xi; nc += yi * yi;
           |  }
           |  final double denom =
           |    java.lang.Math.sqrt(nv) * java.lang.Math.sqrt(nc);
           |  return (denom == 0.0) ? 0.0 : (dot / denom);
           |}
         """.stripMargin)
      val bestC = ctx.freshName("bestC")
      val bestGroup = ctx.freshName("bestGroup")
      val g = ctx.freshName("g")
      val mem = ctx.freshName("mem")
      val best = ctx.freshName("best")
      val bestCell = ctx.freshName("bestCell")
      val m = ctx.freshName("m")
      val sim = ctx.freshName("sim")
      s"""
         |double $bestC = Double.NEGATIVE_INFINITY;
         |int $bestGroup = 0;
         |for (int $g = 0; $g < $co.length; $g++) {
         |  final double $sim = $cosFn($v, $co[$g]);
         |  if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
         |      .compareDoubles($sim, $bestC) >= 0) {
         |    $bestC = $sim; $bestGroup = $g;
         |  }
         |}
         |final int[] $mem = $me[$bestGroup];
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestCell = $mem[0];
         |for (int $m = 0; $m < $mem.length; $m++) {
         |  final double ${sim}f = $cosFn($v, $ce[$mem[$m]]);
         |  if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
         |      .compareDoubles(${sim}f, $best) >= 0) {
         |    $best = ${sim}f; $bestCell = $mem[$m];
         |  }
         |}
         |${ev.value} = $bestCell;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidTwoLevelExpr =
    copy(child = newChild)
}

/**
 * Rank bucketization: bucket id = number of `boundaries` ≤ value, via
 * binary search over a sorted, distinct cut-point array carried as a
 * codegen REFERENCE OBJECT — the generated source is identical
 * whatever the boundaries, so Janino compiles once, and 4095 cut
 * points cost 12 compares per row instead of 4095 literal expression
 * nodes (the form that stops scaling past ~100 args). Built for
 * [[graft.sources.ZOrder]]'s skew-robust quantile mode; generally a
 * streaming-free `ntile` replacement when boundaries are known.
 * NaN sorts above every boundary (top bucket, matching Spark's
 * NaN-is-largest ordering); null in → null out.
 */
case class BucketizeExpr(child: Expression, boundaries: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires double input, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "graft_bucketize"

  override def nullSafeEval(input: Any): Any =
    BucketizeExpr.bucketOf(input.asInstanceOf[Double], boundaries)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("boundaries", boundaries, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.plans.BucketizeExpr.bucketOf($v, $b);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): BucketizeExpr = copy(child = newChild)
}

object BucketizeExpr {
  /** Number of boundaries ≤ v (boundaries sorted, distinct). NaN
    * counts every boundary — Spark orders NaN largest. Shared by the
    * interpreted and generated paths so they cannot drift. */
  def bucketOf(v: Double, boundaries: Array[Double]): Long = {
    if (java.lang.Double.isNaN(v)) return boundaries.length.toLong
    var lo = 0
    var hi = boundaries.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (boundaries(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }
}

/**
 * Unicode normalization (NFC/NFD/NFKC/NFKD) — text canonicalization for
 * dedup and fingerprinting: composed vs decomposed forms of the same
 * glyph ("é" as U+00E9 vs "e"+U+0301) must hash identically or every
 * downstream exact/near-dup key silently misses cross-encoding
 * duplicates. Spark has no builtin; a Scala UDF would break codegen and
 * add ser/de per row. This is a thin codegen'd wrapper over the JDK's
 * `java.text.Normalizer` (ICU-correct, no dependency).
 */
case class UnicodeNormalizeExpr(child: Expression, form: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val normForm = java.text.Normalizer.Form.valueOf(form)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_unicode_normalize"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(input.toString, normForm))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), " +
        s"java.text.Normalizer.Form.${normForm.name()}))")

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeNormalizeExpr = copy(child = newChild)
}

/** Single-pass HTML character-reference decoder shared by
  * [[HtmlEntityDecodeExpr]]'s interpreted and codegen paths. HTML5
  * left-to-right single-scan semantics: `&amp;lt;` decodes to the TEXT
  * `&lt;`, never double-decodes to `<`; numeric references are digits
  * only (no `+` sign — `&#+60;` stays verbatim, not a smuggled `<`);
  * C1 references 0x80-0x9F remap through Windows-1252 and `&#0;` to
  * U+FFFD, matching browser behavior on Windows-encoded crawl text;
  * unknown or malformed references (bad number, surrogate/out-of-range
  * codepoint, no semicolon within the 12-char entity budget) pass
  * through verbatim rather than corrupting the text. */
object HtmlEntities {
  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "mdash" -> "—",
    "ndash" -> "–", "hellip" -> "…", "lsquo" -> "‘",
    "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”",
    "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "deg" -> "°", "middot" -> "·", "laquo" -> "«",
    "raquo" -> "»")

  // HTML5 numeric-reference remaps: C1 controls 0x80-0x9F go through
  // Windows-1252 (what every browser does with Windows-encoded crawl
  // text: &#151; is an em dash, not the control U+0097); NUL becomes
  // U+FFFD. Identity entries (0x81 etc.) are simply absent.
  private val c1Remap: Map[Int, Int] = Map(
    0x00 -> 0xFFFD,
    0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
    0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
    0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
    0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
    0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)

  private def digitsOnly(s: String, radix: Int): Int = {
    // NOT Integer.parseInt: that accepts a leading '+', and HTML5
    // numeric references are digits only — '&#+60;' must stay verbatim
    // text, not decode to '<' (a markup-injection hazard downstream)
    if (s.isEmpty) return -1
    var v = 0
    var i = 0
    while (i < s.length) {
      val d = Character.digit(s.charAt(i), radix)
      if (d < 0) return -1
      v = v * radix + d
      if (v > 0x10FFFF) return -1
      i += 1
    }
    v
  }

  def decode(s: String): String = {
    var i = s.indexOf('&')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var start = 0
    while (i >= 0) {
      sb.append(s, start, i)
      val semi = s.indexOf(';', i + 1)
      var consumed = false
      if (semi > i + 1 && semi - i <= 12) {
        val body = s.substring(i + 1, semi)
        if (body.charAt(0) == '#') {
          val num = body.substring(1)
          val cp =
            if (num.length > 1 &&
                (num.charAt(0) == 'x' || num.charAt(0) == 'X'))
              digitsOnly(num.substring(1), 16)
            else digitsOnly(num, 10)
          val mapped = c1Remap.getOrElse(cp, cp)
          if (cp >= 0 && !(mapped >= 0xD800 && mapped <= 0xDFFF)) {
            sb.appendCodePoint(mapped)
            consumed = true
          }
        } else named.get(body) match {
          case Some(r) => sb.append(r); consumed = true
          case None => ()
        }
      }
      if (consumed) start = semi + 1
      else { sb.append('&'); start = i + 1 }
      i = s.indexOf('&', start)
    }
    sb.append(s, start, s.length)
    sb.toString
  }
}

/**
 * HTML character-reference decode as a native expression — the decoder
 * [[graft.functions.TextAnalysis.extractHtmlText]]'s portable
 * regexp_replace chain deliberately does NOT attempt: numeric
 * references (`&#65;`, `&#x1F44D;`) need integer parsing and codepoint
 * emission, which has no engine-portable SQL form. Full whole-stage
 * codegen (one static call per row, zero allocation when the row has
 * no `&`).
 */
case class HtmlEntityDecodeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_html_entities"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      HtmlEntities.decode(input.toString))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.HtmlEntities.decode($c.toString()))")

  override protected def withNewChildInternal(
      newChild: Expression): HtmlEntityDecodeExpr = copy(child = newChild)
}

/** Mojibake repair: undo UTF-8 text mis-decoded as Latin-1/Windows-1252
  * — the single most common crawl-text corruption ("cafÃ©" for "café",
  * "â€™" for "’"; the ftfy problem class, Speer 2019, public). Each
  * char is mapped back to the byte it would have come from under
  * cp1252 (codes 0x80-0xFF identity; the €‚ƒ… glyph block through the
  * inverse of the Windows-1252 C1 table, shared with [[HtmlEntities]]);
  * wherever a maximal run starting at a valid UTF-8 lead byte
  * (0xC2-0xF4) forms a STRICTLY valid sequence (length-matched
  * continuations, no overlongs, no surrogates, ≤ U+10FFFF), the
  * decoded codepoint replaces the run — anything else passes through
  * untouched, so plain text and already-correct non-ASCII are
  * identity. Passes repeat to a fixpoint (≤ `maxPasses`) to unwind
  * double-encoding ("cafÃƒÂ©" → "cafÃ©" → "café").
  *
  * Documented boundary: a LEGITIMATE "Ã" followed by a continuation-
  * mappable char is indistinguishable from mojibake by construction
  * (ftfy's heuristic scoring draws the same line); strict sequence
  * validation makes false repairs rare in real text. */
object Mojibake {
  // inverse Windows-1252 C1 block: glyph codepoint → original byte
  private val inv1252: Map[Int, Int] = Map(
    0x20AC -> 0x80, 0x201A -> 0x82, 0x0192 -> 0x83, 0x201E -> 0x84,
    0x2026 -> 0x85, 0x2020 -> 0x86, 0x2021 -> 0x87, 0x02C6 -> 0x88,
    0x2030 -> 0x89, 0x0160 -> 0x8A, 0x2039 -> 0x8B, 0x0152 -> 0x8C,
    0x017D -> 0x8E, 0x2018 -> 0x91, 0x2019 -> 0x92, 0x201C -> 0x93,
    0x201D -> 0x94, 0x2022 -> 0x95, 0x2013 -> 0x96, 0x2014 -> 0x97,
    0x02DC -> 0x98, 0x2122 -> 0x99, 0x0161 -> 0x9A, 0x203A -> 0x9B,
    0x0153 -> 0x9C, 0x017E -> 0x9E, 0x0178 -> 0x9F)

  /** Byte this char decodes from under cp1252/latin-1, or -1. Both the
    * cp1252 C1 glyphs AND raw C1 controls map (text mis-decoded via
    * plain latin-1 keeps the controls themselves). ASCII exits on the
    * first compare — the clean-text hot path never touches the map. */
  private def invByte(c: Char): Int =
    if (c < 0x80) -1
    else if (c <= 0xFF) c.toInt
    else inv1252.getOrElse(c.toInt, -1)

  private def seqLen(lead: Int): Int =
    if (lead >= 0xC2 && lead <= 0xDF) 2
    else if (lead >= 0xE0 && lead <= 0xEF) 3
    else if (lead >= 0xF0 && lead <= 0xF4) 4
    else 0

  /** One left-to-right repair pass; returns `s` itself when clean. */
  private def repairOnce(s: String): String = {
    var i = 0
    val n = s.length
    var sb: java.lang.StringBuilder = null
    while (i < n) {
      val lead = invByte(s.charAt(i))
      val len = seqLen(lead)
      var cp = -1
      if (len > 0 && i + len <= n) {
        // strict continuation windows close overlong/surrogate holes:
        // E0 needs A0-BF, ED excludes surrogates, F0 needs 90+, F4 caps
        // at 8F (RFC 3629's well-formed table)
        val b1 = invByte(s.charAt(i + 1))
        val (lo1, hi1) = lead match {
          case 0xE0 => (0xA0, 0xBF)
          case 0xED => (0x80, 0x9F)
          case 0xF0 => (0x90, 0xBF)
          case 0xF4 => (0x80, 0x8F)
          case _ => (0x80, 0xBF)
        }
        if (b1 >= lo1 && b1 <= hi1) {
          var v = len match {
            case 2 => lead & 0x1F
            case 3 => lead & 0x0F
            case _ => lead & 0x07
          }
          v = (v << 6) | (b1 & 0x3F)
          var k = 2
          var ok = true
          while (ok && k < len) {
            val bk = invByte(s.charAt(i + k))
            if (bk >= 0x80 && bk <= 0xBF) v = (v << 6) | (bk & 0x3F)
            else ok = false
            k += 1
          }
          if (ok) cp = v
        }
      }
      if (cp >= 0) {
        if (sb == null) {
          sb = new java.lang.StringBuilder(n)
          sb.append(s, 0, i)
        }
        sb.appendCodePoint(cp)
        i += len
      } else {
        if (sb != null) sb.append(s.charAt(i))
        i += 1
      }
    }
    if (sb == null) s else sb.toString
  }

  def repair(s: String, maxPasses: Int = 3): String = {
    var cur = s
    var pass = 0
    var changed = true
    while (changed && pass < maxPasses) {
      val next = repairOnce(cur)
      changed = !(next eq cur)
      cur = next
      pass += 1
    }
    cur
  }
}

/** [[Mojibake]] repair as a native expression — full whole-stage
  * codegen, one static call per row, zero allocation on clean rows. */
case class MojibakeRepairExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_fix_mojibake"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      Mojibake.repair(input.toString))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.Mojibake.repair($c.toString(), 3))")

  override protected def withNewChildInternal(
      newChild: Expression): MojibakeRepairExpr = copy(child = newChild)
}

/** A language-ID profile table flattened into parallel arrays so the
  * per-row loop allocates nothing — the runtime form behind
  * [[LangIdNgramExpr]]. Instances ride the expression as codegen
  * REFERENCE OBJECTS, so a table loaded from data (
  * `TextAnalysis.loadNgramProfiles` — fastText-breadth swaps, a 51st
  * language) generates the IDENTICAL source as the compiled-in
  * default and costs zero recompiles. Semantics replicated exactly
  * from the HOF form (`TextAnalysis.langIdCharNgram`): score = Σ
  * non-overlapping occurrences of each profile gram in the lowercased
  * text; winner = max score, ties to the lexicographically largest
  * language code (langs iterated ascending with `>=` replacement);
  * all-zero → "und". */
final class LangIdTable(profiles: Map[String, Seq[String]])
    extends Serializable {

  require(profiles.nonEmpty, "empty language-profile table")

  private val langs: Array[String] = profiles.keys.toArray.sorted
  private val grams: Array[Array[String]] =
    langs.map(l => profiles(l).toArray)

  /** Non-overlapping occurrence count — identical to the HOF form's
    * replace-and-measure on UTF8String bytes (UTF-8 is
    * self-synchronizing, so byte-level and UTF-16 `indexOf` agree on
    * counts for any valid gram). */
  private def countIn(hay: String, needle: String): Int = {
    var n = 0
    var i = hay.indexOf(needle)
    while (i >= 0) {
      n += 1
      i = hay.indexOf(needle, i + needle.length)
    }
    n
  }

  def classify(lowered: String): String = {
    var bestScore = 0
    var bestLang = "und"
    var li = 0
    while (li < langs.length) {
      var s = 0
      val gs = grams(li)
      var gi = 0
      while (gi < gs.length) {
        s += countIn(lowered, gs(gi))
        gi += 1
      }
      if (s > bestScore || (s == bestScore && s > 0)) {
        bestScore = s
        bestLang = langs(li)
      }
      li += 1
    }
    bestLang
  }
}

/** The compiled-in default [[LangIdTable]] — profiles from
  * [[graft.functions.TextAnalysis.charNgramProfiles]] (single source;
  * the HOF form scores the SAME table). Kept as a static so the
  * no-argument `graft_langid_ngram` call needs no reference object. */
private[plans] object LangIdNgram {
  lazy val default: LangIdTable =
    new LangIdTable(graft.functions.TextAnalysis.charNgramProfiles)
  def classify(lowered: String): String = default.classify(lowered)
}

/** Shared one-pass computation behind [[GopherSignalsExpr]] —
  * replicates [[graft.functions.TextAnalysis.gopherSignals]]'s column
  * arithmetic EXACTLY (a parity property test in TextAnalysisSpec
  * compares the two forms over arbitrary strings):
  * [[NativeText.tokens]] for the word tier; precompiled Java
  * `Pattern`s for the `\p{L}` / edge-`[\p{P}\p{S}]` classes (the SAME
  * regex engine Spark's rlike/regexp_replace use, so the character
  * classes cannot drift); space-only `trim` on lines, like Spark's
  * `trim`. */
private[plans] object GopherSignals {

  private val letter = java.util.regex.Pattern.compile("\\p{L}")
  private val edgePunct =
    java.util.regex.Pattern.compile("^[\\p{P}\\p{S}]+|[\\p{P}\\p{S}]+$")
  private val stopwords =
    graft.functions.TextAnalysis.gopherStopwords.toSet

  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  /** Non-overlapping occurrences — regexp_count semantics. */
  private def countSub(hay: String, needle: String): Int = {
    var n = 0
    var i = hay.indexOf(needle)
    while (i >= 0) { n += 1; i = hay.indexOf(needle, i + needle.length) }
    n
  }

  /** Java regex `$` (default mode) also matches just before a FINAL
    * line terminator — replicate by ignoring one trailing
    * `\r\n | \n | \r | U+0085 | U+2028 | U+2029` (a bare `\r` at line
    * end survives the `\r?\n` split and would otherwise diverge from
    * the HOF form's rlike anchors). */
  private def dollarBase(l: String): String = {
    if (l.isEmpty) return l
    l.charAt(l.length - 1) match {
      case '\n' =>
        if (l.length >= 2 && l.charAt(l.length - 2) == '\r')
          l.substring(0, l.length - 2)
        else l.substring(0, l.length - 1)
      case '\r' | '\u0085' | '\u2028' | '\u2029' =>
        l.substring(0, l.length - 1)
      case _ => l
    }
  }

  private def isBullet(trimmed: String): Boolean = {
    if (trimmed.isEmpty) return false
    val c = trimmed.charAt(0)
    if (c == '•' || c == '‣' || c == '◦' || c == '·' || c == '–') true
    else if (c == '-' || c == '*') {
      val b = dollarBase(trimmed)
      b.length == 1 || (b.length > 1 && b.charAt(1) == ' ') ||
        trimmed.charAt(1) == ' '
    } else false
  }

  def compute(u: org.apache.spark.unsafe.types.UTF8String,
              minWords: Int, maxWords: Int): org.apache.spark.sql
      .catalyst.InternalRow =
    compute(u, minWords, maxWords, stopwords)

  /** The data-driven form: `stop` is a caller-supplied function-word
    * set (rides as a codegen reference object — a retuned list is a
    * table swap, not a recompile of this file or the query). */
  def compute(u: org.apache.spark.unsafe.types.UTF8String,
              minWords: Int, maxWords: Int,
              stop: Set[String]): org.apache.spark.sql
      .catalyst.InternalRow = {
    val s = u.toString
    val toks = NativeText.tokens(s)
    val n = toks.length
    var sumLen = 0
    var alpha = 0
    var ti = 0
    while (ti < toks.length) {
      val w = toks(ti)
      sumLen += w.codePointCount(0, w.length) // Spark length() = chars
      if (letter.matcher(w).find()) alpha += 1
      ti += 1
    }
    val mwl = if (n == 0) 0.0 else sumLen.toDouble / n
    val hr = if (n == 0) 0.0 else countSub(s, "#").toDouble / n
    val er = if (n == 0) 0.0
      else (countSub(s, "...") + countSub(s, "…")).toDouble / n
    val af = if (n == 0) 0.0 else alpha.toDouble / n
    val lines = s.split("\r?\n", -1).iterator
      .map(trimSpaces).filter(_.nonEmpty).toArray
    val nl = lines.length
    var bullets = 0
    var ellEnd = 0
    var li = 0
    while (li < lines.length) {
      val l = lines(li)
      if (isBullet(l)) bullets += 1
      val b = dollarBase(l)
      if (b.endsWith("...") || b.endsWith("…")) ellEnd += 1
      li += 1
    }
    val bf = if (nl == 0) 0.0 else bullets.toDouble / nl
    val ef = if (nl == 0) 0.0 else ellEnd.toDouble / nl
    // stop tier: tokenize the LOWERED text (same order as the HOF
    // form — Greek final sigma makes whole-string vs per-token
    // lowercase context-sensitive), strip edge punctuation/symbols,
    // distinct, intersect
    val lowered = u.toLowerCase.toString
    val seen = new java.util.HashSet[String]()
    var sh = 0
    val ltoks = NativeText.tokens(lowered)
    var si = 0
    while (si < ltoks.length) {
      val stripped = edgePunct.matcher(ltoks(si)).replaceAll("")
      if (stop.contains(stripped) && seen.add(stripped)) sh += 1
      si += 1
    }
    val keep =
      if (n >= minWords && n <= maxWords &&
        mwl >= 3.0 && mwl <= 10.0 &&
        hr <= 0.1 && er <= 0.1 &&
        bf <= 0.9 && ef <= 0.3 &&
        af >= 0.8 && sh >= 2) 1 else 0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, mwl, hr, er, af, bf, ef, sh.toLong, keep))
  }
}

/** [[graft.functions.TextAnalysis.gopherSignals]]'s per-document
  * signal block as ONE native struct expression: one string pass per
  * tier instead of a projection of interpreted HOF lambdas that
  * re-tokenizes per signal — measured 0.52 s → ~0.1 s for
  * q_gopher_signals at sf0.1 — and whole-stage-codegen'd. */
case class GopherSignalsExpr(child: Expression, minWords: Int,
                             maxWords: Int,
                             stop: Option[Set[String]] = None)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = GopherSignalsExpr.schema

  override def prettyName: String = "graft_gopher_signals"

  override def nullSafeEval(input: Any): Any = stop match {
    case None => GopherSignals.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      minWords, maxWords)
    case Some(s) => GopherSignals.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      minWords, maxWords, s)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = stop match {
    case None =>
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.GopherSignals.compute($c, $minWords, $maxWords)")
    case Some(s) =>
      // the caller-supplied function-word set rides as a codegen
      // reference object (the LangIdNgramExpr table pattern)
      val ref = ctx.addReferenceObj("gopherStop", s,
        "scala.collection.immutable.Set")
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.GopherSignals.compute($c, $minWords, $maxWords, " +
          s"(scala.collection.immutable.Set) $ref)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): GopherSignalsExpr = copy(child = newChild)
}

object GopherSignalsExpr {
  import org.apache.spark.sql.types._
  /** Field order matches [[GopherSignals.compute]]'s row. */
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("hash_ratio", DoubleType, nullable = false),
    StructField("ellipsis_ratio", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("bullet_line_frac", DoubleType, nullable = false),
    StructField("ellipsis_line_frac", DoubleType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("keep", IntegerType, nullable = false)))
}

/** [[graft.functions.TextAnalysis.langIdCharNgram]] as a native
  * expression — the HOF form's 50-language × 8-gram scoring expands to
  * a generated projection past Janino's method limits (whole-stage
  * codegen bails to interpreted); this is one call per row and keeps
  * the langid pass inside WholeStageCodegen. `table` defaults to the
  * compiled-in 50-language [[LangIdNgram.default]]; a DATA-DRIVEN
  * table (`TextAnalysis.loadNgramProfiles` — wider breadth, a swapped
  * language set) rides as a codegen reference object, so the
  * generated source — and therefore Janino's compile cache — is
  * independent of the table's content. */
case class LangIdNgramExpr(child: Expression,
                           table: Option[LangIdTable] = None)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_langid_ngram"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      table.getOrElse(LangIdNgram.default).classify(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .toLowerCase.toString))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = table match {
    case None =>
      defineCodeGen(ctx, ev, c =>
        "org.apache.spark.unsafe.types.UTF8String.fromString(" +
          s"graft.plans.LangIdNgram.classify($c.toLowerCase().toString()))")
    case Some(t) =>
      val ref = ctx.addReferenceObj("langIdTable", t,
        "graft.plans.LangIdTable")
      defineCodeGen(ctx, ev, c =>
        "org.apache.spark.unsafe.types.UTF8String.fromString(" +
          s"$ref.classify($c.toLowerCase().toString()))")
  }

  override protected def withNewChildInternal(
      newChild: Expression): LangIdNgramExpr = copy(child = newChild)
}

/**
 * Per-ROW Bloom membership probe: `graft_bloom_probe(sketchBytes,
 * hash)` where the sketch is a COLUMN, not a constant — the case
 * Catalyst's own `BloomFilterMightContain` rejects (it requires a
 * foldable sketch, the runtime-join-filter shape). Needed for
 * manifest probing ([[graft.sources.StatsIndex]]): one sketch per
 * data FILE rides in an index row, and the survival predicate probes
 * each row's own sketch. Deserializing per evaluation is deliberate —
 * the operand table is files-count-sized (thousands of rows), never
 * data-sized; for a constant sketch over a big table use
 * `graft_bloom_might_contain`, which binds the sketch once. Null
 * sketch or null hash → null (three-valued logic; callers coalesce).
 */
case class BloomProbeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.BinaryType &&
        right.dataType == org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, bigint) arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType =
    org.apache.spark.sql.types.BooleanType

  override def prettyName: String = "graft_bloom_probe"

  override def nullSafeEval(bloom: Any, hash: Any): Any =
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(
        bloom.asInstanceOf[Array[Byte]]))
      .mightContainLong(hash.asInstanceOf[Long])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomProbeExpr =
    copy(left = newLeft, right = newRight)
}

/**
 * Per-row Count-Min point estimate: `graft_cms_estimate(sketchBytes,
 * key)` over a sketch built by Spark's OWN `count_min_sketch`
 * aggregate (`org.apache.spark.util.sketch.CountMinSketch` binary
 * layout) — Spark ships the builder but no SQL-level probe; this is
 * the probe. Key must be bigint or string, matching the two key
 * types the graft frequency surface uses; string keys probe by their
 * UTF-8 bytes, the exact representation `CountMinSketchAgg` added
 * them under, so estimates agree with the builder bit-for-bit.
 *
 * The deserialized sketch is MEMOIZED on the byte array's reference
 * identity: the intended shape binds one sketch (a broadcast-joined
 * or literal ~KB blob, the SAME object every row of a partition)
 * against a keys table of any size, so deserialization happens once
 * per task, not per row. A sketch that genuinely varies per row
 * still evaluates correctly — each new reference re-deserializes.
 * Null sketch or null key → null.
 */
case class CmsEstimateExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.BinaryType &&
        (right.dataType == org.apache.spark.sql.types.LongType ||
          right.dataType == org.apache.spark.sql.types.StringType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, bigint|string) arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "graft_cms_estimate"

  @transient private var cachedRef: Array[Byte] = _
  @transient private var cached: org.apache.spark.util.sketch.CountMinSketch = _

  private def sketchOf(bytes: Array[Byte])
      : org.apache.spark.util.sketch.CountMinSketch = {
    if (!(bytes eq cachedRef)) {
      cached = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      cachedRef = bytes
    }
    cached
  }

  override def nullSafeEval(sketch: Any, key: Any): Any = {
    val s = sketchOf(sketch.asInstanceOf[Array[Byte]])
    key match {
      case l: java.lang.Long => s.estimateCount(l)
      case u: org.apache.spark.unsafe.types.UTF8String =>
        s.estimateCount(u.getBytes)
      case other => throw new IllegalStateException(
        s"unreachable by checkInputDataTypes: ${other.getClass}")
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimateExpr =
    copy(left = newLeft, right = newRight)
}

/**
 * Native MinHash signature: whitespace-tokenize, `shingleWords`-word
 * shingles, `numHashes` minima — all in ONE JVM pass per row.
 *
 * A `Column` composition of higher-order lambdas (the form this
 * replaced) allocates a 64-long hash array plus a zip_with result per
 * shingle (~30M short-lived arrays on a 5k-doc corpus — measured ~20s
 * at sf0.1). Here each row is one tight loop with two xxhash64
 * evaluations per shingle, the per-seed family derived as
 * `g_j = h1 + j*h2` (Kirsch-Mitzenmacher '06, public result) — standard
 * MinHash practice and statistically equivalent to independent hashes.
 * Every MinHash operator (`Dedup.minhashBands` and what builds on it)
 * hashes with this one family, so a persisted band index and a later
 * batch's bands always collide where they should.
 * `CodegenFallback` is fine: cost is the per-row loop itself, not
 * expression-tree dispatch.
 */
case class MinHashSignatureExpr(child: Expression, numHashes: Int,
                                shingleWords: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any = {
    val toks = NativeText.tokens(input)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val nShingles = math.max(toks.length - shingleWords + 1, 1)
    var i = 0
    while (i < nShingles) {
      val s = NativeText.shingleString(toks, i, shingleWords)
      val h1 = NativeText.xxhash64(s)
      val h2 = NativeText.xxhash64(s, 77L)
      var j = 0
      while (j < numHashes) {
        val g = h1 + j * h2
        if (g < mins(j)) mins(j) = g
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression)
      : MinHashSignatureExpr = copy(child = c)
}

/**
 * Native 64-bit SimHash (Charikar '02): one xxhash64 per token, 64 bit
 * votes, packed sign vector — one JVM loop per row (vs 64 interpreted
 * lambda evaluations per token in the HOF form,
 * [[graft.operators.Dedup.simhash]]).
 */
case class SimHashExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    // NativeText.tokens on the lowercased string ≡ tokens(lower(text)),
    // the HOF form's tokenization — including edge-empty tokens, which
    // vote there too (skipping them would diverge on whitespace-edge
    // docs, the same class of bug NativeText exists to prevent)
    val toks = NativeText.tokens(input.toString.toLowerCase)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = NativeText.xxhash64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHashExpr =
    copy(child = c)
}

/**
 * Native distinct word-shingles: tokenize + `k`-word shingles in one JVM
 * pass (vs the interpreted `transform(sequence…concat_ws(slice))` chain
 * in [[graft.functions.Shingles.wordShingles]], kept as the portable
 * form). Same output values — tokenization and joining match exactly —
 * so Jaccard results are identical either way.
 */
case class WordShinglesExpr(child: Expression, shingleWords: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any = {
    val toks = NativeText.tokens(input)
    val n = math.max(toks.length - shingleWords + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) {
      seen.add(NativeText.shingleString(toks, i, shingleWords))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression)
      : WordShinglesExpr = copy(child = c)
}

/**
 * Native winnowing fingerprint set (Schleimer–Wilkerson–Aiken,
 * SIGMOD'03): positional `shingleWords`-word shingle hashes, min of
 * each sliding window of `window` hashes, distinct in first-occurrence
 * order — one JVM pass per row. BIT-EXACT with the staged HOF reference
 * in NativeExprSpec: tokenization matches `tokens()` (trim + whitespace
 * split, empty → no tokens), the shingle string is the space-joined
 * window exactly as `concat_ws(" ", slice(...))` builds it, and the hash
 * is Spark's own `xxhash64` (seed 42) over the string's UTF-8 bytes. The
 * HOF form re-evaluates interpreted lambdas per window; this loop is the
 * corpus-scale path.
 */
case class WinnowingExpr(child: Expression, shingleWords: Int, window: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any = {
    val toks = NativeText.tokens(input)
    val nSh = math.max(toks.length - shingleWords + 1, 1)
    val hashes = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      hashes(i) = NativeText.xxhash64(
        NativeText.shingleString(toks, i, shingleWords))
      i += 1
    }
    val nWin = math.max(nSh - window + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < nWin) {
      var m = Long.MaxValue
      var x = j
      val end = math.min(j + window, nSh)
      while (x < end) {
        if (hashes(x) < m) m = hashes(x)
        x += 1
      }
      seen.add(m)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) {
      out(o) = it.next().longValue()
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression)
      : WinnowingExpr = copy(child = c)
}

/**
 * Native random-hyperplane LSH bucket: sign bits of `planes`
 * pseudo-random projections in one fused loop. Replicates the HOF form
 * ([[graft.operators.Similarity.hyperplaneBucket]]) BIT-EXACTLY — the
 * plane components derive from the same `xxhash64(plane, dim)` chain
 * (Catalyst hashes each int argument via `XXH64.hashInt`, seed-chained)
 * and the same `pmod/1e6 - 1` arithmetic — so native and HOF paths
 * produce identical buckets (asserted in NativeExprSpec).
 */
case class HyperplaneBucketExpr(child: Expression, planes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${other.simpleString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "graft_hyperplane_bucket"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    var out = 0L
    var p = 0
    while (p < planes) {
      val hp = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(p, 42L)
      var dot = 0.0
      var j = 0
      while (j < dim) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(j, hp)
        val comp = java.lang.Math.floorMod(h, 2000001L).toDouble /
          1000000.0 - 1.0
        dot += arr.getDouble(j) * comp
        j += 1
      }
      if (dot > 0.0) out |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression)
      : HyperplaneBucketExpr = copy(child = c)
}

/**
 * Native product-quantization encoder (Jégou–Douze–Schmid, TPAMI 2011):
 * for each subspace m the code is the L2-argmin sub-centroid of the
 * vector's m-th slice — one JVM loop per row over the codebook matrix,
 * vs M × ksub interpreted least-of-structs sub-expressions in the HOF
 * form (whose plan size also grows with every codebook VALUE set,
 * the [[NearestCentroidExpr]] recompile argument). `CodegenFallback`
 * is deliberate, the [[MinHashSignatureExpr]] argument: this runs once
 * per corpus row at INDEX BUILD, the cost is the loop itself, and the
 * array result allocates either way — the search-time hot loop is
 * [[PqAdcExpr]], which has full codegen.
 *
 * Tie-breaking matches the least-of-structs HOF reference
 * ([[graft.operators.Similarity.pqEncode]]) bit-for-bit: equal distance
 * → the SMALLER code wins (`least` compares (dist, code)
 * lexicographically; here a strict `compareDoubles < 0` keeps the first
 * minimum). NaN distances (NaN vector components) are LARGEST under
 * Spark's double ordering on both paths, so an all-NaN slice encodes to
 * code 0 either way. Subspace slicing follows each codebook's own
 * sub-dimension, so offsets stay aligned even if sub-dims were uneven.
 */
case class PqEncodeExpr(child: Expression,
                        codebooks: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "codebooks must be non-empty per subspace")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString} " +
        "(cast array<float> inputs explicitly)")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def prettyName: String = "graft_pq_encode"

  // NULL-vector and short-vector parity with the HOF reference: there,
  // a null vector nulls every slice and a too-short vector nulls at
  // least one zip_with term, so every candidate's distance goes null
  // and least-of-structs falls through to the code tiebreak → code 0.
  // Hence: null vector → all-zero codes (NOT null), incomplete
  // subspace → code 0 — eval overridden because the default
  // null-propagation would return NULL instead.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val in = child.eval(input)
    val codes = new Array[Any](codebooks.length)
    if (in == null) {
      var z = 0
      while (z < codes.length) { codes(z) = 0; z += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
    }
    val v = in.asInstanceOf[ArrayData]
    val n = v.numElements()
    var off = 0
    var m = 0
    while (m < codebooks.length) {
      val book = codebooks(m)
      val dsub = book(0).length
      var bestCode = 0
      if (n - off >= dsub) {
        var best = Double.PositiveInfinity
        var j = 0
        while (j < book.length) {
          val ct = book(j)
          var d = 0.0
          var i = 0
          while (i < dsub) {
            val diff = v.getDouble(off + i) - ct(i)
            d += diff * diff
            i += 1
          }
          if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
              .compareDoubles(d, best) < 0) {
            best = d; bestCode = j
          }
          j += 1
        }
      }
      codes(m) = bestCode
      off += dsub
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
}

/**
 * Native ADC (asymmetric distance computation) inner product: given a
 * query vector and a row's PQ codes, Σ_m dot(query-slice_m,
 * codebook[m][code_m]) — the approximate `dot(q, reconstruction(x))`
 * that lets the candidate scan read M small ints per row instead of the
 * raw vector. THE hot loop of IVF-PQ search (runs per candidate ×
 * query), hence full `doGenCode`: one fused loop, codebooks as a
 * codegen reference object, no allocation. Bit-exact with the HOF
 * reference ([[graft.operators.Similarity.pqAdc]]): both walk subspaces
 * in order, accumulating left-to-right with identical double ops.
 * Missing, NULL, or out-of-range codes (a stale index scored against
 * retrained codebooks, or hand-built SQL input) contribute 0 for
 * their subspace rather than throwing — the HOF form implements the
 * identical skip with `get()` + a range-guarded CaseWhen, so both
 * paths degrade the same way.
 */
case class PqAdcExpr(left: Expression, right: Expression,
                     codebooks: Array[Array[Array[Double]]])
    extends BinaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "codebooks must be non-empty per subspace")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<int>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_pq_adc"

  // Degraded-input parity with the HOF reference: there, a NULL codes
  // ARRAY makes get(codes, m) null for every subspace, each range-
  // guarded CaseWhen falls to otherwise(0.0), and the sum is 0.0 —
  // EVEN when the query is also null, since the when-condition short-
  // circuits before any dot(). A null QUERY with usable codes nulls
  // every dot() on the HOF side → null here as well. So: codes-null
  // wins (0.0), then query-null (null). eval/doGenCode handle nulls
  // manually because the default both-null-propagate contract differs
  // from this.
  override def nullable: Boolean = left.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = right.eval(input)
    if (c == null) return 0.0
    val q = left.eval(input)
    if (q == null) return null
    nullSafeEval(q, c)
  }

  override def nullSafeEval(q: Any, c: Any): Any = {
    val qv = q.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val n = qv.numElements()
    var s = 0.0
    var off = 0
    var m = 0
    val mLim = math.min(codebooks.length, codes.numElements())
    while (m < mLim) {
      val book = codebooks(m)
      val dsub = book(0).length
      val code = if (codes.isNullAt(m)) -1 else codes.getInt(m)
      if (code >= 0 && code < book.length) {
        val ct = book(code)
        // per-subspace partial, added once — matches the HOF form's
        // associativity (per-subspace dot folds, then a sum of
        // partials), keeping the two paths bit-identical
        var p = 0.0
        var i = 0
        val lim = math.min(dsub, math.max(n - off, 0))
        while (i < lim) {
          p += qv.getDouble(off + i) * ct(i)
          i += 1
        }
        s += p
      }
      off += dsub
      m += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val books = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val q = leftGen.value
    val c = rightGen.value
    val n = ctx.freshName("n")
    val s = ctx.freshName("s")
    val off = ctx.freshName("off")
    val m = ctx.freshName("m")
    val mLim = ctx.freshName("mLim")
    val book = ctx.freshName("book")
    val dsub = ctx.freshName("dsub")
    val code = ctx.freshName("code")
    val ct = ctx.freshName("ct")
    val i = ctx.freshName("i")
    val lim = ctx.freshName("lim")
    val p = ctx.freshName("p")
    // manual null handling (not nullSafeCodeGen): a null codes array
    // must yield 0.0 — the HOF parity contract, codes-null takes
    // precedence — while a null query with usable codes stays null;
    // see the eval override above
    val loop =
      s"""
         |final int $n = $q.numElements();
         |double $s = 0.0;
         |int $off = 0;
         |final int $mLim =
         |  java.lang.Math.min($books.length, $c.numElements());
         |for (int $m = 0; $m < $mLim; $m++) {
         |  final double[][] $book = $books[$m];
         |  final int $dsub = $book[0].length;
         |  final int $code = $c.isNullAt($m) ? -1 : $c.getInt($m);
         |  if ($code >= 0 && $code < $book.length) {
         |    final double[] $ct = $book[$code];
         |    final int $lim =
         |      java.lang.Math.min($dsub, java.lang.Math.max($n - $off, 0));
         |    double $p = 0.0;
         |    for (int $i = 0; $i < $lim; $i++) {
         |      $p += $q.getDouble($off + $i) * $ct[$i];
         |    }
         |    $s += $p;
         |  }
         |  $off += $dsub;
         |}
         |${ev.value} = $s;
       """.stripMargin
    val leftAndLoop =
      s"""
         |${leftGen.code}
         |if (${leftGen.isNull}) {
         |  ${ev.isNull} = true;
         |} else {
         |  $loop
         |}
       """.stripMargin
    if (left.nullable) {
      ev.copy(code =
        code"""
          |${rightGen.code}
          |boolean ${ev.isNull} = false;
          |double ${ev.value} = 0.0;
          |if (!${rightGen.isNull}) {
          |  $leftAndLoop
          |}
        """.stripMargin)
    } else {
      ev.copy(code =
        code"""
          |${rightGen.code}
          |double ${ev.value} = 0.0;
          |if (!${rightGen.isNull}) {
          |  ${leftGen.code}
          |  $loop
          |}
        """.stripMargin,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

/** Public-suffix-list registrable-domain matcher shared by
  * [[RegistrableDomainExpr]]'s interpreted and codegen paths.
  *
  * The rule set is the COMPLETE publicsuffix.org list (public data,
  * MPL-2.0; ~9.5k rules, ICANN + PRIVATE sections), bundled as the
  * classpath resource `graft/public_suffix_list.dat` and parsed once
  * at class init (~1 MB of hash sets — per-JVM, broadcast-free).
  * Unicode rules are additionally indexed under their IDNA ASCII
  * (punycode) form via `java.net.IDN`, so a host in either
  * representation matches. If the resource is unreadable the loader
  * falls back to a curated snapshot of the registries that dominate
  * real crawl data — never an empty table, because the implicit `*`
  * default rule would then silently over-merge every ccTLD registry.
  * The matcher implements the complete PSL algorithm (longest
  * prevailing rule; wildcards; exceptions override).
  *
  * Matching: O(labels) hash lookups per host, no allocation beyond the
  * label split; the PSL does not require rules to be suffix-closed, so
  * every candidate length is probed (never early-exit on a miss).
  */
object PublicSuffixes {

  /** Fallback PSL-format lines (`x.y` rule, `*.x` wildcard, `!x.y`
    * exception), used only if the bundled full list fails to load. */
  private val fallbackSnapshot: Seq[String] = Seq(
    // United Kingdom
    "co.uk", "org.uk", "net.uk", "me.uk", "ltd.uk", "plc.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    // Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "ac.nz", "govt.nz", "geek.nz", "gen.nz",
    "kiwi.nz", "maori.nz", "school.nz",
    // Japan: prefecture-level registries + the city wildcard zones with
    // their municipal exceptions (the PSL's canonical exception example)
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "*.kawasaki.jp", "*.kitakyushu.jp", "*.kobe.jp", "*.nagoya.jp",
    "*.sapporo.jp", "*.sendai.jp", "*.yokohama.jp",
    "!city.kawasaki.jp", "!city.kitakyushu.jp", "!city.kobe.jp",
    "!city.nagoya.jp", "!city.sapporo.jp", "!city.sendai.jp",
    "!city.yokohama.jp",
    // Africa / Middle East
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za", "edu.za",
    "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg", "sci.eg",
    "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa", "sch.sa",
    "co.ae", "net.ae", "org.ae", "gov.ae", "ac.ae", "sch.ae", "mil.ae",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "k12.il", "muni.il",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "mil.tr", "bel.tr",
    "web.tr",
    "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng", "sch.ng", "i.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
    "info.ke",
    // Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br", "art.br",
    "blog.br", "eco.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar", "mil.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe", "nom.pe",
    "com.cl", "gob.cl", "gov.cl", "mil.cl",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "mil.uy",
    "com.ve", "net.ve", "org.ve", "gob.ve", "edu.ve", "mil.ve",
    "com.ec", "net.ec", "org.ec", "gob.ec", "edu.ec", "mil.ec",
    "gc.ca",
    // South / Southeast / East Asia
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "nic.in",
    "ac.in", "edu.in", "res.in", "gov.in", "mil.in",
    "com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr", "seoul.kr",
    "busan.kr",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw", "mil.tw", "idv.tw",
    "club.tw", "game.tw",
    "com.my", "net.my", "org.my", "gov.my", "edu.my", "mil.my", "name.my",
    "co.id", "net.id", "or.id", "web.id", "sch.id", "ac.id", "go.id",
    "mil.id", "biz.id", "my.id", "desa.id",
    "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn", "ac.vn",
    "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph", "mil.ph",
    "i.ph",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    // Europe / Central Asia
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl", "wroc.pl",
    "krakow.pl", "poznan.pl", "gda.pl",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "co.at", "or.at", "ac.at", "gv.at",
    "co.hu", "org.hu", "info.hu", "priv.hu",
    "com.pt", "edu.pt", "gov.pt", "org.pt", "net.pt", "publ.pt",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "gouv.fr", "asso.fr", "nom.fr", "avocat.fr",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.ro", "org.ro", "tm.ro", "nt.ro",
    "com.mt", "org.mt", "net.mt", "edu.mt", "gov.mt",
    "gov.ie",
    "com.by", "gov.by", "mil.by", "of.by",
    "com.kz", "org.kz", "gov.kz", "edu.kz", "net.kz", "mil.kz",
    "com.ge", "org.ge", "gov.ge", "edu.ge", "net.ge", "mil.ge",
    "com.az", "org.az", "gov.az", "edu.az", "net.az", "mil.az",
    "com.uz", "co.uz", "net.uz", "org.uz",
    // wildcard-only zones (every second-level name is itself a registry)
    "*.bd", "*.ck", "!www.ck", "*.er", "*.fj", "*.mm", "*.np", "*.pg")

  /** Lines of the bundled full list: non-comment, non-blank, with the
    * whole-line trim publicsuffix.org specifies ("only read up to the
    * first whitespace"). Falls back to [[fallbackSnapshot]] (never to
    * an empty table) on any load failure. */
  private def loadRuleLines(): Seq[String] =
    try {
      val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
      if (in == null) sys.error("resource graft/public_suffix_list.dat absent")
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines()
        .map(l => l.indexWhere(Character.isWhitespace) match {
          case -1 => l
          case i  => l.substring(0, i)
        })
        .filter(l => l.nonEmpty && !l.startsWith("//"))
        .toVector
      finally src.close()
    } catch {
      case t: Throwable =>
        System.err.println(
          s"[graft] WARN full public-suffix list unavailable ($t); " +
            "using curated fallback snapshot")
        fallbackSnapshot
    }

  private val exceptions = new java.util.HashSet[String]
  private val wildcards = new java.util.HashSet[String]
  private val rules = new java.util.HashSet[String]
  loadRuleLines().foreach { line =>
    // index the rule as published, plus its IDNA ASCII (punycode)
    // form when they differ, so hosts in either representation match
    val (kind, body) =
      if (line.startsWith("!")) (0, line.substring(1))
      else if (line.startsWith("*.")) (1, line.substring(2))
      else (2, line)
    val forms =
      try {
        val ascii = java.net.IDN.toASCII(body)
        if (ascii == body) Seq(body) else Seq(body, ascii)
      } catch { case _: Exception => Seq(body) }
    val target = kind match {
      case 0 => exceptions
      case 1 => wildcards
      case _ => rules
    }
    forms.foreach(target.add)
  }

  /**
   * Registrable domain (public suffix + one label) of an already-bare
   * host, lowercased. Hosts that ARE a public suffix, single-label
   * hosts, and malformed hosts (empty labels from leading/trailing/
   * doubled dots) return unchanged — identity is the safe behavior for
   * a dedup/cap key. Punycode labels match as literal strings (IDN
   * normalization is a separate, documented boundary).
   */
  def registrable(host: String): String = {
    val h = host.toLowerCase(java.util.Locale.ROOT)
    if (h.isEmpty || h.indexOf('.') < 0) return h
    val labels = h.split("\\.", -1)
    if (labels.exists(_.isEmpty)) return h
    var ps = 1 // labels in the prevailing public suffix (default rule)
    var k = 2
    var done = false
    while (k <= labels.length && !done) {
      val suffix = labels.takeRight(k).mkString(".")
      if (exceptions.contains(suffix)) {
        // exception rule prevails over everything: its own leftmost
        // label is registrable, so the public suffix is one shorter
        ps = k - 1
        done = true
      } else {
        if (rules.contains(suffix) ||
            wildcards.contains(labels.takeRight(k - 1).mkString(".")))
          ps = k
        k += 1
      }
    }
    if (ps >= labels.length) h
    else labels.takeRight(ps + 1).mkString(".")
  }
}

/**
 * Registrable domain as a native expression: PSL longest-suffix match
 * has no portable SQL form (per-host variable-depth label walk against
 * a rule table with wildcard/exception semantics). Full whole-stage
 * codegen — one static call per row against the broadcast-free
 * constant rule set compiled into the class.
 */
case class RegistrableDomainExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_registrable_domain"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      PublicSuffixes.registrable(input.toString))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.PublicSuffixes.registrable($c.toString()))")

  override protected def withNewChildInternal(
      newChild: Expression): RegistrableDomainExpr = copy(child = newChild)
}

/** Single-pass percent-encoding normalizer shared by
  * [[PctNormalizeExpr]]'s interpreted and codegen paths. RFC 3986
  * §2.3/§6.2.2 canonical form: `%XX` sequences decoding to UNRESERVED
  * characters (ALPHA / DIGIT / `-` `.` `_` `~`) are decoded — `%41`
  * and `A` are the same URL and must dedup together — while every
  * other escape keeps its meaning but gets UPPERCASE hex (`%2f` →
  * `%2F`), the RFC's canonical spelling. Decoding the unreserved set
  * can never create a delimiter, so the pass is safe on a full URL.
  * Malformed escapes (`%zz`, trailing `%`) pass through verbatim; hex
  * digits are strict ASCII (Character.digit would admit Unicode
  * digits). */
object PctNormalize {
  private def hex(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def unreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') ||
      v == '-' || v == '.' || v == '_' || v == '~'

  def normalize(s: String): String = {
    var i = s.indexOf('%')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var start = 0
    while (i >= 0) {
      sb.append(s, start, i)
      val hi = if (i + 2 < s.length) hex(s.charAt(i + 1)) else -1
      val lo = if (i + 2 < s.length) hex(s.charAt(i + 2)) else -1
      if (hi >= 0 && lo >= 0) {
        val v = hi * 16 + lo
        if (unreserved(v)) sb.append(v.toChar)
        else sb.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        start = i + 3
      } else {
        sb.append('%')
        start = i + 1
      }
      i = s.indexOf('%', start)
    }
    sb.append(s, start, s.length)
    sb.toString
  }
}

/**
 * Percent-encoding normalization as a native expression (the
 * [[HtmlEntityDecodeExpr]] single-pass pattern): `%41`-vs-`A` and
 * `%2f`-vs-`%2F` variants defeat URL-level dedup, and the
 * decode-some/uppercase-the-rest scan has no portable SQL form. Full
 * whole-stage codegen, zero allocation when the row has no `%`.
 */
case class PctNormalizeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_pct_normalize"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      PctNormalize.normalize(input.toString))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.PctNormalize.normalize($c.toString()))")

  override protected def withNewChildInternal(
      newChild: Expression): PctNormalizeExpr = copy(child = newChild)
}

/**
 * Shared greedy byte-pair-encoding application (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units",
 * public) — ONE definition used by the interpreted expression and the
 * driver-side trainer loop ([[graft.functions.Bpe.trainBpe]]), so
 * training-time merge application cannot drift from encode-time.
 *
 * Merge semantics are the paper's: for each merge `(a, b)` in rank
 * order, scan the symbol sequence left to right; every adjacent
 * `(a, b)` becomes one symbol `a+b` and the scan continues AFTER the
 * merged symbol (a freshly merged symbol is never the left element of
 * another merge of the same rank — `[a,a,a]` with merge `(a,a)` gives
 * `[aa, a]`). These are exactly the semantics of SQL `REPLACE` over a
 * sequence whose symbols each carry their OWN boundary spaces
 * (`' a  b ' → ' ab '`), which is how the driver's oracle replays the
 * encoder verbatim — property-checked against this implementation in
 * BpeSpec.
 */
object BpeCodec {

  /** Word → initial symbols, one per CODE POINT (a surrogate pair is
    * one symbol, matching DuckDB's `string_split(w, '')` and unlike a
    * per-`char` split, which would tear astral-plane characters). */
  def codepointSymbols(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** One greedy left-to-right pass of merge `(a, b)`. */
  def applyMerge(syms: Array[String], a: String, b: String)
      : Array[String] = {
    if (syms.length < 2) return syms
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Full encode of one word under an ordered merge list. */
  def encodeWord(w: String, lefts: Array[String], rights: Array[String])
      : Array[String] = {
    var syms = codepointSymbols(w)
    var m = 0
    while (m < lefts.length && syms.length >= 2) {
      syms = applyMerge(syms, lefts(m), rights(m))
      m += 1
    }
    syms
  }

  // ---- byte-level (GPT-2-style) mode ------------------------------------

  /** GPT-2's `bytes_to_unicode` map (Radford et al. 2019, public
    * code): the three printable single-byte ranges (`!`..`~`,
    * `¡`..`¬`, `®`..`ÿ`) map to themselves; the remaining 68 bytes map
    * to successive code points from U+0100 — so every byte has a
    * VISIBLE one-char spelling (space → `Ġ`, newline → `Ċ`) and merge
    * symbols stay whitespace-free, which both the trainer's pair keys
    * and the oracle's space-delimited replay rely on. */
  val byteToUnicode: Array[Char] = {
    val out = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if ((b >= '!' && b <= '~') || (b >= 0xA1 && b <= 0xAC) ||
          (b >= 0xAE && b <= 0xFF)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    out
  }

  /** Pre-token → one symbol per UTF-8 BYTE (mapped via
    * [[byteToUnicode]]) — the byte-level alphabet: no unknown symbols
    * ever, any input is representable. */
  def byteSymbols(pt: String): Array[String] = {
    val bytes = pt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = String.valueOf(byteToUnicode(bytes(i) & 0xFF))
      i += 1
    }
    out
  }

  /** The GPT-2 pre-tokenizer regex (public): contractions, optionally
    * space-prefixed letter/digit/punctuation runs, whitespace runs.
    * Java-regex port note: `\p{L}`/`\p{N}` are Unicode classes as in
    * the original; `\s` is the ASCII whitespace class (the original's
    * `\s` is Unicode) — a documented, data-irrelevant divergence for
    * the exotic-whitespace code points. */
  val gpt2Pattern: java.util.regex.Pattern = java.util.regex.Pattern
    .compile("'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+|" +
      " ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+")

  /** Text → GPT-2 pre-tokens. The matches cover the input exactly
    * (the alternation has a branch for every char class), so
    * concatenating the pre-tokens reproduces the text — byte-level
    * BPE is lossless by construction. */
  def pretokenize(text: String): Array[String] = {
    val m = gpt2Pattern.matcher(text)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) out += m.group()
    out.toArray
  }

  /** Full byte-level encode of one pre-token under an ordered merge
    * list (merges operate on [[byteSymbols]] spellings). */
  def encodePretoken(pt: String, lefts: Array[String],
                     rights: Array[String]): Array[String] = {
    var syms = byteSymbols(pt)
    var m = 0
    while (m < lefts.length && syms.length >= 2) {
      syms = applyMerge(syms, lefts(m), rights(m))
      m += 1
    }
    syms
  }

  /** Inverse of [[byteToUnicode]]: mapped code point → original byte,
    * -1 for code points outside the 256-entry image. */
  private val unicodeToByte: Array[Int] = {
    val inv = Array.fill(512)(-1)
    var b = 0
    while (b < 256) { inv(byteToUnicode(b).toInt) = b; b += 1 }
    inv
  }

  /** Byte-level DECODE: concatenated subword symbols → original text.
    * Each mapped char becomes its byte; a char outside the byte
    * alphabet (hostile input — our encoder never emits one) passes
    * through as its own UTF-8 bytes rather than throwing. Exact
    * inverse of encode on anything the encoder produced — byte-level
    * BPE is lossless, and [[graft.SparkEntry]] proves it at query
    * level over real corpus text (`q_bpe_roundtrip_bytes`). */
  def decodeByteSymbols(joined: String): String = {
    val out = new java.io.ByteArrayOutputStream(joined.length)
    var i = 0
    while (i < joined.length) {
      val c = joined.charAt(i)
      val b = if (c < 512) unicodeToByte(c.toInt) else -1
      if (b >= 0) { out.write(b); i += 1 }
      else {
        val n = Character.charCount(joined.codePointAt(i))
        out.write(joined.substring(i, i + n)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        i += n
      }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/**
 * Greedy BPE encode over whitespace words: split the (caller-lowered,
 * caller-trimmed) text on `\s+`, encode each word under the ordered
 * merge list ([[BpeCodec]]), and emit the concatenated subword stream.
 * The merge list is a query-time literal (vocabulary-scale, like the
 * IVF centroid matrices), so executors apply it with zero lookups —
 * one fused loop per row. `CodegenFallback`: cost is the per-word
 * merge loop, not expression-tree dispatch.
 */
case class BpeEncodeExpr(child: Expression, lefts: Array[String],
                         rights: Array[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(lefts.length == rights.length,
    s"merge sides differ: ${lefts.length} vs ${rights.length}")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "graft_bpe_encode"

  override def nullSafeEval(input: Any): Any = {
    val words = input.toString.split("\\s+")
    val out =
      new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.unsafe.types.UTF8String]()
    var wi = 0
    while (wi < words.length) {
      if (words(wi).nonEmpty) {
        val syms = BpeCodec.encodeWord(words(wi), lefts, rights)
        var si = 0
        while (si < syms.length) {
          out += org.apache.spark.unsafe.types.UTF8String
            .fromString(syms(si))
          si += 1
        }
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression)
      : BpeEncodeExpr = copy(child = c)
}

/**
 * Byte-level (GPT-2-style) greedy BPE encode: regex pre-tokenization
 * ([[BpeCodec.gpt2Pattern]]) → per-byte initial symbols
 * ([[BpeCodec.byteSymbols]]) → the ordered merge list — the modern
 * tokenizer-training surface, lossless on ANY input (case, punctuation
 * and whitespace are carried in the symbols, never stripped). Text
 * goes in RAW: unlike [[BpeEncodeExpr]] the caller must NOT lower or
 * trim. Merge list as a query-time literal; `CodegenFallback` like
 * its char-level sibling.
 */
case class BpeEncodeBytesExpr(child: Expression, lefts: Array[String],
                              rights: Array[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(lefts.length == rights.length,
    s"merge sides differ: ${lefts.length} vs ${rights.length}")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "graft_bpe_encode_bytes"

  override def nullSafeEval(input: Any): Any = {
    val pts = BpeCodec.pretokenize(input.toString)
    val out =
      new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.unsafe.types.UTF8String]()
    var pi = 0
    while (pi < pts.length) {
      val syms = BpeCodec.encodePretoken(pts(pi), lefts, rights)
      var si = 0
      while (si < syms.length) {
        out += org.apache.spark.unsafe.types.UTF8String
          .fromString(syms(si))
        si += 1
      }
      pi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression)
      : BpeEncodeBytesExpr = copy(child = c)
}

/**
 * GPT-2 regex pre-tokenization as a projection (`array<string>` of
 * pre-tokens) — the distributed half of the byte-level trainer: the
 * pre-token frequency table comes from exploding this column, using
 * the EXACT code ([[BpeCodec.pretokenize]]) the encoder runs, so
 * train and encode cannot drift on boundary cases.
 */
case class BpePretokenizeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "graft_bpe_pretokenize"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      BpeCodec.pretokenize(input.toString)
        .map(org.apache.spark.unsafe.types.UTF8String.fromString))

  override protected def withNewChildInternal(c: Expression)
      : BpePretokenizeExpr = copy(child = c)
}

/**
 * Byte-level BPE decode: `array<string>` subword symbols → the original
 * text via the inverse byte map ([[BpeCodec.decodeByteSymbols]]) — the
 * other half of the tokenizer contract, and the executable proof of
 * losslessness (`decode(encode(text)) = text` for any text and ANY
 * merge list). Null elements inside the array are skipped.
 */
case class BpeDecodeBytesExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_bpe_decode_bytes"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) sb.append(arr.getUTF8String(i).toString)
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(
      BpeCodec.decodeByteSymbols(sb.toString))
  }

  override protected def withNewChildInternal(c: Expression)
      : BpeDecodeBytesExpr = copy(child = c)
}

/**
 * IDN host normalization via the JDK's RFC 3490 implementation
 * (`java.net.IDN` — punycode RFC 3492 plus nameprep, public): decode
 * `xn--` ACE labels to their Unicode form (`toAscii = false`, the
 * human-readable key) or encode non-ASCII labels to ACE
 * (`toAscii = true`, the on-the-wire crawl form). Either direction
 * collapses the mixed spellings of the same host that defeat URL-level
 * dedup; the result is lowercased. Hosts the codec rejects (overlong
 * labels, bad ACE) pass through lowercased-verbatim — crawl data is
 * hostile and a scoring/keying pass must not throw. Documented
 * boundary: IDNA2003 semantics (the JDK's), not IDNA2008 — the
 * differences (ß, ZWJ handling) are rare in registrable hosts.
 */
case class IdnHostExpr(child: Expression, toAscii: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "graft_idn_host"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      IdnHostExpr.normalize(input.toString, toAscii))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.IdnHostExpr.normalize($c.toString(), $toAscii))")

  override protected def withNewChildInternal(
      newChild: Expression): IdnHostExpr = copy(child = newChild)
}

object IdnHostExpr {
  /** Codegen entry point; `java.util.Locale.ROOT` lowercase so the
    * result is locale-independent (no Turkish-İ surprises). */
  def normalize(host: String, toAscii: Boolean): String = {
    val converted =
      try {
        if (toAscii) java.net.IDN.toASCII(host)
        else java.net.IDN.toUnicode(host)
      } catch {
        // toASCII throws on unencodable labels; crawl hosts are
        // hostile, so ANY codec failure degrades to passthrough
        case scala.util.control.NonFatal(_) => host
      }
    converted.toLowerCase(java.util.Locale.ROOT)
  }
}

/** Process-wide compiled-regex cache backing [[CachedRegexMatchExpr]].
  * Spark's own `RLike` compiles once only when the pattern is a foldable
  * literal; a pattern COLUMN (the robots rule table's translated
  * wildcard patterns) recompiles per row. Rule tables are domain-scale
  * — thousands of distinct patterns, corpus-scale rows — so a bounded
  * shared cache turns per-row compile into per-pattern compile. */
object RegexCache {
  private val MaxEntries = 8192
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.regex.Pattern]()

  def pattern(p: String): java.util.regex.Pattern = {
    val got = cache.get(p)
    if (got != null) got
    else {
      // crude but bounded eviction: a full clear. The working set is
      // the distinct wildcard-rule count (domain-scale); overflow means
      // pathological input, where correctness still holds at the old
      // per-row-compile cost.
      if (cache.size() >= MaxEntries) cache.clear()
      val compiled = java.util.regex.Pattern.compile(p)
      cache.putIfAbsent(p, compiled)
      compiled
    }
  }

  /** Java-callable matcher used by both eval and codegen paths. */
  def matches(s: org.apache.spark.unsafe.types.UTF8String,
              p: org.apache.spark.unsafe.types.UTF8String): Boolean =
    pattern(p.toString).matcher(s.toString).find()
}

/**
 * `regexp_like` with a non-literal pattern column, minus the per-row
 * `Pattern.compile`: matching goes through [[RegexCache]]. Semantics
 * match Spark's `RLike` (unanchored find; anchor explicitly with
 * `^...$` in the pattern — the robots rule translation always
 * prefixes `^`). Null-safe: null input or pattern → null.
 */
case class CachedRegexMatchExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.StringType &&
        right.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def prettyName: String = "graft_rlike_cached"

  override def nullSafeEval(s: Any, p: Any): Any =
    RegexCache.matches(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      p.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) =>
      s"graft.plans.RegexCache.matches($s, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CachedRegexMatchExpr =
    copy(left = newLeft, right = newRight)
}

/** Shared implementation behind [[CdcChunksExpr]] — content-defined
  * chunking with a gear rolling hash (the FastCDC construction, Xia et
  * al. 2016, USENIX ATC — public method, simplified: single mask, no
  * normalized chunking levels). Cut points depend only on recent
  * CONTENT (the gear hash's 64-shift window), so two documents sharing
  * a long substring re-synchronize to identical chunk boundaries
  * within ~64 bytes + one chunk of the shared region's start — the
  * property that makes chunk-hash dedup find shared content between
  * documents whose prefixes differ, where whole-document hashing and
  * fixed-offset blocking both fail. Chunk identity is FNV-1a 64 over
  * the chunk's UTF-8 bytes (public domain). Offsets/lengths are BYTE
  * positions in the UTF-8 encoding. */
object CdcChunking {

  /** Deterministic per-byte gear table (SplitMix64 over the index). */
  private val gear: Array[Long] = Array.tabulate(256) { i =>
    var z = i.toLong * 0x9E3779B97F4A7C15L + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def fnv1a(bytes: Array[Byte], start: Int, len: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = start
    val end = start + len
    while (i < end) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  def chunks(u: org.apache.spark.unsafe.types.UTF8String,
             minSize: Int, avgSize: Int, maxSize: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    require(minSize >= 1 && minSize <= avgSize && avgSize <= maxSize,
      s"need 1 <= min <= avg <= max, got ($minSize, $avgSize, $maxSize)")
    val bytes = u.getBytes
    var mask = 1
    while (mask < avgSize) mask <<= 1
    val cutMask = (mask - 1).toLong
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    var start = 0
    var i = 0
    var h = 0L
    while (i < bytes.length) {
      h = (h << 1) + gear(bytes(i) & 0xFF)
      i += 1
      val len = i - start
      if ((len >= minSize && (h & cutMask) == 0L) || len >= maxSize) {
        out += org.apache.spark.sql.catalyst.InternalRow(
          fnv1a(bytes, start, len), start, len)
        start = i
        h = 0L
      }
    }
    if (start < bytes.length)
      out += org.apache.spark.sql.catalyst.InternalRow(
        fnv1a(bytes, start, bytes.length - start), start,
        bytes.length - start)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** [[CdcChunking.chunks]] as a native expression:
  * `graft_cdc_chunks(text, min, avg, max)` →
  * `array<struct<hash: long, start: int, len: int>>`. One static call
  * per row; the per-chunk loop allocates only the output rows. */
case class CdcChunksExpr(child: Expression, minSize: Int, avgSize: Int,
                         maxSize: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)

  override def dataType: DataType = CdcChunksExpr.schema

  override def prettyName: String = "graft_cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunking.chunks(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      minSize, avgSize, maxSize)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.CdcChunking.chunks($c, $minSize, $avgSize, $maxSize)")

  override protected def withNewChildInternal(
      newChild: Expression): CdcChunksExpr = copy(child = newChild)
}

object CdcChunksExpr {
  import org.apache.spark.sql.types._
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("hash", LongType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))),
    containsNull = false)
}

/**
 * Column-API and SQL access for the native expressions. Each Column
 * helper wraps its kernel's Catalyst expression directly, as Spark's own
 * `functions` do, so it works on any session with nothing registered.
 * The `graft_*` names matter only for SQL text: [[builders]] is what
 * [[GraftExtensions]] injects and what [[register]] installs on a
 * session built elsewhere.
 */
object NativeFunctions {

  val cosineName = "graft_cosine"
  val sortedJaccardName = "graft_sorted_jaccard"
  val minhashName = "graft_minhash"
  val simhashName = "graft_simhash"
  val shinglesName = "graft_shingles"
  val hyperplaneName = "graft_hyperplane_bucket"
  val winnowName = "graft_winnow"
  val unicodeNormalizeName = "graft_unicode_normalize"
  val htmlEntitiesName = "graft_html_entities"
  val bloomAggName = "graft_bloom_agg"
  val bloomContainsName = "graft_bloom_might_contain"
  val nearestCentroidName = "graft_nearest_centroid"
  val nearestCentroid2lName = "graft_nearest_centroid_2l"
  val pqEncodeName = "graft_pq_encode"
  val pqAdcName = "graft_pq_adc"
  val mgSummaryName = "graft_mg_summary"
  val bucketizeName = "graft_bucketize"
  val registrableDomainName = "graft_registrable_domain"
  val pctNormalizeName = "graft_pct_normalize"
  val bpeEncodeName = "graft_bpe_encode"
  val idnHostName = "graft_idn_host"
  val fixMojibakeName = "graft_fix_mojibake"
  val bloomProbeName = "graft_bloom_probe"
  val rlikeCachedName = "graft_rlike_cached"
  val bpeEncodeBytesName = "graft_bpe_encode_bytes"
  val bpePretokenizeName = "graft_bpe_pretokenize"
  val bpeDecodeBytesName = "graft_bpe_decode_bytes"
  val langIdNgramName = "graft_langid_ngram"
  val gopherSignalsName = "graft_gopher_signals"
  val cdcChunksName = "graft_cdc_chunks"
  val cmsEstimateName = "graft_cms_estimate"
  val kllAggName = "graft_kll_agg"
  val kllUnionName = "graft_kll_union"
  val kllQuantilesName = "graft_kll_quantiles"
  val kllRanksName = "graft_kll_ranks"
  val thetaAggName = "graft_theta_agg"
  val thetaUnionName = "graft_theta_union"
  val thetaSetOpName = "graft_theta_setop"
  val thetaEstimateName = "graft_theta_estimate"

  private def intLit(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case l: Long => throw new IllegalArgumentException(
        s"integer argument $l is out of int range")
      case other => throw new IllegalArgumentException(
        s"expected integer literal, got $other")
    }

  private def strLit(e: Expression): String =
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"expected string literal, got $other")
    }

  private def strArrayLit(e: Expression): Array[String] =
    e.eval(null) match {
      case a: ArrayData =>
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
          .toArray
      case other => throw new IllegalArgumentException(
        s"expected array<string> literal, got $other")
    }

  private def vectorLit(e: Expression): Array[Double] =
    e.eval(null) match {
      case a: ArrayData => a.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"expected array<double> literal, got $other")
    }

  private def matrixLit(e: Expression): Array[Array[Double]] =
    e.eval(null) match {
      case a: ArrayData =>
        (0 until a.numElements()).map(i => a.getArray(i).toDoubleArray())
          .toArray
      case other => throw new IllegalArgumentException(
        s"expected array<array<double>> literal, got $other")
    }

  private def profileMapLit(e: Expression): Map[String, Seq[String]] =
    e.eval(null) match {
      case m: org.apache.spark.sql.catalyst.util.MapData =>
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { i =>
          ks.getUTF8String(i).toString ->
            (0 until vs.getArray(i).numElements())
              .map(j => vs.getArray(i).getUTF8String(j).toString)
        }.toMap
      case other => throw new IllegalArgumentException(
        s"expected map<string, array<string>> literal, got $other")
    }

  private def intMatrixLit(e: Expression): Array[Array[Int]] =
    e.eval(null) match {
      case a: ArrayData =>
        (0 until a.numElements()).map(i => a.getArray(i).toIntArray())
          .toArray
      case other => throw new IllegalArgumentException(
        s"expected array<array<int>> literal, got $other")
    }

  private def matrix3Lit(e: Expression): Array[Array[Array[Double]]] =
    e.eval(null) match {
      case a: ArrayData =>
        (0 until a.numElements()).map { m =>
          val book = a.getArray(m)
          (0 until book.numElements())
            .map(j => book.getArray(j).toDoubleArray()).toArray
        }.toArray
      case other => throw new IllegalArgumentException(
        s"expected array<array<array<double>>> literal, got $other")
    }

  /** (name, builder) pairs — the single source both [[register]] and
    * [[GraftExtensions]] install from. */
  private[plans] val builders
      : Seq[(String, Seq[Expression] => Expression)] = Seq(
    cosineName -> ((exprs: Seq[Expression]) =>
      CosineSimilarityExpr(exprs.head, exprs(1))),
    sortedJaccardName -> ((exprs: Seq[Expression]) =>
      SortedJaccardExpr(exprs.head, exprs(1))),
    minhashName -> ((exprs: Seq[Expression]) =>
      MinHashSignatureExpr(exprs.head, intLit(exprs(1)), intLit(exprs(2)))),
    simhashName -> ((exprs: Seq[Expression]) => SimHashExpr(exprs.head)),
    shinglesName -> ((exprs: Seq[Expression]) =>
      WordShinglesExpr(exprs.head, intLit(exprs(1)))),
    hyperplaneName -> ((exprs: Seq[Expression]) =>
      HyperplaneBucketExpr(exprs.head, intLit(exprs(1)))),
    winnowName -> ((exprs: Seq[Expression]) =>
      WinnowingExpr(exprs.head, intLit(exprs(1)), intLit(exprs(2)))),
    unicodeNormalizeName -> ((exprs: Seq[Expression]) =>
      UnicodeNormalizeExpr(exprs.head, strLit(exprs(1)))),
    htmlEntitiesName -> ((exprs: Seq[Expression]) =>
      HtmlEntityDecodeExpr(exprs.head)),
    fixMojibakeName -> ((exprs: Seq[Expression]) =>
      MojibakeRepairExpr(exprs.head)),
    // Catalyst's OWN Bloom expressions (the machinery behind AQE runtime
    // join filters), surfaced through the registry — Spark ships them
    // unregistered. Long-hash in, compact binary sketch out.
    bloomAggName -> ((exprs: Seq[Expression]) =>
      new BloomFilterAggregate(exprs.head, exprs(1), exprs(2))
        .toAggregateExpression()),
    bloomContainsName -> ((exprs: Seq[Expression]) =>
      BloomFilterMightContain(exprs.head, exprs(1))),
    bloomProbeName -> ((exprs: Seq[Expression]) =>
      BloomProbeExpr(exprs.head, exprs(1))),
    nearestCentroidName -> ((exprs: Seq[Expression]) =>
      NearestCentroidExpr(exprs.head, matrixLit(exprs(1)))),
    nearestCentroid2lName -> ((exprs: Seq[Expression]) =>
      NearestCentroidTwoLevelExpr(exprs.head, matrixLit(exprs(1)),
        intMatrixLit(exprs(2)), matrixLit(exprs(3)))),
    pqEncodeName -> ((exprs: Seq[Expression]) =>
      PqEncodeExpr(exprs.head, matrix3Lit(exprs(1)))),
    pqAdcName -> ((exprs: Seq[Expression]) =>
      PqAdcExpr(exprs.head, exprs(1), matrix3Lit(exprs(2)))),
    mgSummaryName -> ((exprs: Seq[Expression]) =>
      MisraGriesAgg(exprs.head, intLit(exprs(1))).toAggregateExpression()),
    bucketizeName -> ((exprs: Seq[Expression]) =>
      BucketizeExpr(exprs.head, vectorLit(exprs(1)))),
    registrableDomainName -> ((exprs: Seq[Expression]) =>
      RegistrableDomainExpr(exprs.head)),
    pctNormalizeName -> ((exprs: Seq[Expression]) =>
      PctNormalizeExpr(exprs.head)),
    bpeEncodeName -> ((exprs: Seq[Expression]) =>
      BpeEncodeExpr(exprs.head, strArrayLit(exprs(1)),
        strArrayLit(exprs(2)))),
    idnHostName -> ((exprs: Seq[Expression]) =>
      IdnHostExpr(exprs.head, exprs(1).eval(null) match {
        case b: Boolean => b
        case other => throw new IllegalArgumentException(
          s"expected boolean literal, got $other")
      })),
    rlikeCachedName -> ((exprs: Seq[Expression]) =>
      CachedRegexMatchExpr(exprs.head, exprs(1))),
    bpeEncodeBytesName -> ((exprs: Seq[Expression]) =>
      BpeEncodeBytesExpr(exprs.head, strArrayLit(exprs(1)),
        strArrayLit(exprs(2)))),
    bpePretokenizeName -> ((exprs: Seq[Expression]) =>
      BpePretokenizeExpr(exprs.head)),
    bpeDecodeBytesName -> ((exprs: Seq[Expression]) =>
      BpeDecodeBytesExpr(exprs.head)),
    langIdNgramName -> ((exprs: Seq[Expression]) =>
      if (exprs.size == 1) LangIdNgramExpr(exprs.head)
      else LangIdNgramExpr(exprs.head,
        Some(new LangIdTable(profileMapLit(exprs(1)))))),
    gopherSignalsName -> ((exprs: Seq[Expression]) =>
      if (exprs.size == 3)
        GopherSignalsExpr(exprs.head, intLit(exprs(1)), intLit(exprs(2)))
      else
        GopherSignalsExpr(exprs.head, intLit(exprs(1)), intLit(exprs(2)),
          Some(strArrayLit(exprs(3)).toSet))),
    cdcChunksName -> ((exprs: Seq[Expression]) =>
      CdcChunksExpr(exprs.head, intLit(exprs(1)), intLit(exprs(2)),
        intLit(exprs(3)))),
    cmsEstimateName -> ((exprs: Seq[Expression]) =>
      CmsEstimateExpr(exprs.head, exprs(1))),
    kllAggName -> ((exprs: Seq[Expression]) =>
      KllDoublesAgg(exprs.head, intLit(exprs(1))).toAggregateExpression()),
    kllUnionName -> ((exprs: Seq[Expression]) =>
      KllUnionAgg(exprs.head, intLit(exprs(1))).toAggregateExpression()),
    kllQuantilesName -> ((exprs: Seq[Expression]) =>
      KllQuantilesExpr(exprs.head, exprs(1))),
    kllRanksName -> ((exprs: Seq[Expression]) =>
      KllRanksExpr(exprs.head, exprs(1))),
    thetaAggName -> ((exprs: Seq[Expression]) =>
      ThetaSketchAgg(exprs.head, intLit(exprs(1))).toAggregateExpression()),
    thetaUnionName -> ((exprs: Seq[Expression]) =>
      ThetaUnionAgg(exprs.head, intLit(exprs(1))).toAggregateExpression()),
    thetaSetOpName -> ((exprs: Seq[Expression]) =>
      ThetaSetOpExpr(exprs.head, exprs(1), strLit(exprs(2)))),
    thetaEstimateName -> ((exprs: Seq[Expression]) =>
      ThetaEstimateExpr(exprs.head, intLit(exprs(1)))))

  /** Idempotently register the `graft_*` names for SQL text on a
    * session built without [[GraftExtensions]] (the Column helpers need
    * no registration): a name already bound to its builder (an earlier
    * call, or the session's [[GraftExtensions]]) is left as it is, so
    * repeated calls neither rebind nor log the registry's replacement
    * WARN. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(name))
          .contains(builder))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Native fused cosine. Inputs must be array<double> — cast
    * array<float> explicitly. */
  def cosineNative(a: Column, b: Column): Column =
    column(CosineSimilarityExpr(expression(a.cast("array<double>")),
      expression(b.cast("array<double>"))))

  /** Native sorted-distinct-array<bigint> Jaccard (the hashed-shingle
    * prefilter's per-candidate hot loop). */
  def sortedJaccardNative(a: Column, b: Column): Column =
    column(SortedJaccardExpr(expression(a), expression(b)))

  /** Native fused MinHash signature (array<bigint> of length numHashes). */
  def minhashNative(text: Column, numHashes: Int, shingleWords: Int): Column =
    column(MinHashSignatureExpr(expression(text), numHashes, shingleWords))

  /** Native fused 64-bit SimHash. */
  def simhashNative(text: Column): Column =
    column(SimHashExpr(expression(text)))

  /** Native distinct word-shingles (array<string>). */
  def shinglesNative(text: Column, shingleWords: Int): Column =
    column(WordShinglesExpr(expression(text), shingleWords))

  /** Native hyperplane-LSH bucket (bit-exact with the HOF form). */
  def hyperplaneBucketNative(v: Column, planes: Int): Column =
    column(HyperplaneBucketExpr(expression(v.cast("array<double>")), planes))

  /** Native winnowing fingerprint set (bit-exact with the HOF form). */
  def winnowNative(text: Column, shingleWords: Int, window: Int): Column =
    column(WinnowingExpr(expression(text), shingleWords, window))

  /** Unicode normalization; `form` one of NFC/NFD/NFKC/NFKD. */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    column(UnicodeNormalizeExpr(expression(text), form))

  /** HTML character-reference decode (named + numeric, single-pass). */
  def htmlEntitiesNative(text: Column): Column =
    column(HtmlEntityDecodeExpr(expression(text)))

  /** Mojibake repair (UTF-8 mis-decoded as Latin-1/cp1252, ≤3 passes). */
  def fixMojibakeNative(text: Column): Column =
    column(MojibakeRepairExpr(expression(text)))

  /** Char-ngram language ID (compiled-in 50-language profile table;
    * same scoring as TextAnalysis.langIdCharNgram, one call per
    * row). */
  def langIdNgramNative(text: Column): Column =
    column(LangIdNgramExpr(expression(text)))

  /** Char-ngram language ID against a CALLER-SUPPLIED profile table
    * (e.g. `TextAnalysis.loadNgramProfiles` output) — the table rides
    * as a codegen reference object, so widening to fastText-breadth
    * language sets costs neither a recompile of this library nor a
    * Janino recompile of the query. */
  def langIdNgramNative(text: Column,
                        profiles: Map[String, Seq[String]]): Column =
    column(LangIdNgramExpr(expression(text), Some(new LangIdTable(profiles))))

  /** Gopher rule signals as one native struct (fields per
    * [[GopherSignalsExpr.schema]]); parity with the HOF form is
    * property-tested. */
  def gopherSignalsNative(text: Column, minWords: Int,
                          maxWords: Int): Column =
    column(GopherSignalsExpr(expression(text), minWords, maxWords))

  /** Gopher signals with a CALLER-SUPPLIED function-word list (the
    * data-driven form — the list rides as a codegen reference
    * object, so retuning it is a table swap, not a recompile). */
  def gopherSignalsNative(text: Column, minWords: Int, maxWords: Int,
                          functionWords: Seq[String]): Column =
    column(GopherSignalsExpr(expression(text), minWords, maxWords,
      Some(functionWords.toSet)))

  /** Content-defined chunks of a text column —
    * `array<struct<hash, start, len>>` (FastCDC gear construction;
    * byte offsets). */
  def cdcChunksNative(text: Column, minSize: Int, avgSize: Int,
                      maxSize: Int): Column =
    column(CdcChunksExpr(expression(text), minSize, avgSize, maxSize))

  /** Bloom-filter aggregate over a long-hash column → binary sketch. */
  def bloomAggNative(hash: Column, expectedItems: Long,
                     numBits: Long): Column =
    column(new BloomFilterAggregate(expression(hash), Literal(expectedItems),
      Literal(numBits)).toAggregateExpression())

  /** Membership probe against a (constant) Bloom sketch. */
  def bloomMightContain(bloom: Column, hash: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(hash)))

  /** Per-row membership probe — the sketch is a COLUMN (manifest
    * rows); see [[BloomProbeExpr]] for when to prefer which. */
  def bloomProbe(bloom: Column, hash: Column): Column =
    column(BloomProbeExpr(expression(bloom), expression(hash)))

  /** Fused nearest-centroid cell assignment (bit-exact with the
    * greatest-of-structs form, larger cell wins cosine ties). */
  def nearestCentroidNative(v: Column,
                            centroids: Seq[Seq[Double]]): Column =
    column(NearestCentroidExpr(expression(v.cast("array<double>")),
      centroids.map(_.toArray).toArray))

  /** Fused TWO-LEVEL cell assignment: coarse argmax over ~√nlist
    * groups, fine argmax over only that group's member centroids —
    * O(√nlist · dim) per row vs the flat form's O(nlist · dim). See
    * [[NearestCentroidTwoLevelExpr]] for the approximation contract
    * (deterministic; bit-exact with the flat form when one group
    * holds every centroid). */
  def nearestCentroidTwoLevelNative(v: Column, coarse: Seq[Seq[Double]],
                                    members: Seq[Seq[Int]],
                                    centroids: Seq[Seq[Double]]): Column =
    column(NearestCentroidTwoLevelExpr(expression(v.cast("array<double>")),
      coarse.map(_.toArray).toArray, members.map(_.toArray).toArray,
      centroids.map(_.toArray).toArray))

  /** Fused PQ encode: per-subspace L2-argmin codes (bit-exact with the
    * least-of-structs form, smaller code wins distance ties). */
  def pqEncodeNative(v: Column,
                     codebooks: Seq[Seq[Seq[Double]]]): Column =
    column(PqEncodeExpr(expression(v.cast("array<double>")),
      codebooks.map(_.map(_.toArray).toArray).toArray))

  /** Fused ADC inner product of a query vector against PQ codes
    * (bit-exact with the HOF slice/element_at composition). */
  def pqAdcNative(q: Column, codes: Column,
                  codebooks: Seq[Seq[Seq[Double]]]): Column =
    column(PqAdcExpr(expression(q.cast("array<double>")), expression(codes),
      codebooks.map(_.map(_.toArray).toArray).toArray))

  /** Misra–Gries frequent-items summary aggregate →
    * `array<struct<item, cnt>>` (cnt desc, item asc); at most
    * `capacity` entries regardless of input cardinality. */
  def mgSummaryNative(item: Column, capacity: Int): Column =
    column(MisraGriesAgg(expression(item), capacity).toAggregateExpression())

  /** Count-Min point estimate for `key` (bigint or string) against a
    * `count_min_sketch`-built binary sketch column. */
  def cmsEstimateNative(sketch: Column, key: Column): Column =
    column(CmsEstimateExpr(expression(sketch), expression(key)))

  /** Mergeable KLL quantile sketch aggregate over a double column →
    * compact binary (persist one row per group; union later). */
  def kllAggNative(value: Column, k: Int = 200): Column =
    column(KllDoublesAgg(expression(value.cast("double")), k)
      .toAggregateExpression())

  /** Union of persisted KLL sketch binaries → one merged binary;
    * pass the k the logs were built with. */
  def kllUnionNative(sketch: Column, k: Int = 200): Column =
    column(KllUnionAgg(expression(sketch), k).toAggregateExpression())

  /** Quantile estimates (INCLUSIVE criterion) for a rank vector
    * against a KLL sketch binary; rank -1.0 probes exact N. */
  def kllQuantilesNative(sketch: Column, ranks: Seq[Double]): Column =
    column(KllQuantilesExpr(expression(sketch), Literal.create(ranks)))

  /** Normalized-rank (CDF) estimates for a VALUE vector against a
    * KLL sketch binary — the inverse probe of [[kllQuantilesNative]]. */
  def kllRanksNative(sketch: Column, values: Seq[Double]): Column =
    column(KllRanksExpr(expression(sketch), Literal.create(values)))

  /** Mergeable theta sketch aggregate over a bigint/string key
    * column → compact binary (persist one row per group; set-ops
    * later). */
  def thetaAggNative(key: Column, lgK: Int = 12): Column =
    column(ThetaSketchAgg(expression(key), lgK).toAggregateExpression())

  /** Union of persisted theta sketch binaries → one merged binary;
    * pass the lgK the logs were built with. */
  def thetaUnionNative(sketch: Column, lgK: Int = 12): Column =
    column(ThetaUnionAgg(expression(sketch), lgK).toAggregateExpression())

  /** Set operation over two theta sketch binaries → result sketch
    * binary; op ∈ intersect/anotb/union. */
  def thetaSetOpNative(a: Column, b: Column, op: String): Column =
    column(ThetaSetOpExpr(expression(a), expression(b), op))

  /** Probe a theta sketch binary → array(lower, estimate, upper) at
    * numStdDev std-devs (exact mode: all three == true count). */
  def thetaEstimateNative(sketch: Column, numStdDev: Int = 3): Column =
    column(ThetaEstimateExpr(expression(sketch), numStdDev))

  /** Rank bucket id = number of sorted `boundaries` ≤ value (binary
    * search; boundaries ride as a codegen reference object). */
  def bucketizeNative(v: Column, boundaries: Seq[Double]): Column =
    column(BucketizeExpr(expression(v.cast("double")), boundaries.toArray))

  /** PSL registrable domain of a bare host (lowercased; identity for
    * bare public suffixes and malformed hosts). */
  def registrableDomainNative(host: Column): Column =
    column(RegistrableDomainExpr(expression(host)))

  /** Greedy BPE encode (array<string> of subwords); `merges` applied
    * in rank order. Caller lowers/trims the input to taste. */
  def bpeEncodeNative(text: Column, merges: Seq[(String, String)])
      : Column =
    column(BpeEncodeExpr(expression(text), merges.map(_._1).toArray,
      merges.map(_._2).toArray))

  /** Byte-level (GPT-2-style) BPE encode of RAW text — do not lower
    * or trim; case and whitespace are carried in the symbols. */
  def bpeEncodeBytesNative(text: Column, merges: Seq[(String, String)])
      : Column =
    column(BpeEncodeBytesExpr(expression(text), merges.map(_._1).toArray,
      merges.map(_._2).toArray))

  /** GPT-2 regex pre-tokens of raw text (array<string>). */
  def bpePretokenizeNative(text: Column): Column =
    column(BpePretokenizeExpr(expression(text)))

  /** Byte-level BPE decode: subword array → original text (exact
    * inverse of [[bpeEncodeBytesNative]] for any merge list). */
  def bpeDecodeBytesNative(tokens: Column): Column =
    column(BpeDecodeBytesExpr(expression(tokens)))

  /** IDN host normalization: ACE→Unicode (`toAscii = false`) or
    * Unicode→ACE (`toAscii = true`), lowercased; bad hosts pass
    * through lowercased-verbatim. */
  def idnHostNative(host: Column, toAscii: Boolean): Column =
    column(IdnHostExpr(expression(host), toAscii))

  /** RFC 3986 percent-encoding normalization (decode unreserved,
    * uppercase remaining hex; malformed escapes verbatim). */
  def pctNormalizeNative(text: Column): Column =
    column(PctNormalizeExpr(expression(text)))

  /** `regexp_like` over a pattern COLUMN with a shared compiled-pattern
    * cache — per-pattern compile instead of per-row (see [[RegexCache]]). */
  def rlikeCached(s: Column, pattern: Column): Column =
    column(CachedRegexMatchExpr(expression(s), expression(pattern)))
}
