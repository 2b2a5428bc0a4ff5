package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * One fused loop computes dot(a,b), |a|² and |b|² per row — replacing
  * three separate higher-order-function folds (each of which allocates an
  * intermediate array via `zip_with`/`transform`). Stays inside
  * whole-stage codegen, so the ANN scoring loop (s1/s2/d5) is a tight
  * branch-free Java loop over Tungsten array data.
  *
  * Accumulation order is the exact left-to-right double fold of the HOF
  * formulation and of the DuckDB `list_reduce` oracle mirror
  * (graft.operators.VectorOps), so results are bit-identical across all
  * three implementations — required by the hash-compare oracle gate.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override val nullIntolerant: Boolean = true

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getFloat(i).toDouble
      val y = ys.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd dot product over two `array<float>` columns, in
  * double — the fused-loop sibling of [[CosineSim]] without the norm
  * division. Accumulation is the zero-seeded left-to-right double fold
  * of the HOF spelling (`aggregate(zip_with(...))`) and of the DuckDB
  * `list_reduce` mirror (graft.operators.VectorOps.sqlDot), so values
  * are bit-identical across engines. Used by the s6 PQ quantizer for
  * vector norms and slice self-dots. */
case class DotProd(left: Expression, right: Expression)
    extends BinaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_prod"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += xs.getFloat(i).toDouble * ys.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProd =
    copy(left = newLeft, right = newRight)
}

/** `dot_at(a, pos, b) -> double` — dot product of the length-|b| slice
  * of `a` starting at 0-based `pos` with `b`, zero-seeded left fold in
  * double. The allocation-free primitive of the s6 PQ scorer: scoring a
  * 64-dim vector against 8 subspaces × 16 codewords is 128 `dot_at`
  * calls that each walk the Tungsten array data in place — a `slice()`
  * spelling would allocate 128 sub-arrays per row. `pos` must be an
  * integer literal (it selects the subspace at plan time). Mirrored in
  * DuckDB by a `generate_series(1, |b|)` fold over `a[pos + i]`. */
case class DotAt(left: Expression, pos: Int, right: Expression)
    extends BinaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_at"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements() - pos, ys.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += xs.getFloat(pos + i).toDouble * ys.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements() - $pos, $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($pos + $i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotAt =
    copy(left = newLeft, right = newRight)
}

/** `pq_encode(embedding, flat_codebook) -> array<int>` — the s6/s7
  * product-quantizer encoder as ONE fused kernel: per 8-dim subspace,
  * the argmin-score codeword id (ties to the lower id), where
  * score(m,c) = ‖c‖² − 2·(x_m·c)/‖x‖ — the same zero-seeded left folds
  * as the composed `array_min(array(named_struct(...)))` spelling and
  * the DuckDB oracle, so the chosen codes are identical. The composed
  * spelling built 128 structs per row through interpreted comparators
  * (measured 20.7s for a 200k-row encode); this kernel is one
  * branch-free walk over the Tungsten arrays inside whole-stage
  * codegen. The codebook argument is the [[PqEncodeKernel.M]]×K×D
  * flattened float literal, constant-folded into the plan. */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqEncodeKernel.codes(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PqEncodeKernel.codes($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** `ivf_rank_cells(embedding, flat_centroids) -> array<int>` — the
  * coarse-quantizer cell ids ranked by [[IvfRankCellsKernel.select]]'s
  * (cosine DESC, id DESC, NaN highest) rule, the order Spark's struct
  * `array_max`/`array_sort` gives (cos, id) structs and DuckDB's
  * `ORDER BY ccos DESC, cid DESC` gives rows: cell = element 1, probe
  * list = the first nprobe. `dim` is the centroid stride: the library
  * builds the expression with the trained centroids' dim
  * (graft.operators.Similarity.ivfRankCol); the two-argument SQL form
  * assumes [[IvfRankCellsKernel.D]]. Cosines use the [[CosineSim]]
  * fold over min(|embedding|, dim) components, so scores are
  * bit-identical to `cosine_sim` and the DuckDB oracle. */
case class IvfRankCells(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "ivf_rank_cells"

  override def nullSafeEval(a: Any, b: Any): Any =
    IvfRankCellsKernel.rank(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.IvfRankCellsKernel.rank($a, $b, $dim)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfRankCells =
    copy(left = newLeft, right = newRight)
}

object IvfRankCellsKernel {
  /** The fixed 16-cell, 64-dim family of the gate corpora; `D` is the
    * stride the two-argument SQL forms assume. */
  val K = 16; val D = 64
  /** Ranks emitted per row: no caller probes deeper than 16, and the
    * partial selection keeps a row's cost O(16·k) however large a
    * corpus-scaled cell count grows. */
  val Emit = 16

  /** True iff cell `i` at cosine `ci` ranks before cell `j` at `cj`:
    * cosine DESC, then id DESC, with NaN (a zero-norm vector or
    * centroid) above every number and equal to itself — Spark's double
    * ordering, under which -0.0 equals 0.0. */
  def above(ci: Double, i: Int, cj: Double, j: Int): Boolean = {
    val c = if (ci == cj) 0 else java.lang.Double.compare(ci, cj)
    c > 0 || (c == 0 && i > j)
  }

  /** The first min(n, emit) of cells `ids(0 until n)` at cosines
    * `cos(0 until n)`, in [[above]] order — the one cell-ranking
    * selection. A partial selection sort: O(emit·n) per call. */
  def select(cos: Array[Double], ids: Array[Int], n: Int,
      emit: Int): Array[Int] = {
    val m = math.min(n, emit)
    val out = new Array[Int](m)
    val used = new Array[Boolean](n)
    var r = 0
    while (r < m) {
      var best = -1
      var j = 0
      while (j < n) {
        if (!used(j) &&
            (best < 0 || above(cos(j), ids(j), cos(best), ids(best))))
          best = j
        j += 1
      }
      used(best) = true
      out(r) = ids(best)
      r += 1
    }
    out
  }

  /** [[select]] over cells `0 until cos.length`. */
  def select(cos: Array[Double], emit: Int): Array[Int] =
    select(cos, Array.range(0, cos.length), cos.length, emit)

  /** Cosine of `emb` with centroid `c` of the flat array `cents`
    * (stride `dim`): the [[CosineSim]] fold. */
  def cosine(emb: ArrayData, cents: ArrayData, c: Int, dim: Int): Double = {
    val n = math.min(emb.numElements(), dim)
    val base = c * dim
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble
      val y = cents.getFloat(base + i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosines of `emb` with every centroid of `cents`. */
  def cosines(emb: ArrayData, cents: ArrayData, dim: Int): Array[Double] = {
    val cos = new Array[Double](cents.numElements() / dim)
    var c = 0
    while (c < cos.length) { cos(c) = cosine(emb, cents, c, dim); c += 1 }
    cos
  }

  def rank(emb: ArrayData, cents: ArrayData, dim: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      select(cosines(emb, cents, dim), Emit))
}

/** `ivf_rank_cells2(embedding, coarse_flat, fine_flat, fine_coarse, cp)
  * -> array<int>` — TWO-LEVEL cell ranking, the FAISS-IMI shape for
  * corpus-scaled quantizers: rank the ~√K coarse centroids, keep the
  * top `cp` coarse buckets, then rank ONLY the fine cells assigned to
  * those buckets — both by [[IvfRankCellsKernel.select]]'s rule.
  * [[IvfRankCells]] pays O(K) cosines per row — with K scaled as n/128
  * (s12's fixed-occupancy rule) that rank term is O(n²/128) across the
  * corpus, the one super-linear residual of round 14; this kernel pays
  * O(√K·(1+cp)) per row. `fine_coarse` maps fine cell id -> coarse
  * bucket id (trained driver-side, inlined as a literal next to both
  * centroid arrays). When cp >= #coarse buckets every fine cell is a
  * candidate and the ranking EQUALS the flat [[IvfRankCells]] order —
  * the gate corpora sit in that regime (spec-pinned), so the
  * restriction only engages where the corpus-scaled K grows. `dim` is
  * the centroid stride, as for [[IvfRankCells]]; the DuckDB oracle
  * replays the identical coarse→restrict→fine rule with all three
  * literals inlined. */
case class IvfRankCells2(first: Expression, second: Expression,
    third: Expression, fourth: Expression, cp: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "ivf_rank_cells2"

  override def nullSafeEval(e: Any, co: Any, fi: Any, mp: Any): Any =
    IvfRankCells2Kernel.rank(e.asInstanceOf[ArrayData],
      co.asInstanceOf[ArrayData], fi.asInstanceOf[ArrayData],
      mp.asInstanceOf[ArrayData], cp, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, co, fi, mp) =>
      s"graft.functions.IvfRankCells2Kernel.rank($e, $co, $fi, $mp, $cp, $dim)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): IvfRankCells2 =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

object IvfRankCells2Kernel {
  import IvfRankCellsKernel.{Emit, cosine, cosines, select}

  def rank(emb: ArrayData, coarse: ArrayData, fine: ArrayData,
      fineCoarse: ArrayData, cp: Int, dim: Int): ArrayData = {
    val coarseCos = cosines(emb, coarse, dim)
    val top = select(coarseCos, cp)
    val sel = new Array[Boolean](coarseCos.length)
    top.foreach(sel(_) = true)
    // fine cosines only for cells in a selected coarse bucket — the
    // whole point: unselected cells never pay a cosine — and the rank
    // selection walks the CANDIDATE list, not all k cells (a per-rank
    // O(k) scan would hand back much of the cosine saving)
    val k = fine.numElements() / dim
    val candIdx = new Array[Int](k)
    val candCos = new Array[Double](k)
    var cnt = 0
    var c = 0
    while (c < k) {
      if (sel(fineCoarse.getInt(c))) {
        candIdx(cnt) = c
        candCos(cnt) = cosine(emb, fine, c, dim)
        cnt += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      select(candCos, candIdx, cnt, Emit))
  }
}

object PqEncodeKernel {
  /** Geometry must match graft.operators.Similarity.{PqM, PqK, PqSubDim}
    * (asserted there at codebook-literal build time). */
  val M = 8; val K = 16; val D = 8

  def codes(emb: ArrayData, cb: ArrayData): ArrayData = {
    val n = math.min(emb.numElements(), M * D)
    var ss = 0.0
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble; ss += x * x; i += 1
    }
    val nrm = math.sqrt(ss)
    val out = new Array[Int](M)
    var m = 0
    while (m < M) {
      var best = 0; var bestS = Double.MaxValue
      var c = 0
      while (c < K) {
        val base = (m * K + c) * D
        var cn = 0.0; var dot = 0.0
        var j = 0
        while (j < D) {
          val w = cb.getFloat(base + j).toDouble
          cn += w * w
          dot += emb.getFloat(m * D + j).toDouble * w
          j += 1
        }
        val sc = cn - 2.0 * (dot / nrm)
        if (sc < bestS) { bestS = sc; best = c }
        c += 1
      }
      out(m) = best
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `hyperplane_bucket(array<float>, nplanes) -> int` — random-hyperplane
  * LSH bucket: bit j of the result is the sign of the projection of the
  * vector onto deterministic ±1 hyperplane j (weights from
  * [[HyperplaneWeights]]). Accumulation is the left-to-right double fold
  * of the HOF spelling in graft.operators.Similarity and its DuckDB
  * mirror — bit-identical across all three. */
case class HyperplaneBucket(left: Expression, right: Expression)
    extends BinaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "hyperplane_bucket"

  override def nullSafeEval(a: Any, b: Any): Any =
    HyperplaneBucket.bucket(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HyperplaneBucket.bucket($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneBucket =
    copy(left = newLeft, right = newRight)
}

/** The deterministic ±1 hyperplane family shared by hyperplane_bucket
  * (s2) and hyperplane_band_keys (d5), and mirrored in the Spark-HOF and
  * DuckDB spellings:
  *
  *   x(i, p) = i·2654435761 + (p+1)·40503 + i·(p+1)·69069
  *   w(i, p) = +1  iff  (((x XOR (x >> 17)) >> 3) AND 1) = 1
  *
  * over 1-indexed components i and 0-indexed planes p. The i·(p+1) cross
  * term plus the xorshift avalanche matter: the round-1 family
  * (((i-1)·31 + p·17) mod 7 < 3) is PERIODIC with period 7 in BOTH i and
  * p — only 7 distinct hyperplanes exist in it, so any bucketing wider
  * than 7 bits silently collapses to ≤128 effective buckets and the
  * within-bucket join goes quadratic no matter how many bits are
  * requested (measured: the d5 10× probe went super-linear before this
  * fix). This family gives ≥96 distinct planes with pairwise |corr|
  * ≈ 0.08 — indistinguishable from ideal random signs on the bucket
  * occupancy it induces. */
object HyperplaneWeights {
  def weight(i: Int, p: Int): Double = {
    val x = i.toLong * 2654435761L + (p + 1).toLong * 40503L +
      i.toLong * (p + 1).toLong * 69069L
    val mixed = x ^ (x >> 17)
    if (((mixed >> 3) & 1L) == 1L) 1.0 else -1.0
  }

  /** Spark-SQL fragment for w(i, p) given SQL expressions for the
    * 1-indexed component `i` and 0-indexed plane `p`. */
  def sparkSql(i: String, p: String): String = {
    val x = s"(($i) * CAST(2654435761 AS BIGINT) + (($p) + 1) * 40503" +
      s" + ($i) * (($p) + 1) * 69069)"
    s"IF(((shiftright($x ^ shiftright($x, 17), 3)) & 1) = 1," +
      " CAST(1 AS DOUBLE), CAST(-1 AS DOUBLE))"
  }

  /** DuckDB fragment for w(i, p) (same conventions). */
  def duckSql(i: String, p: String): String = {
    val x = s"(($i) * 2654435761 + (($p) + 1) * 40503" +
      s" + ($i) * (($p) + 1) * 69069)"
    s"(CASE WHEN ((xor($x, $x >> 17) >> 3) & 1) = 1" +
      " THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"
  }
}

object HyperplaneBucket {
  def bucket(v: org.apache.spark.sql.catalyst.util.ArrayData,
             nPlanes: Int): Int = {
    val n = v.numElements()
    var out = 0
    var j = 0
    while (j < nPlanes) {
      var proj = 0.0
      var i = 1
      while (i <= n) {
        proj += v.getFloat(i - 1).toDouble * HyperplaneWeights.weight(i, j)
        i += 1
      }
      if (proj > 0) out |= (1 << j)
      j += 1
    }
    out
  }
}

/** `hyperplane_band_keys(array<float>, nBands, bitsPerBand) -> array<int>`
  * — banded random-hyperplane sign-LSH: band B's key has bit j set iff
  * the projection onto deterministic ±1 hyperplane p = B·bitsPerBand + j
  * is strictly positive, with the shared [[HyperplaneWeights]] family —
  * so `hyperplane_band_keys(v, 1, k)[0] == hyperplane_bucket(v, k)`.
  *
  * One fused pass emits every band key; call sites consume the array
  * through a single posexplode reference so CollapseProject cannot
  * re-evaluate the projections per band (the d2 minhash_band_keys
  * pattern). Used by the embedding near-dup blocker
  * (graft.operators.Dedup.d5Embedding): bitsPerBand scales with corpus
  * size there, keeping expected bucket occupancy O(1). */
case class HyperplaneBandKeys(child: Expression, nBands: Int, bitsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "hyperplane_band_keys"

  override def nullSafeEval(a: Any): Any =
    HyperplaneBandKeys.bandKeys(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      nBands, bitsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.HyperplaneBandKeys.bandKeys(
         |  $a, $nBands, $bitsPerBand);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBandKeys = copy(child = newChild)
}

object HyperplaneBandKeys {
  def bandKeys(v: org.apache.spark.sql.catalyst.util.ArrayData,
               nBands: Int, bits: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Int](nBands)
    var band = 0
    while (band < nBands) {
      var key = 0
      var j = 0
      while (j < bits) {
        val p = band * bits + j
        var proj = 0.0
        var i = 1
        while (i <= n) {
          proj += v.getFloat(i - 1).toDouble * HyperplaneWeights.weight(i, p)
          i += 1
        }
        if (proj > 0) key |= (1 << j)
        j += 1
      }
      out(band) = key
      band += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Registry for graft's native SQL functions. Idempotent — every operator
  * that needs a function calls [[GraftFunctions.register]] with its
  * session first, so the functions exist no matter who built the session
  * (graft.GraftSession, the round driver, or a user's own builder). */
object GraftFunctions {
  /** Scalar parameters of the kernel functions (shingle width, band
    * counts) are Scala constructor args, not child expressions, so they
    * must be literal INTs at registration time. Checked explicitly: the
    * raw `eval().asInstanceOf[Int]` spelling turned a column reference
    * or a long literal (`word_shingles(toks, 8L)`) into an opaque eval
    * error / ClassCastException instead of naming the function and the
    * expected argument shape. */
  private[functions] def litInt(fn: String, arg: String, e: Expression): Int =
    if (e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType)
      e.eval().asInstanceOf[Int]
    else throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal (e.g. $fn(..., 8)), got " +
        s"${if (e.foldable) s"a ${e.dataType.simpleString} literal"
        else s"a non-literal expression (${e.sql})"}")

  /** Every native SQL function as (identifier, info, builder): the one
    * list both install paths iterate — [[register]] per session, and
    * [[GraftExtensions]] at session build. */
  private[functions] val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = {
    def f(name: String, clazz: Class[_])(
        builder: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
        builder)
    Seq(
      f("cosine_sim", classOf[CosineSim])(cs => CosineSim(cs(0), cs(1))),
      f("dot_prod", classOf[DotProd])(cs => DotProd(cs(0), cs(1))),
      f("pq_encode", classOf[PqEncode])(cs => PqEncode(cs(0), cs(1))),
      f("ivf_rank_cells", classOf[IvfRankCells])(cs =>
        IvfRankCells(cs(0), cs(1), IvfRankCellsKernel.D)),
      f("ivf_rank_cells2", classOf[IvfRankCells2])(cs =>
        IvfRankCells2(cs(0), cs(1), cs(2), cs(3),
          litInt("ivf_rank_cells2", "cp", cs(4)), IvfRankCellsKernel.D)),
      f("dot_at", classOf[DotAt])(cs =>
        DotAt(cs(0), litInt("dot_at", "pos", cs(1)), cs(2))),
      f("simhash60", classOf[SimHash60])(cs => SimHash60(cs(0))),
      f("payload_simhash", classOf[PayloadSimhash])(cs =>
        PayloadSimhash(cs(0))),
      f("minhash_min", classOf[MinHashMin])(cs => MinHashMin(cs(0), cs(1))),
      f("minhash_sig", classOf[MinHashSig])(cs => MinHashSig(cs(0), cs(1))),
      f("minhash_band_keys", classOf[MinHashBandKeys])(cs =>
        MinHashBandKeys(cs(0),
          litInt("minhash_band_keys", "num_hashes", cs(1)),
          litInt("minhash_band_keys", "bands", cs(2)))),
      f("roll_hash", classOf[RollHash])(cs => RollHash(cs(0))),
      f("word_shingles", classOf[WordShingles])(cs => WordShingles(cs(0),
        if (cs.length > 1) litInt("word_shingles", "width", cs(1)) else 3)),
      f("char_shingles", classOf[CharShingles])(cs => CharShingles(cs(0),
        if (cs.length > 1) litInt("char_shingles", "width", cs(1)) else 2)),
      f("hyperplane_bucket", classOf[HyperplaneBucket])(cs =>
        HyperplaneBucket(cs(0), cs(1))),
      f("hyperplane_band_keys", classOf[HyperplaneBandKeys])(cs =>
        HyperplaneBandKeys(cs(0),
          litInt("hyperplane_band_keys", "bands", cs(1)),
          litInt("hyperplane_band_keys", "bits_per_band", cs(2)))),
      f("count_in", classOf[CountTokensIn])(cs =>
        CountTokensIn(cs(0), cs(1))),
      f("pii_scrub", classOf[PiiScrub])(cs => PiiScrub(cs(0))),
      f("hll_sketch", classOf[HllSketchAgg])(cs => HllSketchAgg(cs(0))),
      f("nfc_normalize", classOf[NfcNormalize])(cs => NfcNormalize(cs(0))),
      f("url_canon", classOf[UrlCanon])(cs => UrlCanon(cs(0))),
      f("t17_bigram_keys", classOf[T17BigramKeys])(cs =>
        T17BigramKeys(cs(0), litInt("t17_bigram_keys", "buckets", cs(1)))))
  }

  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
