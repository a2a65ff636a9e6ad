package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions with real `doGenCode` for the numeric
  * hot paths the built-in higher-order functions can't serve:
  * `aggregate`/`transform`/`zip_with` are CodegenFallback — evaluated
  * interpreted, per row, with closure + array allocation — which makes
  * an all-pairs 64-dim dot product ~50× slower than a fused loop.
  * These expressions generate tight Java loops over `ArrayData`
  * (no intermediate arrays) and stay inside whole-stage codegen.
  *
  * Element nulls: embedding vectors and token-hash arrays are built
  * null-free upstream (cast/xxhash64 never emit null elements), so the
  * loops skip per-element null checks — documented contract, matching
  * the oracle's list functions which also treat lists as dense.
  */
object VecExprs {

  /** Analysis-time input check for the loops below, which read raw
    * `ArrayData` slots: an `array<float>` fed to a getDouble-loop would
    * silently read wrong bytes, so misuse must fail in the analyzer,
    * not produce garbage. (Spark's `ExpectsInputTypes` mixin is
    * private[sql]; this is the same contract spelled by hand.) */
  private[functions] def expectArrays(fn: String,
      args: (Expression, DataType)*): TypeCheckResult =
    args.zipWithIndex.collectFirst {
      case ((e, elem), i) if (e.dataType match {
            case ArrayType(et, _) => et != elem // nullability-insensitive
            case _                => true
          }) =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn argument ${i + 1} requires array<${elem.simpleString}>, " +
            s"got ${e.dataType.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** Σ aᵢ·bᵢ over two array<double> columns — sequential left-to-right
    * accumulation, the same summation order as `aggregate(zip_with(..))`
    * and DuckDB's `list_dot_product`, so results are bit-identical to
    * both. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, left -> DoubleType, right -> DoubleType)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      // equal lengths required: a silent min()-truncation returns a
      // plausible but WRONG sum for a corrupt/mixed-dim embedding
      // column (and the HOF spelling this claims bit-identity with
      // yields NULL there, not the truncated sum) — fail loud instead
      if (n != y.numElements())
        throw new IllegalArgumentException(
          s"graft_dot: length mismatch ($n vs ${y.numElements()})")
      var s = 0.0; var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "graft_dot: length mismatch (" + $n + " vs " + $b.numElements() + ")");
           |}
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)
  }

  /** Thread-confined MD5 instance for [[Md5Long]] — getInstance per
    * row would dominate the hash itself. */
  @transient private lazy val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Signed 64-bit value of the FIRST 8 MD5 BYTES of a string — D4's
    * token-bit contract (bit-identical to the first 16 md5 hex chars
    * the DuckDB oracle re-derives). Fused replacement for the
    * md5 → hex string → conv → decimal → wrap built-in chain: same
    * bits, but no 32-char hex materialization, no base-16 parse, no
    * decimal arithmetic — the digest bytes fold straight into the
    * long (measured ~3× cheaper on the simhash scan). */
  case class Md5Long(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_md5long"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType.simpleString}")

    def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
      val md = md5Local.get(); md.reset()
      val d = md.digest(s.getBytes)
      ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
      ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
      ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8)  |  (d(7) & 0xFFL)
    }

    override def nullSafeEval(input: Any): Any =
      hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("md5LongExpr", this, classOf[Md5Long].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.hash($a);")
    }

    override protected def withNewChildInternal(c: Expression): Md5Long =
      copy(child = c)
  }

  /** 64-bit SimHash over an array<long> of token hashes: bit j of the
    * result is set iff a strict majority of hashes have bit j set
    * (`2·ones > n`), the standard Charikar construction. One fused
    * loop: per hash, increment 64 counters. */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> LongType)

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val counts = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = hs.getLong(i); var j = 0
        while (j < 64) { counts(j) += ((h >>> j) & 1L).toInt; j += 1 }
        i += 1
      }
      var sim = 0L; var j = 0
      while (j < 64) { if (2 * counts(j) > n) sim |= (1L << j); j += 1 }
      sim
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n"); val counts = ctx.freshName("counts")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val h = ctx.freshName("h"); val sim = ctx.freshName("sim")
        s"""
           |int $n = $a.numElements();
           |int[] $counts = new int[64];
           |for (int $i = 0; $i < $n; $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $j = 0; $j < 64; $j++) { $counts[$j] += (int)(($h >>> $j) & 1L); }
           |}
           |long $sim = 0L;
           |for (int $j = 0; $j < 64; $j++) { if (2 * $counts[$j] > $n) $sim |= (1L << $j); }
           |${ev.value} = $sim;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(child = c)
  }

  /** k-slot MinHash signature over an array<long> of shingle hashes:
    * slot i is min over shingles of xxh64(hash, seed = i) — k
    * independent permutation approximations from one stored hash per
    * shingle. Returns array<long> of length k (slots stay at
    * Long.MaxValue for an empty shingle set, a sentinel no real hash
    * collides with in practice). */
  case class MinHashSig(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> LongType)

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val sig = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = hs.getLong(i); var s = 0
        while (s < k) {
          val v = XXH64.hashLong(h, s)
          if (v < sig(s)) sig(s) = v
          s += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n"); val sig = ctx.freshName("sig")
        val i = ctx.freshName("i"); val s = ctx.freshName("s")
        val h = ctx.freshName("h"); val v = ctx.freshName("v")
        val xxh = classOf[XXH64].getName
        s"""
           |int $n = $a.numElements();
           |long[] $sig = new long[$k];
           |java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |for (int $i = 0; $i < $n; $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $s = 0; $s < $k; $s++) {
           |    long $v = $xxh.hashLong($h, (long) $s);
           |    if ($v < $sig[$s]) $sig[$s] = $v;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): MinHashSig =
      copy(child = c)
  }

  /** k-slot MinHash signature DIRECTLY from the token array with
    * md5-DERIVED slot hashes — D2/D7's oracle-recomputable signature
    * (the D4 [[graft.operators.Dedup.md5Hash64]] move applied to
    * minhash): gram i is tokens (i, i+1, i+2) joined with ' ' — the
    * exact string the DuckDB mirror md5s — its digest's first/second
    * 8 bytes (big-endian) are h1/h2, and slot s draws
    * v_s = (h1 + s·h2) >>> 1, Kirsch–Mitzenmacher double hashing
    * (ESA 2006: two base hashes give k pairwise-independent-enough
    * permutations). The >>> 1 keeps every slot value non-negative, so
    * the signed Long min here ≡ the mirror's non-negative HUGEINT min
    * (DuckDB has no wrapping 64-bit signed arithmetic; it recomputes
    * (h1 + s·h2) mod 2⁶⁴ ÷ 2 in HUGEINT). sig[s] = min over grams —
    * duplicate grams can't move a min, so no distinct pass is needed.
    * One md5 per gram replaces the xxh64 chain + k hashLong calls of
    * the retired xxh64 spelling. Slots stay Long.MaxValue for < 3
    * tokens; callers filter those docs (no grams = no signature). */
  case class MinHashSigMd5(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_md5"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> StringType)

    def sig(toks: ArrayData): GenericArrayData = {
      val n = toks.numElements()
      val out = Array.fill(k)(Long.MaxValue)
      if (n >= 3) {
        val md = md5Local.get()
        var i = 0
        while (i < n - 2) {
          md.reset()
          md.update(toks.getUTF8String(i).getBytes)
          md.update(' '.toByte)
          md.update(toks.getUTF8String(i + 1).getBytes)
          md.update(' '.toByte)
          md.update(toks.getUTF8String(i + 2).getBytes)
          val d = md.digest()
          var h1 = 0L; var h2 = 0L; var j = 0
          while (j < 8) {
            h1 = (h1 << 8) | (d(j) & 0xFFL)
            h2 = (h2 << 8) | (d(j + 8) & 0xFFL)
            j += 1
          }
          var s = 0
          while (s < k) {
            val v = (h1 + s * h2) >>> 1
            if (v < out(s)) out(s) = v
            s += 1
          }
          i += 1
        }
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any =
      sig(input.asInstanceOf[ArrayData])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhashMd5Expr", this,
        classOf[MinHashSigMd5].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.sig($a);")
    }

    override protected def withNewChildInternal(c: Expression): MinHashSigMd5 =
      copy(child = c)
  }

  /** Distinct word-3-gram hashes from a token array, one fused pass:
    * gram i is tokens (i, i+1, i+2); its hash is the xxh64 seed-chain
    * over the three UTF8 tokens (tokens contain no spaces, so the
    * triple determines the joined gram string injectively — hashing the
    * triple ≡ hashing the gram text, modulo 64-bit collisions).
    * Output is sorted-distinct (order is irrelevant to every consumer:
    * min-sketches, set sizes, equi-joins).
    *
    * Why an expression: the compositional spelling
    * `array_distinct(transform(grams3(toks), xxhash64))` is interpreted
    * (HOFs are CodegenFallback) and — fatally — every `element_at(toks,
    * i+k)` inside the gram lambda re-evaluates the whole tokenization
    * chain after projection collapse, making it O(grams × tokenize). */
  case class Grams3Hashes(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_grams3h"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> StringType)

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      if (n < 3) return new GenericArrayData(Array.emptyLongArray)
      val out = new Array[Long](n - 2)
      var i = 0
      while (i < n - 2) {
        var h = XXH64.hashUTF8String(toks.getUTF8String(i), 42L)
        h = XXH64.hashUTF8String(toks.getUTF8String(i + 1), h)
        h = XXH64.hashUTF8String(toks.getUTF8String(i + 2), h)
        out(i) = h
        i += 1
      }
      java.util.Arrays.sort(out)
      var m = 1; i = 1
      while (i < out.length) {
        if (out(i) != out(m - 1)) { out(m) = out(i); m += 1 }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, m))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n"); val out = ctx.freshName("out")
        val i = ctx.freshName("i"); val m = ctx.freshName("m")
        val h = ctx.freshName("h")
        val xxh = classOf[XXH64].getName
        s"""
           |int $n = $a.numElements();
           |long[] $out = new long[$n < 3 ? 0 : $n - 2];
           |for (int $i = 0; $i < $n - 2; $i++) {
           |  long $h = $xxh.hashUTF8String($a.getUTF8String($i), 42L);
           |  $h = $xxh.hashUTF8String($a.getUTF8String($i + 1), $h);
           |  $h = $xxh.hashUTF8String($a.getUTF8String($i + 2), $h);
           |  $out[$i] = $h;
           |}
           |java.util.Arrays.sort($out);
           |int $m = $out.length > 0 ? 1 : 0;
           |for (int $i = 1; $i < $out.length; $i++) {
           |  if ($out[$i] != $out[$m - 1]) { $out[$m] = $out[$i]; $m++; }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  java.util.Arrays.copyOf($out, $m));
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Grams3Hashes =
      copy(child = c)
  }

  /** THE plane loop of the hyperplane LSH family — bucket bit p is the
    * sign of ⟨v, r_p⟩ where plane r_p's component for dimension d is
    * ±1 from the parity of xxhash64(d, xxhash64(p, 42)). ONE spelling
    * (this eval helper + [[hyperplaneLoopJava]] for codegen) shared by
    * [[HyperplaneBucket]] and [[HyperplaneProbes]]: the query-side
    * probes and the corpus-side buckets silently diverge if the seed
    * chain or sign rule ever drifts between them, so neither
    * expression carries its own copy. `margins` (nullable) receives
    * |⟨v, r_p⟩| per plane when the caller needs probe ordering. */
  /** Row-invariant ±1 plane matrix for one (planes, table), built
    * lazily per observed vector width: sign(p, d) depends only on the
    * hash chain — never the row — so the planes×dim hash calls are
    * paid once per executor (and again only if the width changes),
    * not once per row. The build is deterministic, so a racing
    * rebuild is harmless. */
  final class HyperplaneSigns(planes: Int, table: Int) extends Serializable {
    // ONE volatile holding (dim, table) together: two separate fields
    // could tear under concurrent rebuilds for different vector widths
    // (thread A publishes its array, thread B its dim → forDim returns
    // the wrong width's table, silently corrupting buckets)
    @transient @volatile private var cached: (Int, Array[Double]) = _
    def forDim(dim: Int): Array[Double] = {
      val c = cached
      if (c != null && c._1 == dim) c._2
      else {
        val t = new Array[Double](planes * dim)
        var p = 0
        while (p < planes) {
          val seedP = XXH64.hashInt(table * planes + p, 42L)
          var d = 0
          while (d < dim) {
            t(p * dim + d) =
              if ((XXH64.hashInt(d, seedP) & 1L) == 1L) 1.0 else -1.0
            d += 1
          }
          p += 1
        }
        cached = (dim, t)
        t
      }
    }
  }

  private[functions] def hyperplaneBucketOf(v: ArrayData, planes: Int,
      signsTable: HyperplaneSigns, margins: Array[Double]): Long = {
    val n = v.numElements()
    val signs = signsTable.forDim(n)
    var bucket = 0L; var p = 0
    while (p < planes) {
      val base = p * n
      var s = 0.0; var d = 0
      while (d < n) { s += v.getDouble(d) * signs(base + d); d += 1 }
      if (s > 0) bucket |= (1L << p)
      if (margins != null) margins(p) = math.abs(s)
      p += 1
    }
    bucket
  }

  /** Codegen twin of [[hyperplaneBucketOf]]: emits the plane loop into
    * `bucket` (declared by the snippet); `margin` names a pre-declared
    * double[planes] to fill, or None to skip margin tracking (the
    * corpus hot path allocates nothing). */
  private def hyperplaneLoopJava(ctx: CodegenContext, a: String,
      planes: Int, table: Int, bucket: String,
      margin: Option[String]): String = {
    val n = ctx.freshName("n"); val p = ctx.freshName("p")
    val d = ctx.freshName("d"); val s = ctx.freshName("s")
    val signs = ctx.freshName("signs"); val base = ctx.freshName("base")
    // the plane matrix rides in the plan as a lazily-built reference
    // object (the NearestCentroids/PqEncode pattern) — the inner loop
    // is pure multiply-add, no per-row hashing
    val st = ctx.addReferenceObj("hsigns",
      new HyperplaneSigns(planes, table),
      classOf[HyperplaneSigns].getName)
    val marginLine = margin.fold("")(m => s"$m[$p] = Math.abs($s);")
    s"""
       |int $n = $a.numElements();
       |double[] $signs = $st.forDim($n);
       |long $bucket = 0L;
       |for (int $p = 0; $p < $planes; $p++) {
       |  int $base = $p * $n;
       |  double $s = 0.0;
       |  for (int $d = 0; $d < $n; $d++) {
       |    $s += $a.getDouble($d) * $signs[$base + $d];
       |  }
       |  if ($s > 0) $bucket |= (1L << $p);
       |  $marginLine
       |}
     """.stripMargin
  }

  /** Random-hyperplane LSH bucket over an array<double> vector — the
    * sign-bit pattern of [[hyperplaneBucketOf]]'s planes: deterministic,
    * no stored plane matrix, recomputed identically on every executor. */
  case class HyperplaneBucket(child: Expression, planes: Int, table: Int = 0)
      extends UnaryExpression {
    require(planes >= 1 && planes <= 64,
      s"planes=$planes outside [1, 64]: 1L << p wraps past 63 (bit " +
        "aliasing silently corrupts buckets), and 0 planes buckets " +
        "everything together")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hyperplane_bucket"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> DoubleType)

    @transient private lazy val signsTable = new HyperplaneSigns(planes, table)

    override def nullSafeEval(input: Any): Any =
      hyperplaneBucketOf(input.asInstanceOf[ArrayData], planes, signsTable, null)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val bucket = ctx.freshName("bucket")
        s"""
           |${hyperplaneLoopJava(ctx, a, planes, table, bucket, None)}
           |${ev.value} = $bucket;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): HyperplaneBucket =
      copy(child = c)
  }

  /** Multi-probe bucket sequence for [[HyperplaneBucket]]'s hash
    * family (Lv et al., "Multi-Probe LSH", VLDB 2007): the exact
    * bucket first, then `nprobes` single-bit perturbations ordered by
    * INCREASING hyperplane margin |⟨v, r_p⟩| — the planes the vector
    * sits closest to are the ones a true near-neighbor most likely
    * landed on the other side of. Probing these buckets on the QUERY
    * side recovers recall without more tables (no growth of the
    * corpus-side index — the whole point of multi-probe).
    *
    * Plane-for-plane identity with [[HyperplaneBucket]] is structural:
    * both run the ONE shared loop ([[hyperplaneBucketOf]] /
    * [[hyperplaneLoopJava]]), so the seed chain and sign rule cannot
    * drift between the corpus buckets and the query probes.
    */
  case class HyperplaneProbes(child: Expression, planes: Int,
                              table: Int, nprobes: Int)
      extends UnaryExpression {
    require(planes >= 1 && planes <= 64,
      s"planes=$planes outside [1, 64] (see HyperplaneBucket)")
    require(nprobes >= 0 && nprobes <= planes,
      s"nprobes=$nprobes must be within [0, planes=$planes]")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_hyperplane_probes"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> DoubleType)

    @transient private lazy val signsTable = new HyperplaneSigns(planes, table)

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val margin = new Array[Double](planes)
      val order = Array.tabulate(planes)(identity)
      val bucket = hyperplaneBucketOf(v, planes, signsTable, margin)
      // insertion sort of the plane indices by margin asc (index-asc
      // tie-break) — planes is single digits, no allocation pressure
      var i = 1
      while (i < planes) {
        val m = margin(order(i)); val o = order(i); var j = i - 1
        while (j >= 0 && (margin(order(j)) > m ||
            (margin(order(j)) == m && order(j) > o))) {
          order(j + 1) = order(j); j -= 1
        }
        order(j + 1) = o
        i += 1
      }
      val out = new Array[Long](nprobes + 1)
      out(0) = bucket
      var q = 0
      while (q < nprobes) { out(q + 1) = bucket ^ (1L << order(q)); q += 1 }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val bucket = ctx.freshName("bucket")
        val margin = ctx.freshName("margin"); val order = ctx.freshName("order")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val m = ctx.freshName("m"); val o = ctx.freshName("o")
        val out = ctx.freshName("out"); val q = ctx.freshName("q")
        val p2 = ctx.freshName("p")
        val gad = classOf[GenericArrayData].getName
        s"""
           |double[] $margin = new double[$planes];
           |int[] $order = new int[$planes];
           |${hyperplaneLoopJava(ctx, a, planes, table, bucket, Some(margin))}
           |for (int $p2 = 0; $p2 < $planes; $p2++) { $order[$p2] = $p2; }
           |for (int $i = 1; $i < $planes; $i++) {
           |  double $m = $margin[$order[$i]]; int $o = $order[$i];
           |  int $j = $i - 1;
           |  while ($j >= 0 && ($margin[$order[$j]] > $m ||
           |      ($margin[$order[$j]] == $m && $order[$j] > $o))) {
           |    $order[$j + 1] = $order[$j]; $j--;
           |  }
           |  $order[$j + 1] = $o;
           |}
           |long[] $out = new long[${nprobes + 1}];
           |$out[0] = $bucket;
           |for (int $q = 0; $q < $nprobes; $q++) {
           |  $out[$q + 1] = $bucket ^ (1L << $order[$q]);
           |}
           |${ev.value} = new $gad($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): HyperplaneProbes =
      copy(child = c)
  }

  /** Top-n nearest centroids of an array<double> vector — the
    * assignment/probing kernel of IVF (E3/E6), as ONE codegen'd
    * argmax fused into the scan. The centroid matrix rides in the
    * plan as a reference object (rows pre-unit-normalized by the
    * caller, so ranking by raw dot ≡ ranking by cosine); the result
    * is the centroid INDICES ordered by dot desc with index-asc
    * tie-break (later equal-valued centroids never displace earlier
    * ones in the insertion).
    *
    * Why an expression: the dataframe spelling — explode ×nlist
    * candidates, `row_number().over(Window.partitionBy(vec_id))` —
    * exchanges the inflated row set on vec_id; this computes the same
    * argmax map-side with zero shuffle and O(n) scratch. */
  case class NearestCentroids(child: Expression,
                              centroids: Array[Array[Double]], n: Int)
      extends UnaryExpression {
    require(n > 0, s"top-n count n=$n must be positive")
    require(centroids.nonEmpty,
      "empty centroid matrix: every assignment would be an empty list " +
        "and every probe would join nothing — fail at construction " +
        "(the PqEncode/ResidualVec contract)")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_nearest_cents"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> DoubleType)

    private val k = math.min(n, centroids.length)

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val bi = new Array[Int](k); val bv = new Array[Double](k)
      var filled = 0; var c = 0
      while (c < centroids.length) {
        val row = centroids(c)
        val d = math.min(v.numElements(), row.length)
        var s = 0.0; var i = 0
        while (i < d) { s += v.getDouble(i) * row(i); i += 1 }
        var pos = filled
        while (pos > 0 && s > bv(pos - 1)) pos -= 1
        if (pos < k) {
          val last = math.min(filled, k - 1)
          var m = last
          while (m > pos) { bv(m) = bv(m - 1); bi(m) = bi(m - 1); m -= 1 }
          bv(pos) = s; bi(pos) = c
          if (filled < k) filled += 1
        }
        c += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(bi, filled))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val cm = ctx.addReferenceObj("centroids", centroids, "double[][]")
        val bi = ctx.freshName("bi"); val bv = ctx.freshName("bv")
        val filled = ctx.freshName("filled"); val c = ctx.freshName("c")
        val row = ctx.freshName("row"); val d = ctx.freshName("d")
        val s = ctx.freshName("s"); val i = ctx.freshName("i")
        val pos = ctx.freshName("pos"); val last = ctx.freshName("last")
        val m = ctx.freshName("m")
        s"""
           |int[] $bi = new int[$k];
           |double[] $bv = new double[$k];
           |int $filled = 0;
           |for (int $c = 0; $c < $cm.length; $c++) {
           |  double[] $row = $cm[$c];
           |  int $d = java.lang.Math.min($a.numElements(), $row.length);
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $d; $i++) { $s += $a.getDouble($i) * $row[$i]; }
           |  int $pos = $filled;
           |  while ($pos > 0 && $s > $bv[$pos - 1]) { $pos--; }
           |  if ($pos < $k) {
           |    int $last = java.lang.Math.min($filled, $k - 1);
           |    for (int $m = $last; $m > $pos; $m--) {
           |      $bv[$m] = $bv[$m - 1]; $bi[$m] = $bi[$m - 1];
           |    }
           |    $bv[$pos] = $s; $bi[$pos] = $c;
           |    if ($filled < $k) $filled++;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  java.util.Arrays.copyOf($bi, $filled));
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): NearestCentroids =
      copy(child = c)
  }

  /** PQ encoding of a unit array<double> vector: for each of the `m`
    * subspaces, the index of the nearest codebook entry by squared L2
    * (first-wins on ties, matching `ORDER BY d2, c_idx` row_number
    * semantics). `codebook(j)(c)` is entry c of subspace j; subvector
    * j is elements [j·subLen, (j+1)·subLen). d² is computed as
    * dot(a,a) + dot(b,b) − 2·dot(a,b) with three sequential
    * accumulators — the same op order as the dataframe `subDist`, so
    * distances are bit-identical to the query-side lookup table.
    *
    * Replaces the round-3 encode (subvector explode → ×m·ks codebook
    * join → window argmin — an exchange of m·ks ≈ 128 rows per corpus
    * vector keyed by vec_id) with one fused map-side pass: zero
    * shuffle, the whole PQ index is `corpus scan → project`. */
  case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
      extends UnaryExpression {
    require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
      "codebook must have ≥1 entry per subspace")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_pq_encode"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> DoubleType)

    private val m = codebook.length
    private val subLen = codebook(0)(0).length

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val out = new Array[Int](m)
      var j = 0
      while (j < m) {
        val entries = codebook(j)
        val base = j * subLen
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < entries.length) {
          val e = entries(c)
          var aa = 0.0; var bb = 0.0; var ab = 0.0; var i = 0
          // bound by the entry too: a ragged corpus (shorter sampled
          // row → short codebook entry) degrades instead of throwing
          while (i < subLen && base + i < v.numElements() && i < e.length) {
            val x = v.getDouble(base + i); val y = e(i)
            aa += x * x; bb += y * y; ab += x * y
            i += 1
          }
          val d2 = aa + bb - 2.0 * ab
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        out(j) = best
        j += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val cb = ctx.addReferenceObj("codebook", codebook, "double[][][]")
        val out = ctx.freshName("out"); val j = ctx.freshName("j")
        val entries = ctx.freshName("entries"); val base = ctx.freshName("base")
        val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
        val c = ctx.freshName("c"); val e = ctx.freshName("e")
        val aa = ctx.freshName("aa"); val bb = ctx.freshName("bb")
        val ab = ctx.freshName("ab"); val i = ctx.freshName("i")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        val d2 = ctx.freshName("d2")
        s"""
           |int[] $out = new int[$m];
           |for (int $j = 0; $j < $m; $j++) {
           |  double[][] $entries = $cb[$j];
           |  int $base = $j * $subLen;
           |  int $best = 0;
           |  double $bestD = Double.POSITIVE_INFINITY;
           |  for (int $c = 0; $c < $entries.length; $c++) {
           |    double[] $e = $entries[$c];
           |    double $aa = 0.0, $bb = 0.0, $ab = 0.0;
           |    for (int $i = 0; $i < $subLen && $base + $i < $a.numElements()
           |         && $i < $e.length; $i++) {
           |      double $x = $a.getDouble($base + $i);
           |      double $y = $e[$i];
           |      $aa += $x * $x; $bb += $y * $y; $ab += $x * $y;
           |    }
           |    double $d2 = $aa + $bb - 2.0 * $ab;
           |    if ($d2 < $bestD) { $bestD = $d2; $best = $c; }
           |  }
           |  $out[$j] = $best;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): PqEncode =
      copy(child = c)
  }

  /** `vec − centroids(cId)` as one codegen'd pass — the residual step
    * of FAISS-style IVFPQ (encode `x − coarse_centroid(x)` instead of
    * `x`: residuals live in a much smaller ball than raw vectors, so
    * the same m×ks code budget quantizes far finer). Composes with
    * [[PqEncode]] inside whole-stage codegen; an out-of-range list id
    * throws rather than silently encoding the raw vector. Dimensions
    * past the centroid's length pass through unchanged (same ragged
    * tolerance as [[NearestCentroids]]). */
  case class ResidualVec(vec: Expression, cId: Expression,
                         centroids: Array[Array[Double]])
      extends BinaryExpression {
    require(centroids.nonEmpty, "centroid matrix must be non-empty")
    override def left: Expression = vec
    override def right: Expression = cId
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_residual"
    override def checkInputDataTypes(): TypeCheckResult = {
      val arr = expectArrays(prettyName, vec -> DoubleType)
      if (arr != TypeCheckResult.TypeCheckSuccess) arr
      else if (cId.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName argument 2 requires int, got ${cId.dataType.simpleString}")
    }

    def centroidRow(c: Int): Array[Double] = {
      if (c < 0 || c >= centroids.length)
        throw new IllegalArgumentException(
          s"$prettyName: list id $c outside [0, ${centroids.length})")
      centroids(c)
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val v = a.asInstanceOf[ArrayData]
      val cent = centroidRow(b.asInstanceOf[Int])
      val n = v.numElements()
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        out(i) = v.getDouble(i) - (if (i < cent.length) cent(i) else 0.0)
        i += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("residExpr", this,
        classOf[ResidualVec].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val cent = ctx.freshName("cent"); val n = ctx.freshName("n")
        val out = ctx.freshName("out"); val i = ctx.freshName("i")
        s"""
           |double[] $cent = $self.centroidRow($b);
           |int $n = $a.numElements();
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = $a.getDouble($i) - ($i < $cent.length ? $cent[$i] : 0.0);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): ResidualVec =
      copy(vec = l, cId = r)
  }

  /** The deterministic ±1 JL sign shared by [[JlProject]] and its
    * DuckDB mirror: +1 iff the first hex char of md5("i:j") is below
    * '8' (high nibble of byte 0 < 8). */
  private[graft] def jlSign(i: Int, j: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xF) < 8) 1L else -1L
  }

  /** E7's JL ±1 sign projection as ONE fused codegen pass:
    * `array<double>` (inDim) → `array<double>` (outDim). The HOF
    * spelling (transform + zip_with + aggregate) is CodegenFallback —
    * ~outDim·inDim boxed lambda calls per row, measured ~40 s for a
    * 50k×100-query serve (PERF.md Round 8b) where the fused brute
    * force runs in 0.7 s — so the projection gets the [[DotProduct]]
    * treatment. Semantics are bit-identical to the oracle-pinned
    * integer spelling: each element rounds to micro-units via
    * BigDecimal.valueOf(x·1e6).setScale(0, HALF_UP) — EXACTLY what
    * Spark's Round(double) does, so this path and the HOF path can't
    * disagree at repr boundaries — the ±1-weighted sums run in long
    * arithmetic, and ÷√outDim rounds half-up via integral division on
    * non-negative operands. Signs are md5("i:j") coins recomputed
    * deterministically wherever the expression deserializes.
    * `outDim` must be a perfect square (integral √k exact path);
    * inputs shorter/longer than inDim project their first
    * min(len, inDim) coords (ragged degrade, never a throw). */
  case class JlProject(child: Expression, outDim: Int, inDim: Int)
      extends UnaryExpression {
    require(outDim > 0 && inDim > 0,
      s"outDim=$outDim and inDim=$inDim must be positive")
    private val isqrt = math.sqrt(outDim.toDouble).toLong
    require(isqrt * isqrt == outDim,
      s"outDim=$outDim must be a perfect square (integral √k exact path)")
    private val half = isqrt / 2
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_jl_project"
    override def checkInputDataTypes(): TypeCheckResult =
      expectArrays(prettyName, child -> DoubleType)

    @transient private lazy val signs: Array[Array[Long]] =
      Array.tabulate(outDim)(j => Array.tabulate(inDim)(i => jlSign(i, j)))

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = math.min(inDim, v.numElements())
      val e = new Array[Long](n)
      var i = 0
      while (i < n) {
        e(i) = java.math.BigDecimal.valueOf(v.getDouble(i) * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        i += 1
      }
      val out = new Array[Double](outDim)
      var j = 0
      while (j < outDim) {
        val s = signs(j)
        var acc = 0L
        var x = 0
        while (x < n) { acc += e(x) * s(x); x += 1 }
        val q = if (acc >= 0) (acc + half) / isqrt else -((-acc + half) / isqrt)
        out(j) = q.toDouble / 1e6
        j += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val sg = ctx.addReferenceObj("signs", signs, "long[][]")
        val n = ctx.freshName("n"); val e = ctx.freshName("e")
        val i = ctx.freshName("i"); val out = ctx.freshName("out")
        val j = ctx.freshName("j"); val s = ctx.freshName("s")
        val acc = ctx.freshName("acc"); val x = ctx.freshName("x")
        val q = ctx.freshName("q")
        s"""
           |int $n = Math.min($inDim, $a.numElements());
           |long[] $e = new long[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $e[$i] = java.math.BigDecimal.valueOf($a.getDouble($i) * 1.0E6)
           |    .setScale(0, java.math.RoundingMode.HALF_UP).longValue();
           |}
           |double[] $out = new double[$outDim];
           |for (int $j = 0; $j < $outDim; $j++) {
           |  long[] $s = $sg[$j];
           |  long $acc = 0L;
           |  for (int $x = 0; $x < $n; $x++) { $acc += $e[$x] * $s[$x]; }
           |  long $q = $acc >= 0L ? ($acc + ${half}L) / ${isqrt}L
           |                       : -((-$acc + ${half}L) / ${isqrt}L);
           |  $out[$j] = (double) $q / 1.0E6;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): JlProject =
      copy(child = c)
  }

  /** Membership probe of a 64-bit hash against a serialized
    * `org.apache.spark.util.sketch.BloomFilter` — the pre-filter that
    * makes decontamination work when the benchmark side is too big to
    * broadcast-join outright: the sketch is KB–MB regardless of row
    * count, so it rides to every task where a broadcast hash relation
    * would not fit. May return false positives (callers must re-check
    * exactly, e.g. with the equi-join the probe is guarding), never
    * false negatives.
    *
    * Holds the sketch as bytes (cheap to ship in the serialized plan)
    * and inflates it lazily once per JVM consumer; codegen probes
    * through a reference to this expression instance, so the inflated
    * bits are shared across all rows of a task. */
  case class BloomMightContain(child: Expression, sketch: Array[Byte])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_contains"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint, got ${child.dataType.simpleString}")

    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(sketch))

    def mightContain(h: Long): Boolean = bloom.mightContainLong(h)

    override def nullSafeEval(input: Any): Any =
      mightContain(input.asInstanceOf[Long])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomExpr", this,
        classOf[BloomMightContain].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.mightContain($a);")
    }

    override protected def withNewChildInternal(c: Expression): BloomMightContain =
      copy(child = c)
  }

  private val fnCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Matrix-capturing functions carry per-invocation state the SQL
    * literal syntax can't, so they go through a UNIQUELY-named
    * throwaway registration: registered, used by `build` (Dataset
    * analysis is eager — the expression is resolved into the plan
    * before this returns), then dropped. A fixed name would let two
    * concurrent operator calls on one session silently capture each
    * other's matrices; unique names + scoped drop close the race and
    * keep the registry from accumulating entries. */
  def withTempFunction[A](spark: SparkSession, base: String,
                          builder: Seq[Expression] => Expression)
                         (build: String => A): A = {
    val name = s"${base}_${fnCounter.incrementAndGet()}"
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(name, builder, "built-in")
    try build(name)
    finally reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
  }

  def withNearestCentroids[A](spark: SparkSession,
                              centroids: Array[Array[Double]], n: Int)
                             (build: String => A): A =
    withTempFunction(spark, "graft_nearest_cents",
      args => NearestCentroids(args(0), centroids, n))(build)

  /** Driver-side evaluation of [[NearestCentroids]] on ONE bounded
    * local vector — the SAME expression instance evaluated on a
    * literal (the Similarity.graphPbLocal posture: a driver mirror by
    * construction, not a re-spelling that could drift in dot order or
    * tie-breaks). Lets a serve whose query page is already driver
    * metadata assign probes without paying a Spark job (r17). */
  def nearestCentroidsLocal(v: Seq[Double],
                            centroids: Array[Array[Double]],
                            n: Int): Array[Int] =
    NearestCentroids(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          v, ArrayType(DoubleType, containsNull = false)),
        centroids, n)
      .eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray()

  def withPqEncode[A](spark: SparkSession,
                      codebook: Array[Array[Array[Double]]])
                     (build: String => A): A =
    withTempFunction(spark, "graft_pq_encode",
      args => PqEncode(args(0), codebook))(build)

  def withBloomContains[A](spark: SparkSession, sketch: Array[Byte])
                          (build: String => A): A =
    withTempFunction(spark, "graft_bloom_contains",
      args => BloomMightContain(args(0), sketch))(build)

  def withResidual[A](spark: SparkSession, centroids: Array[Array[Double]])
                     (build: String => A): A =
    withTempFunction(spark, "graft_residual",
      args => ResidualVec(args(0), args(1), centroids))(build)

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a bigint literal, got $other")
  }

  /** Name → builder for every graft SQL function (single source of
    * truth for both registration paths). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot"         -> (args => DotProduct(args(0), args(1))),
    "graft_jl_project"  -> (args => JlProject(args(0),
      intLit(args(1), "outDim"), intLit(args(2), "inDim"))),
    "graft_md5long"     -> (args => Md5Long(args(0))),
    "graft_simhash64"   -> (args => SimHash64(args(0))),
    "graft_minhash32"   -> (args => MinHashSig(args(0), 32)),
    "graft_minhash32_md5" -> (args => MinHashSigMd5(args(0), 32)),
    "graft_hyperplane8" -> (args => HyperplaneBucket(args(0), 8)),
    // 3-arg variant: (vector, planes literal, table-index literal) —
    // each table draws an independent plane set (OR-construction)
    "graft_hyperplane_t" -> (args =>
      HyperplaneBucket(args(0), intLit(args(1), "planes"), intLit(args(2), "table"))),
    // 4-arg probe variant: (vector, planes, table, nprobes literals) →
    // exact bucket + nprobes lowest-margin single-bit flips (query side
    // of multi-probe LSH; must pair with graft_hyperplane_t's buckets)
    "graft_hyperplane_probes" -> (args =>
      HyperplaneProbes(args(0), intLit(args(1), "planes"),
        intLit(args(2), "table"), intLit(args(3), "nprobes"))),
    "graft_grams3h"     -> (args => Grams3Hashes(args(0))),
    // (bigint literal) → the value as a plan reference object, not
    // source text (see ServeExprs.longParam)
    "graft_long_param"  -> (args => ServeExprs.LongParam(longLit(args(0), "value"))),
    "graft_minhash_merge32" -> (args =>
      AggExprs.MinHashMerge(args(0), 32).toAggregateExpression()))

  /** Register the expressions as SQL temp functions on the session's
    * registry (idempotent; survives only the session, so every operator
    * entry point calls this — one registry lookup per function after
    * the first time).
    * Going through the registry keeps us on public-ish API: `expr(...)`
    * resolves the name at analysis, no internal Column constructors.
    * Sessions built with `spark.sql.extensions=graft.GraftExtensions`
    * get the same functions without this call. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // once per session: a session that already has every function
    // (an earlier call, or GraftExtensions at build time) keeps them —
    // replacing them logs one WARN per function on every call
    if (!builders.forall { case (name, _) =>
          reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)) })
      builders.foreach { case (name, b) =>
        reg.createOrReplaceTempFunction(name, b, "built-in")
      }
  }
}
