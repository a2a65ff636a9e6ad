package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Codegen expressions that carry a graph serve's BOUNDED driver-side
  * state — the hop frontier multimap, the known-pair anti-join set,
  * the collected query-vector page — as plan REFERENCE OBJECTS
  * (the [[VecExprs.NearestCentroids]] posture), replacing per-hop
  * broadcast joins of local relations.
  *
  * Why (r17, guide §2.4/§4): each beam-serve hop joined three local
  * frames through `broadcast(...)`; under Spark 4's AQE each
  * broadcast build is its own stage job (and executes
  * LocalTableScanExec's parallelized RDD), so a 6-hop serve paid ~18
  * broadcast-build jobs of pure scheduling latency for data that
  * never left the driver in the first place. A reference object
  * inside the scan's own WholeStageCodegen span does the same lookup
  * with ZERO extra jobs and zero exchanges. All three structures are
  * bounded by the serve's documented ceilings (page ≤ 4096,
  * cumulative pairs ≤ stateCeiling), so the reference objects are
  * exactly the bytes the broadcasts carried.
  *
  * Join-semantics equivalence (what keeps serve results
  * bit-identical): [[LongsForKey]]+explode reproduces the inner
  * equi-join's multiset (a key absent from the table yields an empty
  * array — the row drops, exactly as an inner join drops it);
  * [[PairKnown]] under `!` reproduces the left-anti join on non-null
  * keys; [[VecForKey]]/[[N2ForKey]] feed the UNCHANGED cosine
  * expression the same doubles the broadcast row carried — a lookup
  * miss throws (the serve constructs candidates only from collected
  * query ids, so a miss is an invariant breach, never data). */
object ServeExprs {

  /** Sorted-key long → long[] multimap (bounded driver metadata). */
  final class LongsTable private (val keys: Array[Long],
                                  val vals: Array[Array[Long]])
      extends Serializable {
    def lookup(k: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(keys, k)
      if (i >= 0) vals(i) else LongsTable.none
    }
  }
  object LongsTable {
    private val none = new Array[Long](0)
    /** Build from (value, key) pairs: lookup(key) → sorted distinct
      * values. */
    def byKey(pairs: Seq[(Long, Long)]): LongsTable = {
      val grouped = pairs.groupBy(_._2).toArray.sortBy(_._1)
      new LongsTable(grouped.map(_._1),
        grouped.map(_._2.map(_._1).distinct.sorted.toArray))
    }
  }

  /** Sorted (a, b) long-pair set — EXACT membership (no hashing: a
    * false positive would silently drop an unseen candidate). */
  final class LongPairSet private (as: Array[Long], bs: Array[Long])
      extends Serializable {
    def contains(a: Long, b: Long): Boolean = {
      var lo = 0
      var hi = as.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = {
          val ca = java.lang.Long.compare(as(mid), a)
          if (ca != 0) ca else java.lang.Long.compare(bs(mid), b)
        }
        if (c == 0) return true
        if (c < 0) lo = mid + 1 else hi = mid - 1
      }
      false
    }
  }
  object LongPairSet {
    def apply(pairs: Seq[(Long, Long)]): LongPairSet = {
      val sorted = pairs.toArray.sortBy(identity)
      new LongPairSet(sorted.map(_._1), sorted.map(_._2))
    }
  }

  /** Sorted-key long → (double[], n2) table — the collected query
    * page. Misses THROW: see the object scaladoc. */
  final class VecTable private (keys: Array[Long],
                                vecs: Array[Array[Double]],
                                n2s: Array[Double]) extends Serializable {
    private def idx(k: Long): Int = {
      val i = java.util.Arrays.binarySearch(keys, k)
      if (i < 0) throw new NoSuchElementException(
        s"serve invariant breach: id $k not in the collected query page")
      i
    }
    def vec(k: Long): Array[Double] = vecs(idx(k))
    def n2(k: Long): Double = n2s(idx(k))
  }
  object VecTable {
    def apply(rows: Seq[(Long, Seq[Double], Double)]): VecTable = {
      val sorted = rows.toArray.sortBy(_._1)
      new VecTable(sorted.map(_._1), sorted.map(_._2.toArray),
        sorted.map(_._3))
    }
  }

  private def expectLong(name: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$name needs BIGINT input, got ${t.simpleString}")
    }

  /** lookup(key) → array<bigint> (empty on miss — inner-join drop). */
  case class LongsForKey(child: Expression, table: LongsTable)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_longs_for_key"
    override def checkInputDataTypes(): TypeCheckResult =
      expectLong(prettyName, child)
    override def nullSafeEval(input: Any): Any =
      new GenericArrayData(table.lookup(input.asInstanceOf[Long]))
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, k => {
        val t = ctx.addReferenceObj("longsTable", table,
          classOf[LongsTable].getName)
        s"""${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |    $t.lookup($k));""".stripMargin
      })
    override protected def withNewChildInternal(c: Expression): LongsForKey =
      copy(child = c)
  }

  /** (a, b) pair membership — the anti-join's predicate under `!`.
    *
    * Precondition: both inputs are NON-NULL, and a null input THROWS.
    * `!PairKnown` equals the left-anti join only on non-null keys: the
    * anti-join KEEPS a row whose key is null (nothing matches it),
    * while a null-propagating predicate would make the filter DROP it
    * — a silently lost row. The serves build both keys from collected
    * ids, so a null is a caller bug, and it fails loudly. */
  case class PairKnown(left: Expression, right: Expression,
                       set: LongPairSet) extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def prettyName: String = "graft_pair_known"
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = expectLong(prettyName, left)
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else expectLong(prettyName, right)
    }
    override def eval(input: InternalRow): Any = {
      val a = left.eval(input)
      val b = right.eval(input)
      if (a == null || b == null) throw new IllegalArgumentException(PairKnown.NullKey)
      set.contains(a.asInstanceOf[Long], b.asInstanceOf[Long])
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val s = ctx.addReferenceObj("pairSet", set, classOf[LongPairSet].getName)
      val a = left.genCode(ctx)
      val b = right.genCode(ctx)
      ev.copy(code = code"""
        |${a.code}
        |${b.code}
        |if (${a.isNull} || ${b.isNull}) {
        |  throw new IllegalArgumentException("${PairKnown.NullKey}");
        |}
        |boolean ${ev.value} = $s.contains(${a.value}, ${b.value});""".stripMargin,
        isNull = FalseLiteral)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PairKnown = copy(left = l, right = r)
  }
  object PairKnown {
    val NullKey = "graft_pair_known needs non-null keys: the left-anti join " +
      "it stands for keeps a null-keyed row, a filter on it would drop the row"
  }

  /** A per-request long as a plan REFERENCE OBJECT. A long `Literal`
    * is written into the generated Java source, and Spark's codegen
    * cache keys on that source: every new query id or ingest batch id
    * compiled a new class. This reads the value from the references
    * array instead, so one compiled class serves every value. Not
    * foldable, so the optimizer never turns it back into a literal. */
  case class LongParam(value: Long) extends LeafExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def prettyName: String = "graft_long_param"
    override def eval(input: InternalRow): Any = value
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val v = ctx.addReferenceObj("param", java.lang.Long.valueOf(value),
        classOf[java.lang.Long].getName)
      ev.copy(code = code"final long ${ev.value} = $v.longValue();",
        isNull = FalseLiteral)
    }
  }

  /** `value` as a [[LongParam]] column: use it where a request or batch
    * id would otherwise be `lit(value)`. */
  def longParam(spark: SparkSession, value: Long): Column = {
    VecExprs.register(spark)
    call_function("graft_long_param", lit(value))
  }

  /** query vector by id → array<double> (miss throws). */
  case class VecForKey(child: Expression, table: VecTable)
      extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_vec_for_key"
    override def checkInputDataTypes(): TypeCheckResult =
      expectLong(prettyName, child)
    override def nullSafeEval(input: Any): Any =
      new GenericArrayData(table.vec(input.asInstanceOf[Long]))
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, k => {
        val t = ctx.addReferenceObj("vecTable", table,
          classOf[VecTable].getName)
        s"""${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |    $t.vec($k));""".stripMargin
      })
    override protected def withNewChildInternal(c: Expression): VecForKey =
      copy(child = c)
  }

  /** query squared norm by id → double (miss throws). */
  case class N2ForKey(child: Expression, table: VecTable)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_n2_for_key"
    override def checkInputDataTypes(): TypeCheckResult =
      expectLong(prettyName, child)
    override def nullSafeEval(input: Any): Any =
      table.n2(input.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, k => {
        val t = ctx.addReferenceObj("vecTable", table,
          classOf[VecTable].getName)
        s"${ev.value} = $t.n2($k);"
      })
    override protected def withNewChildInternal(c: Expression): N2ForKey =
      copy(child = c)
  }
}
