package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd sort+fold kernels for the per-user ordered-replay
  * operators (r16; guide §1.2 per-task work / §4 eliminate non-codegen
  * expressions — the HashOps discipline applied to the q147/q173/q175
  * engine family). The r15 spelling was
  * `aggregate(array_sort(collect_list(struct(...))), ..., lambda)`:
  * `aggregate` and `array_sort` are higher-order/interpreted on struct
  * elements, so every event paid an interpreted-eval dispatch, a boxed
  * struct bind, and an interpreted 3-field comparator in the sort.
  * Each kernel sorts the collected (long, long[, long]) structs on a
  * primitive key array and replays the IDENTICAL recurrence in one
  * JIT'd loop — value-equality with the HOF spellings is spec-pinned
  * (EventTimeSpec r16 tests), and all three consumers carry full
  * DuckDB recursive-CTE twins that replay the recurrence
  * independently.
  *
  * Sort order: lexicographic (f0, f1[, f2]) ascending over non-null
  * fields — exactly `array_sort`'s default struct order on the
  * non-null arrays the `collect_list` inputs guarantee. Timestamp
  * fields compare as their epoch-µs longs, which IS TimestampType's
  * ordering. A null field has no place in either recurrence, so a
  * kernel that meets one throws an IllegalArgumentException naming
  * the field rather than reading it as 0.
  */
object FoldOpsUtil {
  /** Indices 0..n-1 sorted lexicographically by (k0, k1, k2). */
  private def sortedOrder(k0: Array[Long], k1: Array[Long],
      k2: Array[Long]): Array[Integer] = {
    val idx = Array.tabulate[Integer](k0.length)(i => i)
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c0 = java.lang.Long.compare(k0(a), k0(b))
      if (c0 != 0) c0
      else {
        val c1 = java.lang.Long.compare(k1(a), k1(b))
        if (c1 != 0) c1
        else if (k2 == null) 0
        else java.lang.Long.compare(k2(a), k2(b))
      }
    })
    idx
  }

  private val walletFields = Array("ts", "event_id", "delta")
  private val debounceFields = Array("tsm", "event_id")

  /** Element `i`'s struct, checked to hold no null field. */
  private def element(a: ArrayData, i: Int, kernel: String,
      names: Array[String]): InternalRow = {
    val r = a.getStruct(i, names.length)
    var f = 0
    while (f < names.length) {
      if (r.isNullAt(f))
        throw new IllegalArgumentException(
          s"$kernel: element $i has a null `${names(f)}` field")
      f += 1
    }
    r
  }

  /** q147/q175's capped-balance recurrence over (ts, event_id, delta)
    * structs: bal' = max(bal + delta, 0), floors' += [bal + delta < 0].
    * Returns struct(bal, floors). */
  def walletFold(a: ArrayData): InternalRow = {
    val n = a.numElements()
    val ts = new Array[Long](n)
    val id = new Array[Long](n)
    val dl = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = element(a, i, "wallet_fold", walletFields)
      ts(i) = r.getLong(0); id(i) = r.getLong(1); dl(i) = r.getLong(2)
      i += 1
    }
    val order = sortedOrder(ts, id, dl)
    var bal = 0L
    var floors = 0L
    i = 0
    while (i < n) {
      val d = dl(order(i))
      val nb = bal + d
      if (nb < 0) { floors += 1; bal = 0L } else bal = nb
      i += 1
    }
    new GenericInternalRow(Array[Any](bal, floors))
  }

  /** q173's refractory-chain recurrence over (tsm, event_id) structs
    * with gap `gapUs`: keep the first event, then an event only when
    * tsm - last_kept >= gapUs. Returns struct(last_kept, n_kept,
    * first_kept) — all 0 for an empty array, like the HOF's init. */
  def debounceFold(a: ArrayData, gapUs: Long): InternalRow = {
    val n = a.numElements()
    val ts = new Array[Long](n)
    val id = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = element(a, i, "debounce_fold", debounceFields)
      ts(i) = r.getLong(0); id(i) = r.getLong(1)
      i += 1
    }
    val order = sortedOrder(ts, id, null)
    var lastKept = 0L
    var nKept = 0L
    var firstKept = 0L
    i = 0
    while (i < n) {
      val t = ts(order(i))
      if (nKept == 0L || t - lastKept >= gapUs) {
        if (nKept == 0L) firstKept = t
        lastKept = t
        nKept += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](lastKept, nKept, firstKept))
  }
}

private[functions] trait OrderedFoldInput { self: UnaryExpression =>
  protected def arity: Int
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.length == arity &&
        st.forall(f => f.dataType == LongType || f.dataType == TimestampType) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct of $arity long/timestamp fields>, " +
        s"got ${t.catalogString}")
  }
}

/** wallet_fold(array<struct<ts, event_id, delta>>) ->
  * struct<bal: bigint, floors: bigint>. */
case class WalletFold(child: Expression)
    extends UnaryExpression with OrderedFoldInput {
  override protected def arity: Int = 3
  override def dataType: DataType = StructType(Seq(
    StructField("bal", LongType, nullable = false),
    StructField("floors", LongType, nullable = false)))
  override def nullSafeEval(a: Any): Any =
    FoldOpsUtil.walletFold(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FoldOpsUtil.walletFold($c)")
  override protected def withNewChildInternal(c: Expression): WalletFold =
    copy(child = c)
  override def prettyName: String = "wallet_fold"
}

/** debounce_fold(array<struct<tsm, event_id>>, gapUs) ->
  * struct<last_kept, n_kept, first_kept>. */
case class DebounceFold(child: Expression, gapUs: Long)
    extends UnaryExpression with OrderedFoldInput {
  override protected def arity: Int = 2
  override def dataType: DataType = StructType(Seq(
    StructField("last_kept", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("first_kept", LongType, nullable = false)))
  override def nullSafeEval(a: Any): Any =
    FoldOpsUtil.debounceFold(a.asInstanceOf[ArrayData], gapUs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FoldOpsUtil.debounceFold($c, ${gapUs}L)")
  override protected def withNewChildInternal(c: Expression): DebounceFold =
    copy(child = c)
  override def prettyName: String = "debounce_fold"
}

object FoldOps {
  def wallet_fold(evs: Column): Column =
    GraftSqlBridge.column(WalletFold(GraftSqlBridge.expression(evs)))
  def debounce_fold(evs: Column, gapUs: Long): Column =
    GraftSqlBridge.column(DebounceFold(GraftSqlBridge.expression(evs), gapUs))
}
