package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Native global rank — exact 1-based `row_number()` plus inclusive
  * running `sum`s over a total order, the result an unpartitioned
  * `Window.orderBy(order)` would give, without the window's one task
  * holding the whole frame.
  *
  * Shape: the exec demands `OrderedDistribution(order)` and the same
  * child ordering. Two plans satisfy that:
  *   - Small input (the child's estimated `sizeInBytes` within
  *     [[SmallSortStrategy.gate]], the size AQE would read as one
  *     partition): [[RankByRangeStrategy]] plans the exec over
  *     `CoalesceExec(1, child)`, and EnsureRequirements adds only the
  *     partition-local sort. There is no range exchange, no sampling
  *     job and no offsets job: one task ranks the whole input in one
  *     pass. Same gate, same opt-out (`coalescePartitions.minPartitionSize`
  *     = `1b`) and never with AQE off, as `SmallSortStrategy`.
  *   - Otherwise EnsureRequirements plans ONE range exchange plus a
  *     partition-local sort (partition index order == key order). Then
  *     one job over the sorted shuffle output returns, per partition,
  *     the row count and each sum column's Σ and non-null count — at
  *     most #partitions small arrays, folded on the driver into
  *     exclusive offsets.
  * In both, one `mapPartitionsWithIndex` emits rank = offset + local
  * position and the running sums; with one input partition the offsets
  * are zero and the offsets job is skipped. The frame stays lazy (no
  * checkpoint, no driver-built DataFrame); a lost executor re-runs the
  * shuffle under the same fixed partitioner.
  *
  * Sums follow SQL window rules: a running sum is NULL until the first
  * non-null input; inputs must be integral (checked when the plan is
  * built) and accumulate as LONG with overflow raising, as ANSI `sum`
  * does. Rows that tie on the whole order get an arbitrary relative
  * rank, as with `row_number()` — callers append a key as tiebreak.
  */
case class RankByRangePlan(child: LogicalPlan, order: Seq[SortOrder],
                           rank: Attribute, sumInputs: Seq[Attribute],
                           sumOutputs: Seq[Attribute]) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ (rank +: sumOutputs)
  override def producedAttributes: AttributeSet = AttributeSet(rank +: sumOutputs)
  override protected def withNewChildInternal(newChild: LogicalPlan): RankByRangePlan =
    copy(child = newChild)
}

/** Planner rule: injected via GraftExtensions (or registered on the
  * session lazily by [[RankByRange.apply]]). An input within
  * [[SmallSortStrategy.gate]] is ranked over one partition. */
object RankByRangeStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RankByRangePlan(child, order, rank, ins, outs) =>
      val in = planLater(child)
      val small = child.stats.sizeInBytes <= SmallSortStrategy.gate(SQLConf.get)
      RankByRangeExec(if (small) CoalesceExec(1, in) else in, order, rank, ins, outs) :: Nil
    case _ => Nil
  }
}

case class RankByRangeExec(child: SparkPlan, order: Seq[SortOrder],
                           rank: Attribute, sumInputs: Seq[Attribute],
                           sumOutputs: Seq[Attribute]) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ (rank +: sumOutputs)
  override def producedAttributes: AttributeSet = AttributeSet(rank +: sumOutputs)

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val ords = sumInputs.map { a =>
      val i = childOutput.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"attribute $a not found in ${childOutput.mkString(", ")}")
      i
    }.toArray
    val widths = sumInputs.map(a => RankByRange.integralWidth(a.dataType)).toArray
    val n = ords.length
    import RankByRange.read
    val rows = child.execute()

    // per partition (rows, Σ col_i…, non-null count of col_i…); one
    // partition needs none of it, its offsets are zero
    val perPart = if (rows.getNumPartitions == 1) Array.empty[Array[Long]]
    else sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val acc = new Array[Long](1 + 2 * n)
      it.foreach { r =>
        acc(0) += 1
        var i = 0
        while (i < n) {
          if (!r.isNullAt(ords(i))) {
            acc(1 + i) = Math.addExact(acc(1 + i), read(r, ords(i), widths(i)))
            acc(1 + n + i) += 1
          }
          i += 1
        }
      }
      acc
    })
    // exclusive offsets in partition (== key) order
    val offsets = perPart.scanLeft(new Array[Long](1 + 2 * n)) { (run, p) =>
      Array.tabulate(run.length)(j => Math.addExact(run(j), p(j)))
    }

    val extraAttrs = rank +: sumOutputs
    val outAttrs = output
    rows.mapPartitionsWithIndex { (pid, it) =>
      val proj = UnsafeProjection.create(
        outAttrs.map(a => a: Expression), childOutput ++ extraAttrs)
      val extra = new GenericInternalRow(1 + n)
      val joined = new JoinedRow()
      val off = offsets(pid)
      var rk = off(0)
      val acc = java.util.Arrays.copyOfRange(off, 1, 1 + n)
      val seen = Array.tabulate(n)(i => off(1 + n + i) > 0)
      it.map { r =>
        rk += 1
        extra.setLong(0, rk)
        var i = 0
        while (i < n) {
          if (!r.isNullAt(ords(i))) {
            acc(i) = Math.addExact(acc(i), read(r, ords(i), widths(i)))
            seen(i) = true
          }
          if (seen(i)) extra.setLong(1 + i, acc(i)) else extra.setNullAt(1 + i)
          i += 1
        }
        proj(joined(r, extra))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RankByRangeExec =
    copy(child = newChild)
}

object RankByRange {
  /** Ordinal read of an integral input, as codegen would emit it — the
    * exec's loops are the operator's whole per-row cost. */
  private[plans] def read(r: InternalRow, ord: Int, width: Int): Long = width match {
    case 8 => r.getLong(ord)
    case 4 => r.getInt(ord).toLong
    case 2 => r.getShort(ord).toLong
    case _ => r.getByte(ord).toLong
  }

  /** Byte width of an integral sum input; anything else is rejected
    * when the plan is built. */
  private[plans] def integralWidth(t: DataType): Int = t match {
    case LongType => 8
    case IntegerType => 4
    case ShortType => 2
    case ByteType => 1
    case other => throw new IllegalArgumentException(
      s"rankByRange: sum input is ${other.simpleString}; sum inputs must be integral")
  }

  /** DataFrame surface: `df` plus `rankCol` (LONG, 1-based global rank
    * in `keys` order) and one LONG running-sum column per
    * `(input, output)` pair. `keys` are any sort expressions over `df`
    * (`.desc`, `asc_nulls_last`, …). Registers [[RankByRangeStrategy]]
    * on the session idempotently. */
  def apply(df: DataFrame, keys: Seq[Column], rankCol: String,
            sums: Seq[(String, String)]): DataFrame = {
    registerStrategy(df.sparkSession, RankByRangeStrategy)
    // resolve the keys exactly as a sort over df would
    val (order, child) = Bridge.analyzed(df.sort(keys: _*)) match {
      case Sort(o, _, c, _) => (o, c)
      case other => throw new IllegalArgumentException(
        s"rankByRange: keys must be columns of the frame, got plan\n$other")
    }
    require(order.forall(_.deterministic), "rankByRange: keys must be deterministic")
    val names = child.output.map(_.name)
    val fresh = rankCol +: sums.map(_._2)
    require(fresh.distinct.size == fresh.size && !fresh.exists(names.contains),
      s"rankByRange: output names ${fresh.mkString(", ")} must be new and distinct")
    val ins = sums.map { case (c, _) =>
      val a = child.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"rankByRange: column $c not found in [${names.mkString(", ")}]"))
      integralWidth(a.dataType)
      a
    }
    val outs = sums.zip(ins).map { case ((_, o), a) =>
      AttributeReference(o, LongType, a.nullable)() }
    Bridge.ofRows(df.sparkSession, RankByRangePlan(child, order,
      AttributeReference(rankCol, LongType, nullable = false)(), ins, outs))
  }
}
