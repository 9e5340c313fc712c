package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge

/** Native AS-OF join — the whole-operator Catalyst extension the
  * builder brief's preference ladder ends at (custom `LogicalPlan` +
  * `Strategy` + `SparkPlan`, SURVEY §2.12 row 4 / §7.4): for each left
  * row, the LATEST right row of the same key with right-time ≤
  * left-time, as ONE physical merge pass.
  *
  * Why a custom operator when the window idiom (`q_join_asof`) answers
  * the same question: the window form must materialize left∪right into
  * one partition-sorted stream and carry every left column through the
  * sort; the native exec keeps the sides separate, asks the planner for
  * key-clustered, (key, time)-sorted children — the SAME distribution a
  * sort-merge join would demand, so EnsureRequirements inserts at most
  * one exchange+sort per side — and then streams BOTH sides once with
  * O(1) state (the last-seen payload per key). That is the textbook
  * at-scale as-of shape: no buffered window frames, no row expansion.
  *
  * Scope: LONG keys and LONG event-time values (epoch µs — what
  * `unix_micros` produces), ENFORCED at analysis time by
  * [[AsOfJoin.asofJoin]] (a non-LONG column raises instead of silently
  * comparing garbage through `getLong`); one attribute of carried
  * payload. NULL key/time: right rows are skipped, left rows get a
  * null payload. Ties: right-time == left-time matches ("at or
  * before").
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Attribute, rightKey: Attribute,
                        leftTime: Attribute, rightTime: Attribute,
                        payloads: Seq[Attribute],
                        forward: Boolean = false) extends BinaryNode {
  // payloads may have no match -> nullable in the output schema
  override def output: Seq[Attribute] =
    left.output ++ payloads.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: injected via GraftExtensions (or used directly through
  * [[AsOfJoin.asofJoin]], which registers it on the session lazily). */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, p, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, p, fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Attribute, rightKey: Attribute,
                        leftTime: Attribute, rightTime: Attribute,
                        payloads: Seq[Attribute],
                        forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payloads.map(_.withNullability(true))

  /** Same demand a sort-merge join makes: key-clustered children —
    * EnsureRequirements co-partitions the sides (one exchange each at
    * most) — plus (key, time) sort inside each partition. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
        Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // ordinal access in the merge loop (not bound-expression eval) —
    // the loop body is the operator's whole cost, and getLong(ordinal)
    // is what codegen would emit for these attribute reads
    def ordinal(attrs: Seq[Attribute], a: Attribute): Int = {
      val i = attrs.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"attribute $a not found in ${attrs.mkString(", ")}")
      i
    }
    val lkOrd = ordinal(left.output, leftKey)
    val ltOrd = ordinal(left.output, leftTime)
    val rkOrd = ordinal(right.output, rightKey)
    val rtOrd = ordinal(right.output, rightTime)
    val rightOutput = right.output
    val payloadAttrs = payloads
    val outAttrs = output
    val leftOutput = left.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val payloadProj = UnsafeProjection.create(
        payloadAttrs.map(a => a: Expression), rightOutput)
      val resultProj = UnsafeProjection.create(
        outAttrs.map(a => a: Expression),
        leftOutput ++ payloadAttrs.map(_.withNullability(true)))
      val nullPayload = new GenericInternalRow(payloadAttrs.length)
      val joined = new JoinedRow()
      // NULL discipline (nullable inputs are allowed; the TYPE must be
      // LONG — enforced at analysis time in asofJoin): a right row with
      // NULL key or time can never be "the latest at-or-before" →
      // skipped; a left row with NULL key or time matches nothing →
      // null payload. Nulls sort first, so skipping keeps the merge
      // order intact.
      def nextRight(): InternalRow = {
        var r: InternalRow = if (rIter.hasNext) rIter.next() else null
        while (r != null && (r.isNullAt(rkOrd) || r.isNullAt(rtOrd)))
          r = if (rIter.hasNext) rIter.next() else null
        r
      }
      var rRow: InternalRow = nextRight()
      if (forward) {
        // FORWARD: earliest right row with rt ≥ t. Discard right rows
        // strictly behind the current left row; the right head (not
        // consumed — later left rows may match it too) is the match
        // when its key agrees. O(1) state = the right head itself.
        lIter.map { lRow =>
          if (lRow.isNullAt(lkOrd) || lRow.isNullAt(ltOrd))
            resultProj(joined(lRow, nullPayload))
          else {
            val k = lRow.getLong(lkOrd)
            val t = lRow.getLong(ltOrd)
            var continue = rRow != null
            while (continue) {
              val rk = rRow.getLong(rkOrd)
              if (rk < k || (rk == k && rRow.getLong(rtOrd) < t)) {
                rRow = nextRight()
                continue = rRow != null
              } else continue = false
            }
            val matched: InternalRow =
              if (rRow != null && rRow.getLong(rkOrd) == k) payloadProj(rRow)
              else nullPayload
            resultProj(joined(lRow, matched))
          }
        }
      } else {
        // BACKWARD (LOCF): single merge pass, O(1) state = the last
        // payload seen for the key currently streamed on the right
        var heldKey: Long = 0L
        var held: UnsafeRow = null
        lIter.map { lRow =>
          if (lRow.isNullAt(lkOrd) || lRow.isNullAt(ltOrd))
            resultProj(joined(lRow, nullPayload))
          else {
            val k = lRow.getLong(lkOrd)
            val t = lRow.getLong(ltOrd)
            var continue = rRow != null
            while (continue) {
              val rk = rRow.getLong(rkOrd)
              if (rk < k || (rk == k && rRow.getLong(rtOrd) <= t)) {
                heldKey = rk
                held = payloadProj(rRow).copy()
                rRow = nextRight()
                continue = rRow != null
              } else continue = false
            }
            val matched: InternalRow =
              if (held != null && heldKey == k) held else nullPayload
            resultProj(joined(lRow, matched))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** DataFrame surface: AS-OF join `left` to the latest `right` row
    * with `rightKey == leftKey` and `rightTime ≤ leftTime`, carrying
    * `payloadCol`. Key/time columns must be LONG (cast/`unix_micros`
    * first), and the RIGHT side's columns should be fresh aliases when
    * both sides derive from one table (self-as-of) so no exprId is
    * shared across sides. Registers [[AsOfJoinStrategy]] on the
    * session idempotently — no SparkSessionExtensions config needed. */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               payloadCol: String, forward: Boolean = false): DataFrame =
    asofJoinMulti(left, right, leftKey, rightKey, leftTime, rightTime,
                  Seq(payloadCol), forward)

  /** Multi-payload variant: carry several right-side columns through
    * the same single merge pass (e.g. value + matched-sample time, so
    * a staleness/tolerance rule can run on the output — see
    * `q_join_asof_native_tol`). */
  def asofJoinMulti(left: DataFrame, right: DataFrame,
                    leftKey: String, rightKey: String,
                    leftTime: String, rightTime: String,
                    payloadCols: Seq[String],
                    forward: Boolean = false): DataFrame = {
    val spark: SparkSession = left.sparkSession
    registerStrategy(spark, AsOfJoinStrategy)
    val lp = Bridge.analyzed(left)
    val rp = Bridge.analyzed(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: column $name not found in [${p.output.map(_.name).mkString(", ")}]"))
    // The merge exec reads keys/times via InternalRow.getLong — an INT
    // or TIMESTAMP column would silently yield garbage comparisons, so
    // reject non-LONG types at analysis time instead. (NULL values are
    // fine: the exec skips null-keyed right rows and null-matches
    // null-keyed left rows.)
    def longAttr(p: LogicalPlan, name: String): Attribute = {
      val a = attr(p, name)
      require(a.dataType == org.apache.spark.sql.types.LongType,
        s"asofJoin: column $name is ${a.dataType.simpleString}; key/time " +
        "columns must be LONG — cast / unix_micros() first")
      a
    }
    Bridge.ofRows(spark, AsOfJoinPlan(lp, rp,
      longAttr(lp, leftKey), longAttr(rp, rightKey),
      longAttr(lp, leftTime), longAttr(rp, rightTime),
      payloadCols.map(attr(rp, _)), forward))
  }
}
