package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, BindReferences, Expression,
  GenericInternalRow, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The AS-OF JOIN as a NATIVE Catalyst operator — rung (c) of the
  * extension ladder (SURVEY §7.3): a custom `LogicalPlan` node, an
  * optimizer `Rule` (right-side column pruning through the node, which
  * Catalyst's built-in pruning cannot see), a planner `SparkStrategy`,
  * and a physical `SparkPlan` whose execution is the textbook
  * partitioned merge — installed per session through `experimental`
  * methods (see [[AsOf.join]]).
  *
  * Semantics (identical to the composed form `Relational.eventOrderAsof`
  * and to DuckDB's native `ASOF LEFT JOIN`, which oracles both): every
  * left row is paired with the LATEST right row of equal key whose time
  * is at or before the left row's time; left rows with no such right
  * row emit null payload columns. Null times never match (SQL `<=`
  * semantics), and null KEYS never match either — DuckDB's ASOF
  * equi-condition is a plain SQL equality, so a null-keyed left row
  * always emits null payload (null-keyed right rows match nothing).
  *
  * Generalized along the two axes DuckDB/pandas expose:
  * `direction` — Backward (latest right at-or-before, the default),
  * Forward (earliest right at-or-after), Nearest (smaller absolute
  * time distance, ties to the earlier/backward row, pandas
  * `merge_asof` convention) — and `toleranceUs`, a bound on the
  * matched pair's absolute time distance beyond which the left row
  * emits null payload. Tolerance FILTERS the directional pick rather
  * than re-searching: for backward/forward the directional candidate
  * is extremal, so no other row within tolerance can exist; for
  * nearest each side is tolerance-checked before the two are compared.
  *
  * Scale shape vs the composed union+window form: both sides hash-
  * partition and sort independently (the SortMergeJoin shape — map-side
  * local sort, one shuffle each), and the merge streams with O(1)
  * state per partition: ONE buffered payload row, no window frame, no
  * union of the two schemas through a single sort, no null-padded
  * side/time columns riding the shuffle. At 100 TB the win is the
  * smaller shuffle payload (each side ships only its own columns) and
  * the constant-memory probe.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    payloadSrc: Seq[Expression],
    payloadOut: Seq[Attribute],
    direction: AsOfJoin.Direction = AsOfJoin.Backward,
    toleranceUs: Option[Long] = None) extends BinaryNode {

  // payloadOut are PRE-MINTED AttributeReferences, not Aliases: the
  // analyzer's CleanupAliases strips Alias nodes from expressions of
  // non-Project operators, which would silently rename the outputs

  require(toleranceUs.forall(_ >= 0L),
    s"as-of tolerance must be non-negative, got $toleranceUs")
  require(AsOfJoin.timeTypeOk(leftTime) && AsOfJoin.timeTypeOk(rightTime),
    s"as-of time columns must be long microseconds or timestamps, got " +
      s"${leftTime.dataType} / ${rightTime.dataType}")
  // both sides hash-partition INDEPENDENTLY and the merge compares the
  // right key through an ordering built from the left key's type — a
  // type mismatch (int vs long keys, TIMESTAMP vs TIMESTAMP_NTZ times)
  // would not fail, it would silently mis-route or mis-pair rows, so
  // reject it at construction
  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types must match across sides, got " +
      s"${leftKey.dataType} / ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types must match across sides (TIMESTAMP and " +
      s"TIMESTAMP_NTZ compare raw micros with different semantics), got " +
      s"${leftTime.dataType} / ${rightTime.dataType}")
  require(payloadSrc.length == payloadOut.length,
    "payloadSrc and payloadOut must align")

  override def output: Seq[Attribute] = left.output ++ payloadOut

  // the payload attributes are minted HERE, not by a child — without
  // this the analyzer reports them "missing from input"
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** Match direction: which right row a left row pairs with. */
  sealed trait Direction
  /** Latest right row at or before the left time (the default). */
  case object Backward extends Direction
  /** Earliest right row at or after the left time. */
  case object Forward extends Direction
  /** The time-nearest right row on either side; equal distances
    * resolve to the earlier (backward) row — pandas `merge_asof`'s
    * convention.
    */
  case object Nearest extends Direction

  /** Times compare as their Long internal form: micros since epoch for
    * both timestamp flavors, raw micros for LongType.
    */
  private[plans] def timeTypeOk(e: Expression): Boolean = e.dataType match {
    case LongType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** Column pruning THROUGH the custom node: Catalyst's `ColumnPruning`
  * does not know [[AsOfJoin]], so without this rule both children
  * would scan and shuffle every column of their tables. The right
  * child is self-contained — the operator consumes only its key, time,
  * and payload inputs. The left child streams through unchanged, so
  * its needed set comes from the consumer: a `Project` directly above
  * the node. With both cases the projection reaches the parquet scan
  * (`ReadSchema` shrinks) exactly as it does for built-in joins.
  * Installed through `GraftPlanBridge.installPlanning`'s
  * `experimental.extraOptimizations`, it runs in the once-per-plan
  * "User Provided Optimizers" batch, where the rule still converges
  * because each introduced `Project` is itself matched by the built-in
  * `ColumnPruning` collapse on the next batch iteration.
  */
object PruneAsOfJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // left side: keep what the consumer references plus the join inputs
    case p @ Project(projectList, j: AsOfJoin) =>
      val needed = AttributeSet(projectList.flatMap(_.references) ++
        j.leftKey.references ++ j.leftTime.references)
      val keep = j.left.output.filter(needed.contains)
      if (keep.length == j.left.output.length) p
      else p.copy(child = j.copy(left = Project(keep, j.left)))
    // right side: self-contained on the node
    case j: AsOfJoin =>
      val needed = AttributeSet(j.rightKey.references ++
        j.rightTime.references ++ j.payloadSrc.flatMap(_.references))
      val keep = j.right.output.filter(needed.contains)
      if (keep.length == j.right.output.length) j
      else j.copy(right = Project(keep, j.right))
  }
}

/** Plans the logical node to [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKey,
        j.rightKey, j.leftTime, j.rightTime, j.payloadSrc, j.payloadOut,
        j.direction, j.toleranceUs) :: Nil
    case _ => Nil
  }
}

/** Physical partitioned-merge as-of join.
  *
  * Requirements declare the SortMergeJoin shape: both children hash-
  * clustered on their key (EnsureRequirements co-partitions them, AQE
  * may coalesce both consistently) and sorted by (key asc, time asc) —
  * so `zipPartitions` sees two key-aligned sorted streams and the merge
  * is a single forward pass with O(1) state per partition, for every
  * direction:
  *   - Backward: advance the right iterator while it is at or before
  *     the current left row, remembering the latest same-key payload.
  *   - Forward: advance the right iterator past rows strictly before
  *     the current left row (later left rows are even later, so those
  *     can never match again); the match, if any, is the UNCONSUMED
  *     head — it may still match later left rows.
  *   - Nearest: the backward state and the forward head are the only
  *     two candidates; compare their distances (ties to backward).
  * O(left + right) per partition either way.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    payloadSrc: Seq[Expression],
    payloadOut: Seq[Attribute],
    direction: AsOfJoin.Direction = AsOfJoin.Backward,
    toleranceUs: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut

  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // Ascending (nulls first) on both — the merge's key ordering below
  // must agree with these sorts or the pass misses groups
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  /** Streams left rows through unchanged: partitioning/ordering survive. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val payloadExprs = payloadSrc
    val pOut = payloadOut
    val lKeyExpr = leftKey
    val rKeyExpr = rightKey
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val outAttrs = output
    val keyType = leftKey.dataType
    val dir = direction
    val tolUs = toleranceUs.getOrElse(Long.MaxValue)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // per-partition, executor-side construction (no driver capture)
      val lKeyProj = UnsafeProjection.create(Seq(lKeyExpr), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rKeyExpr), rOut)
      val lTimeBound = BindReferences.bindReference(lTimeExpr, lOut)
      val rTimeBound = BindReferences.bindReference(rTimeExpr, rOut)
      val payloadProj = UnsafeProjection.create(payloadExprs, rOut)
      // the SAME natural ascending (nulls-first) ordering the
      // requiredChildOrdering sorts with
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val outProj = UnsafeProjection.create(outAttrs, lOut ++ pOut)
      val joined = new JoinedRow
      val nullPayload = new GenericInternalRow(payloadExprs.size)
      val backwardState = dir != AsOfJoin.Forward

      val rBuf = rIter.buffered
      // latest same-key backward match so far: its key, payload, time
      // (all copied/stable — the projections reuse buffers)
      var matchKey: UnsafeRow = null
      var matchPayload: UnsafeRow = null
      var matchTime = 0L

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lT = lTimeBound.eval(lRow)
        val lKeyNull = lKey.isNullAt(0)
        var scanning = true
        while (scanning && rBuf.hasNext) {
          val rRow = rBuf.head
          val cmp = keyOrd.compare(rKeyProj(rRow), lKey)
          if (cmp < 0) {
            rBuf.next() // right is on an earlier key: skip, never a match
          } else if (cmp == 0 && lKeyNull) {
            // nulls-first ordering compares null==null, but the SQL
            // equi-condition never matches null keys: the null-keyed
            // right rows can match no later (non-null) left row either
            rBuf.next()
          } else if (cmp == 0) {
            val rT = rTimeBound.eval(rRow)
            if (rT == null) {
              rBuf.next() // null time matches nothing; consume
            } else if (lT != null &&
                (if (backwardState) rT.asInstanceOf[Long] <= lT.asInstanceOf[Long]
                 else rT.asInstanceOf[Long] < lT.asInstanceOf[Long])) {
              // at-or-before (strictly-before for Forward, where an
              // equal-time row is the match and must stay unconsumed):
              // the latest backward candidate so far
              if (backwardState) {
                matchKey = lKey.copy()
                matchPayload = payloadProj(rRow).copy()
                matchTime = rT.asInstanceOf[Long]
              }
              rBuf.next()
            } else scanning = false // right is at/ahead in time: stop
          } else scanning = false // right is on a later key: stop
        }
        // backward candidate: present only when recorded for THIS key
        val hasB = backwardState && lT != null && !lKeyNull &&
          matchKey != null && keyOrd.compare(matchKey, lKey) == 0
        val bDist = if (hasB) lT.asInstanceOf[Long] - matchTime else Long.MaxValue
        // forward candidate = the unconsumed same-key head at/after lT
        var fDist = Long.MaxValue
        var fRow: InternalRow = null
        if (dir != AsOfJoin.Backward && lT != null && !lKeyNull && rBuf.hasNext) {
          val rRow = rBuf.head
          if (keyOrd.compare(rKeyProj(rRow), lKey) == 0) {
            val rT = rTimeBound.eval(rRow)
            if (rT != null) {
              fDist = rT.asInstanceOf[Long] - lT.asInstanceOf[Long]
              fRow = rRow
            }
          }
        }
        val useB = hasB && bDist <= tolUs
        val useF = fRow != null && fDist <= tolUs
        val p = dir match {
          case AsOfJoin.Backward => if (useB) matchPayload else nullPayload
          case AsOfJoin.Forward => if (useF) payloadProj(fRow) else nullPayload
          case AsOfJoin.Nearest =>
            if (useB && (!useF || bDist <= fDist)) matchPayload
            else if (useF) payloadProj(fRow)
            else nullPayload
        }
        outProj(joined(lRow, p))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
