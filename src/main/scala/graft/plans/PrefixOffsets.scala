package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  AttributeSet, Expression, GenericInternalRow, JoinedRow, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

/** How [[PrefixOffsets]] folds one long value over a group's buckets. */
sealed trait PrefixFold

object PrefixFold {
  /** Sum over the group's strictly earlier buckets; 0 when none has a value. */
  case object SumBefore extends PrefixFold
  /** Sum over the earlier buckets and the row's own; 0 when none has a value. */
  case object SumThrough extends PrefixFold
  /** Min over the strictly earlier buckets; null when none has a value. */
  case object MinBefore extends PrefixFold
  /** Sum over the whole group; null when no row has a value. */
  case object Total extends PrefixFold
}

/** Appends to every child row its order-preserving range bucket
  * (`__pfx_b`) and one long per fold of `values` (see [[PrefixFold]]),
  * per `groups` key: the step that turns a running sum, min or selection
  * over a data-sized input into a bucket-local pass (`ops/Prefix`).
  *
  * `order` is a non-null long; a group's bucket is
  * `(order − lo) div width` (or `(hi − order) div width` when
  * `descending`) with `width = (hi − lo) div 64 + 1`, so buckets lie in
  * [0, 64), are monotone in the order and equal keys share one. Group
  * keys compare null-safely, so a null key is its own group.
  */
final case class PrefixOffsets(order: Expression, groups: Seq[Expression],
    descending: Boolean, values: Seq[Expression], folds: Seq[PrefixFold],
    appended: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ appended
  override def producedAttributes: AttributeSet = AttributeSet(appended)
  override protected def withNewChildInternal(c: LogicalPlan): PrefixOffsets =
    copy(child = c)
}

object PrefixOffsets {

  /** Range buckets per group: the driver holds ≤ 64 rows a group. */
  val Buckets = 64

  /** The node over `child`, appending `__pfx_b` and then each named fold
    * (all longs) in order.
    */
  def over(child: LogicalPlan, order: Expression, groups: Seq[Expression],
      descending: Boolean,
      named: Seq[(String, PrefixFold, Expression)]): PrefixOffsets = {
    val appended = AttributeReference("__pfx_b", LongType, nullable = false)() +:
      named.map { case (name, fold, value) =>
        AttributeReference(name, LongType, fold match {
          case PrefixFold.MinBefore => true
          case PrefixFold.Total => value.nullable
          case _ => false
        })()
      }
    PrefixOffsets(order, groups, descending, named.map(_._3), named.map(_._2),
      appended, child)
  }
}

/** Plans [[PrefixOffsets]] as [[PrefixOffsetsExec]]. */
object PrefixOffsetsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PrefixOffsets =>
      PrefixOffsetsExec(p.order, p.groups, p.descending, p.values, p.folds,
        p.appended, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Physical [[PrefixOffsets]]: two driver jobs, then a narrow map.
  *
  *  1. per group, the bounds (lo, hi) and the [[PrefixFold.Total]] sums;
  *  2. per (group, bucket), the sums or mins of the other folds' values.
  *
  * The driver turns these into ≤ 64 appended rows per group (exclusive,
  * inclusive and whole-group folds), broadcasts them, and every child row
  * gets its bucket's row. The child is therefore computed three times —
  * twice by the jobs and once by the consumer — and must yield the same
  * rows each time (deterministic); a row of a group the jobs never saw
  * fails the task. Sums are exact (`Math.addExact`).
  */
final case class PrefixOffsetsExec(order: Expression, groups: Seq[Expression],
    descending: Boolean, values: Seq[Expression], folds: Seq[PrefixFold],
    appended: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  import PrefixOffsetsExec._

  override def output: Seq[Attribute] = child.output ++ appended
  override def producedAttributes: AttributeSet = AttributeSet(appended)
  override protected def withNewChildInternal(c: SparkPlan): PrefixOffsetsExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    // Locals only below: the task closures must not capture the plan.
    val rows = child.execute()
    val in = child.output
    val keys = groups.map(ColumnBridge.normalizeFloats)
    val (ord, desc) = (order, descending)
    val totals = folds.indices.filter(folds(_) == PrefixFold.Total)
    val perBucket = folds.indices.filterNot(folds(_) == PrefixFold.Total)
    val totalValues = totals.map(values)
    val bucketValues = perBucket.map(values)
    val nb = perBucket.size

    // Job 1: lo, hi and the totals of each group.
    val boundOps = Array(Min, Max) ++ totals.map(_ => Sum)
    val bounds = collectMerged(rows.mapPartitions { it =>
      val key = UnsafeProjection.create(keys, in)
      val v = UnsafeProjection.create(ord +: totalValues, in)
      val accs = new Accs(boundOps)
      it.foreach { r =>
        val a = accs(key(r))
        val x = v(r)
        if (x.isNullAt(0))
          throw new IllegalArgumentException("prefix order column is null")
        a.fold(0, x.getLong(0)); a.fold(1, x.getLong(0))
        var i = 1
        while (i < x.numFields) {
          if (!x.isNullAt(i)) a.fold(i + 1, x.getLong(i))
          i += 1
        }
      }
      accs.iterator
    })
    val spanOf = bounds.asScala.map { case (k, a) =>
      k -> new Span(a.v(0), a.v(1), desc) }.toMap
    val spans = sparkContext.broadcast(spanOf)

    // Job 2: each bucket's sum (or min) of every non-total value.
    val bucketOps = Array.tabulate(PrefixOffsets.Buckets * nb)(s =>
      if (folds(perBucket(s % nb)) == PrefixFold.MinBefore) Min else Sum)
    val buckets = collectMerged(rows.mapPartitions { it =>
      val key = UnsafeProjection.create(keys, in)
      val v = UnsafeProjection.create(ord +: bucketValues, in)
      val accs = new Accs(bucketOps)
      val sp = spans.value
      it.foreach { r =>
        val k = key(r)
        val a = accs(k)
        val x = v(r)
        val base = sp(k).bucket(x.getLong(0)) * nb
        var j = 0
        while (j < nb) {
          if (!x.isNullAt(j + 1)) a.fold(base + j, x.getLong(j + 1))
          j += 1
        }
      }
      accs.iterator
    })

    // Driver: ≤ 64 appended rows a group.
    def cell(o: Option[Long]): Any = o.fold[Any](null)(x => x)
    val table = sparkContext.broadcast(bounds.asScala.map { case (k, b) =>
      val bs = Option(buckets.get(k))
      val running = new Acc(bucketOps.take(nb))
      val appendRows = Array.tabulate[InternalRow](PrefixOffsets.Buckets) { bk =>
        val before = (0 until nb).map(running.get)
        bs.foreach(a => (0 until nb).foreach(j =>
          if (a.has(bk * nb + j)) running.fold(j, a.v(bk * nb + j))))
        val cells = folds.indices.map { f =>
          folds(f) match {
            case PrefixFold.Total => cell(b.get(2 + totals.indexOf(f)))
            case PrefixFold.MinBefore => cell(before(perBucket.indexOf(f)))
            case PrefixFold.SumBefore =>
              before(perBucket.indexOf(f)).getOrElse(0L)
            case PrefixFold.SumThrough =>
              running.get(perBucket.indexOf(f)).getOrElse(0L)
          }
        }
        new GenericInternalRow((bk.toLong +: cells).toArray)
      }
      k -> new Group(spanOf(k), appendRows)
    }.toMap)

    val types = output.map(_.dataType).toArray
    rows.mapPartitions { it =>
      val key = UnsafeProjection.create(keys, in)
      val k = UnsafeProjection.create(Seq(ord), in)
      val out = UnsafeProjection.create(types)
      val joined = new JoinedRow
      val t = table.value
      it.map { r =>
        val g = t.getOrElse(key(r), throw new IllegalStateException(
          "prefix child produced a group its bounds job did not see: " +
            "the child must be deterministic"))
        out(joined(r, g.rows(g.span.bucket(k(r).getLong(0)))))
      }
    }
  }
}

object PrefixOffsetsExec {
  private val Sum = 0
  private val Min = 1
  private val Max = 2

  /** Long slots, each folded by its op (sum, min or max) and absent until
    * its first value.
    */
  private final class Acc(ops: Array[Int]) extends Serializable {
    val v = new Array[Long](ops.length)
    val has = new Array[Boolean](ops.length)
    def fold(i: Int, x: Long): Unit = {
      v(i) =
        if (!has(i)) x
        else ops(i) match {
          case Sum => Math.addExact(v(i), x)
          case Min => math.min(v(i), x)
          case _ => math.max(v(i), x)
        }
      has(i) = true
    }
    def get(i: Int): Option[Long] = if (has(i)) Some(v(i)) else None
    def merge(o: Acc): Acc = {
      for (i <- v.indices if o.has(i)) fold(i, o.v(i))
      this
    }
  }

  /** One partition's accumulators by group key. */
  private final class Accs(ops: Array[Int]) {
    private val m = new java.util.HashMap[UnsafeRow, Acc]
    def apply(key: UnsafeRow): Acc = {
      var a = m.get(key)
      if (a == null) { a = new Acc(ops); m.put(key.copy(), a) }
      a
    }
    def iterator: Iterator[(UnsafeRow, Acc)] =
      m.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
  }

  /** Runs the job and merges the partitions' accumulators per key. */
  private def collectMerged(partials: RDD[(UnsafeRow, Acc)])
      : java.util.HashMap[UnsafeRow, Acc] = {
    val m = new java.util.HashMap[UnsafeRow, Acc]
    partials.collect().foreach { case (k, a) => m.merge(k, a, _.merge(_)) }
    m
  }

  /** A group's order bounds and the bucket of an order value in them. */
  private final class Span(lo: Long, hi: Long, descending: Boolean)
      extends Serializable {
    // Divide by a width rather than multiply by the bucket count:
    // (c − lo) · 64 overflows once the span exceeds 2⁶³/64, while every
    // intermediate here stays within the span itself.
    private val width =
      Math.subtractExact(hi, lo) / PrefixOffsets.Buckets + 1
    def bucket(c: Long): Int =
      ((if (descending) hi - c else c - lo) / width).toInt
  }

  /** A group's span and its appended row per bucket. */
  private final class Group(val span: Span, val rows: Array[InternalRow])
      extends Serializable
}
