package graft.audit

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.model._
import graft.textkit.Predicates

/** The spacing/damage counters of AuditMetrics as one per-item step,
  * [[add]] (audit_utils.py:290-315 is a loop with commutative counter
  * updates). [[damage]] folds it over one document's items, for the audit
  * and the OCR trigger; [[agg]] is the same step as a typed UDAF over
  * exploded items (relational shape), so zero/reduce/merge/finish maps
  * directly.
  */
object AuditAggregator {
  case class ItemSlice(isTable: Boolean, tocLike: Boolean,
                       cellTexts: Array[String], text: String)

  /** The counters, under [[AuditMetrics]]' names: the fold's buffer and
    * the aggregator's result. */
  case class DamageCounters(
      var spacedTableCells: Long, var totalTableCells: Long,
      var spacedTextItems: Long, var multiSpaceTextItems: Long,
      var totalTextItems: Long, var tableCount: Long)

  /** One item's audit inputs. A null text reads as "", so a null cell
    * counts as a cell but never as a spaced one. */
  def fromItem(item: DocItem): ItemSlice = item.table match {
    case Some(t) => ItemSlice(isTable = true, tocLike = Audit.isTocLikeTable(t),
      cellTexts = t.cells.map(c => Option(c.text).getOrElse("")), text = "")
    case None => ItemSlice(isTable = false, tocLike = false,
      cellTexts = Array.empty,
      text = if (item.kind == ItemKind.Picture) "" else Option(item.text).getOrElse(""))
  }

  /** Adds one item's counts to `b`. */
  def add(b: DamageCounters, s: ItemSlice): DamageCounters = {
    if (s.isTable) {
      b.tableCount += 1
      if (!s.tocLike) {
        for (text <- s.cellTexts) {
          b.totalTableCells += 1
          if (Predicates.isSpacedText(text)) b.spacedTableCells += 1
        }
      }
    } else if (s.text.nonEmpty) {
      b.totalTextItems += 1
      val multi = Predicates.isMultiSpaceText(s.text)
      if (multi) b.multiSpaceTextItems += 1
      val spaced = Predicates.isSpacedText(s.text)
      val collapsed = Predicates.isCollapsedText(s.text)
      if ((spaced || collapsed) && !(multi && !spaced && !collapsed))
        b.spacedTextItems += 1
    }
    b
  }

  /** The doc-local fold of [[add]] over `items`. */
  def damage(items: IterableOnce[DocItem]): DamageCounters = {
    val b = DamageCounters(0, 0, 0, 0, 0, 0)
    items.iterator.foreach(item => add(b, fromItem(item)))
    b
  }

  val agg: Aggregator[ItemSlice, DamageCounters, DamageCounters] =
    new Aggregator[ItemSlice, DamageCounters, DamageCounters] {
      def zero: DamageCounters = DamageCounters(0, 0, 0, 0, 0, 0)

      def reduce(b: DamageCounters, s: ItemSlice): DamageCounters = add(b, s)

      def merge(a: DamageCounters, b: DamageCounters): DamageCounters = DamageCounters(
        a.spacedTableCells + b.spacedTableCells, a.totalTableCells + b.totalTableCells,
        a.spacedTextItems + b.spacedTextItems,
        a.multiSpaceTextItems + b.multiSpaceTextItems,
        a.totalTextItems + b.totalTextItems, a.tableCount + b.tableCount)

      def finish(b: DamageCounters): DamageCounters = b

      def bufferEncoder: Encoder[DamageCounters] = Encoders.product[DamageCounters]
      def outputEncoder: Encoder[DamageCounters] = bufferEncoder
    }
}
