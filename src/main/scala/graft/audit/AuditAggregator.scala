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

  case class Buf(
      var spacedCells: Long, var totalCells: Long,
      var spacedTextItems: Long, var multiSpaceTextItems: Long,
      var totalTextItems: Long, var tableCount: Long)

  case class DamageCounters(
      spacedTableCells: Long, totalTableCells: Long,
      spacedTextItems: Long, multiSpaceTextItems: Long,
      totalTextItems: Long, tableCount: Long)

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
  def add(b: Buf, s: ItemSlice): Buf = {
    if (s.isTable) {
      b.tableCount += 1
      if (!s.tocLike) {
        for (text <- s.cellTexts) {
          b.totalCells += 1
          if (Predicates.isSpacedText(text)) b.spacedCells += 1
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
  def damage(items: IterableOnce[DocItem]): Buf = {
    val b = Buf(0, 0, 0, 0, 0, 0)
    items.iterator.foreach(item => add(b, fromItem(item)))
    b
  }

  val agg: Aggregator[ItemSlice, Buf, DamageCounters] =
    new Aggregator[ItemSlice, Buf, DamageCounters] {
      def zero: Buf = Buf(0, 0, 0, 0, 0, 0)

      def reduce(b: Buf, s: ItemSlice): Buf = add(b, s)

      def merge(a: Buf, b: Buf): Buf = Buf(
        a.spacedCells + b.spacedCells, a.totalCells + b.totalCells,
        a.spacedTextItems + b.spacedTextItems,
        a.multiSpaceTextItems + b.multiSpaceTextItems,
        a.totalTextItems + b.totalTextItems, a.tableCount + b.tableCount)

      def finish(b: Buf): DamageCounters = DamageCounters(
        b.spacedCells, b.totalCells, b.spacedTextItems,
        b.multiSpaceTextItems, b.totalTextItems, b.tableCount)

      def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      def outputEncoder: Encoder[DamageCounters] = Encoders.product[DamageCounters]
    }
}
