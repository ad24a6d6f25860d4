package perfbench

import scala.collection.mutable

import graft.api.Event

/** The benchmark's own model of the store: what every read must return.
  * Timelines are ts-descending with event_id as the tie-break, and a
  * bounded read returns exactly its first `n` events.
  */
object Model {
  val TimelineOrder: Ordering[Event] = Ordering.by((e: Event) => (-e.ts_us, e.event_id))

  /** None when `got` is exactly `expected` (same events, same order,
    * same values); otherwise why not. An empty answer where events were
    * expected is always a failure, however fast it came back.
    */
  def compare(expected: Seq[Event], got: Seq[Event]): Option[String] =
    if (got.isEmpty && expected.nonEmpty) Some(s"empty answer, expected ${expected.size} events")
    else if (got.size != expected.size) Some(s"${got.size} events, expected ${expected.size}")
    else expected.iterator.zip(got.iterator).zipWithIndex.collectFirst {
      case ((e, g), i) if e != g => s"event $i is ${g.event_id}@${g.ts_us} (value ${g.value}), " +
        s"expected ${e.event_id}@${e.ts_us} (value ${e.value})"
    }

  /** A near-duplicate answer: None when `found` holds no unplanted pair
    * and at least `minRecall` of the planted ones, so an empty answer
    * fails whenever pairs were planted.
    */
  def nearDups(found: Set[(Long, Long)], planted: Set[(Long, Long)], minRecall: Double): Option[String] = {
    val wrong = found.diff(planted)
    val hit = found.intersect(planted).size
    if (wrong.nonEmpty) Some(s"${wrong.size} unplanted pairs, e.g. ${wrong.head}")
    else if (hit < minRecall * planted.size) Some(s"$hit of ${planted.size} planted pairs found")
    else None
  }

  /** A top-k answer: None when every query with a planted partner has
    * that partner as its first neighbour. `top` maps each answered query
    * to its first neighbour.
    */
  def topNeighbours(top: Map[Long, Long], partners: Map[Long, Long]): Option[String] =
    partners.toSeq.sorted.collectFirst {
      case (q, p) if !top.get(q).contains(p) =>
        s"query $q: first neighbour ${top.get(q).map(_.toString).getOrElse("none")}, planted partner $p"
    }
}

/** An immutable store's events, indexed for the read mix. */
final class TimelineModel(events: Iterable[Event]) {
  import Model.TimelineOrder

  private val bySpaceGrouping: Map[(String, String), Array[Event]] =
    events.groupBy(e => (e.space, e.grouping)).map { case (k, v) => k -> v.toArray.sorted(TimelineOrder) }
  private val byIndex: Map[(String, String), Array[Event]] =
    events.groupBy(e => (e.space, Gen.countryOf(e.payload))).map { case (k, v) => k -> v.toArray.sorted(TimelineOrder) }
  private val groupingsOf: Map[String, IndexedSeq[String]] =
    bySpaceGrouping.keys.groupBy(_._1).map { case (s, ks) => s -> ks.map(_._2).toIndexedSeq.sorted }

  def timeline(space: String, grouping: String): Array[Event] =
    bySpaceGrouping.getOrElse((space, grouping), Array.empty[Event])
  def scanN(space: String, grouping: String, n: Int): Seq[Event] = timeline(space, grouping).take(n).toSeq
  def scanSince(space: String, grouping: String, sinceUs: Long): Seq[Event] =
    timeline(space, grouping).takeWhile(_.ts_us >= sinceUs).toSeq
  def scanIndexN(space: String, value: String, n: Int): Seq[Event] =
    byIndex.getOrElse((space, value), Array.empty[Event]).take(n).toSeq
  def groupings(space: String): IndexedSeq[String] = groupingsOf.getOrElse(space, IndexedSeq.empty)
}

/** A mutable store's live rows, with every write and mutation applied
  * as the engine is asked to apply it.
  */
final class LiveModel(initial: Iterable[Event]) {
  private val rows = mutable.HashMap.empty[Long, Event]
  private val byGrouping = mutable.HashMap.empty[String, mutable.HashSet[Long]]

  def size: Int = rows.size
  def events: Iterable[Event] = rows.values
  def ids: Iterable[Long] = rows.keys
  def get(id: Long): Option[Event] = rows.get(id)
  def groupingIds(g: String): Iterable[Long] = byGrouping.getOrElse(g, Nil)
  def liveGroupings: IndexedSeq[String] = byGrouping.iterator.filter(_._2.nonEmpty).map(_._1).toIndexedSeq.sorted

  def put(e: Event): Unit = {
    rows.get(e.event_id).foreach(old => byGrouping.get(old.grouping).foreach(_ -= old.event_id))
    rows(e.event_id) = e
    byGrouping.getOrElseUpdate(e.grouping, mutable.HashSet.empty) += e.event_id
  }
  private def remove(id: Long): Unit = rows.remove(id).foreach(e => byGrouping.get(e.grouping).foreach(_ -= id))

  def append(es: Iterable[Event]): Unit = es.foreach(put)
  def deleteGrouping(g: String): Unit = groupingIds(g).toSeq.foreach(remove)
  def deleteOlderThan(cutoffUs: Long): Unit = rows.values.filter(_.ts_us < cutoffUs).map(_.event_id).toSeq.foreach(remove)
  def updateGrouping(g: String, value: Double): Unit =
    groupingIds(g).toSeq.foreach(id => put(rows(id).copy(value = value)))
  /** Upsert on event_id. */
  def merge(source: Iterable[Event]): Unit = source.foreach(put)

  def timeline(space: String, grouping: String): Seq[Event] =
    groupingIds(grouping).iterator.map(rows).filter(_.space == space).toSeq.sorted(Model.TimelineOrder)
  def hash: Long = rows.valuesIterator.foldLeft(0L)((a, e) => a + ContentHash.event(e))

  initial.foreach(put)
}
