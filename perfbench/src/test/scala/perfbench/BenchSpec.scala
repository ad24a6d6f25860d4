package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Event

class BenchSpec extends AnyFunSuite {

  test("the same seed gives the same fixture hash; another seed does not") {
    val a = Gen.timeline(7, 5000, 8, 30)
    val b = Gen.timeline(7, 5000, 8, 30)
    val c = Gen.timeline(8, 5000, 8, 30)
    assert(a.hash == b.hash)
    assert(a.events.toSeq == b.events.toSeq)
    assert(a.hash != c.hash)
    val x = Gen.corpus(7, 400, 200, 16, 20)
    val y = Gen.corpus(7, 400, 200, 16, 20)
    assert(x.hash == y.hash)
    assert(x.exactGroups == y.exactGroups && x.nearPairs == y.nearPairs && x.embPairs == y.embPairs)
    assert(Gen.corpus(8, 400, 200, 16, 20).hash != x.hash)
  }

  test("the content hash ignores order") {
    val evs = Gen.timeline(3, 2000, 4, 10).events.toSeq
    assert(ContentHash.of(evs.iterator.map(_.toString)) == ContentHash.of(evs.reverseIterator.map(_.toString)))
    assert(new LiveModel(evs).hash == new LiveModel(evs.reverse).hash)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(xs(1000)) == Some((99.0, 990.0)))
    assert(Stats.tail(xs(999)).map(_._1) == Some(95.0))
    assert(Stats.tail(xs(10000)) == Some((99.9, 9990.0)))
    assert(Stats.tail(xs(200)) == Some((95.0, 190.0)))
    assert(Stats.tail(xs(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(xs(20)) == Some((50.0, 10.0)))
    assert(Stats.tail(xs(19)).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of the children, each overlap once") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    // children reaching outside the parent count only inside it
    assert(Stats.selfTime(0, 100, Seq((-5L, 5L), (90L, 120L))) == 85)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (10L, 20L))) == 0)
    assert(Stats.covered(0, 100, Seq((50L, 60L), (10L, 20L), (15L, 25L))) == 25)
  }

  test("the model orders timelines ts-descending with an event_id tie-break and respects the limit") {
    val evs = Seq(
      Event("s", "g", 100, 5, 1.0, "{\"country\":\"c01\",\"seq\":5}"),
      Event("s", "g", 200, 9, 1.0, "{\"country\":\"c01\",\"seq\":9}"),
      Event("s", "g", 200, 3, 1.0, "{\"country\":\"c02\",\"seq\":3}"),
      Event("s", "h", 300, 4, 1.0, "{\"country\":\"c01\",\"seq\":4}"))
    val m = new TimelineModel(evs)
    assert(m.scanN("s", "g", 10).map(_.event_id) == Seq(3, 9, 5))
    assert(m.scanN("s", "g", 2).map(_.event_id) == Seq(3, 9))
    assert(m.scanSince("s", "g", 150).map(_.event_id) == Seq(3, 9))
    assert(m.scanIndexN("s", "c01", 2).map(_.event_id) == Seq(4, 9))
    assert(m.groupings("s") == Seq("g", "h"))
  }

  test("the model check rejects a wrong answer and an empty one") {
    val evs = Gen.timeline(5, 3000, 4, 10).events.toSeq
    val m = new TimelineModel(evs)
    val (s, g) = evs.groupBy(e => (e.space, e.grouping)).maxBy(_._2.size)._1
    val expected = m.scanN(s, g, 20)
    assert(expected.size == 20)
    assert(Model.compare(expected, expected).isEmpty)
    assert(Model.compare(expected, Nil).exists(_.contains("empty answer")))
    assert(Model.compare(expected, expected.reverse).isDefined)
    assert(Model.compare(expected, expected.take(19)).isDefined)
    assert(Model.compare(expected, expected :+ expected.head).isDefined)
    assert(Model.compare(expected, expected.updated(4, expected(4).copy(value = -1))).isDefined)
    // an empty answer is right only where the model expects nothing
    assert(Model.compare(Nil, Nil).isEmpty)
  }

  test("the near-duplicate and top-k checks reject wrong, empty and partial answers") {
    val planted = Set((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
    assert(Model.nearDups(planted, planted, 0.9).isEmpty)
    assert(Model.nearDups(Set.empty, planted, 0.9).exists(_.contains("0 of 4")))
    assert(Model.nearDups(planted.take(3), planted, 0.9).isDefined)
    assert(Model.nearDups(planted.take(3), planted, 0.75).isEmpty)
    assert(Model.nearDups(planted + ((2L, 3L)), planted, 0.9).exists(_.contains("unplanted")))
    // nothing planted: the empty answer is the right one
    assert(Model.nearDups(Set.empty, Set.empty, 0.9).isEmpty)
    val partners = Map(10L -> 11L, 20L -> 21L)
    assert(Model.topNeighbours(Map(10L -> 11L, 20L -> 21L, 30L -> 5L), partners).isEmpty)
    assert(Model.topNeighbours(Map(10L -> 11L, 20L -> 7L), partners).exists(_.contains("query 20")))
    assert(Model.topNeighbours(Map.empty, partners).exists(_.contains("none")))
  }

  test("the live model applies writes and mutations") {
    val base = Seq(
      Event("s", "g", 100, 1, 1.0, "p"), Event("s", "g", 200, 2, 1.0, "p"),
      Event("t", "h", 300, 3, 1.0, "p"))
    val m = new LiveModel(base)
    m.append(Seq(Event("s", "h", 400, 4, 1.0, "p")))
    m.updateGrouping("g", 7.5)
    assert(m.timeline("s", "g").map(e => (e.event_id, e.value)) == Seq((2, 7.5), (1, 7.5)))
    m.merge(Seq(Event("s", "g", 250, 1, 2.0, "p"), Event("s", "g", 50, 5, 3.0, "p")))
    assert(m.timeline("s", "g").map(_.event_id) == Seq(1, 2, 5))
    m.deleteOlderThan(150)
    assert(m.timeline("s", "g").map(_.event_id) == Seq(1, 2))
    m.deleteGrouping("h")
    assert(m.size == 2 && m.liveGroupings == Seq("g"))
  }
}
