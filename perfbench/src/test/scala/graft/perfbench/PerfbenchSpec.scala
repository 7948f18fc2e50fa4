package graft.perfbench

import graft.functions.JsonFlatten
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private def gen(seed: Long) =
    Gen.batches(seed, n = 6, size = 500, width = 22, users = 1000, firstStream = 2, payloadFrom = 2)

  test("the generator gives equal inputs for equal seeds and different ones otherwise") {
    assert(gen(7) == gen(7))
    assert(gen(7) != gen(8))
    assert(gen(7).flatMap(_.events.map(_.payload)) != gen(8).flatMap(_.events.map(_.payload)))
  }

  test("generated events have the stated shape") {
    val bs = gen(3)
    val streamed = bs.drop(2).flatMap(_.events)
    val resends = streamed.filter(_.resend)
    assert(bs.take(3).forall(_.events.forall(!_.resend)), "history and the first streamed batch")
    assert(resends.nonEmpty && resends.size < streamed.size / 10)
    assert(resends.forall(_.identifiable))
    // a re-send repeats an event of 1 to 3 batches back, later received
    val firstSeen = bs.flatMap(b => b.events.filterNot(_.resend).map(e => e.messageId -> (b.index, e))).toMap
    bs.foreach(b => b.events.filter(_.resend).foreach { e =>
      val (ob, orig) = firstSeen(e.messageId)
      assert(ob >= 2 && ob < b.index && b.index - ob <= 3)
      assert(e.tsMs == orig.tsMs && e.receivedMs > orig.receivedMs && e.payload == orig.payload)
    })
    val nonIdent = streamed.count(!_.identifiable)
    assert(nonIdent > 0 && nonIdent < streamed.size / 20)
    // event times stay within 5 minutes before their batch's minute
    bs.foreach(b => b.events.filterNot(_.resend).foreach { e =>
      assert(e.tsMs >= Gen.T0 + b.index * Gen.batchMs - 300000L && e.tsMs < Gen.T0 + (b.index + 1) * Gen.batchMs)
    })
    assert(bs.take(2).forall(_.events.forall(_.payload == "{}")))
    assert(bs.take(3).forall(_.events.forall(_.conflicts.isEmpty)), "no conflicts before the registry is seeded")
  }

  test("payload types infer to the registry, except the injected conflicts") {
    val reg = Gen.registry(22)
    assert(reg.size == 22)
    var conflicts = 0
    gen(5).drop(2).flatMap(_.events).foreach { e =>
      val types = JsonFlatten.flattenTypes(e.payload, redshiftText = true)
      assert(types.keySet.subsetOf(reg.keySet))
      types.foreach { case (k, t) =>
        if (e.conflicts.contains(k)) { assert(t == "string"); conflicts += 1 }
        else assert(t == reg(k), s"$k: $t")
      }
      assert(e.conflicts.forall(c => reg(c) != "string"))
    }
    assert(conflicts > 0)
    assert(Gen.registry(24).size == 24 && Gen.registry(16).keySet.subsetOf(reg.keySet))
  }

  test("the median interpolates between the middle two of an even count") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median((1 to 101).reverse.map(_.toDouble)) == 51.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("self time is the span minus the union of its children") {
    val p = Span(1, 0, "batch", "r", 0, 10)
    val kids = Seq(Span(2, 1, "a", "r", 1, 3), Span(3, 1, "b", "r", 2, 5), Span(4, 1, "c", "r", 9, 12))
    assert(Trace.selfTime(p, kids) == 10 - 4 - 1)
    assert(Trace.merge(Seq((2.0, 5.0), (1.0, 3.0), (9.0, 12.0)), 0, 10) == Seq((1.0, 5.0), (9.0, 10.0)))
    val all = p +: kids.take(2)
    val self = Trace.selfTimes(all)
    assert(self(1) == 6 && self(2) == 2 && self(3) == 3)
  }

  test("reconcile counts an operation whose layers miss part of its wall time") {
    val ctx = new Ctx("w", 1L, 1.0, traced = true, "", "", "", "")
    ctx.tracer.span("op")(ctx.tracer.span("layer")(Thread.sleep(5)))
    val op = ctx.tracer.all.last
    ctx.reconcile(op, op.dur / 1e3)
    assert(ctx.layers.getOrElse("trace.reconcile_failures", 0.0) == 0.0)
    assert(ctx.layers("trace.reconcile_gap_max_s") < 0.001)
    ctx.reconcile(op, op.dur / 1e3 + 0.5)
    assert(ctx.layers("trace.reconcile_failures") == 1.0)
    assert(ctx.layers("trace.reconcile_gap_max_s") >= 0.5)
  }

  test("the union-find reference labels each component by its least node") {
    val edges = Seq(5L -> 6L, 7L -> 8L, 6L -> 7L, 20L -> 3L, 40L -> 41L, 41L -> 40L)
    assert(Reference.components(edges) ==
      Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L, 20L -> 3L, 3L -> 3L, 40L -> 40L, 41L -> 40L))
    assert(Reference.components(Nil).isEmpty)
  }

  test("the tracks reference keeps first arrivals of identifiable events") {
    def ev(id: String, rcv: Long, user: String, resend: Boolean = false) =
      GenEvent(id, 0L, rcv, user, null, null, "track", 0.0, "{}", Nil, resend)
    val hist = Seq(GenBatch(0, IndexedSeq(ev("h1", 5, "u1"), ev("h2", 6, null))))
    val stream = Seq(GenBatch(1, IndexedSeq(ev("m1", 10, "u1"))),
      GenBatch(2, IndexedSeq(ev("m1", 20, "u1", resend = true), ev("m2", 21, "u2"))))
    assert(Reference.tracks(hist, stream) == Map("h1" -> 5L, "m1" -> 10L, "m2" -> 21L))
  }

  test("identity nodes of users and devices do not collide") {
    assert(Gen.node("u42") == 42L)
    assert(Gen.node("a42_2") != Gen.node("a43_2") && Gen.node("a42_2") > 1000000000L)
  }
}
