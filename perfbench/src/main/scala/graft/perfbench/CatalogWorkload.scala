package graft.perfbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The catalog workload: the pinned queries, a stratified sample of
  * `SparkEntry.queries` (see README.md), over the fixed sf0.01 tables,
  * in an order shuffled by the seed.
  * Pass 1 runs in the fresh session (cold: eager construction jobs and
  * maintained-artifact builds land here); later passes reshuffle and run
  * warm, until the deadline, and at least two passes complete. One
  * client thread; the action is `count()`.
  */
object CatalogWorkload {
  /** name -> pinned row count, from `<pins>/catalog_sf001.tsv`. */
  def readPins(dir: String): Seq[(String, Long)] =
    Files.readAllLines(Paths.get(dir, "catalog_sf001.tsv")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, c) = l.split("\t"); n -> c.toLong }

  val warmQuery = "q01_pricing_agg"

  /** Hard cap on the timed loop, so a run ends within its time limit. */
  val capSeconds = 120.0
}

final class CatalogWorkload extends Workload {
  import CatalogWorkload._

  private var pins: Seq[(String, Long)] = Nil

  def setUp(ctx: Ctx, rep: Int): Unit = {
    pins = readPins(ctx.pins)
    val missing = pins.map(_._1).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"pinned queries not in SparkEntry.queries: ${missing.mkString(",")}")
    require(!pins.exists(_._1 == warmQuery), s"$warmQuery warms the session; it cannot be pinned")
  }

  /** Besides the generic warm-up, one query outside the pinned list
    * (the one `SparkEntry.entry` runs), as `graft.Bench` does, so JIT
    * and first-use costs of the query path are not billed to whichever
    * pinned query comes first.
    */
  override def warmUp(ctx: Ctx): Unit = {
    ctx.warmUp()
    SparkEntry.queries(warmQuery)(ctx.spark, ctx.data).count()
  }

  def run(ctx: Ctx, deadline: Long): Outcome = {
    val rnd = new scala.util.Random(ctx.seed)
    val cap = System.nanoTime() + (capSeconds * 1e9).toLong
    val ops = Seq.newBuilder[Op]
    var pass = 0
    while ((pass < 2 || System.nanoTime() < deadline) && System.nanoTime() < cap) {
      pass += 1
      val order = rnd.shuffle(pins)
      val it = order.iterator
      while (it.hasNext && System.nanoTime() < cap && (pass <= 2 || System.nanoTime() < deadline)) {
        val (name, expected) = it.next()
        ops += runQuery(ctx, name, expected, pass)
      }
    }
    Outcome(ops.result(), pins.size, checksOk = true)
  }

  private def runQuery(ctx: Ctx, name: String, expected: Long, pass: Int): Op = {
    val fn = SparkEntry.queries(name)
    val spark = ctx.spark
    var rows = -1L
    val t0 = System.nanoTime()
    try ctx.tracer.span(s"query:$name") {
      val df = ctx.tracer.span("operators.construct")(ctx.tagged(s"c:$name")(fn(spark, ctx.data)))
      rows = ctx.tracer.span("exec.action")(ctx.tagged(s"a:$name")(df.count()))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.toString.takeWhile(_ != '\n').take(300)}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] pass $pass $name%-28s $wall%.3f s")
    if (rows >= 0 && rows != expected)
      System.err.println(s"[perfbench] $name: $rows rows, pinned $expected")
    if (ctx.traced) layerMetrics(ctx, name, pass, wall)
    Op(name, pass, wall, rows == expected)
  }

  /** Per-layer totals of the query just run, from its spans and jobs.
    * Pass-1 totals carry the plain names; the warm passes' construction
    * and action time are summed under `_warm` names.
    */
  private def layerMetrics(ctx: Ctx, name: String, pass: Int, wall: Double): Unit = {
    val probe = ctx.probe.get
    val spans = ctx.tracer.all
    val q = spans.last
    val kids = spans.filter(_.parent == q.id)
    val construct = kids.find(_.name == "operators.construct")
    val action = kids.find(_.name == "exec.action")
    val cg = probe.take(s"c:$name")
    val ag = probe.take(s"a:$name")
    val count = probe.takeActions().filter(_._1 == "count").lastOption.map(_._2)
    construct.foreach(ctx.jobSpans(_, cg))
    action.foreach(ctx.jobSpans(_, ag))
    val constructS = construct.map(_.dur / 1e3).getOrElse(0.0)
    val actionS = action.map(_.dur / 1e3).getOrElse(0.0)
    val catalystS = count.map(p => p.analysis + p.optimization + p.planning).getOrElse(0.0)
    System.err.println(f"[perfbench] layers pass $pass $name construct $constructS%.4f " +
      f"catalyst $catalystS%.4f action $actionS%.4f")
    val sfx = if (pass == 1) "" else "_warm"
    ctx.add(s"operators.construct_s$sfx", constructS)
    ctx.add(s"exec.action_s$sfx", actionS)
    if (pass == 1) {
      ctx.add("operators.construct_jobs", cg.jobs.toDouble)
      ctx.add("operators.construct_task_s", cg.taskMs / 1e3)
      count.foreach { p =>
        ctx.add("catalyst.analysis_s", p.analysis)
        ctx.add("catalyst.optimization_s", p.optimization)
        ctx.add("catalyst.planning_s", p.planning)
      }
      ctx.add("exec.jobs", ag.jobs.toDouble)
      ctx.add("exec.tasks", ag.tasks.toDouble)
      ctx.add("exec.task_s", ag.taskMs / 1e3)
      ctx.add("exec.gc_s", ag.gcMs / 1e3)
      ctx.add("exec.input_bytes", ag.inputBytes.toDouble)
      ctx.add("exec.shuffle_read_bytes", ag.shuffleReadBytes.toDouble)
      ctx.add("exec.shuffle_write_bytes", ag.shuffleWriteBytes.toDouble)
      ctx.add("exec.spill_bytes", ag.spillBytes.toDouble)
      action.foreach(a => ctx.add("exec.driver_s", ctx.driverS(a, ag)))
    }
    ctx.reconcile(q, wall)
  }
}
