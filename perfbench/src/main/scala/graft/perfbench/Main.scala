package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed operation: a query (construction plus action) or a batch. */
final case class Op(name: String, pass: Int, wallS: Double, ok: Boolean)

/** What a workload hands back: its operations, the number of them in a
  * complete pass, and whether the output checks not tied to one
  * operation passed.
  */
final case class Outcome(ops: Seq[Op], passSize: Int, checksOk: Boolean)

/** Run-wide state: arguments, scratch directories, the tracer and, in a
  * traced run, the listeners.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, val traced: Boolean,
                val work: String, val data: String, val pins: String, val out: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(traced, s"$workload-$seed")
  var spark: SparkSession = _
  var probe: Option[Probe] = None
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(metric: String, v: Double): Unit = layers(metric) = layers.getOrElse(metric, 0.0) + v

  /** Run `body` with Spark jobs tagged by `group` (traced runs only). */
  def tagged[T](group: String)(body: => T): T =
    if (!traced) body
    else {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }

  /** Attach a group's jobs under `parent`, clipped to it. Jobs that
    * overlap in time (a broadcast next to its consumer) become one
    * `spark.jobs` span, so sibling spans never overlap.
    */
  def jobSpans(parent: Span, g: GroupStats): Unit =
    Trace.merge(g.jobIntervals.toSeq, parent.start, parent.end).foreach { case (s, e) =>
      tracer.add(parent.id, "spark.jobs", s, e)
    }

  /** Wall time of `span` during which none of the group's tasks ran. */
  def driverS(span: Span, g: GroupStats): Double =
    (span.dur - Trace.unionLength(g.taskIntervals.toSeq, span.start, span.end)) / 1e3

  /** Reconcile an operation's spans with its wall time, which the
    * workload takes with its own clock outside the tracer. The gap is
    * the wall time that no named layer (a child span of `root`) covers:
    * the root's self time plus any difference between the root span and
    * the wall time. It holds the benchmark's own code between the
    * layers, so it may be at most 0.1% of the wall time, or 1 ms. The
    * run reports its largest gap and how many operations exceed that;
    * each of those is logged.
    */
  def reconcile(root: Span, wallS: Double): Unit = {
    val covered = (root.dur - Trace.selfTime(root, tracer.all.filter(_.parent == root.id))) / 1e3
    val gap = wallS - covered
    layers("trace.reconcile_gap_max_s") = math.max(layers.getOrElse("trace.reconcile_gap_max_s", 0.0), gap)
    if (gap > math.max(0.001, wallS / 1000)) {
      System.err.println(f"[perfbench] reconcile failed: ${root.name} wall $wallS%.4f s, " +
        f"layers cover $covered%.4f s")
      add("trace.reconcile_failures", 1)
    }
  }

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** JIT, codegen compiler, shuffle path and one micro-batch of a
    * stream, so the first timed operation is not billed the JVM's start.
    */
  def warmUp(): Unit = {
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 100)").collect()
    val s = spark
    import s.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = in.toDF().dropDuplicates().writeStream
      .option("checkpointLocation", s"$work/warmup-ckpt-${System.nanoTime()}")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () })
      .start()
    try { in.addData(1L, 2L, 2L); q.processAllAvailable() } finally q.stop()
  }

  def stopSession(): Unit = if (spark != null) {
    spark.streams.active.foreach(_.stop())
    probe.foreach(_.close()); probe = None
    spark.stop(); spark = null
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }
}

/** A workload: set-up (repeated to time it), then the timed loop. */
trait Workload {
  /** Work that warms the fresh session before its inputs are made. */
  def warmUp(ctx: Ctx): Unit = ctx.warmUp()
  /** Makes the inputs from the seed, again on every set-up repetition. */
  def setUp(ctx: Ctx, rep: Int): Unit
  def run(ctx: Ctx, deadline: Long): Outcome
}

object Main {

  val setupReps = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val ctx = new Ctx(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("work"), arg("data"), arg("pins"), arg("out"))
    val wl: Workload = ctx.workload match {
      case "catalog_sf001" => new CatalogWorkload
      case "elt_stream" => new Elt
      case w => sys.error(s"unknown workload $w")
    }
    val tmpdir = new File(sys.props("java.io.tmpdir"))
    def tmpEntries(): Set[String] = Option(tmpdir.list()).fold(Set.empty[String])(_.toSet)
    val tmpBefore = tmpEntries()

    // Set-up is timed several times and reported as the median; the
    // last repetition's session and inputs serve the timed loop.
    val reps = if (ctx.traced) 1 else setupReps
    val setupTimes = (0 until reps).map { rep =>
      ctx.stopSession()
      val t0 = System.nanoTime()
      val (sess, inputs) = ctx.tracer.span("setup") {
        val ts = System.nanoTime()
        ctx.spark = ctx.newSession()
        wl.warmUp(ctx)
        val ti = System.nanoTime()
        wl.setUp(ctx, rep)
        ((ti - ts) / 1e9, (System.nanoTime() - ti) / 1e9)
      }
      if (ctx.traced) {
        ctx.layers("setup.session_s") = sess
        ctx.layers("setup.inputs_s") = inputs
      }
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $rep: $t%.3f s")
      t
    }
    if (ctx.traced) ctx.probe = Some(new Probe(ctx.spark))

    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val outcome = ctx.tracer.span(s"workload:${ctx.workload}")(wl.run(ctx, deadline))

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (ctx.traced) {
      val sc = ctx.spark.sparkContext
      val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      ctx.layers("jvm.peak_rss_mb") = rss
      ctx.layers("jvm.persisted_rdds_end") = sc.getPersistentRDDs.size.toDouble
      ctx.layers("jvm.cached_bytes_end") =
        sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum
    }
    ctx.stopSession()
    if (ctx.traced) {
      ctx.layers("jvm.scratch_dirs_end") = (tmpEntries() -- tmpBefore).size.toDouble
      // tracing overhead: these traced figures minus the untraced ones
      endToEnd(outcome, 0.0).filter(_._1 != "setup_s").foreach { case (k, (v, _)) =>
        ctx.layers(s"trace.$k") = v
      }
      // every per-layer metric is reported; a layer the workload does not
      // exercise reads 0
      val unlisted = ctx.layers.keys.filterNot(perLayer.map(_._1).contains)
      require(unlisted.isEmpty, s"unlisted layer metrics: ${unlisted.mkString(",")}")
      perLayer.foreach { case (k, u) => metrics(k) = (ctx.layers.getOrElse(k, 0.0), u) }
      val f = Paths.get(ctx.out, s"trace-${ctx.workload}-seed${ctx.seed}.json")
      Files.createDirectories(f.getParent)
      Files.write(f, Trace.toJson(ctx.tracer.all).getBytes("UTF-8"))
      System.err.println(s"[perfbench] spans written to $f")
    } else {
      endToEnd(outcome, Stats.median(setupTimes)).foreach { case (k, v) => metrics(k) = v }
    }

    val failed = outcome.ops.count(!_.ok)
    val correct = failed == 0 && outcome.checksOk
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${outcome.ops.size},"failed":$failed,"metrics":$body}""")
  }

  /** The end-to-end metrics, computed from the timed operations: pass 1
    * is cold, later complete passes are warm.
    */
  def endToEnd(o: Outcome, setupS: Double): Seq[(String, (Double, String))] = {
    val warmPasses = o.ops.filter(_.pass > 1).groupBy(_.pass).values
      .filter(_.size == o.passSize).map(_.map(_.wallS).sum)
    require(warmPasses.nonEmpty, "no complete warm pass within the time cap")
    Seq(
      "setup_s" -> (setupS, "s"),
      "cold_s" -> (o.ops.filter(_.pass == 1).map(_.wallS).sum, "s"),
      "warm_s" -> (Stats.median(warmPasses.toSeq), "s"))
  }

  /** Every per-layer metric of a traced run, with its unit. */
  val perLayer: Seq[(String, String)] = {
    def s(names: String*) = names.map(_ -> "s")
    def n(names: String*) = names.map(_ -> "count")
    def b(names: String*) = names.map(_ -> "bytes")
    s("operators.construct_s", "operators.construct_task_s", "operators.construct_s_warm") ++
      n("operators.construct_jobs") ++
      s("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s") ++
      s("exec.action_s", "exec.action_s_warm", "exec.task_s", "exec.gc_s", "exec.driver_s") ++
      n("exec.jobs", "exec.tasks") ++
      b("exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes") ++
      s("streaming.tracks.batch_s", "streaming.tracks.add_batch_s",
        "streaming.tracks.query_planning_s", "streaming.tracks.wal_commit_s") ++
      n("streaming.tracks.state_rows", "streaming.tracks.dup_rows_dropped") ++
      b("streaming.tracks.state_mem_bytes", "sinks.tracks.bytes_written") ++
      n("sinks.tracks.files_written") ++ Seq("sinks.tracks.useful_write_ratio" -> "ratio") ++
      s("streaming.schema.batch_s", "streaming.schema.task_s", "streaming.schema.driver_s") ++
      n("streaming.schema.jobs", "streaming.schema.registry_cols", "streaming.schema.discard_rows") ++
      Elt.sweepWidths.flatMap(w => s(s"streaming.schema.k$w.batch_s", s"streaming.schema.k$w.driver_s")) ++
      s("streaming.identity.batch_s", "streaming.identity.task_s", "streaming.identity.driver_s") ++
      n("streaming.identity.jobs", "streaming.identity.store_files") ++
      Seq("jvm.peak_rss_mb" -> "MB") ++ n("jvm.persisted_rdds_end") ++ b("jvm.cached_bytes_end") ++
      n("jvm.scratch_dirs_end") ++
      s("setup.session_s", "setup.inputs_s", "trace.cold_s", "trace.warm_s", "trace.reconcile_gap_max_s") ++
      n("trace.reconcile_failures")
  }

}
