package graft.perfbench

import graft.streaming.{EventStream, IdentityStream, SchemaEvolution}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import java.sql.Timestamp
import scala.util.control.NonFatal

/** Row of the tracks stream's input (EventStream's input schema). */
final case class TrackIn(message_id: String, ts: Timestamp, received_at: Timestamp,
                         user_id: String, anonymous_id: String, event_type: String,
                         value: Double)

/** The CDP write path: per batch of generated events, the tracks
  * pipeline (one `addData`, one `processAllAvailable`), then
  * `SchemaEvolution.processBatch` on (id, payload), then
  * `IdentityStream.processBatch` on the batch's identify/alias edges.
  * Set-up loads `historyBatches` of history into the tracks table and
  * the identity store, so each MERGE faces a table much larger than its
  * batch; the first streamed batch has no type conflicts and seeds the
  * schema registry. One client
  * thread; a batch is one operation, timed from handing it to the
  * stream until the identity fold returns. A pass is one batch.
  */
final class Elt extends Workload {
  import Elt._

  private var all: IndexedSeq[GenBatch] = _
  private var tracksDir, ckptDir, tableDir, registryDir, discardsDir, idDir: String = _
  private var input: MemoryStream[TrackIn] = _
  private var query: StreamingQuery = _

  private def history = all.take(historyBatches)
  private def stream = all.drop(historyBatches)

  def setUp(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    all = Gen.batches(ctx.seed, historyBatches + maxBatches, batchSize, width, users,
      firstStream = historyBatches, payloadFrom = historyBatches)
    val base = s"${ctx.work}/elt-$rep"
    tracksDir = s"$base/tracks"; ckptDir = s"$base/ckpt"
    tableDir = s"$base/typed"; registryDir = s"$base/registry"; discardsDir = s"$base/discards"
    idDir = s"$base/identity"
    EventStream.mergeIntoTracks(spark, tracksDir,
      EventStream.toTracks(trackRows(spark, history.flatMap(_.events).filter(_.identifiable))))
    IdentityStream.processBatch(spark, edgeRows(spark, history.flatMap(_.edges)), idDir, 0L)
    val s = spark
    import s.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[TrackIn]
    query = EventStream.startTracksPipeline(input.toDF(), tracksDir, ckptDir)
  }

  def run(ctx: Ctx, deadline: Long): Outcome = {
    val spark = ctx.spark
    // a traced run leaves time for the width sweep after the loop
    val cap = System.nanoTime() + ((if (ctx.traced) capSeconds / 2 else capSeconds) * 1e9).toLong
    val walls = Seq.newBuilder[(Int, Double, Boolean)]
    var i = 0
    while (i < maxBatches && (i < minBatches || System.nanoTime() < deadline) &&
        System.nanoTime() < cap) {
      val b = stream(i)
      val rows = b.events.map(toTrackIn)
      val payloads = payloadRows(spark, b)
      val edges = edgeRows(spark, b.edges)
      val id = i + 1L
      val t0 = System.nanoTime()
      val ok = try {
        ctx.tracer.span(s"batch:$id") {
          ctx.tracer.span("streaming.tracks") { input.addData(rows); query.processAllAvailable() }
          ctx.tracer.span("streaming.schema")(ctx.tagged(s"s:$id")(SchemaEvolution.processBatch(
            spark, payloads, tableDir, registryDir, discardsDir, id)))
          ctx.tracer.span("streaming.identity")(ctx.tagged(s"i:$id")(
            IdentityStream.processBatch(spark, edges, idDir, id)))
        }
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] batch $id failed: ${e.toString.takeWhile(_ != '\n').take(300)}")
          false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] batch $id $wall%.3f s")
      walls += ((i, wall, ok))
      if (ctx.traced) layerMetrics(ctx, b, id, wall)
      i += 1
    }
    query.stop()
    val done = walls.result()
    val bad = check(spark, done.size)
    val ops = done.map { case (k, w, ok) => Op(s"batch:${k + 1}", k + 1, w, ok && !bad(k)) }
    if (ctx.traced) finalLayers(ctx)
    Outcome(ops, 1, checksOk = !bad.contains(-1))
  }

  /** Output checks against the reference, after the timed loop. Returns
    * the indices of batches whose outputs are wrong; -1 stands for a
    * wrong history load or registry, which no batch owns.
    */
  private def check(spark: SparkSession, n: Int): Set[Int] = {
    val done = stream.take(n)
    val bad = scala.collection.mutable.Set.empty[Int]
    var logged = 0
    def fail(what: String, k: Int): Unit = {
      if (logged < 5) System.err.println(s"[perfbench] check failed: $what")
      logged += 1
      bad += k
    }
    // tracks: one row per identifiable message id, with the received_at
    // of its first arrival (the stream drops the re-sends)
    val owner = done.zipWithIndex.flatMap { case (b, k) => b.events.map(_.messageId -> k) }.toMap
    val expected = Reference.tracks(history, done)
    val actual = spark.read.parquet(tracksDir).select(col("id"), col("received_at"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).getTime)
    val counts = actual.groupBy(_._1).map { case (k, v) => k -> v.length }
    actual.foreach { case (mid, rcv) =>
      if (!expected.get(mid).contains(rcv) || counts(mid) != 1)
        fail(s"tracks row $mid", owner.getOrElse(mid, -1))
    }
    val landed = counts.keySet
    expected.keys.filterNot(landed).foreach(mid => fail(s"tracks missing $mid", owner.getOrElse(mid, -1)))
    // schema registry: exactly the generated keys and their types
    if (SchemaEvolution.readRegistry(spark, registryDir) != Gen.registry(width))
      fail("schema registry", -1)
    // discards: exactly the injected conflicts, batch by batch
    val disc = spark.read.parquet(discardsDir)
      .select(col("batch_id").cast("int"), col("row_id"), col("column_name")).collect()
      .groupBy(_.getInt(0) - 1).map { case (k, rs) => k -> rs.map(r => r.getString(1) -> r.getString(2)).toSeq.sorted }
    done.zipWithIndex.foreach { case (b, k) =>
      if (disc.getOrElse(k, Nil) != Reference.discards(b)) fail(s"discards of batch ${k + 1}", k)
    }
    if (disc.keys.exists(k => k < 0 || k >= n)) fail("discards outside the timed batches", -1)
    // identity: union-find over every edge folded so far
    val ref = Reference.components(history.flatMap(_.edges) ++ done.flatMap(_.edges))
    val got = IdentityStream.readMappings(spark, idDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (got != ref) {
      val wrong = (ref.keySet ++ got.keySet).filter(k => ref.get(k) != got.get(k))
      val nodeBatch = done.zipWithIndex.flatMap { case (b, k) =>
        b.edges.flatMap { case (s, d) => Seq(s -> k, d -> k) } }.toMap
      wrong.foreach(w => fail(s"identity mapping of node $w", nodeBatch.getOrElse(w, -1)))
    }
    bad.toSet
  }

  private var filesSeen = Set.empty[String]

  private def layerMetrics(ctx: Ctx, b: GenBatch, id: Long, wall: Double): Unit = {
    val probe = ctx.probe.get
    val spans = ctx.tracer.all
    val root = spans.last
    val kids = spans.filter(_.parent == root.id).map(s => s.name -> s).toMap
    val prog = probe.takeProgress()
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / 1e3
    val state = prog.lastOption.flatMap(_.stateOperators.headOption)
    val tracksGroup = probe.take(query.runId.toString)
    kids.get("streaming.tracks").foreach(ctx.jobSpans(_, tracksGroup))
    val files = listFiles(new File(tracksDir))
    val fresh = files -- filesSeen
    filesSeen = files
    val landed = b.events.count(e => e.identifiable && !e.resend)
    perBatch("streaming.tracks.batch_s", kids.get("streaming.tracks").map(_.dur / 1e3).getOrElse(0.0))
    perBatch("streaming.tracks.add_batch_s", dur("addBatch"))
    perBatch("streaming.tracks.query_planning_s", dur("queryPlanning"))
    perBatch("streaming.tracks.wal_commit_s", dur("walCommit"))
    perBatch("streaming.tracks.state_rows", state.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    perBatch("streaming.tracks.state_mem_bytes", state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
    perBatch("streaming.tracks.dup_rows_dropped", prog.flatMap(_.stateOperators.headOption)
      .map(s => Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.toDouble).getOrElse(0.0)).sum)
    perBatch("sinks.tracks.bytes_written", tracksGroup.bytesWritten.toDouble)
    perBatch("sinks.tracks.files_written", fresh.count(_.endsWith(".parquet")).toDouble)
    perBatch("sinks.tracks.useful_write_ratio",
      if (tracksGroup.recordsWritten > 0) landed.toDouble / tracksGroup.recordsWritten else 0.0)
    for ((layer, g) <- Seq("schema" -> s"s:$id", "identity" -> s"i:$id")) {
      val st = probe.take(g)
      kids.get(s"streaming.$layer").foreach { sp =>
        ctx.jobSpans(sp, st)
        perBatch(s"streaming.$layer.batch_s", sp.dur / 1e3)
        perBatch(s"streaming.$layer.driver_s", ctx.driverS(sp, st))
      }
      perBatch(s"streaming.$layer.jobs", st.jobs.toDouble)
      perBatch(s"streaming.$layer.task_s", st.taskMs / 1e3)
    }
    ctx.reconcile(root, wall)
  }

  private val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  private def perBatch(k: String, v: Double): Unit =
    samples(k) = samples.getOrElse(k, Vector.empty) :+ v

  /** Per-batch layer metrics are medians over the timed batches; store
    * sizes are read at the end; then the width sweep of the schema fold.
    */
  private def finalLayers(ctx: Ctx): Unit = {
    samples.foreach { case (k, v) => ctx.layers(k) = Stats.median(v) }
    val spark = ctx.spark
    ctx.layers("streaming.schema.registry_cols") =
      SchemaEvolution.readRegistry(spark, registryDir).size.toDouble
    ctx.layers("streaming.schema.discard_rows") =
      SchemaEvolution.readTable(spark, discardsDir).count().toDouble
    ctx.layers("streaming.identity.store_files") =
      listFiles(new File(idDir)).count(_.endsWith(".parquet")).toDouble
    sweep(ctx)
  }

  /** Schema fold cost by payload width: one batch per width on fresh
    * stores. The cost is mostly the driver generating code for the
    * batch's projections, which the first batch pays as later ones do,
    * so one batch per width keeps a traced run within its time limit.
    */
  private def sweep(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val probe = ctx.probe.get
    sweepWidths.foreach { w =>
      val b = Gen.batches(ctx.seed + w, 1, batchSize, w, users, firstStream = 0).head
      val base = s"${ctx.work}/sweep-$w"
      val g = s"w:$w"
      ctx.tracer.span(s"sweep:k$w")(ctx.tagged(g)(SchemaEvolution.processBatch(
        spark, payloadRows(spark, b), s"$base/typed", s"$base/registry", s"$base/discards", 0L)))
      val sp = ctx.tracer.all.last
      System.err.println(f"[perfbench] sweep k$w ${sp.dur / 1e3}%.3f s")
      val st = probe.take(g)
      ctx.jobSpans(sp, st)
      ctx.layers(s"streaming.schema.k$w.batch_s") = sp.dur / 1e3
      ctx.layers(s"streaming.schema.k$w.driver_s") = ctx.driverS(sp, st)
    }
  }
}

object Elt {
  val batchSize = 2000
  val width = 22
  val users = 20000
  val historyBatches = 30
  val maxBatches = 12
  val minBatches = 2
  val capSeconds = 110.0
  val sweepWidths = Seq(16, 20, 22, 24)

  def toTrackIn(e: GenEvent): TrackIn =
    TrackIn(e.messageId, new Timestamp(e.tsMs), new Timestamp(e.receivedMs), e.userId,
      e.anonymousId, e.eventType, e.value)

  def trackRows(spark: SparkSession, evs: Seq[GenEvent]): DataFrame = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(evs.map(toTrackIn), s.sparkContext.defaultParallelism).toDF()
  }

  def payloadRows(spark: SparkSession, b: GenBatch): DataFrame = {
    val s = spark
    import s.implicits._
    b.events.map(e => (e.messageId, e.payload)).toDF("id", "js")
  }

  def edgeRows(spark: SparkSession, edges: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  def listFiles(dir: File): Set[String] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) listFiles(f) else Set(f.getPath)
    }.toSet
}
