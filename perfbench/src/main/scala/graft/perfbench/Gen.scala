package graft.perfbench

import scala.collection.mutable

/** One generated Segment-shaped event. Times are epoch milliseconds. */
final case class GenEvent(messageId: String, tsMs: Long, receivedMs: Long,
                          userId: String, anonymousId: String, previousId: String,
                          eventType: String, value: Double, payload: String,
                          conflicts: Seq[String], resend: Boolean) {
  def identifiable: Boolean = userId != null || anonymousId != null
}

final case class GenBatch(index: Int, events: IndexedSeq[GenEvent]) {
  /** The identity edges the batch carries: identify links user and
    * anonymous id, alias links user and previous id.
    */
  def edges: IndexedSeq[(Long, Long)] = events.flatMap { e =>
    e.eventType match {
      case "identify" if e.userId != null && e.anonymousId != null =>
        Some(Gen.node(e.userId) -> Gen.node(e.anonymousId))
      case "alias" if e.userId != null && e.previousId != null =>
        Some(Gen.node(e.userId) -> Gen.node(e.previousId))
      case _ => None
    }
  }
}

/** Seeded generator of the ELT stream's input.
  *
  *  - users are Zipf-skewed (s = 1) over `users` ids, each with a few
  *    anonymous device ids;
  *  - batch b carries event times in minute b (the stream's watermark is
  *    10 minutes); 5% of fresh events arrive out of order, up to 5
  *    minutes early, so within the watermark;
  *  - 5% of a batch are re-sent duplicates of events 1 to 3 batches
  *    back (never of the same batch, so which copy survives is defined),
  *    with the same event time and a later `received_at`;
  *  - 1% carry neither user nor anonymous id;
  *  - the payload has `width` leaf keys at depth <= 3, each present with
  *    p = 0.8; with p = 0.01 a typed (non-string) value is replaced by
  *    a string, which the schema fold must discard.
  */
object Gen {
  val T0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val batchMs: Long = 60000L
  private val conflictP = 0.01

  /** Leaf keys: path and warehouse type. The first `width` are used. */
  val keys: IndexedSeq[(Seq[String], String)] = IndexedSeq(
    Seq("event_name") -> "string", Seq("count") -> "int", Seq("amount") -> "float",
    Seq("active") -> "boolean", Seq("sent") -> "datetime", Seq("channel") -> "string",
    Seq("ctx", "ip") -> "string", Seq("ctx", "locale") -> "string",
    Seq("ctx", "screen_w") -> "int", Seq("ctx", "screen_h") -> "int",
    Seq("props", "price") -> "float", Seq("props", "qty") -> "int",
    Seq("props", "sku") -> "string", Seq("props", "member") -> "boolean",
    Seq("ctx", "lib", "name") -> "string", Seq("ctx", "lib", "version") -> "string",
    Seq("props", "geo", "lat") -> "float", Seq("props", "geo", "lon") -> "float",
    Seq("props", "geo", "seen") -> "datetime", Seq("user", "traits", "age") -> "int",
    Seq("user", "traits", "vip") -> "boolean", Seq("user", "traits", "since") -> "datetime",
    Seq("page", "path") -> "string", Seq("page", "ms") -> "int",
    Seq("page", "ref", "host") -> "string", Seq("page", "ref", "score") -> "float")

  def column(path: Seq[String]): String = path.mkString("_")

  /** The registry the schema fold must build: flattened column -> type. */
  def registry(width: Int): Map[String, String] =
    keys.take(width).map { case (p, t) => column(p) -> t }.toMap

  private val userBase = 0L
  private val anonBase = 1000000000L

  /** Identity graph node of a user or anonymous id. */
  def node(id: String): Long =
    if (id.startsWith("u")) userBase + id.drop(1).toLong
    else { val Array(u, d) = id.drop(1).split('_'); anonBase + u.toLong * 4 + d.toLong }

  private val types = Seq("track" -> 0.60, "identify" -> 0.15, "page" -> 0.12,
    "screen" -> 0.08, "alias" -> 0.05)

  final class Zipf(n: Int, rnd: java.util.SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / k)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(n - 1) + 1
    }
  }

  /** Batches `0 until n` of `size` events each. Batches below
    * `firstStream` are history; re-sends come from batch `firstStream`
    * on, and type conflicts start after it (it seeds the registry).
    * Batches below `payloadFrom` get an empty payload, to keep history
    * small in memory.
    */
  def batches(seed: Long, n: Int, size: Int, width: Int, users: Int,
              firstStream: Int, payloadFrom: Int = 0): IndexedSeq[GenBatch] = {
    val rnd = new java.util.SplittableRandom(seed)
    val zipf = new Zipf(users, rnd)
    val out = mutable.ArrayBuffer.empty[GenBatch]
    for (b <- 0 until n) {
      val received = T0 + (b + 1) * batchMs + 30000L
      val clean = b <= firstStream
      val evs = mutable.ArrayBuffer.empty[GenEvent]
      var i = 0
      while (evs.size < size) {
        val r = rnd.nextDouble()
        if (b > firstStream && r < 0.05) {
          val back = out(math.max(firstStream, b - 1 - rnd.nextInt(3)))
          val orig = back.events(rnd.nextInt(back.events.size))
          if (!orig.resend && orig.identifiable)
            evs += orig.copy(receivedMs = received + rnd.nextInt(1000), resend = true)
        } else {
          val u = zipf.next()
          val dev = rnd.nextInt(3)
          val anon = s"a${u}_$dev"
          val user = s"u$u"
          val typ = {
            var x = rnd.nextDouble(); var k = 0
            while (k < types.size - 1 && x >= types(k)._2) { x -= types(k)._2; k += 1 }
            types(k)._1
          }
          val nonIdent = r >= 0.05 && r < 0.06
          val (uid, aid, prev) =
            if (nonIdent) (null, null, null)
            else typ match {
              case "identify" => (user, anon, null)
              case "alias" =>
                val other = if (rnd.nextBoolean()) u else zipf.next()
                (user, null, s"a${other}_${rnd.nextInt(3)}")
              case _ => if (rnd.nextDouble() < 0.6) (user, anon, null) else (null, anon, null)
            }
          val base = T0 + b * batchMs
          val ts =
            if (rnd.nextDouble() < 0.05) base - 1 - rnd.nextInt(300000)
            else base + rnd.nextInt(batchMs.toInt)
          val (payload, conflicts) =
            if (b < payloadFrom) ("{}", Nil)
            else this.payload(rnd, width, if (clean) 0.0 else conflictP)
          evs += GenEvent(s"m$b-$i", ts, received + rnd.nextInt(1000), uid, aid, prev,
            if (nonIdent) "track" else typ, rnd.nextInt(100000) / 100.0, payload, conflicts,
            resend = false)
          i += 1
        }
      }
      out += GenBatch(b, evs.toIndexedSeq)
    }
    out.toIndexedSeq
  }

  private def payload(rnd: java.util.SplittableRandom, width: Int,
                      pConflict: Double): (String, Seq[String]) = {
    // nested maps keep insertion order so equal seeds give equal JSON
    val root = mutable.LinkedHashMap.empty[String, Any]
    val conflicts = mutable.ArrayBuffer.empty[String]
    keys.take(width).foreach { case (path, typ) =>
      if (rnd.nextDouble() < 0.8) {
        val conflict = typ != "string" && rnd.nextDouble() < pConflict
        val v: String =
          if (conflict) { conflicts += column(path); "\"n/a\"" }
          else typ match {
            case "int" => rnd.nextInt(100000).toString
            // a fractional part that never rounds to an integer
            case "float" => s"${rnd.nextInt(1000)}.${rnd.nextInt(100)}5"
            case "boolean" => rnd.nextBoolean().toString
            case "datetime" =>
              val ms = T0 - rnd.nextInt(1 << 30).toLong * 1000
              "\"" + java.time.Instant.ofEpochMilli(ms).toString + "\""
            case _ => "\"s" + rnd.nextInt(5000) + "\""
          }
        var node = root
        path.init.foreach { k =>
          node = node.getOrElseUpdate(k, mutable.LinkedHashMap.empty[String, Any])
            .asInstanceOf[mutable.LinkedHashMap[String, Any]]
        }
        node(path.last) = v
      }
    }
    def render(m: mutable.LinkedHashMap[String, Any]): String = m.map {
      case (k, v: mutable.LinkedHashMap[String, Any] @unchecked) => s""""$k":${render(v)}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    (render(root), conflicts.toSeq)
  }
}

/** Plain-Scala reference results for the ELT folds. */
object Reference {

  /** Connected components by union-find; each node maps to the least
    * node of its component, as the identity fold labels them.
    */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** The tracks table after the history load and the streamed batches:
    * one row per identifiable message id. The stream drops re-sends
    * (their first copy is still in its dedup state), so each id keeps
    * the `received_at` of its first arrival.
    */
  def tracks(history: Seq[GenBatch], streamed: Seq[GenBatch]): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    history.foreach(_.events.filter(_.identifiable).foreach(e => out(e.messageId) = e.receivedMs))
    streamed.foreach(_.events.filter(e => e.identifiable && !e.resend).foreach { e =>
      out(e.messageId) = math.max(out.getOrElse(e.messageId, Long.MinValue), e.receivedMs)
    })
    out.toMap
  }

  /** Discards the schema fold must emit for a batch: (row id, column). */
  def discards(batch: GenBatch): Seq[(String, String)] =
    batch.events.flatMap(e => e.conflicts.map(c => e.messageId -> c)).sorted
}
