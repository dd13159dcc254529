package perfbench

import scala.util.Random

import Oracle.{Ev, Group}

/** Closed-loop replay of an events table (the sf0.1 `events` shape:
  * 100,000 rows of event_id, user_id, event_type) mapped onto the
  * hierarchy, through one `emitAll` per replay, drained by an
  * in-process pull and ack loop over 5 project-subtree groups. The batch
  * body (fan-out explode, candidate-key join, payload write) does nearly
  * all the work and hydration very little. Untimed replays run for
  * [[Run.WarmSeconds]] before the timed ones. */
object Backfill {
  val Rows = 100000
  private val EventTypes = Seq("click", "signup", "error", "view", "purchase")

  val groups: IndexedSeq[Group] =
    (0 until 5).map(p => Group(s"backfill-p$p", "PROJECT", s"p$p", Seq(Seq(s"p$p")), subtree = true))

  /** The table row -> event mapping: a signup is a project event, a
    * purchase a collection event, anything else an event on a fresh
    * object in the user's collection and one of three shared groups. */
  def event(eventId: Long, userId: Long, eventType: String): Ev = {
    val p = s"p${userId % 5}"
    eventType match {
      case "signup" => Ev("PROJECT", "ALL", p, p)
      case "purchase" => Ev("COLLECTION", "ALL", s"c$userId", p)
      case _ => Ev("OBJECT", "ALL", s"o$eventId", p, s"c$userId", s"s$eventId",
        Seq(s"g${userId % 3}"))
    }
  }

  def run(r: Run): Outcome = {
    val o = new Outcome
    val rnd = new Random(r.seed)
    val table = Array.tabulate(Rows)(i =>
      event(i.toLong, rnd.nextInt(1500).toLong, EventTypes(rnd.nextInt(EventTypes.size))))
    val expected = new Oracle.Expected(groups)
    val cpus = r.spark.sparkContext.defaultParallelism
    val (eng, setupS) = Engine.setUp(r, groups, cpus, new H2Handler {})
    eng.admin.close()
    val sessions = groups.map(g => eng.mux.openSession(g.id))
    val log = new DeliveryLog(sampleEvery = 16)
    // latency origin of every event of a replay: when its emitAll was made
    val origin = new LongBuf(64)
    val emitAllMs = collection.mutable.ArrayBuffer.empty[Double]
    var emitted = 0L
    var refused, strays, dupRows, pulls, notifications = 0L
    val seen = groups.map(_ => collection.mutable.HashSet.empty[String])

    // per replay: deliveries and the wall from emitAll to the last one,
    // and when its drain was seen
    val drains = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val ends = new LongBuf(64)
    def replay(): Boolean = {
      val first = emitted
      val (rows0, t0) = (expected.expectedTotal, System.nanoTime())
      table.indices.foreach(k => expected.add((first + k).toInt, table(k)))
      // the whole table in one call: every replay is one offset, so its
      // micro-batch structure does not depend on where a trigger fell
      val events = table.map(ManyGroups.toEvent).toSeq
      val t = System.nanoTime()
      origin += t
      eng.mux.emitAll(events)
      emitAllMs += Stats.ms(System.nanoTime() - t)
      emitted += Rows
      val deadline = System.nanoTime() + 150L * 1000000000L
      while (log.matched.get < expected.expectedTotal && System.nanoTime() < deadline) {
        var got = false
        for (g <- groups.indices) {
          val pullStart = System.nanoTime()
          val chunks = eng.mux.pull(groups(g).id, sessions(g))
          pulls += 1
          val now = System.nanoTime()
          r.tracer.foreach(_.span("pull", s"pull$pulls", pullStart, now))
          chunks.foreach { c =>
            got = true
            notifications += 1
            if (!seen(g).add(c.chunkId)) dupRows += c.subjects.size
            else c.subjects.foreach { s =>
              val ev = expected.take(g, s)
              if (ev < 0) strays += 1 else log.add(ev, now, c.batchId)
            }
            if (!eng.mux.ack(groups(g).id, c.chunkId)) refused += 1
          }
        }
        if (!got) Thread.sleep(20)
      }
      val end = System.nanoTime()
      drains += ((expected.expectedTotal - rows0, end - t0))
      ends += end
      log.matched.get >= expected.expectedTotal
    }

    var ok = replay()
    val warmUntil = System.nanoTime() + Run.WarmSeconds * 1000000000L
    while (ok && System.nanoTime() < warmUntil) ok = replay() // untimed
    val firstTimed = emitted
    val warmReplays = drains.size
    val s0 = Layers.snap(eng)
    val notes0 = notifications
    val pendingStart = eng.pendingRows(groups)
    val wallLimit = s0.ns + r.seconds * 1000000000L
    while (ok && (emitted == firstTimed || System.nanoTime() < wallLimit)) ok = replay()
    val s1 = Layers.snap(eng)
    val pendingEnd = eng.pendingRows(groups)
    val heapMb = Stats.liveHeapMb()

    val inWindow = (i: Int) => i >= firstTimed
    val originOf = (ev: Int) => origin(ev / Rows)
    val (p50, p99) = Layers.endToEnd(originOf, ev => if (ev >= firstTimed) ev / Rows else -1, Seq(log))
    o.attempted = emitted + expected.expectedTotal
    o.fail(refused, "refused acks")
    o.fail(strays, "deliveries to a group that does not match")
    o.fail(expected.expectedTotal - log.matched.get, "expected deliveries missing at the deadline")
    o.endToEnd ++= Seq("latency_p50_ms" -> p50, "latency_tail_ms" -> p99,
      "throughput_per_s" -> Stats.median(drains.drop(warmReplays).map { case (n, ns) => n / (ns / 1e9) }.toSeq),
      "setup_s" -> setupS, "heap_live_mb" -> heapMb)
    r.tracer.foreach { _ =>
      val notes = notifications - notes0
      o.layers ++= Layers.closedLoopIngest(emitAllMs.toSeq, origin, ends, warmReplays)
      o.layers ++= Layers.delivery(r, eng, s0, s1, originOf, inWindow, Seq(log),
        notes, notes, emitted, pendingEnd, dupRows.toDouble / math.max(1L, log.matched.get))
      o.layers += "ledger.pending_rows_start" -> pendingStart.toDouble
    }
    groups.indices.foreach(g => eng.mux.closeSession(groups(g).id, sessions(g)))
    eng.server.stop(); eng.mux.stop()
    o
  }
}
