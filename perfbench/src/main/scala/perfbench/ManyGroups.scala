package perfbench

import java.sql.Timestamp
import scala.util.Random

import graft.core.Event
import Oracle.{Ev, Group}

/** Closed-loop drain of fixed-size seeded bursts over 128 groups, each
  * with a live bidi stream, the streams spread over two h2c connections.
  * Each burst is drained before the next; the window is whole bursts.
  * 128 groups put the engine in its bucketed layout (at and above
  * `MultiplexedDelivery.BucketedMinGroups` = 64), so this runs the
  * bucketed write/read path, read amplification and the per-group
  * dispatcher and ledger costs. Bursts are emitted in-process with
  * `emitAll`. */
object ManyGroups {
  val Projects = 16
  val CollectionGroups = 7
  val Burst = 2000

  /** 16 project subtrees plus 7 collection subtrees in each = 128. */
  val groups: IndexedSeq[Group] =
    (0 until Projects).map(p => Group(s"m$p-tree", "PROJECT", s"m$p", Seq(Seq(s"m$p")), subtree = true)) ++
      (for (p <- 0 until Projects; c <- 0 until CollectionGroups)
        yield Group(s"m$p-c$c-tree", "COLLECTION", s"c$c", Seq(Seq(s"m$p")), subtree = true))

  /** 80% object events (8 collections per project, the last without its
    * own group; 0 or 1 shared groups), 10% collection, 10% project. */
  def event(rnd: Random, i: Long): Ev = {
    val p = s"m${rnd.nextInt(Projects)}"
    val c = s"c${rnd.nextInt(CollectionGroups + 1)}"
    val x = rnd.nextDouble()
    if (x < 0.1) Ev("PROJECT", "UPDATED", p, p)
    else if (x < 0.2) Ev("COLLECTION", "UPDATED", c, p)
    else Ev("OBJECT", "CREATED", s"o$i", p, c, s"so$i",
      if (rnd.nextBoolean()) Seq(s"g${rnd.nextInt(4)}") else Seq.empty)
  }

  def toEvent(e: Ev): Event = Event(e.resource, e.eventType, e.resourceId, e.project,
    e.collection, e.sharedObject, e.objectGroups, new Timestamp(0L))

  def run(r: Run): Outcome = {
    val o = new Outcome
    val rnd = new Random(r.seed)
    val expected = new Oracle.Expected(groups)
    val (eng, setupS) = Engine.setUp(r, groups, 1, new H2Handler {})
    val consumers = Seq.fill(2)(new WireConsumer(expected))
    consumers.foreach(c => c.conn = new H2Conn(eng.server.boundPort, c))
    groups.indices.foreach(g => consumers(g % 2).attach(g))

    // latency origin of every event of a burst: when emitAll was called
    val origin = new LongBuf(64)
    val emitAllMs = collection.mutable.ArrayBuffer.empty[Double]
    var emitted = 0L
    def matched = consumers.map(_.log.matched.get).sum
    def outstanding = expected.expectedTotal - matched
    def burst(): Unit = {
      val first = emitted
      val evs = (0 until Burst).map(k => event(rnd, first + k))
      evs.zipWithIndex.foreach { case (e, k) => expected.add((first + k).toInt, e) }
      val t = System.nanoTime()
      origin += t
      eng.mux.emitAll(evs.map(toEvent))
      emitAllMs += Stats.ms(System.nanoTime() - t)
      emitted += Burst
    }
    def drain(): Boolean = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (outstanding > 0 && System.nanoTime() < deadline) Thread.sleep(2)
      outstanding == 0
    }
    // closed loop: each burst drains fully before the next goes out; the
    // window is whole bursts, the last one the burst running when
    // --seconds ran out, so drain rate is rows over their own time
    // per burst: deliveries and the wall from emitAll to the last one,
    // and when its drain was seen
    val drains = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val ends = new LongBuf(64)
    def bursts(untilNs: Long): Boolean = {
      var ok = true
      while (ok && System.nanoTime() < untilNs) {
        val (rows, t) = (expected.expectedTotal, System.nanoTime())
        burst(); ok = drain()
        val end = System.nanoTime()
        drains += ((expected.expectedTotal - rows, end - t))
        ends += end
      }
      ok
    }
    bursts(System.nanoTime() + Run.WarmSeconds * 1000000000L) // untimed
    val firstTimed = emitted
    val warmBursts = drains.size
    val s0 = Layers.snap(eng)
    val acks0 = consumers.map(_.acksSent.get).sum
    val notes0 = consumers.map(_.notifications.get).sum
    val pendingStart = eng.pendingRows(groups)
    bursts(s0.ns + r.seconds * 1000000000L)
    val s1 = Layers.snap(eng)
    val acks1 = consumers.map(_.acksSent.get).sum
    val notes1 = consumers.map(_.notifications.get).sum
    val pendingEnd = eng.pendingRows(groups)
    drain()
    val heapMb = Stats.liveHeapMb()
    consumers.foreach(_.close())

    val inWindow = (i: Int) => i >= firstTimed
    val originOf = (ev: Int) => origin(ev / Burst)
    val logs = consumers.map(_.log)
    val (p50, p99) = Layers.endToEnd(originOf,
      ev => if (ev >= firstTimed) ev / Burst else -1, logs)
    val thr = Stats.median(drains.drop(warmBursts).map { case (n, ns) => n / (ns / 1e9) }.toSeq)
    o.attempted = emitted + expected.expectedTotal
    consumers.foreach { c =>
      o.fail(c.wireErrors.get, "session errors or refused acks")
      o.fail(c.strays.get, "deliveries to a group that does not match")
      c.problems.forEach(p => o.problems += p)
    }
    o.fail(expected.expectedTotal - matched, "expected deliveries missing at the deadline")
    o.endToEnd ++= Seq("latency_p50_ms" -> p50, "latency_tail_ms" -> p99,
      "throughput_per_s" -> thr,
      "setup_s" -> setupS, "heap_live_mb" -> heapMb)
    r.tracer.foreach { t =>
      o.layers ++= Layers.closedLoopIngest(emitAllMs.toSeq, origin, ends, warmBursts)
      o.layers ++= Layers.delivery(r, eng, s0, s1, originOf, inWindow, logs,
        notes1 - notes0, acks1 - acks0, emitted, pendingEnd,
        consumers.map(_.dupRows.get).sum.toDouble / math.max(1L, matched))
      o.layers += "ledger.pending_rows_start" -> pendingStart.toDouble
      for (l <- logs; x <- 0 until l.kept.get.toInt if l.event(x) % 50 == 0)
        t.span("receipt", s"e${l.event(x)}", originOf(l.event(x).toInt), l.recvNs(x), s"b${l.batch(x)}")
    }
    eng.stop()
    o
  }
}
