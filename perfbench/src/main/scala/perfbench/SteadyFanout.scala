package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.util.Random

import graft.streaming.GrpcServer
import Oracle.{Ev, Group}

/** Open loop at a fixed rate through the h2c front: one pipelined
  * producer connection, one consumer connection with a bidi stream per
  * group, the ledger WAL on. Per-event work is tiny, so trigger wait,
  * the fixed cost of each micro-batch and pull hydration set latency. */
object SteadyFanout {
  val Rate = 2000
  /** Longer than [[Run.WarmSeconds]]: an open loop keeps feeding the
    * slow first micro-batches, and the backlog they leave takes about
    * 15 s to drain (p50 latency 6.9 s in the first second, 1.8 s from
    * the eleventh, on 4 cores); with 8 s of warm-up the window's p50
    * spread over 10 seeds was 0.20, with 16 s 0.08 over 5. */
  val WarmSeconds = 16
  private val Types = Seq("CREATED", "UPDATED", "DELETED")

  /** 15 groups: project and collection subtree and exact filters, two
    * object-group subtrees, an event-type filter, and one group spanning
    * two hierarchies. Project p4 is only reachable through the last two. */
  val groups: IndexedSeq[Group] = IndexedSeq(
    Group("proj-p0-tree", "PROJECT", "p0", Seq(Seq("p0")), subtree = true),
    Group("proj-p1-tree", "PROJECT", "p1", Seq(Seq("p1")), subtree = true),
    Group("proj-p2-tree", "PROJECT", "p2", Seq(Seq("p2")), subtree = true),
    Group("proj-p0-exact", "PROJECT", "p0", Seq(Seq("p0")), subtree = false),
    Group("proj-p3-exact", "PROJECT", "p3", Seq(Seq("p3")), subtree = false),
    Group("coll-p0-c0-tree", "COLLECTION", "c0", Seq(Seq("p0")), subtree = true),
    Group("coll-p1-c1-tree", "COLLECTION", "c1", Seq(Seq("p1")), subtree = true),
    Group("coll-p2-c1-tree", "COLLECTION", "c1", Seq(Seq("p2")), subtree = true),
    Group("coll-p3-c2-tree", "COLLECTION", "c2", Seq(Seq("p3")), subtree = true),
    Group("coll-p0-c1-exact", "COLLECTION", "c1", Seq(Seq("p0")), subtree = false),
    Group("coll-p2-c0-exact", "COLLECTION", "c0", Seq(Seq("p2")), subtree = false),
    Group("ogrp-p0-c0-g0-tree", "OBJECTGROUP", "g0", Seq(Seq("p0", "c0", "g0")), subtree = true),
    Group("ogrp-p3-c1-g2-tree", "OBJECTGROUP", "g2", Seq(Seq("p3", "c1", "g2")), subtree = true),
    Group("coll-p4-c0-created", "COLLECTION", "c0", Seq(Seq("p4")), subtree = true,
      eventType = "CREATED"),
    Group("coll-c2-in-p1-and-p4", "COLLECTION", "c2", Seq(Seq("p1"), Seq("p4")), subtree = true))

  /** The seeded mix: 10% project, 20% collection, 15% object-group and
    * 55% object events over 5 projects x 3 collections x 4 shared groups;
    * objects and object-group revisions get fresh ids. */
  def event(rnd: Random, i: Int): Ev = {
    val p = s"p${rnd.nextInt(5)}"
    val c = s"c${rnd.nextInt(3)}"
    val t = Types(rnd.nextInt(Types.size))
    val x = rnd.nextDouble()
    if (x < 0.10) Ev("PROJECT", t, p, p)
    else if (x < 0.30) Ev("COLLECTION", t, c, p)
    else if (x < 0.45) Ev("OBJECTGROUP", t, s"og$i", p, c, "", Seq(s"g${rnd.nextInt(4)}"))
    else {
      val gs = rnd.shuffle((0 until 4).toList).take(rnd.nextInt(3)).map(k => s"g$k")
      Ev("OBJECT", t, s"o$i", p, c, s"so$i", gs)
    }
  }

  def run(r: Run): Outcome = {
    val o = new Outcome
    val n = Rate * (WarmSeconds + r.seconds)
    val rnd = new Random(r.seed)
    val evs = Array.tabulate(n)(event(rnd, _))
    val expected = new Oracle.Expected(groups)
    val owed = evs.indices.map(i => expected.add(i, evs(i)))
    val bodies = evs.map(Engine.emitBody)

    // producer replies, indexed by stream id: the reader thread writes a
    // slot, then counts it, so the count publishes the slot
    val slots = 2 * (n + groups.size + 16)
    val replyNs = new Array[Long](slots)
    val replyStatus = new Array[Int](slots)
    val replies = new AtomicLong
    val producer = new H2Handler {
      override def onTrailers(sid: Int, status: Int, nanos: Long): Unit = {
        val k = (sid - 1) / 2
        if (k < slots) { replyNs(k) = nanos; replyStatus(k) = status; replies.incrementAndGet(); () }
      }
    }
    val (eng, setupS) = Engine.setUp(r, groups, 1, producer)
    val repliesBefore = replies.get
    val consumer = new WireConsumer(expected)
    consumer.conn = new H2Conn(eng.server.boundPort, consumer)
    groups.indices.foreach(consumer.attach)

    val periodNs = 1e9 / Rate
    val t0 = System.nanoTime() + 200000000L
    val due = Array.tabulate(n)(i => t0 + (i * periodNs).toLong)
    val first = WarmSeconds * Rate
    val inWindow = (i: Int) => i >= first
    val sendNs = new Array[Long](n)
    val sidOf = new Array[Int](n)
    var s0: Layers.Snap = null
    var acks0, notes0, pendingStart = 0L
    var i = 0
    while (i < n) {
      val now = System.nanoTime()
      if (due(i) > now) LockSupport.parkNanos(due(i) - now)
      else {
        if (i >= first && s0 == null) {
          s0 = Layers.snap(eng); acks0 = consumer.acksSent.get; notes0 = consumer.notifications.get
          pendingStart = eng.pendingRows(groups)
        }
        var j = i
        while (j < n && due(j) <= now && j - i < 256) j += 1
        val sids = eng.admin.unary(GrpcServer.EmitPath, bodies.slice(i, j).toSeq)
        val sent = System.nanoTime()
        var k = i
        while (k < j) { sendNs(k) = sent; sidOf(k) = sids(k - i); k += 1 }
        i = j
      }
    }
    val s1 = Layers.snap(eng)
    val acks1 = consumer.acksSent.get; val notes1 = consumer.notifications.get
    val pendingEnd = eng.pendingRows(groups)

    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((consumer.log.matched.get < expected.expectedTotal ||
        replies.get - repliesBefore < n) && System.nanoTime() < deadline) Thread.sleep(5)
    val heapMb = Stats.liveHeapMb()
    consumer.close()
    val (p50, p99) = Layers.endToEnd(due(_),
      i => if (i >= first) (i - first) / Rate else -1, Seq(consumer.log))
    // an open loop delivers what it is offered, or less: deliveries of
    // the window's events that arrived by the deadline, per window second
    val missing = expected.expectedTotal - consumer.log.matched.get
    val thr = math.max(0L, owed.drop(first).sum - missing) / r.seconds.toDouble

    o.attempted = n.toLong + expected.expectedTotal
    val replied = replies.get - repliesBefore
    o.fail(n - replied, "emits without a reply")
    o.fail((0 until n).count(k => replyStatus((sidOf(k) - 1) / 2) != 0 &&
      replyNs((sidOf(k) - 1) / 2) != 0).toLong, "rejected emits")
    o.fail(consumer.wireErrors.get, "session errors or refused acks")
    o.fail(consumer.strays.get, "deliveries to a group that does not match")
    o.fail(missing, "expected deliveries missing at the deadline")
    consumer.problems.forEach(p => o.problems += p)

    o.endToEnd ++= Seq("latency_p50_ms" -> p50, "latency_tail_ms" -> p99,
      "throughput_per_s" -> thr, "setup_s" -> setupS, "heap_live_mb" -> heapMb)
    r.tracer.foreach { t =>
      val win = first until n
      val rtt = win.map(k => Stats.ms(replyNs((sidOf(k) - 1) / 2) - sendNs(k))).toArray
      val late = win.map(k => Stats.ms(sendNs(k) - due(k))).toArray
      o.layers ++= Seq(
        "ingest.emit_rtt_p50_ms" -> Stats.pct(rtt, 50),
        "ingest.emit_rtt_p99_ms" -> Stats.pct(rtt, 99),
        "loadgen.late_p99_ms" -> Stats.pct(late, 99))
      o.layers ++= Layers.delivery(r, eng, s0, s1, due(_), inWindow, Seq(consumer.log),
        notes1 - notes0, acks1 - acks0, n.toLong, pendingEnd,
        consumer.dupRows.get.toDouble / math.max(1L, consumer.log.matched.get))
      o.layers += "ledger.pending_rows_start" -> pendingStart.toDouble
      for (k <- win by 50) t.span("emit", s"e$k", due(k), replyNs((sidOf(k) - 1) / 2))
      val l = consumer.log
      for (x <- 0 until l.kept.get.toInt if l.event(x) % 50 == 0)
        t.span("receipt", s"e${l.event(x)}", due(l.event(x).toInt), l.recvNs(x), s"b${l.batch(x)}")
    }
    eng.stop()
    o
  }
}
