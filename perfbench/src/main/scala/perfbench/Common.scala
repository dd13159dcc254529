package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.core.Hierarchy
import graft.streaming.{GrpcServer, H2c, MultiplexedDelivery}
import graft.streaming.WireProtocol._

/** What one run of a workload hands back to [[Main]]. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val problems = mutable.ArrayBuffer.empty[String]
  def fail(n: Long, what: String): Unit =
    if (n > 0) { failed += n; problems += s"$n x $what" }
}

object Run {
  /** Untimed load before every measured window. A fresh engine's batch
    * and pull times fall steeply for the first several seconds while the
    * JIT and Spark's caches warm up (on 4 cores: first micro-batch
    * ~2.5 s, ~1.2 s by the sixth second, ~1 s later); a window inside
    * that transient measures the warm-up. */
  val WarmSeconds = 8
}

/** Everything a workload needs from [[Main]]. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val work: String, val tracer: Option[Tracer], val sessionSeconds: Double) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Wall-clock epoch ms of a `System.nanoTime` reading. */
  def epochMs(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L
  /** `System.nanoTime` reading of a wall-clock epoch ms. */
  def nanosOf(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
  def dir(name: String): String = {
    val d = new java.io.File(work, name); d.mkdirs(); d.getPath
  }
}

object Stats {
  /** Nearest-rank percentile; 0 for no samples. */
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs.toArray, 50)
  def ms(ns: Long): Double = ns / 1e6
  /** Used heap after full collections, in MiB. Spark's ContextCleaner
    * frees shuffles and broadcasts only after a collection has cleared
    * their references, so collect, let it run, and collect again; the
    * lowest of three readings is the live set. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(300)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }
}

/** A growable primitive buffer of longs (delivery records are millions
  * of small tuples; boxing them would show in the heap metric). */
final class LongBuf(initial: Int = 1024) {
  private var a = new Array[Long](initial)
  private var n = 0
  def +=(v: Long): Unit = { if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2); a(n) = v; n += 1 }
  def apply(i: Int): Long = a(i)
  def size: Int = n
}

/** Deliveries one consumer matched against the oracle: event index,
  * receipt time and micro-batch id per row, kept for the rows of every
  * `sampleEvery`-th event only, so the benchmark's own memory stays
  * small next to the engine's in the heap metric. */
final class DeliveryLog(sampleEvery: Int = 1) {
  val event = new LongBuf; val recvNs = new LongBuf; val batch = new LongBuf
  /** Kept rows, published after the row is written. */
  val kept = new AtomicLong
  /** Every matched row. */
  val matched = new AtomicLong
  def add(ev: Int, ns: Long, b: Long): Unit = {
    if (ev % sampleEvery == 0) { event += ev; recvNs += ns; batch += b; kept.incrementAndGet() }
    matched.incrementAndGet(); ()
  }
}

/** The h2c consumer side: one connection carrying one bidi
  * `ReadStreamGroupMessages` stream per group. Its reader thread matches
  * each notification row against the oracle, stamps it, and acks the
  * chunks it got in one write once the socket has no more input. */
final class WireConsumer(expected: Oracle.Expected) extends H2Handler {
  var conn: H2Conn = _
  val log = new DeliveryLog
  private val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val seen = Array.fill(expected.groups.size)(mutable.HashSet.empty[String])
  private val acks = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[String]]
  val notifications = new AtomicLong
  val dupRows = new AtomicLong
  val strays = new AtomicLong
  val wireErrors = new AtomicLong
  val acksSent = new AtomicLong
  val problems = new ConcurrentLinkedQueue[String]()
  @volatile var closing = false

  def attach(g: Int): Unit = {
    val sid = conn.openBidi(GrpcServer.ReadMessagesPath)
    groupOf.put(sid, g)
    conn.send(sid, encodeRequest(Init(expected.groups(g).id)))
  }

  override def onMessage(sid: Int, msg: Array[Byte], nanos: Long): Unit = {
    val g: Int = Option(groupOf.get(sid)).map(_.intValue).getOrElse(-1)
    decodeResponse(msg) match {
      case n: Notification if g >= 0 && n.groupId == expected.groups(g).id =>
        notifications.incrementAndGet()
        if (!seen(g).add(n.chunkId)) dupRows.addAndGet(n.subjects.size.toLong)
        else n.subjects.foreach { s =>
          val ev = expected.take(g, s)
          if (ev < 0) {
            strays.incrementAndGet()
            if (problems.size < 5) problems.add(s"stray row for ${n.groupId}: $s")
          } else log.add(ev, nanos, n.batchId)
        }
        acks.getOrElseUpdate(sid, mutable.ArrayBuffer.empty[String]) += n.chunkId
      case WireError(m) =>
        wireErrors.incrementAndGet()
        if (problems.size < 5) problems.add(s"session error: $m")
      case other =>
        strays.incrementAndGet()
        if (problems.size < 5) problems.add(s"unexpected message on stream $sid: $other")
    }
  }

  override def onTrailers(sid: Int, status: Int, nanos: Long): Unit =
    if (!closing && groupOf.containsKey(sid)) {
      wireErrors.incrementAndGet()
      problems.add(s"stream of group ${expected.groups(groupOf.get(sid)).id} ended: $status")
    }

  override def onIdle(): Unit = if (acks.nonEmpty) {
    acks.foreach { case (sid, ids) =>
      conn.send(sid, encodeRequest(Ack(ids.toSeq)), flush = false)
      acksSent.addAndGet(ids.size.toLong)
    }
    acks.clear()
    conn.flush()
  }

  def close(): Unit = {
    closing = true
    groupOf.keySet.forEach(sid => conn.send(sid, encodeRequest(Close), flush = false))
    conn.flush()
    Thread.sleep(200)
    conn.close()
  }
}

/** The system under test as a deployment runs it: one
  * [[MultiplexedDelivery]] with its ledger WAL on, behind the h2c
  * [[GrpcServer]], with groups created over the wire. */
final class Engine(val mux: MultiplexedDelivery, val server: GrpcServer,
                   val admin: H2Conn, val walDir: String) {
  def stop(): Unit = {
    admin.close(); server.stop(); mux.stop()
  }
  def walBytesAndRecords: (Long, Long) = {
    val f = new java.io.File(walDir, "ledger.jsonl")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try (f.length, src.getLines().size.toLong) finally src.close()
    }
  }
  /** Rows pending over all groups, from the engine's own ledger. */
  def pendingRows(groups: Seq[Oracle.Group]): Long = groups.map(g => mux.pendingRowCount(g.id)).sum
}

object Engine {
  private def hierarchy(g: Oracle.Group, h: Seq[String]): Hierarchy = g.resourceType match {
    case "OBJECTGROUP" => Hierarchy(projectId = h.head, collectionId = h(1), sharedObjectGroupId = h(2))
    case "OBJECT" => Hierarchy(projectId = h.head, collectionId = h(1), sharedObjectId = h(2))
    case _ => Hierarchy(projectId = h.head, collectionId = h.lift(1).getOrElse(""))
  }

  def createBody(g: Oracle.Group): Array[Byte] = {
    val hs = g.hierarchies.map(hierarchy(g, _))
    H2c.unwrapArm(encodeRequest(CreateGroup(g.id, g.resourceType, g.resourceId, hs.head,
      g.subtree, g.eventType, None, hs.tail)))
  }

  def emitBody(e: Oracle.Ev): Array[Byte] =
    H2c.unwrapArm(encodeRequest(Emit(e.resource, e.eventType, e.resourceId,
      graft.core.RelationCtx(e.project, e.collection, e.sharedObject, e.objectGroups))))

  /** A project event no group subscribes to: the set-up's first emit. */
  val probe: Oracle.Ev = Oracle.Ev("PROJECT", "CREATED", "probe", "probe")

  /** Engine, server, groups, query start, and the first emit accepted. */
  def open(r: Run, name: String, groups: Seq[Oracle.Group], sourcePartitions: Int,
           handler: H2Handler): Engine = {
    val wal = r.dir(name)
    val mux = new MultiplexedDelivery(r.spark, Trigger.ProcessingTime("250 milliseconds"),
      ledgerDir = Some(wal), sourcePartitions = sourcePartitions)
    val server = GrpcServer(mux)
    val admin = new H2Conn(server.boundPort, handler)
    admin.unaryOk(GrpcServer.CreatePath, groups.map(createBody))
    mux.start()
    admin.unaryOk(GrpcServer.EmitPath, Seq(emitBody(probe)))
    new Engine(mux, server, admin, wal)
  }

  /** set-up seconds: the session's start plus the median of `n` engine
    * set-ups; the last one is kept and returned. */
  def setUp(r: Run, groups: Seq[Oracle.Group], sourcePartitions: Int,
            handler: H2Handler, n: Int = 3): (Engine, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var kept: Engine = null
    for (i <- 0 until n) {
      val t0 = System.nanoTime()
      val e = open(r, s"engine-$i", groups, sourcePartitions,
        if (i == n - 1) handler else new H2Handler {})
      times += (System.nanoTime() - t0) / 1e9
      if (i == n - 1) kept = e else e.stop()
    }
    (kept, r.sessionSeconds + Stats.median(times.toSeq))
  }
}
