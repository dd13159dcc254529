package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the delivery workloads, all read from outside
  * the engine: its public counters (`phaseProfile`, dispatcher
  * `counters`, ledger stats, pending rows), the WAL file on disk, and
  * the traced run's listeners. */
object Layers {
  /** Engine counters read at one instant. */
  final case class Snap(ns: Long, phases: Map[String, Double],
                        offers: Long, redeliveries: Long, failovers: Long)

  def snap(e: Engine): Snap = {
    val (o, rd, fo) = e.mux.dispatcher.counters
    Snap(System.nanoTime(), e.mux.phaseProfile, o, rd, fo)
  }

  /** Everything a delivery workload reports per layer.
    *
    * @param origin     per event, the nanoTime a latency is measured from
    *                   (scheduled send or burst/replay emit)
    * @param inWindow   which events belong to the measured window
    * @param logs       the consumers' matched deliveries (kept rows)
    * @param notifications chunks received in the window
    * @param acks       chunks acked in the window */
  def delivery(r: Run, e: Engine, s0: Snap, s1: Snap,
               origin: Int => Long, inWindow: Int => Boolean, logs: Seq[DeliveryLog],
               notifications: Long, acks: Long, emitted: Long,
               pendingRowsEnd: Long, dupRatio: Double): Map[String, Double] = {
    val t = r.tracer.get
    t.drain()
    val fromMs = r.epochMs(s0.ns); val toMs = r.epochMs(s1.ns)
    val qid = r.spark.streams.active.find(_.name == "multiplexed-delivery").map(_.id.toString)
    val prog = t.progress.asScala.filter(p => qid.contains(p.queryId)).map(p => p.batchId -> p).toMap
    val inWin = prog.values.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
    val batches = inWin.size.toDouble
    def dur(p: Tracer.Progress, k: String) = p.durations.getOrElse(k, 0L).toDouble
    // per delivery of a window event: due -> batch start -> batch end -> receipt
    val wait = Array.newBuilder[Double]; val exec = Array.newBuilder[Double]
    val after = Array.newBuilder[Double]; val total = Array.newBuilder[Double]
    for (l <- logs; i <- 0 until l.kept.get.toInt) {
      val ev = l.event(i).toInt
      if (inWindow(ev)) {
        total += Stats.ms(l.recvNs(i) - origin(ev))
        prog.get(l.batch(i)).foreach { p =>
          val start = r.nanosOf(p.startMs)
          val end = r.nanosOf(p.startMs + p.durations.getOrElse("triggerExecution", 0L))
          wait += Stats.ms(start - origin(ev))
          exec += Stats.ms(end - start)
          after += Stats.ms(l.recvNs(i) - end)
        }
      }
    }
    inWin.foreach(p => t.span("batch", s"b${p.batchId}", r.nanosOf(p.startMs),
      r.nanosOf(p.startMs + p.durations.getOrElse("triggerExecution", 0L))))
    val (w, x, a, tot) = (wait.result(), exec.result(), after.result(), total.result())
    val wallS = (s1.ns - s0.ns) / 1e9
    def phase(k: String) = s1.phases.getOrElse(k, 0.0) - s0.phases.getOrElse(k, 0.0)
    val perBatch = math.max(1.0, phase("batches"))
    val readS = phase("read")
    val (_, metas, acked) = e.mux.ledgerStats
    val (walBytes, walRecords) = e.walBytesAndRecords
    val offers = (s1.offers - s0.offers).toDouble
    Map(
      "trigger.wait_p50_ms" -> Stats.pct(w, 50),
      "trigger.batches" -> batches,
      "trigger.rows_per_batch" -> (if (batches > 0) inWin.map(_.rows).sum / batches else 0.0),
      "batch.exec_p50_ms" -> Stats.pct(x, 50),
      "batch.body_p50_ms" -> Stats.median(inWin.map(dur(_, "addBatch"))),
      "batch.plan_ms" -> Stats.median(inWin.map(dur(_, "queryPlanning"))),
      "batch.commit_ms" -> Stats.median(inWin.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "batch.write_ms" -> 1000 * phase("write") / perBatch,
      "batch.count_ms" -> 1000 * phase("count") / perBatch,
      "batch.ledger_ms" -> 1000 * phase("ledger") / perBatch,
      "deliver.after_batch_p50_ms" -> Stats.pct(a, 50),
      "deliver.dup_ratio" -> dupRatio,
      "split.residual_ms" -> (Stats.pct(tot, 50) - Stats.pct(w, 50) - Stats.pct(x, 50) - Stats.pct(a, 50)),
      "pull.hydrate_s" -> readS,
      "pull.hydrate_ms_per_notification" ->
        (if (notifications > 0) 1000 * readS / notifications else 0.0),
      "pull.concurrency" -> (if (wallS > 0) readS / wallS else 0.0),
      "dispatch.offers" -> offers,
      "dispatch.redeliveries" -> (s1.redeliveries - s0.redeliveries).toDouble,
      "dispatch.failovers" -> (s1.failovers - s0.failovers).toDouble,
      "dispatch.acks_per_offer" -> (if (offers > 0) acks / offers else 0.0),
      "ledger.pending_rows_end" -> pendingRowsEnd.toDouble,
      "ledger.pending_metas" -> metas.toDouble,
      "ledger.acked_resident" -> acked.toDouble,
      "wal.bytes" -> walBytes.toDouble,
      "wal.records" -> walRecords.toDouble,
      "wal.bytes_per_event" -> (if (emitted > 0) walBytes.toDouble / emitted else 0.0)
    ) ++ t.schedulerMetrics(fromMs, toMs, batches, notifications.toDouble) ++
      t.queryMetrics(fromMs, toMs)
  }

  /** Ingest layer of a closed loop: one ingest call is an in-process
    * `emitAll` (its wall), and the generator is late by the time from a
    * unit's drain to the next unit's emit (event generation and oracle
    * bookkeeping), over the window's units from `firstUnit`. */
  def closedLoopIngest(emitAllMs: Seq[Double], origin: LongBuf, ends: LongBuf,
                       firstUnit: Int): Map[String, Double] = {
    val calls = emitAllMs.drop(firstUnit).toArray
    val late = (firstUnit until origin.size - 1).map(k => Stats.ms(origin(k + 1) - ends(k))).toArray
    Map("ingest.emit_rtt_p50_ms" -> Stats.pct(calls, 50),
      "ingest.emit_rtt_p99_ms" -> Stats.pct(calls, 99),
      "loadgen.late_p99_ms" -> Stats.pct(late, 99))
  }

  /** Latency p50 and p99 (ms) per unit of the window (a second of an
    * open loop's schedule, a burst, a replay), each the median over the
    * units: one slow unit (a GC pause, a neighbour's burst of CPU) moves
    * the run's figure no more than one fast one. `unitOf` maps an event
    * to its unit, or -1 outside the window. */
  def endToEnd(origin: Int => Long, unitOf: Int => Int,
               logs: Seq[DeliveryLog]): (Double, Double) = {
    val lat = collection.mutable.HashMap.empty[Int, collection.mutable.ArrayBuilder.ofDouble]
    for (l <- logs; i <- 0 until l.kept.get.toInt) {
      val ev = l.event(i).toInt
      val u = unitOf(ev)
      if (u >= 0)
        lat.getOrElseUpdate(u, new collection.mutable.ArrayBuilder.ofDouble) +=
          Stats.ms(l.recvNs(i) - origin(ev))
    }
    val per = lat.values.map(_.result()).toSeq
    (Stats.median(per.map(Stats.pct(_, 50))), Stats.median(per.map(Stats.pct(_, 99))))
  }
}
