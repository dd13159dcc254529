package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core._

/** The many-groups scale path (SURVEY.md §7.4 risk 2): ONE streaming
  * query serves every stream group, instead of one query per group.
  *
  * Per-group queries (EventEngine) mirror the reference's JetStream
  * consumer model and are right for O(100) groups; at thousands of
  * groups they re-scan the stream N times and hold N checkpoints. Here
  * each micro-batch is joined once against the current subscription
  * snapshot:
  *
  *  - join key = the PROJECT token of the subject (token #3 — every
  *    publish subject and every filter subject carry it), so the match
  *    is a hash equi-join that partitions by project at cluster scale —
  *    never an all-pairs nested loop;
  *  - the full subject algebra ([[Subjects.matchesCol]]) runs as the
  *    residual predicate on the (tiny) per-project candidate set;
  *  - subscriptions added/removed between micro-batches take effect on
  *    the next batch — dynamic groups without restarting the query.
  */
final class MultiplexedDelivery(val spark: SparkSession,
                                trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                                ledgerDir: Option[String] = None,
                                sourcePartitions: Int = 1,
                                security: EngineSecurity = EngineSecurity.Permissive,
                                ackWaitMillis: Long = 30000L,
                                clock: () => Long = () => System.currentTimeMillis(),
                                footerCountMaxGroups: Int =
                                  MultiplexedDelivery.FooterCountMaxGroups,
                                bucketedMinGroups: Int =
                                  MultiplexedDelivery.BucketedMinGroups,
                                payloadRetentionEvery: Int =
                                  MultiplexedDelivery.PayloadRetentionEvery)
    extends ConsumerHost {
  import spark.implicits._

  /** Consumer dispatch (ack-wait redelivery + competing consumers over
    * one group) — see [[ChunkDispatcher]]. Flights are journaled to the
    * WAL (when present) so the redelivery timer + delivery counts
    * survive restart alongside the chunk/ack state. */
  val dispatcher = new ChunkDispatcher(ackWaitMillis, clock)

  /** sourcePartitions > 1 spreads each micro-batch over that many tasks —
    * the replay/backfill path wants the fan-out + subscription join
    * parallel; interactive tests keep 1 for deterministic batch order. */
  private val source =
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark,
      numPartitions = sourcePartitions)

  private val groups: concurrent.Map[String, StreamGroup] =
    new ConcurrentHashMap[String, StreamGroup]().asScala
  /** Bumped AFTER every mutation of [[groups]] (order matters: bumping
    * first could let a concurrent snapshot cache pre-mutation state
    * under the post-mutation version — missed forever; this way a
    * stale cache is invalidated by the very next read). */
  private val groupsVersion = new java.util.concurrent.atomic.AtomicLong(0L)
  /** (version, size, anyMulti, subs frame, subtree depths) — rebuilt
    * only when the registration map changed: at G=10k the per-batch
    * O(G) driver work (map copy + flatMap + local-relation conversion)
    * otherwise runs every 250 ms trigger for a snapshot that is almost
    * always identical to the last one. The depths are the driver-side
    * half of the equi-join match ([[Subjects.matchKeysCol]]). */
  @volatile private var subsSnapshot: (Long, Int, Boolean, DataFrame, Seq[Int]) = null

  private def currentSubs(): (Int, Boolean, DataFrame, Seq[Int]) = {
    val v = groupsVersion.get
    val c = subsSnapshot
    if (c != null && c._1 == v) (c._2, c._3, c._4, c._5)
    else {
      val snapshot = groups.values.toSeq
      val anyMulti = snapshot.exists(_.extraFilterSubjects.nonEmpty)
      val df =
        if (snapshot.isEmpty) null
        else snapshot
          .flatMap(g => g.filterSubjects.map(fs => (g.id, fs, g.eventType)))
          .toDF("id", "filterSubject", "subEventType")
      val depths = snapshot.flatMap(_.filterSubjects)
        .flatMap(Subjects.subtreeDepth).distinct.sorted
      subsSnapshot = (v, snapshot.size, anyMulti, df, depths)
      (snapshot.size, anyMulti, df, depths)
    }
  }
  /** Bounded metadata ledger — pending chunks indexed per group, acked
    * history evicted behind a per-group watermark ([[ChunkLedger]]):
    * pulls cost O(that group's pending) even at 10k groups, and driver
    * residency is O(unacked), not O(all-time chunks). */
  private val ledger = new ChunkLedger
  /** Metrics hook: the engine's chunk ledger, for
    * [[EngineMetrics.watchLedger]] stuck-watermark monitoring. */
  def chunkLedger: ChunkLedger = ledger
  /** Optional WAL (same LedgerStore as DurableEventLog): with a
    * ledgerDir, pending/acked chunk state survives a process restart —
    * a reconnecting client is re-served exactly its unacked chunks.
    * Without one the metadata ledger is in-memory only (the bench
    * replay path). Payloads always go to the distributed
    * [[DeliveryTable]] (under ledgerDir when durable, scratch space
    * otherwise) — the driver holds ids+counts only. */
  private val store: Option[LedgerStore] = ledgerDir.map(new LedgerStore(_))
  store.foreach { st =>
    ledger.beginLoad()
    val (metas, wms) = st.loadState()
    wms.foreach { case (g, w) => ledger.restoreWatermark(g, w) }
    metas.values.foreach { m =>
      if (m.acked) ledger.restoreAcked(m) else { ledger.record(m); () }
    }
    ledger.settleLoad()
    // restore flights: the owning sessions are from the dead process, so
    // every restored chunk is immediately offerable (restart failover)
    // while offeredAt and the delivery count stay monotone
    st.loadFlights().foreach { case ((g, c), (s, at, d)) =>
      dispatcher.restore(g, c, s, at, d)
    }
  }
  private val table = new DeliveryTable(spark,
    ledgerDir.map(d => s"$d/deliveries").getOrElse(DeliveryTable.tempDir()))
  @volatile private var query: Option[StreamingQuery] = None

  /** foreachBatch wall split (ns): "batch" = whole body, minus the
    * table's write/count phases and "ledger" leaves the join/plan
    * residue — the many-groups floor decomposition (verdict task 8). */
  private val batchNs = new java.util.concurrent.atomic.AtomicLong
  private val ledgerNs = new java.util.concurrent.atomic.AtomicLong
  private val batchCount = new java.util.concurrent.atomic.AtomicLong
  /** Batch dirs reclaimed by the automated retention cadence —
    * monitoring surface for the soak probe. */
  val reapedBatchDirs = new java.util.concurrent.atomic.AtomicLong

  /** Per-phase cumulative seconds across all micro-batches so far:
    * batch total, payload write, count job, ledger record, plus the
    * consumer-side pull hydration ("read"). */
  def phaseProfile: Map[String, Double] =
    table.phaseSeconds ++ Map(
      "batch" -> batchNs.get / 1e9,
      "ledger" -> ledgerNs.get / 1e9,
      "batches" -> batchCount.get.toDouble)

  /** Chunk-sequence epoch (same rationale as EventEngine.chunkSeqBase):
    * a restarted incarnation's fresh query restarts Spark batch ids at
    * 0, and minting `group-0` again would overwrite a restored chunk's
    * payload behind its journaled meta. Ids are `group-(epoch+batchId)`. */
  private val chunkSeqBase: Long = {
    val m = ledger.maxBatchId
    if (m == Long.MinValue) 0L else m + 1L
  }

  def emit(resource: ResourceType, eventType: String, resourceId: String,
           relation: RelationCtx, ts: Timestamp = new Timestamp(0L),
           token: Option[String] = None): Unit = {
    security.requireInternal(token)
    Subjects.requireValidId(resourceId, "resourceId")
    // MemoryStream.addData row-encodes through a serializer that reuses
    // one UnsafeRow buffer; only the batch append is internally locked.
    // Concurrent emitters (one thread per wire connection) must therefore
    // serialize the encode too, or rows arrive torn ("Invalid byte array
    // backed UnsafeRow" — found by the wire replay bench at 8 producers).
    source.synchronized {
      source.addData(Event(resource, eventType, resourceId, relation, ts)
        .copy(eventId = eventSeq.incrementAndGet()))
    }
  }

  /** Per-engine emission sequence → [[graft.core.Event.eventId]]: the
    * content-derived identity that delivery order (seq) and the
    * multi-matcher dedup key hang off (VERDICT round-13 task 6). */
  private val eventSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** eventSeq reading at the previous micro-batch body — the delta is a
    * driver-side estimate of THIS batch's event count, used only to
    * size the per-group layout's write parallelism (see start()). Emits
    * racing past the batch cut inflate the estimate and land in the
    * next batch — harmless for a file-count hint. */
  private val lastBatchEventSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bulk ingest — one offset per batch instead of per event (the
    * replay/backfill path; per-event addData serializes on the stream
    * lock and caps throughput on the driver). Caller-supplied eventIds
    * are overwritten: uniqueness within the engine is this method's
    * contract, not the caller's. */
  def emitAll(events: Iterable[Event]): Unit =
    source.synchronized {
      source.addData(events.map(_.copy(eventId = eventSeq.incrementAndGet())))
    }

  /** Register a group — no new streaming query is started; the shared
    * query picks the group up at its next micro-batch. `eventType`
    * gates delivery (ALL = everything; else exact match). */
  def addGroup(groupId: String, resourceType: ResourceType, resourceId: String,
               hierarchy: Hierarchy, includeSubresources: Boolean,
               eventType: String = EventType.All,
               token: Option[String] = None): StreamGroup =
    addGroupMulti(groupId, resourceType, resourceId, Seq(hierarchy),
      includeSubresources, eventType, token)

  /** Multi-hierarchy registration (round-12 verdict task 5): the
    * reference subscribes `hierarchies[0]` only and errors on empty
    * (public_event_server.rs:145-152); here ONE group compiles ALL of
    * the resource's ancestor chains into a union of filter subjects —
    * a message matching any of them is delivered ONCE (see the batch
    * join's dedup). Mirrors the reference's empty-hierarchies error. */
  def addGroupMulti(groupId: String, resourceType: ResourceType, resourceId: String,
                    hierarchies: Seq[Hierarchy], includeSubresources: Boolean,
                    eventType: String = EventType.All,
                    token: Option[String] = None): StreamGroup = {
    require(hierarchies.nonEmpty,
      s"stream group $groupId needs at least one hierarchy (public_event_server.rs:145-152)")
    security.requireRead(token, resourceType, resourceId)
    val filters = hierarchies
      .map(Subjects.queryFor(resourceType, resourceId, _, includeSubresources))
      .distinct
    val g = StreamGroup(groupId, resourceType.name, resourceId, eventType,
      includeSubresources, filters.head, filters.tail)
    require(groups.putIfAbsent(groupId, g).isEmpty,
      s"stream group $groupId already exists")
    groupsVersion.incrementAndGet()
    g
  }

  /** Registration must NOT touch the payload table: the `(groupId,
    * chunkId)` dirs plus the WAL are the group's durable state, and a
    * crash-restart re-registers existing groups over both (clearing
    * dirs here was measured as an at-least-once violation by
    * SessionFuzzSpec). Known benign race the other way: a batch in
    * flight at removeGroup time can re-create a dropped dir after the
    * delete; the orphan is invisible to the ledger and dispatcher, and
    * can at worst re-list a stale chunk id in a SAME-ID re-add's
    * delivered history — never re-serve it. */
  def removeGroup(groupId: String): Unit = {
    groups.remove(groupId)
    groupsVersion.incrementAndGet()
    ledger.dropGroup(groupId)
    dispatcher.dropGroup(groupId)
    table.drop(groupId)
  }

  /** Start the ONE delivery query. */
  def start(): Unit = synchronized {
    require(query.isEmpty, "already started")
    val q = FanOut.explodeSubjects(source.toDF())
      .writeStream
      .queryName("multiplexed-delivery")
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val bodyT0 = System.nanoTime()
        // ONE ROW PER (group, filter subject): single-hierarchy groups
        // contribute one row; multi-hierarchy groups one per matcher
        // (their union semantics). Keep only the join-relevant columns:
        // StreamGroup.resourceId would otherwise collide with the event
        // batch's resourceId (and its eventType with the event's —
        // aliased to subEventType). The frame is VERSION-CACHED across
        // batches (see currentSubs) — rebuilt only when registrations
        // changed, not every 250 ms trigger.
        // No batch.isEmpty pre-check: that is a full extra pass on the
        // common (non-empty) path; the per-group counts below cost the
        // same on an empty batch and gate the write anyway.
        val (nGroups, anyMulti, subs, subtreeDepths) = currentSubs()
        if (nGroups > 0) {
          // Write-first: ONE distributed pass (join → partitioned payload
          // write) serves every group; per-group counts then come from
          // parquet FOOTERS of the just-written chunk dirs, never from a
          // second pass over the batch. A replayed batch rewrites its own
          // partitions (dynamic overwrite) — idempotent — and the ledger
          // guard below keeps an existing (possibly acked) meta intact.
          // With any multi-subject group registered, a message matching
          // TWO of one group's matchers joins twice — dedup on the
          // CONTENT-DERIVED message identity (eventId = driver-assigned
          // emission sequence, spos = fan-out position) delivers it
          // ONCE (the JetStream multi-filter-subject consumer rule).
          // Never monotonically_increasing_id: a retried upstream task
          // could renumber rows between join branches (SPARK-23207
          // class; round-13 ADVICE). Two IDENTICAL emitted events keep
          // distinct eventIds, so they still deliver twice — exactly
          // the two-published-messages semantics. The dedup shuffle is
          // skipped entirely in the common all-single case.
          // PURE EQUI-JOIN on candidate match keys (Subjects.matchKeysCol
          // scaladoc): the previous form — equi on the project token +
          // matchesCol residual — left every same-project subscription a
          // candidate per event row, an O(G/projects) per-row cost that
          // dominated the G=10k write phase (BASELINE.md round-14). Here
          // each event row explodes into |subtreeDepths|+1 keys (2–4)
          // and the hash join output is exactly the true matches;
          // per-row cost is independent of G.
          val joined = batch
            .select(col("subject"), col("resourceId"), col("eventType"),
              col("eventId"), col("spos"))
            .withColumn("joinKey",
              explode(Subjects.matchKeysCol(col("subject"), subtreeDepths)))
            .join(broadcast(subs.withColumnRenamed("filterSubject", "joinKey")),
              "joinKey")
            .filter(Subjects.eventTypeMatches(col("eventType"), col("subEventType")))
          val matched =
            (if (anyMulti) joined.dropDuplicates("id", "eventId", "spos") else joined)
              .select(col("id").as("groupId"), col("subject"),
                col("resourceId"), FanOut.seqCol.as("seq"))
          val seq = chunkSeqBase + batchId
          val withChunk = matched
            .withColumn("chunkId", concat(col("groupId"), lit(s"-$seq")))
          // Layout regime: past `bucketedMinGroups` registered groups
          // the per-group layout's floor applies (one file + one commit
          // rename PER MATCHING GROUP per batch — 4.8 s/batch at G=2000
          // against the 250 ms trigger, BASELINE.md round-12), so the
          // write switches to the BUCKETED layout: O(shuffle-partitions)
          // files per batch regardless of how many groups matched, with
          // counts from the same cached pass. Below the threshold the
          // per-group layout keeps its cheaper pulls and footer counts.
          // Count regime within the per-group layout (see
          // DeliveryTable.writeMultiWithCounts): the parquet-footer path
          // pays one filesystem probe per REGISTERED group per batch —
          // O(G) stat calls; the aggregation is O(batch) regardless.
          // Write-parallelism hint: with few groups each chunk splits
          // across ~parts/groups tasks; with many groups it stays one
          // file per chunk (DeliveryTable.prepare scaladoc).
          val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
          // SPARK_GRAFT_DELIVERY_BUCKETS: experiment-only override of the
          // bucket count (bench/probe runs; never set by the driver) —
          // the bucket-count sweep behind the BucketedMinGroups choice.
          val buckets = sys.env.get("SPARK_GRAFT_DELIVERY_BUCKETS")
            .map(_.toInt).getOrElse(parts)
          // Per-group write parallelism, SCALE-ADAPTIVE (round-15): the
          // fixed parts/nGroups hint writes splits×groups files per
          // batch no matter how small the batch — at the replay's 50k-
          // event batches that is 30 near-empty files whose open+commit
          // cost ~0.2 s/batch of the measured ~0.55 s body
          // (tools.MuxWriteProbe decomposition). The emitted-event
          // delta since the last batch bounds this batch's rows from
          // the driver alone (no extra pass), so splits grow ∝ batch
          // size up to the old cap: ~32k rows/file keeps the round-12
          // big-replay parallelism win (1.25M-row batches still get
          // splits≈cap) while steady small batches write one file per
          // group. A foreachBatch REPLAY may re-run with a different
          // estimate — only the file COUNT of the rewritten chunk
          // changes, never its rows (dynamic overwrite replaces whole
          // chunk dirs).
          val seqNow = eventSeq.get
          val splits = MultiplexedDelivery.writeSplits(
            seqNow - lastBatchEventSeq.getAndSet(seqNow), parts, nGroups)
          // Exchange width follows the key space (2× for hash-collision
          // slack, capped at the session parts): nGroups×splits distinct
          // write keys cannot fill more partitions than that, and the
          // surplus near-empty reduce tasks are pure per-trigger
          // scheduling cost.
          val exchangeParts = math.min(parts,
            math.max(1, 2 * math.max(1, nGroups) * splits))
          val counts =
            if (nGroups >= bucketedMinGroups)
              table.writeBucketed(withChunk, seq, buckets)
            else if (nGroups > footerCountMaxGroups)
              table.writeMultiWithCounts(withChunk, splits, exchangeParts)
            else {
              table.writeMulti(withChunk, splits, exchangeParts)
              table.chunkCounts(groups.keys.toSeq, g => s"$g-$seq")
            }
          val ledgerT0 = System.nanoTime()
          counts.foreach { case (gid, n) =>
            val chunkId = s"$gid-$seq"
            val meta = ChunkMeta(gid, chunkId, seq, n,
              new Timestamp(System.currentTimeMillis()), acked = false)
            // record() is the replay guard: false when already
            // pending or acked (incl. a compacted watermark)
            if (ledger.record(meta)) store.foreach(_.appendChunk(meta))
          }
          ledgerNs.addAndGet(System.nanoTime() - ledgerT0)
          // Automated bucketed retention (round-13 verdict task 4): a
          // long-running many-groups deployment otherwise accumulates
          // batch dirs without bound, and listChunks scans every one.
          // Runs INSIDE the batch body (after this batch's meta is
          // recorded, so its own dir is never a candidate) on a batch
          // cadence — steady-state cost is one listStatus of the
          // retained dirs plus deletes of fully-acked ones, measured
          // by tools.RetentionSoakProbe. WAL-restart safe: the floor
          // is computed over the ledger, which holds restored pending
          // metas before their groups re-register (compactPayloads
          // scaladoc).
          if (payloadRetentionEvery > 0 && nGroups >= bucketedMinGroups
              && batchCount.get % payloadRetentionEvery == (payloadRetentionEvery - 1L)) {
            reapedBatchDirs.addAndGet(compactPayloads().toLong)
            ()
          }
          ()
        }
        batchNs.addAndGet(System.nanoTime() - bodyT0)
        batchCount.incrementAndGet()
        ()
      }
      .start()
    query = Some(q)
  }

  /** WAL hygiene (no-op without a ledgerDir). */
  def compactLedger(): Unit = store.foreach(_.compact())

  /** Bucketed-payload retention (the storage-reclaim half of the
    * bucketed layout's shared-file trade — see [[DeliveryTable.drop]]):
    * deletes batch dirs below every group's lowest PENDING chunk — any
    * older chunk of any group is acked, so no pull can need them.
    * Bounded additionally by the ledger's highest minted seq so a
    * micro-batch whose payload is written but whose meta is not yet
    * recorded (the write→record window inside foreachBatch) can never
    * be reclaimed out from under its own record. Reclaimed batches
    * disappear from [[graft.streaming.DeliveryTable.listChunks]]
    * history — the retention trade, same as any segment log. Returns
    * batch dirs removed. */
  def compactPayloads(): Int = {
    // floor over the LEDGER, not the registration map: a WAL restart
    // restores pending metas before their groups are re-registered, and
    // those chunks' batches must survive retention (ChunkLedger scaladoc).
    // ORDER MATTERS: maxBatchId is snapshotted BEFORE the (O(groups),
    // hence slow) pending-floor scan. The other way round, a micro-batch
    // that writes its payload and records its pending meta BETWEEN the
    // two reads is invisible to an already-empty floor (Long.MaxValue)
    // yet below the later max+1 bound — and gets reclaimed out from
    // under its own meta (round-13 ADVICE TOCTOU). With max read first,
    // the bound is <= any seq recorded afterwards, and any pending meta
    // below it is visible to the later floor scan.
    val maxMinted = ledger.maxBatchId
    val floor = ledger.minPendingBatchId
    val bound =
      if (maxMinted == Long.MinValue) Long.MinValue else maxMinted + 1
    table.dropBatchesBefore(math.min(floor, bound))
  }

  def pendingChunks(groupId: String): Seq[DeliveryChunk] =
    table.hydrate(groupId, ledger.pending(groupId))

  /** R9 attach for the session protocol: the group must exist and the
    * caller must hold a Read grant on its resource (the per-attach
    * authz re-check, public_event_server.rs:273-301). No query start —
    * the ONE shared query already serves every group. */
  override def attachConsumer(groupId: String, token: Option[String]): Unit = {
    val g = groups.getOrElse(groupId,
      throw new NoSuchElementException(s"unknown stream group $groupId"))
    security.requireRead(token, ResourceType.fromName(g.resourceType), g.resourceId)
  }

  /** Shared-query engine: nothing to stop per group — the multiplexed
    * query keeps serving the remaining groups and future sessions. */
  override def onLastSessionClosed(groupId: String): Unit = ()

  /** Open a competing-consumer session on a group; returns its id. */
  def openSession(groupId: String): Long = {
    val id = dispatcher.newSessionId()
    dispatcher.openSession(groupId, id)
    id
  }

  /** Session death/disconnect: its unacked flights become immediately
    * offerable to surviving sessions (failover). */
  def closeSession(groupId: String, sessionId: Long): Unit = {
    dispatcher.closeSession(groupId, sessionId); ()
  }

  /** Consumer pull with JetStream semantics (see [[EventEngine.pull]]):
    * competing sessions on one group receive DISJOINT chunks; a chunk
    * whose session dies or goes silent past the ack-wait is re-offered
    * with the same chunkId. Each successful claim is journaled so the
    * redelivery timer survives restart. */
  def pull(groupId: String, sessionId: Long,
           max: Int = Int.MaxValue): Seq[DeliveryChunk] = {
    val metas = ledger.pending(groupId)
    val claimed =
      dispatcher.offer(groupId, sessionId, metas.map(_.chunkId), max).toSet
    for (st <- store; c <- claimed; f <- dispatcher.flight(groupId, c))
      st.appendOffer(groupId, c, f.sessionId, f.offeredAt, f.deliveries)
    table.hydrate(groupId, metas.filter(m => claimed.contains(m.chunkId)))
  }

  /** Pending row count from driver metadata alone (no payload read) —
    * the backlog-accounting path for monitoring and the bench. */
  def pendingRowCount(groupId: String): Long = ledger.pendingRows(groupId)

  /** Driver-ledger footprint: (groups, pending metas, resident acked
    * metas) — the many-groups probe's memory surface. */
  def ledgerStats: (Int, Long, Long) = ledger.stats

  def ack(groupId: String, chunkId: String): Boolean =
    ledger.ack(groupId, chunkId) match {
      case Some(_) =>
        store.foreach(_.appendAck(groupId, chunkId))
        dispatcher.settle(groupId, chunkId)
        true
      case None => false // unknown id or duplicate ack
    }

  def processAllAvailable(): Unit = query.foreach(_.processAllAvailable())

  def stop(): Unit = synchronized {
    query.foreach(_.stop())
    query = None
  }
}

object MultiplexedDelivery {
  /** Count-regime threshold: above this many registered groups the
    * per-batch chunk counts come from a second aggregation over the
    * cached batch instead of parquet footers + per-group existence
    * probes. ZERO — the round-12 crossover measurement (GroupScaleProbe
    * forced both regimes at G ∈ {16, 64, 256, 1000}; BASELINE.md
    * round-12 table) found NO crossover: once the prepared frame is
    * hash-partitioned by groupId the count aggregation is shuffle-free
    * and flat (0.5–1.2 s/8 batches at every G) while the footer path's
    * per-REGISTERED-group exists() probes grow O(G) (1.2 → 17.2 s from
    * G=16 → 1000) — and on an object store those probes are sequential
    * driver RPCs (the round-11 "watch" item, now moot by default). The
    * footer path survives behind the constructor knob for the
    * single-group engines' shape (one probe, no batch persist), where
    * it is the cheaper form. */
  val FooterCountMaxGroups: Int = 0

  /** Layout-regime threshold: at this many registered groups and above,
    * micro-batch payloads are written in the BUCKETED layout (see
    * [[DeliveryTable.writeBucketed]]) — per-batch file count O(shuffle
    * partitions) instead of O(matching groups). Measured (round-13
    * GroupScaleProbe, both layouts forced at each G, sf0.1 batch
    * medians): G=16 1.05 vs 1.00 s, G=64 0.92 vs 0.92 s — a tie below
    * the write-parallelism width — then bucketed wins 1.53 vs 0.81 s
    * at G=256 and 3.4–3.9× at G=1k–10k (BASELINE.md round-13). The
    * threshold sits at the top of the measured tie band: below it the
    * per-group layout's surgical pulls (exactly-own-dirs, zero read
    * amplification) and PHYSICAL group deletes (rm -r on removeGroup,
    * no batch-retention process needed) are kept where they cost
    * nothing; above it the per-group commit floor starts growing with
    * matching groups. */
  val BucketedMinGroups: Int = 64

  /** Automated bucketed-retention cadence: every this-many micro-batches
    * the batch body runs [[MultiplexedDelivery.compactPayloads]]
    * (0 disables — the pre-round-14 manual-only behavior). 64 batches =
    * ~16 s at the 250 ms trigger: frequent enough that the batch-dir
    * count stays within one retention window of the acked floor
    * (soak-measured, BASELINE.md round-14), rare enough that its
    * listStatus + floor scan is amortized noise. */
  val PayloadRetentionEvery: Int = 64

  /** Files per chunk for a per-group-layout batch write: one per ~32k
    * rows of the batch's estimated events per group, capped at
    * `parts / nGroups`. An estimate of zero or less (an idle trigger,
    * or a batch whose emits the previous delta already counted) writes
    * ONE file per chunk — an empty or tiny batch needs no fan-out. */
  def writeSplits(estBatchEvents: Long, parts: Int, nGroups: Int): Int = {
    val groups = math.max(1, nGroups)
    math.min(math.max(1, parts / groups).toLong,
      1L + math.max(0L, estBatchEvents) / groups / 32768L).toInt
  }
}
