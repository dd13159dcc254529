package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** The delivery layer under every engine — the reference's one consumer
  * infrastructure shared by all stream groups (a JetStream consumer plus
  * pull and ack, natsio.rs:150-211). [[EventEngine]],
  * [[MultiplexedDelivery]] and [[DurableEventLog]] extend it and keep
  * only their ingest, their streaming-query shapes and what a last
  * session's close releases. Everything between the group registry and
  * the ack exists here once:
  *
  *  - the group registry: filter compile, R8 authz, the duplicate-id
  *    guard, and the version counter the multi-group writer's
  *    subscription cache keys on;
  *  - the bounded metadata ledger ([[ChunkLedger]]), its optional WAL
  *    ([[LedgerStore]]) and the restore that replays it, the consumer
  *    dispatcher ([[ChunkDispatcher]]) and the payload table
  *    ([[DeliveryTable]]);
  *  - [[record]]: the ledger's replay guard, then the WAL append, always
  *    after the payload write — the offset-log + idempotent-sink
  *    recovery argument of Structured Streaming (SIGMOD 2018) in one
  *    place;
  *  - two batch writers: [[writeChunk]] for a per-group query's
  *    micro-batch, [[writeGroups]] for one micro-batch joined against
  *    every registered group;
  *  - the consumer surface: pull, ack, pending/history reads, retention
  *    and group drop.
  *
  * Payloads live in the [[DeliveryTable]]; the driver keeps ids + counts
  * for PENDING chunks only (the reference's in-server ack map holds full
  * message vectors, public_event_server.rs:318-319), so driver residency
  * is O(unacked), independent of all-time volume.
  *
  * `walDir` None keeps the ledger in memory (the test/replay path).
  */
abstract class DeliveryCore(val spark: SparkSession,
                            security: EngineSecurity,
                            ackWaitMillis: Long,
                            clock: () => Long,
                            walDir: Option[String],
                            payloadDir: String) extends ConsumerHost {
  import spark.implicits._

  /** Consumer dispatch (ack-wait redelivery + competing consumers) —
    * the JetStream consumer semantics the reference gets from its
    * broker (handler.rs:21-25). Flights are journaled to the WAL, when
    * present, so the redelivery timer and delivery counts survive a
    * restart alongside the chunk/ack state. */
  val dispatcher = new ChunkDispatcher(ackWaitMillis, clock)

  private val ledger = new ChunkLedger
  /** Metrics hook: the engine's chunk ledger, for
    * [[EngineMetrics.watchLedger]] stuck-watermark monitoring. */
  def chunkLedger: ChunkLedger = ledger

  /** With a WAL, chunk metadata, acks and offer flights survive a process
    * restart: a reconnecting client is re-served exactly its unacked
    * chunks with monotone delivery counts. */
  private val store: Option[LedgerStore] = walDir.map(new LedgerStore(_))
  store.foreach { st =>
    ledger.beginLoad()
    val (metas, wms) = st.loadState()
    wms.foreach { case (g, w) => ledger.restoreWatermark(g, w) }
    metas.values.foreach { m =>
      if (m.acked) ledger.restoreAcked(m) else { ledger.record(m); () }
    }
    ledger.settleLoad()
    // restored flights' owners are from the dead process, so every
    // restored chunk is immediately offerable (restart failover) while
    // offeredAt and the delivery count stay monotone
    st.loadFlights().foreach { case ((g, c), (s, at, d)) =>
      dispatcher.restore(g, c, s, at, d)
    }
  }

  /** Chunk-sequence epoch for engines whose Spark batch ids restart at 0
    * with each incarnation (a fresh memory source and checkpoints): a
    * restarted engine over a restored WAL must not mint chunk ids that
    * collide with journaled ones — a collision would overwrite a durable
    * chunk's payload while the ledger keeps the stale meta, or hide
    * events behind an acked id. Ids are `group-(epoch + batchId)`:
    * monotone across restarts, deterministic within an incarnation. The
    * epoch survives acked-history eviction because the ledger's
    * maxBatchId also tracks compacted watermarks. */
  protected val chunkSeqBase: Long = {
    val m = ledger.maxBatchId
    if (m == Long.MinValue) 0L else m + 1L
  }

  protected val table = new DeliveryTable(spark, payloadDir)

  /** Registered stream groups (the reference's metadata-service state,
    * storage_endpoint_mock.rs:16-38). */
  private val groups: concurrent.Map[String, StreamGroup] =
    new ConcurrentHashMap[String, StreamGroup]().asScala
  /** Bumped AFTER every mutation of [[groups]] (bumping first could let a
    * concurrent snapshot cache pre-mutation state under the
    * post-mutation version — missed forever; this way a stale cache is
    * invalidated by the very next read). */
  private val groupsVersion = new AtomicLong(0L)

  /** R1 admission for every engine's `emit`: the internal-token gate
    * (internal_event_server.rs:23-45; a no-op under
    * [[EngineSecurity.Permissive]]), valid resource and relation ids,
    * and a publishable resource type. Unlike the reference, which logs
    * and drops a failed publish (natsio.rs:136-147), a bad event is
    * rejected here. */
  protected def admit(resource: ResourceType, resourceId: String,
                      relation: RelationCtx, token: Option[String]): Unit = {
    security.requireInternal(token)
    Subjects.requireValidId(resourceId, "resourceId")
    Seq(relation.project, relation.collection, relation.sharedObject)
      .filter(_.nonEmpty).foreach(Subjects.requireValidId(_, "relation id"))
    relation.objectGroups.foreach(Subjects.requireValidId(_, "object group id"))
    require(resource != ResourceType.Unspecified && resource != ResourceType.All,
      s"cannot publish events for resource type ${resource.name}")
  }

  /** R7/R8: register a group. `hierarchy` plays the storage service's
    * resolved-ancestors response (public_event_server.rs:102-121);
    * `eventType` gates delivery (ALL = everything, else exact match);
    * `token` feeds the authorize gate (:74-100) — the caller must hold a
    * Read grant on the subscribed resource. Where the group's delivery
    * runs is the engine's business: a shared query picks it up at its
    * next micro-batch, a per-group engine starts its query on attach. */
  def addGroup(groupId: String, resourceType: ResourceType, resourceId: String,
               hierarchy: Hierarchy, includeSubresources: Boolean,
               eventType: String = EventType.All,
               token: Option[String] = None): StreamGroup =
    addGroupMulti(groupId, resourceType, resourceId, Seq(hierarchy),
      includeSubresources, eventType, token)

  /** Multi-hierarchy registration (round-12 verdict task 5): the
    * reference subscribes `hierarchies[0]` only and errors on empty
    * (public_event_server.rs:145-152); here ONE group compiles ALL of
    * the resource's ancestor chains into a union of filter subjects — a
    * message matching any of them is delivered ONCE. Mirrors the
    * reference's empty-hierarchies error. */
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

  def listGroups: Seq[StreamGroup] = groups.values.toSeq.sortBy(_.id)

  /** R14 delete (unimplemented in the reference): release the group's
    * own delivery query as a last session's close does
    * ([[onLastSessionClosed]]), then drop its registration, ledger
    * entries, dispatch state and per-group payload dirs. Registration
    * never touches the payload table — a crash-restart re-registers
    * existing groups over their durable dirs. Known benign race: a
    * shared-query batch in flight at drop time can re-create a dropped
    * dir after the delete; the orphan is invisible to the ledger and
    * dispatcher and can at worst re-list a stale chunk id in a same-id
    * re-add's delivered history — never re-serve it. The drop is not
    * journaled in the WAL. */
  def removeGroup(groupId: String): Unit = {
    onLastSessionClosed(groupId)
    groups.remove(groupId)
    groupsVersion.incrementAndGet()
    ledger.dropGroup(groupId)
    dispatcher.dropGroup(groupId)
    table.drop(groupId)
  }

  /** R9 attach: the group must exist and the caller must hold a Read
    * grant on its resource — the per-attach authz re-check the reference
    * runs on every bidi attach (public_event_server.rs:249-301); then its
    * delivery is ensured (a per-group engine restarts a stopped query). */
  def attach(groupId: String, token: Option[String] = None): StreamGroup = {
    val g = groups.getOrElse(groupId,
      throw new NoSuchElementException(s"unknown stream group $groupId"))
    security.requireRead(token, ResourceType.fromName(g.resourceType), g.resourceId)
    ensureDelivery(g)
    g
  }

  override def attachConsumer(groupId: String, token: Option[String]): Unit = {
    attach(groupId, token); ()
  }

  /** Make sure a query serves `group` (a per-group engine starts or
    * resumes the group's own query; a shared query already serves it). */
  protected def ensureDelivery(group: StreamGroup): Unit

  /** Mint a chunk whose payload is already written: the ledger's replay
    * guard first — false when the chunk is already pending or acked
    * (possibly only as a compacted watermark), so a foreachBatch replay
    * never resurrects it — then the WAL append. */
  protected def record(meta: ChunkMeta): Boolean =
    ledger.record(meta) && { store.foreach(_.appendChunk(meta)); true }

  /** One group's micro-batch as chunk `group-seq`. A chunk already in the
    * ledger (a replayed batch, possibly acked) is skipped before any
    * write. Otherwise ONE job: writeCounted counts while it writes, with
    * the file split sized to the batch (one file for a steady-state
    * micro-batch, full width for a replay burst; round-12 ADVICE). An
    * empty batch writes no partition and records no meta; no event row
    * reaches the driver. */
  protected def writeChunk(groupId: String, seq: Long, batch: DataFrame): Unit = {
    val chunkId = s"$groupId-$seq"
    if (!ledger.isKnown(groupId, chunkId, seq)) {
      val n = table.writeCounted(groupId, chunkId,
        batch.select(col("subject"), col("resourceId"), FanOut.seqCol.as("seq")))
      if (n > 0L) {
        record(ChunkMeta(groupId, chunkId, seq, n,
          new Timestamp(System.currentTimeMillis()), acked = false))
        ()
      }
    }
  }

  // ---- the multi-group batch writer ----------------------------------

  /** (version, size, anyMulti, subs frame, subtree depths) — rebuilt only
    * when the registration map changed: at G=10k the per-batch O(G)
    * driver work (map copy + flatMap + local-relation conversion)
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
      // ONE ROW PER (group, filter subject): multi-hierarchy groups get
      // one per matcher (their union semantics). Only join-relevant
      // columns: the group's eventType is aliased so it cannot collide
      // with the event's.
      val df =
        if (snapshot.isEmpty) null
        else snapshot
          .flatMap(g => g.filterSubjects.map(fs => (g.id, fs, g.eventType)))
          .toDF("id", "joinKey", "subEventType")
      val depths = snapshot.flatMap(_.filterSubjects)
        .flatMap(Subjects.subtreeDepth).distinct.sorted
      subsSnapshot = (v, snapshot.size, anyMulti, df, depths)
      (snapshot.size, anyMulti, df, depths)
    }
  }

  /** foreachBatch wall split of [[writeGroups]] (ns): "batch" = whole
    * body; minus the table's write/count phases and "ledger" it leaves
    * the join/plan residue — the many-groups floor decomposition
    * (verdict task 8). */
  private val batchNs = new AtomicLong
  private val ledgerNs = new AtomicLong
  private val batchCount = new AtomicLong
  /** Batch dirs reclaimed by the automated retention cadence —
    * monitoring surface for the soak probe. */
  val reapedBatchDirs = new AtomicLong

  /** Per-phase cumulative seconds across all multi-group micro-batches
    * so far: batch total, payload write, count, ledger record, plus the
    * consumer-side pull hydration ("read"). */
  def phaseProfile: Map[String, Double] =
    table.phaseSeconds ++ Map(
      "batch" -> batchNs.get / 1e9,
      "ledger" -> ledgerNs.get / 1e9,
      "batches" -> batchCount.get.toDouble)

  /** One micro-batch of fanned-out events (subject, resourceId,
    * eventType, eventId, spos, ts) delivered to EVERY registered group
    * as chunks `group-seq`, in one distributed pass.
    *
    *  - Join: a PURE EQUI-JOIN on candidate match keys
    *    ([[Subjects.matchKeysCol]]): each event row explodes into
    *    |subtreeDepths|+1 keys (2–4) and the broadcast hash join output is
    *    exactly the true matches — per-row cost independent of G (the
    *    project-token equi + matchesCol residual it replaced left every
    *    same-project subscription a candidate per row, BASELINE.md
    *    round-14).
    *  - Dedup: with any multi-subject group registered, a message
    *    matching two of one group's matchers joins twice; dedup on the
    *    CONTENT-derived message identity delivers it ONCE (the JetStream
    *    multi-filter-subject consumer rule). eventId restarts per engine
    *    incarnation and a durable backfill batch can span incarnations,
    *    so the key also carries resourceId/eventType/ts; within one
    *    incarnation eventId alone is unique, so this keeps the same rows.
    *    Never monotonically_increasing_id (SPARK-23207 class; round-13
    *    ADVICE). Two identical emitted events keep distinct eventIds and
    *    deliver twice — the two-published-messages semantics. Skipped in
    *    the common all-single case.
    *  - Layout: from `bucketedMinGroups` registered groups the write
    *    switches to the BUCKETED layout — O(shuffle-partitions) files per
    *    batch however many groups matched, instead of one file + commit
    *    rename per matching group (4.8 s/batch at G=2000, BASELINE.md
    *    round-12). Below it the per-group layout keeps its surgical pulls
    *    and physical deletes; its counts ride the write
    *    ([[DeliveryTable.writeMultiWithCounts]]).
    *  - Split sizing: files per chunk from `estBatchEvents`, the
    *    caller's driver-side estimate of this batch's events
    *    ([[MultiplexedDelivery.writeSplits]]; Long.MaxValue gives the
    *    `parts / nGroups` cap), and an exchange width that follows the
    *    key space (2× for hash-collision slack, capped at the session
    *    parts) — surplus near-empty reduce tasks are pure per-trigger
    *    scheduling cost. A replayed batch may re-run with a different
    *    estimate: only the file COUNT of the rewritten chunk changes,
    *    never its rows (dynamic overwrite replaces whole chunk dirs).
    *  - Write first, [[record]] after; a replayed batch rewrites its own
    *    partitions and the ledger guard keeps an existing (possibly acked)
    *    meta intact.
    *  - Retention: every `retentionEvery` batches (0 = never) in the
    *    bucketed regime, [[compactPayloads]] runs inside the body, after
    *    this batch's metas are recorded, so its own dir is never a
    *    candidate (round-13 verdict task 4; cost measured by
    *    tools.RetentionSoakProbe).
    *
    * No batch.isEmpty pre-check: that is a full extra pass on the common
    * non-empty path, and the counts gate the ledger anyway. */
  protected def writeGroups(batch: DataFrame, seq: Long, estBatchEvents: Long,
                            bucketedMinGroups: Int, retentionEvery: Int): Unit = {
    val bodyT0 = System.nanoTime()
    val (nGroups, anyMulti, subs, subtreeDepths) = currentSubs()
    if (nGroups > 0) {
      val joined = batch
        .select(col("subject"), col("resourceId"), col("eventType"),
          col("eventId"), col("spos"), col("ts"))
        .withColumn("joinKey",
          explode(Subjects.matchKeysCol(col("subject"), subtreeDepths)))
        .join(broadcast(subs), "joinKey")
        .filter(Subjects.eventTypeMatches(col("eventType"), col("subEventType")))
      val withChunk =
        (if (anyMulti)
           joined.dropDuplicates("id", "eventId", "spos", "resourceId", "eventType", "ts")
         else joined)
          .select(col("id").as("groupId"), col("subject"),
            col("resourceId"), FanOut.seqCol.as("seq"))
          .withColumn("chunkId", concat(col("groupId"), lit(s"-$seq")))
      val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val counts =
        if (nGroups >= bucketedMinGroups) table.writeBucketed(withChunk, seq, parts)
        else {
          val splits = MultiplexedDelivery.writeSplits(estBatchEvents, parts, nGroups)
          table.writeMultiWithCounts(withChunk, splits,
            math.min(parts, math.max(1, 2 * nGroups * splits)))
        }
      val ledgerT0 = System.nanoTime()
      counts.foreach { case (gid, n) =>
        record(ChunkMeta(gid, s"$gid-$seq", seq, n,
          new Timestamp(System.currentTimeMillis()), acked = false))
      }
      ledgerNs.addAndGet(System.nanoTime() - ledgerT0)
      if (retentionEvery > 0 && nGroups >= bucketedMinGroups
          && batchCount.get % retentionEvery == (retentionEvery - 1L)) {
        reapedBatchDirs.addAndGet(compactPayloads().toLong)
        ()
      }
    }
    batchNs.addAndGet(System.nanoTime() - bodyT0)
    batchCount.incrementAndGet()
    ()
  }

  // ---- consumer surface ----------------------------------------------

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

  /** Chunks delivered to a group and not yet acked — what a reconnecting
    * client receives again (at-least-once), payloads read back at PULL
    * time. Monitoring/reconnect surface: bypasses flight bookkeeping;
    * live consumer sessions pull through [[pull]] instead. */
  def pendingChunks(groupId: String): Seq[DeliveryChunk] =
    table.hydrate(groupId, ledger.pending(groupId))

  /** Consumer pull with JetStream semantics: of the group's unacked
    * chunks, return those offerable to THIS session — not in flight
    * elsewhere, or whose owner died, or whose ack-wait expired (the
    * silent-client redelivery: a chunk this session was offered but
    * never acked comes back after `ackWaitMillis` with the SAME
    * chunkId). Claiming is atomic per chunk, so competing sessions on
    * one group receive disjoint chunks; each claim is journaled so the
    * redelivery timer survives restart. `max` mirrors the reference's
    * bounded pull batch (`consumer.batch().expires(250ms)`,
    * natsio.rs:198-204 — the client-default batch bound; the 250 ms
    * expiry is the engines' trigger). */
  def pull(groupId: String, sessionId: Long,
           max: Int = Int.MaxValue): Seq[DeliveryChunk] = {
    val metas = ledger.pending(groupId)
    val claimed =
      dispatcher.offer(groupId, sessionId, metas.map(_.chunkId), max).toSet
    for (st <- store; c <- claimed; f <- dispatcher.flight(groupId, c))
      st.appendOffer(groupId, c, f.sessionId, f.offeredAt, f.deliveries)
    table.hydrate(groupId, metas.filter(m => claimed.contains(m.chunkId)))
  }

  /** R12/R13 ack path: mark a chunk consumed. Unknown ids and duplicate
    * acks return false (the reference panics — public_event_server.rs:368). */
  def ack(groupId: String, chunkId: String): Boolean =
    ledger.ack(groupId, chunkId) match {
      case Some(_) =>
        store.foreach(_.appendAck(groupId, chunkId))
        dispatcher.settle(groupId, chunkId)
        true
      case None => false
    }

  /** Pending row count from driver metadata alone — backlog accounting
    * without touching the payload table. */
  def pendingRowCount(groupId: String): Long = ledger.pendingRows(groupId)

  /** All chunks ever delivered to a group (acked + pending). Pending and
    * out-of-order-acked metas come from the ledger; acked chunks already
    * evicted behind the watermark are re-listed from the payload table,
    * their batchId parsed from the chunk id's trailing `-<seq>` (backfill
    * ids surface their positive slice index) — a monitoring surface, not
    * a replay input. */
  def deliveredChunks(groupId: String): Seq[DeliveryChunk] = {
    val resident = ledger.pending(groupId) ++ ledger.ackedResident(groupId)
    val residentIds = resident.map(_.chunkId).toSet
    val evicted = table.listChunks(groupId).filterNot(residentIds).map { cid =>
      val i = cid.lastIndexOf('-')
      val seq =
        try if (i < 0) 0L else cid.substring(i + 1).toLong
        catch { case _: NumberFormatException => 0L }
      ChunkMeta(groupId, cid, seq, 0L, new Timestamp(0L), acked = true)
    }
    table.hydrate(groupId, (resident ++ evicted).sortBy(m => (m.batchId, m.chunkId)))
  }

  /** Driver-ledger footprint: (groups, pending metas, resident acked
    * metas) — the many-groups probe's memory surface. */
  def ledgerStats: (Int, Long, Long) = ledger.stats

  /** WAL hygiene: rewrite the ledger to minimal equivalent state
    * ([[LedgerStore.compact]]); a no-op without a WAL. */
  def compactLedger(): Unit = store.foreach(_.compact())

  /** Bucketed-payload retention (the storage-reclaim half of the bucketed
    * layout's shared-file trade — see [[DeliveryTable.drop]]): deletes
    * batch dirs below every group's lowest PENDING chunk — any older
    * chunk of any group is acked, so no pull can need them. Bounded
    * additionally by the ledger's highest minted seq so a micro-batch
    * whose payload is written but whose meta is not yet recorded can
    * never be reclaimed out from under its own record. Reclaimed batches
    * disappear from [[DeliveryTable.listChunks]] history — the retention
    * trade, as in any segment log. Returns batch dirs removed. */
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
}
