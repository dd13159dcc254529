package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core._

/** The streaming engine — the reference's full service surface
  * (SURVEY.md §2.1 R1–R15) rebuilt on Structured Streaming. One
  * instance owns the shared event stream (the reference's single
  * JetStream stream `STORAGE_UPDATES`, natsio.rs:24) and the per-group
  * delivery state.
  *
  * Mapping:
  *  - emit (R1)            → `MemoryStream.addData` after validation
  *  - fan-out (R2,R4,R5)   → [[FanOut.explodeSubjects]] inside the plan
  *  - create group (R7,R8) → [[createStreamGroup]]: compiles the filter
  *    subject (completing the reference's `todo!()` arms for
  *    Object/ObjectGroup, natsio.rs:171-173) and starts a filtered
  *    streaming query with its own checkpoint (≙ JetStream consumer)
  *  - delete group (R14)   → implemented (the reference stubs it)
  *  - delivery (R10–R12)   → 250 ms micro-batches; each batch becomes an
  *    acknowledgeable chunk in a ledger; at-least-once: unacked chunks
  *    stay pending and are re-deliverable
  *  - session control (R13)→ [[close]] stops the group's query
  *
  * Divergences from the reference, intentional (SURVEY.md §7.4):
  * publish errors propagate (vs. swallowed, natsio.rs:136-147), unknown
  * ack ids are ignored gracefully (vs. panic, public_event_server.rs:368),
  * sequence/timestamp are populated (vs. constant 0/None).
  *
  * Scale note: per-group queries match the reference's per-consumer
  * model and are fine for O(100) groups. The 100 TB path is the
  * multiplexed form — one query joining the event stream against a
  * broadcast `subscriptions` table — which the same [[FanOut]] and
  * [[Subjects.matchesCol]] expressions support unchanged.
  */
final class EventEngine(val spark: SparkSession,
                        trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                        security: EngineSecurity = EngineSecurity.Permissive,
                        deliveriesDir: Option[String] = None,
                        ackWaitMillis: Long = 30000L,
                        clock: () => Long = () => System.currentTimeMillis(),
                        ledgerDir: Option[String] = None) extends ConsumerHost {
  import spark.implicits._

  /** Consumer dispatch (ack-wait redelivery + competing consumers) —
    * the JetStream consumer semantics the reference gets from its
    * broker (handler.rs:21-25); see [[ChunkDispatcher]]. */
  val dispatcher = new ChunkDispatcher(ackWaitMillis, clock)

  /** Optional WAL (same [[LedgerStore]] the multiplexed engine uses):
    * with a `ledgerDir`, chunk metadata, acks, and offer flights
    * survive a process restart — a reconnecting client is re-served
    * exactly its unacked chunks with monotone delivery counts. Without
    * one the ledger is in-memory (the test/replay path). */
  private val store: Option[LedgerStore] = ledgerDir.map(new LedgerStore(_))

  /** The shared ingest stream (R1). MemoryStream plays the role of the
    * gRPC ingest endpoint for in-process use; a parquet/file readStream
    * drops in for replay from a durable log. */
  private val source: MemoryStream[Event] = MemoryStream[Event](spark, numPartitions = 1)
  private val sequence = new AtomicLong(0L)

  /** Registered stream groups (the reference's metadata-service state,
    * storage_endpoint_mock.rs:16-38). */
  private val groups: concurrent.Map[String, StreamGroup] =
    new ConcurrentHashMap[String, StreamGroup]().asScala

  /** Per-group running delivery query. */
  private val queries: concurrent.Map[String, StreamingQuery] =
    new ConcurrentHashMap[String, StreamingQuery]().asScala

  /** Delivery ledger: METADATA ONLY, bounded. The reference's
    * `ack_chunks: Mutex<HashMap>` holds full message vectors
    * (public_event_server.rs:318-319); here payloads live in the
    * distributed [[DeliveryTable]], and the driver keeps ids+counts for
    * PENDING chunks only — acked history is evicted behind a per-group
    * watermark ([[ChunkLedger]]), so driver residency is O(unacked),
    * independent of all-time volume. */
  private val ledger = new ChunkLedger
  /** Metrics hook: the engine's chunk ledger, for
    * [[EngineMetrics.watchLedger]] stuck-watermark monitoring. */
  def chunkLedger: ChunkLedger = ledger
  store.foreach { st =>
    ledger.beginLoad()
    val (metas, wms) = st.loadState()
    wms.foreach { case (g, w) => ledger.restoreWatermark(g, w) }
    metas.values.foreach { m =>
      if (m.acked) ledger.restoreAcked(m) else { ledger.record(m); () }
    }
    ledger.settleLoad()
    st.loadFlights().foreach { case ((g, c), (s, at, d)) =>
      dispatcher.restore(g, c, s, at, d)
    }
  }

  /** Chunk-sequence epoch: a fresh incarnation over a restored WAL must
    * not mint chunk ids that collide with journaled chunks (its memory
    * source and checkpoints are new, so Spark batch ids restart at 0; a
    * collision would overwrite a durable chunk's payload while the
    * ledger keeps the stale meta — or silently lose events behind an
    * acked id). Ids are `group-(epoch + batchId)`: monotone across
    * restarts, deterministic within an incarnation. The epoch survives
    * acked-history eviction because the ledger's maxBatchId also tracks
    * compacted watermarks. */
  private val chunkSeqBase: Long = {
    val m = ledger.maxBatchId
    if (m == Long.MinValue) 0L else m + 1L
  }

  /** Per-incarnation checkpoint root for the per-group delivery queries:
    * a group query stopped on last-session-close and restarted by a
    * later attach RESUMES its offsets and batch ids instead of
    * reprocessing the memory source from scratch — without it, events
    * emitted while the group was closed would be re-bundled into batch
    * 0 and hide behind an already-journaled (possibly acked) chunk id:
    * an event-loss path, now exercised by SessionFuzzSpec. */
  private val ckptRoot: String =
    java.nio.file.Files.createTempDirectory("graft-engine-ckpt").toString
  private val table = new DeliveryTable(spark,
    deliveriesDir.orElse(ledgerDir.map(d => s"$d/deliveries"))
      .getOrElse(DeliveryTable.tempDir()))

  /** R1 `emit_event`: token gate, validate, then append to the stream.
    * The gate mirrors internal_event_server.rs:23-45 (missing header →
    * unauthenticated, mismatch → "bad token"); with the default
    * [[EngineSecurity.Permissive]] it is a no-op. Unlike the reference
    * (which logs-and-drops publish failures) a bad event is rejected
    * here. */
  def emit(resource: ResourceType, eventType: String, resourceId: String,
           relation: RelationCtx, token: Option[String] = None): Unit = {
    security.requireInternal(token)
    Subjects.requireValidId(resourceId, "resourceId")
    Seq(relation.project, relation.collection, relation.sharedObject)
      .filter(_.nonEmpty).foreach(Subjects.requireValidId(_, "relation id"))
    relation.objectGroups.foreach(Subjects.requireValidId(_, "object group id"))
    require(resource != ResourceType.Unspecified && resource != ResourceType.All,
      s"cannot publish events for resource type ${resource.name}")
    // Serialize the row-encode: MemoryStream's serializer reuses one
    // UnsafeRow buffer and only the batch append is internally locked —
    // concurrent emitters (one thread per wire connection) would tear
    // rows otherwise (see MultiplexedDelivery.emit).
    source.synchronized {
      val n = sequence.incrementAndGet()
      source.addData(Event(resource, eventType, resourceId, relation,
        new Timestamp(n * 1000L)).copy(eventId = n))
    }
  }

  /** The fanned-out event log as a streaming DataFrame — R2/R4/R5. */
  def eventLog: DataFrame = FanOut.explodeSubjects(source.toDF())

  /** R7/R8: register a stream group and start its filtered delivery
    * query. `hierarchy` plays the storage service's resolved-ancestors
    * response (public_event_server.rs:102-121). `eventType` is the
    * group's declared event-type gate (storage_endpoint_mock.rs:32-38;
    * the reference stores it but only exercises ALL — here it filters
    * delivery: a CREATED-only group never sees UPDATED events).
    * `token` feeds the R8 authorize gate (public_event_server.rs:74-100):
    * the caller must hold a Read grant on the subscribed resource. */
  def createStreamGroup(groupId: String, resourceType: ResourceType, resourceId: String,
                        hierarchy: Hierarchy, includeSubresources: Boolean,
                        eventType: String = EventType.All,
                        token: Option[String] = None): StreamGroup =
    createStreamGroupMulti(groupId, resourceType, resourceId, Seq(hierarchy),
      includeSubresources, eventType, token)

  /** Multi-hierarchy creation (round-12 verdict task 5): the reference
    * takes `hierarchies[0]` only and errors when empty
    * (public_event_server.rs:145-152). Here one group compiles every
    * ancestor chain into a union of filter subjects; its delivery query
    * filters on "matches ANY" — a plain OR of the per-subject
    * predicates, so a message matching several still passes the filter
    * exactly once (no join, no dedup needed on this path). */
  def createStreamGroupMulti(groupId: String, resourceType: ResourceType, resourceId: String,
                             hierarchies: Seq[Hierarchy], includeSubresources: Boolean,
                             eventType: String = EventType.All,
                             token: Option[String] = None): StreamGroup = {
    require(hierarchies.nonEmpty,
      s"stream group $groupId needs at least one hierarchy (public_event_server.rs:145-152)")
    security.requireRead(token, resourceType, resourceId)
    val filters = hierarchies
      .map(Subjects.queryFor(resourceType, resourceId, _, includeSubresources))
      .distinct
    val group = StreamGroup(groupId, resourceType.name, resourceId,
      eventType, includeSubresources, filters.head, filters.tail)
    require(groups.putIfAbsent(groupId, group).isEmpty,
      s"stream group $groupId already exists")
    start(group)
    group
  }

  /** R9: attach to an existing group (restarts its query if stopped).
    * The reference re-authorizes on every bidi attach
    * (public_event_server.rs:249-301) — mirrored here. */
  def attach(groupId: String, token: Option[String] = None): StreamGroup = {
    val g = groups.getOrElse(groupId,
      throw new NoSuchElementException(s"unknown stream group $groupId"))
    security.requireRead(token, ResourceType.fromName(g.resourceType), g.resourceId)
    if (!queries.contains(groupId)) start(g)
    g
  }

  override def attachConsumer(groupId: String, token: Option[String]): Unit = {
    attach(groupId, token); ()
  }

  /** Per-group engine: the group's dedicated delivery query stops when
    * its last session closes (state kept; a later attach resumes). */
  override def onLastSessionClosed(groupId: String): Unit = close(groupId)

  private def start(group: StreamGroup): Unit = {
    // R10–R12: the delivery loop. Micro-batch ≙ pull window; each batch
    // with data becomes one acknowledgeable chunk. The subject predicate
    // is "matches ANY filter subject" (one per hierarchy; single-
    // hierarchy groups reduce to the plain matchesLit).
    val filtered = eventLog.filter(
      group.filterSubjects.map(Subjects.matchesLit(col("subject"), _)).reduce(_ || _)
      && Subjects.eventTypeMatches(col("eventType"), lit(group.eventType)))
    val q = filtered.writeStream
      .queryName(s"delivery-${group.id}")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", s"$ckptRoot/${group.id}")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // Write-first over ONE cached pass of the batch: writeCounted
        // counts (for the ledger — no footer job) then writes with the
        // file split sized to the batch (one file for a steady-state
        // micro-batch, full width for a replay burst; round-12 ADVICE).
        // An empty batch writes no partitions and records no meta. No
        // event row is collected to the driver. Deterministic chunk id
        // (groupId + epoch + batchId) instead of uuid4: replayable,
        // idempotent on micro-batch retry, collision-free across process
        // restarts (see chunkSeqBase).
        val seq = chunkSeqBase + batchId
        val chunkId = s"${group.id}-$seq"
        val n = table.writeCounted(group.id, chunkId,
          batch.select(col("subject"), col("resourceId"), FanOut.seqCol.as("seq")))
        if (n > 0L) {
          val meta = ChunkMeta(group.id, chunkId, seq, n,
            new Timestamp(System.currentTimeMillis()), acked = false)
          // record() is the replay guard: false when the chunk is
          // already pending or already acked (possibly only as a
          // compacted watermark) — never resurrect it.
          if (ledger.record(meta)) store.foreach(_.appendChunk(meta))
          ()
        }
        ()
      }
      .start()
    queries.put(group.id, q)
  }

  /** Chunks delivered to a group and not yet acked — what a reconnecting
    * client receives again (at-least-once). Payloads are read back from
    * the deliveries table at PULL time (consumer-side materialization).
    * Monitoring/reconnect surface: bypasses flight bookkeeping; live
    * consumer sessions pull through [[pull]] instead. */
  def pendingChunks(groupId: String): Seq[DeliveryChunk] =
    table.hydrate(groupId, ledger.pending(groupId))

  /** Consumer pull with JetStream semantics: of the group's unacked
    * chunks, return those offerable to THIS session — not in flight
    * elsewhere, or whose owner died, or whose ack-wait expired (the
    * silent-client redelivery: a chunk this session was offered but
    * never acked comes back after `ackWaitMillis` with the SAME
    * chunkId). Claiming is atomic per chunk, so competing sessions on
    * one group receive disjoint chunks. `max` mirrors the reference's
    * bounded pull batch (`consumer.batch().expires(250ms)`,
    * natsio.rs:198-204 — the client-default batch bound; the 250 ms
    * expiry is this engine's trigger). */
  def pull(groupId: String, sessionId: Long,
           max: Int = Int.MaxValue): Seq[DeliveryChunk] = {
    val metas = ledger.pending(groupId)
    val claimed =
      dispatcher.offer(groupId, sessionId, metas.map(_.chunkId), max).toSet
    for (st <- store; c <- claimed; f <- dispatcher.flight(groupId, c))
      st.appendOffer(groupId, c, f.sessionId, f.offeredAt, f.deliveries)
    table.hydrate(groupId, metas.filter(m => claimed.contains(m.chunkId)))
  }

  /** Pending row count from driver metadata alone — monitoring/backlog
    * accounting without touching the payload table. */
  def pendingRowCount(groupId: String): Long = ledger.pendingRows(groupId)

  /** All chunks ever delivered to a group (acked + pending). Pending
    * and out-of-order-acked metas come from the driver ledger; acked
    * chunks already evicted behind the watermark are re-listed from the
    * durable payload table (their batchId re-derived from the chunk
    * id's trailing sequence — a monitoring surface, not a replay
    * input). */
  def deliveredChunks(groupId: String): Seq[DeliveryChunk] =
    table.hydrate(groupId, EventEngine.historyMetas(
      groupId, ledger.pending(groupId), ledger.ackedResident(groupId),
      table.listChunks(groupId)))

  /** R12/R13 ack path: mark a chunk consumed. Unknown chunk ids are
    * ignored (reference panics — public_event_server.rs:368). */
  def ack(groupId: String, chunkId: String): Boolean =
    ledger.ack(groupId, chunkId) match {
      case Some(_) =>
        store.foreach(_.appendAck(groupId, chunkId))
        dispatcher.settle(groupId, chunkId)
        true
      case None => false // unknown id or duplicate ack
    }

  /** R13 close: stop the group's delivery query (the `close` flag /
    * AtomicBool of public_event_server.rs:321-345). State is kept so a
    * later [[attach]] resumes delivery. */
  def close(groupId: String): Unit =
    queries.remove(groupId).foreach(_.stop())

  /** R14 delete (unimplemented in the reference): stop the query and
    * drop group metadata + its ledger entries. */
  def deleteStreamGroup(groupId: String): Unit = {
    close(groupId)
    groups.remove(groupId)
    ledger.dropGroup(groupId)
    dispatcher.dropGroup(groupId)
    table.drop(groupId)
  }

  def listGroups: Seq[StreamGroup] = groups.values.toSeq.sortBy(_.id)

  /** Drain all in-flight data through every running query (test/replay
    * helper; production runs on the 250 ms trigger). */
  def processAllAvailable(): Unit = queries.values.foreach(_.processAllAvailable())

  def stop(): Unit = {
    queries.values.foreach(_.stop())
    queries.clear()
  }
}

object EventEngine {
  /** Assemble the "all chunks ever" meta list for a group from the
    * bounded ledger + the durable payload table's partition listing
    * (shared by [[EventEngine.deliveredChunks]] and
    * [[DurableEventLog.deliveredChunks]]). Resident metas win; chunk
    * ids only present on disk (acked history evicted behind the
    * watermark) are synthesized with batchId parsed from the trailing
    * `-<seq>` (backfill ids surface their positive slice index). */
  private[streaming] def historyMetas(groupId: String,
      pending: Seq[ChunkMeta], ackedResident: Seq[ChunkMeta],
      diskChunkIds: Seq[String]): Seq[ChunkMeta] = {
    val resident = pending ++ ackedResident
    val residentIds = resident.map(_.chunkId).toSet
    val evicted = diskChunkIds.filterNot(residentIds).map { cid =>
      val i = cid.lastIndexOf('-')
      val seq =
        try if (i < 0) 0L else cid.substring(i + 1).toLong
        catch { case _: NumberFormatException => 0L }
      ChunkMeta(groupId, cid, seq, 0L, new Timestamp(0L), acked = true)
    }
    (resident ++ evicted).sortBy(m => (m.batchId, m.chunkId))
  }
}
