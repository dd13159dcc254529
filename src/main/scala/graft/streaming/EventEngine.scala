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
  * JetStream stream `STORAGE_UPDATES`, natsio.rs:24) and one delivery
  * query per group; ledger, pull and ack are the shared
  * [[DeliveryCore]].
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
final class EventEngine(spark: SparkSession,
                        trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                        security: EngineSecurity = EngineSecurity.Permissive,
                        deliveriesDir: Option[String] = None,
                        ackWaitMillis: Long = 30000L,
                        clock: () => Long = () => System.currentTimeMillis(),
                        ledgerDir: Option[String] = None)
    extends DeliveryCore(spark, security, ackWaitMillis, clock, ledgerDir,
      deliveriesDir.orElse(ledgerDir.map(d => s"$d/deliveries"))
        .getOrElse(DeliveryTable.tempDir())) {
  import spark.implicits._

  /** The shared ingest stream (R1). MemoryStream plays the role of the
    * gRPC ingest endpoint for in-process use; a parquet/file readStream
    * drops in for replay from a durable log. */
  private val source: MemoryStream[Event] = MemoryStream[Event](spark, numPartitions = 1)
  private val sequence = new AtomicLong(0L)

  /** Per-group running delivery query. */
  private val queries: concurrent.Map[String, StreamingQuery] =
    new ConcurrentHashMap[String, StreamingQuery]().asScala

  /** Per-incarnation checkpoint root for the per-group delivery queries:
    * a group query stopped on last-session-close and restarted by a
    * later attach RESUMES its offsets and batch ids instead of
    * reprocessing the memory source from scratch — without it, events
    * emitted while the group was closed would be re-bundled into batch
    * 0 and hide behind an already-journaled (possibly acked) chunk id:
    * an event-loss path, now exercised by SessionFuzzSpec. */
  private val ckptRoot: String =
    java.nio.file.Files.createTempDirectory("graft-engine-ckpt").toString

  /** R1 `emit_event`: admission ([[DeliveryCore.admit]]: token gate and
    * validation), then append to the stream. */
  def emit(resource: ResourceType, eventType: String, resourceId: String,
           relation: RelationCtx, token: Option[String] = None): Unit = {
    admit(resource, resourceId, relation, token)
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

  /** R7/R8: register a stream group ([[DeliveryCore.addGroup]]) and start
    * its filtered delivery query. `eventType` is the group's declared
    * event-type gate (storage_endpoint_mock.rs:32-38; the reference
    * stores it but only exercises ALL — here a CREATED-only group never
    * sees UPDATED events). */
  def createStreamGroup(groupId: String, resourceType: ResourceType, resourceId: String,
                        hierarchy: Hierarchy, includeSubresources: Boolean,
                        eventType: String = EventType.All,
                        token: Option[String] = None): StreamGroup =
    createStreamGroupMulti(groupId, resourceType, resourceId, Seq(hierarchy),
      includeSubresources, eventType, token)

  /** Multi-hierarchy creation ([[DeliveryCore.addGroupMulti]]): the
    * group's delivery query filters on "matches ANY" of its filter
    * subjects — a plain OR of the per-subject predicates, so a message
    * matching several still passes the filter exactly once (no join, no
    * dedup needed on this path). */
  def createStreamGroupMulti(groupId: String, resourceType: ResourceType, resourceId: String,
                             hierarchies: Seq[Hierarchy], includeSubresources: Boolean,
                             eventType: String = EventType.All,
                             token: Option[String] = None): StreamGroup = {
    val group = addGroupMulti(groupId, resourceType, resourceId, hierarchies,
      includeSubresources, eventType, token)
    start(group)
    group
  }

  override protected def ensureDelivery(group: StreamGroup): Unit =
    if (!queries.contains(group.id)) start(group)

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
        // deterministic chunk id (groupId + epoch + batchId) instead of
        // uuid4: replayable, idempotent on micro-batch retry,
        // collision-free across process restarts (chunkSeqBase)
        writeChunk(group.id, chunkSeqBase + batchId, batch)
      }
      .start()
    queries.put(group.id, q)
  }

  /** R13 close: stop the group's delivery query (the `close` flag /
    * AtomicBool of public_event_server.rs:321-345). State is kept so a
    * later [[attach]] resumes delivery. */
  def close(groupId: String): Unit =
    queries.remove(groupId).foreach(_.stop())

  /** R14 delete — [[DeliveryCore.removeGroup]]. */
  def deleteStreamGroup(groupId: String): Unit = removeGroup(groupId)

  /** Drain all in-flight data through every running query (test/replay
    * helper; production runs on the 250 ms trigger). */
  def processAllAvailable(): Unit = queries.values.foreach(_.processAllAvailable())

  def stop(): Unit = {
    queries.values.foreach(_.stop())
    queries.clear()
  }
}
