package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core._

/** The durable form of the event stream — what the reference's single
  * JetStream stream (`STORAGE_UPDATES`, natsio.rs:24) becomes at 100 TB:
  * a parquet event log PARTITIONED BY PROJECT, written by one ingest
  * query and read by per-group delivery queries that each own a
  * checkpoint (≙ a JetStream consumer's position).
  *
  * Why partition by project: the subject grammar scopes every query to
  * one project subtree (SURVEY.md §4 "hierarchical key space =
  * partition pruning"), so a delivery query's scan prunes to exactly
  * one partition directory — subtree subscriptions never touch other
  * projects' data, no matter how large the log grows.
  *
  * Restart semantics (SURVEY.md §7.4 risk 1): the file source +
  * checkpoint give exactly-once BATCH REPROCESSING (a restarted
  * delivery query resumes after the last committed batch, never
  * re-reading delivered files), while the ack ledger layered on top
  * gives at-least-once DELIVERY (unacked chunks stay pending across
  * restarts and are re-served to reconnecting clients).
  *
  * Small-files note for long-running deployments: a 250 ms trigger
  * appends one file per batch per touched partition. The production
  * remedies compose with this design without code changes here —
  * (a) lengthen the ingest trigger (delivery latency is governed by the
  * DELIVERY trigger, not ingest), (b) roll the log by time (new logDir
  * per day; readers union static compacted history with the live dir),
  * (c) compact closed partitions into an archive dir served to
  * backfilling (per-group) readers only — live mux readers never
  * re-read old batches, so compaction does not disturb them.
  * Strategy (c) is implemented: [[compactTo]] + [[archiveScan]].
  */
final class DurableEventLog(val spark: SparkSession, logDir: String, ckptRoot: String,
                            trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                            security: EngineSecurity = EngineSecurity.Permissive,
                            ackWaitMillis: Long = 30000L,
                            clock: () => Long = () => System.currentTimeMillis())
    extends ConsumerHost {
  import spark.implicits._

  /** Consumer dispatch (ack-wait redelivery, competing consumers,
    * bounded pull batches) — the same [[ChunkDispatcher]] the other two
    * engines use; flights journal to this engine's always-on WAL. */
  val dispatcher = new ChunkDispatcher(ackWaitMillis, clock)

  private val source =
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event](spark, numPartitions = 1)
  private val sequence = new AtomicLong(0L)
  @volatile private var ingestQuery: Option[StreamingQuery] = None
  private val deliveries: concurrent.Map[String, StreamingQuery] =
    new ConcurrentHashMap[String, StreamingQuery]().asScala
  /** Bounded metadata ledger (pending per group; acked history evicted
    * behind a per-group watermark — see [[ChunkLedger]]). */
  private val ledger = new ChunkLedger
  /** Metrics hook: the engine's chunk ledger, for
    * [[EngineMetrics.watchLedger]] stuck-watermark monitoring. */
  def chunkLedger: ChunkLedger = ledger
  /** WAL-backed chunk/ack METADATA — replayed on construction so pending
    * (unacked) chunks survive a process restart (see LedgerStore).
    * Payloads are durable in [[DeliveryTable]] parquet under ckptRoot,
    * written by executors — the driver holds ids+counts only. */
  private val store = new LedgerStore(s"$ckptRoot/ledger")
  locally {
    ledger.beginLoad()
    val (metas, wms) = store.loadState()
    wms.foreach { case (g, w) => ledger.restoreWatermark(g, w) }
    metas.values.foreach { m =>
      if (m.acked) ledger.restoreAcked(m) else { ledger.record(m); () }
    }
    ledger.settleLoad()
    store.loadFlights().foreach { case ((g, c), (s, at, d)) =>
      dispatcher.restore(g, c, s, at, d)
    }
  }
  private val table = new DeliveryTable(spark, s"$ckptRoot/deliveries")

  /** Log row schema; `project` is the physical partition column.
    * `eventId`/`spos` are the content-derived message identity
    * ([[FanOut.explodeSubjects]]) — eventId restarts with each engine
    * incarnation (like `ts`), so cross-incarnation rows in ONE backfill
    * micro-batch can reuse ids; the mux dedup therefore also keys on
    * resourceId/eventType/ts, and within-chunk ORDER across
    * incarnations is per-incarnation emission order. */
  val logSchema: StructType = StructType(Seq(
    StructField("subject", StringType), StructField("payload", BinaryType),
    StructField("resource", StringType), StructField("eventType", StringType),
    StructField("resourceId", StringType), StructField("ts", TimestampType),
    StructField("eventId", LongType), StructField("spos", IntegerType),
    StructField("project", StringType)))

  def emit(resource: ResourceType, eventType: String, resourceId: String,
           relation: RelationCtx, token: Option[String] = None): Unit = {
    security.requireInternal(token)
    Subjects.requireValidId(resourceId, "resourceId")
    // Serialize the row-encode (see MultiplexedDelivery.emit): the
    // memory source's serializer reuses one UnsafeRow buffer and
    // concurrent wire-connection emitters would tear rows otherwise.
    source.synchronized {
      val n = sequence.incrementAndGet()
      source.addData(Event(resource, eventType, resourceId, relation,
        new Timestamp(n * 1000L)).copy(eventId = n))
    }
  }

  /** Ingest: fan out and append to the partitioned log. The project
    * token (#3) exists in every publish subject, so it is derivable in
    * the plan — no extra state. */
  def startIngest(): Unit = synchronized {
    require(ingestQuery.isEmpty, "ingest already running")
    val q = FanOut.explodeSubjects(source.toDF())
      .withColumn("project", split(col("subject"), "\\.").getItem(3))
      .writeStream
      .queryName("event-log-ingest")
      .format("parquet")
      .option("path", logDir)
      .option("checkpointLocation", s"$ckptRoot/ingest")
      .partitionBy("project")
      .trigger(trigger)
      .start()
    ingestQuery = Some(q)
  }

  /** The delivery scan for one group: reads the log from the group's
    * own checkpointed position, pruned to the group's project partition
    * (PartitionFilters in the plan) plus the exact subject predicate.
    *
    * The partition-prune key is only applied when the filter's project
    * token (#3) is a LITERAL: a general NATS filter may carry `*` there
    * (Subjects.matchesLit handles it via rlike), in which case we fall
    * back to the full-log scan with the subject predicate alone —
    * correct, just unpruned. */
  /** `maxFilesPerTrigger` bounds how much of a backlog one micro-batch
    * ingests — THE knob that keeps a new group's full-history backfill
    * from materializing the whole log in a single batch. Unset, a
    * restart after long downtime (or a fresh per-group checkpoint over
    * a year of log) becomes one giant batch sized by the backlog, not
    * by memory. */
  def deliveryStream(filterSubject: String,
                     maxFilesPerTrigger: Option[Int] = None,
                     eventType: String = EventType.All): DataFrame =
    deliveryStreamMulti(Seq(filterSubject), maxFilesPerTrigger, eventType)

  /** Union form for multi-hierarchy groups: "matches ANY filter
    * subject" as an OR of per-subject predicates — a filter, so a
    * message matching several subjects still flows once. The partition
    * prune generalizes to `project IN (…)` when every filter's project
    * token is a literal. */
  def deliveryStreamMulti(filterSubjects: Seq[String],
                          maxFilesPerTrigger: Option[Int] = None,
                          eventType: String = EventType.All): DataFrame = {
    val reader = spark.readStream.schema(logSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    prunedSubjectScan(reader.parquet(logDir), filterSubjects)
      .filter(Subjects.eventTypeMatches(col("eventType"), lit(eventType)))
  }

  /** Shared prune: subject predicate (ANY of `filterSubjects`) + the
    * partition filter `project IN (…)` when every filter's project
    * token is a literal (a `*`/`>` token anywhere falls back to the
    * full-log scan with the subject predicate alone — correct, just
    * unpruned). Works for both the streaming log scan and batch
    * archive scans. */
  private def prunedSubjectScan(df: DataFrame, filterSubjects: Seq[String]): DataFrame = {
    require(filterSubjects.nonEmpty, "at least one filter subject required")
    val projects = filterSubjects.map { fs =>
      val tokens = fs.split('.')
      require(tokens.length >= 4,
        s"filter subject needs >=4 tokens (UPDATES.STORAGE._.<project>...): $fs")
      tokens(3)
    }
    val base = df.filter(
      filterSubjects.map(Subjects.matchesLit(col("subject"), _)).reduce(_ || _))
    if (projects.exists(p => p == "*" || p == ">")) base
    else base.filter(col("project").isin(projects.distinct: _*))
  }

  /** Start (or restart — same checkpoint) a group's delivery query.
    * `deliveryTrigger` defaults to the log's cadence; pass
    * `Trigger.AvailableNow()` for a drain-and-stop backfill run. */
  def startDelivery(groupId: String, filterSubject: String,
                    maxFilesPerTrigger: Option[Int] = None,
                    deliveryTrigger: Trigger = trigger,
                    eventType: String = EventType.All): Unit =
    startDeliveryMulti(groupId, Seq(filterSubject), maxFilesPerTrigger,
      deliveryTrigger, eventType)

  /** Union form for multi-hierarchy groups — see [[deliveryStreamMulti]]. */
  def startDeliveryMulti(groupId: String, filterSubjects: Seq[String],
                         maxFilesPerTrigger: Option[Int] = None,
                         deliveryTrigger: Trigger = trigger,
                         eventType: String = EventType.All): Unit = {
    require(!deliveries.contains(groupId), s"delivery for $groupId already running")
    val q = deliveryStreamMulti(filterSubjects, maxFilesPerTrigger, eventType).writeStream
      .queryName(s"durable-delivery-$groupId")
      .outputMode("append")
      .option("checkpointLocation", s"$ckptRoot/delivery-$groupId")
      .trigger(deliveryTrigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // Idempotent on foreachBatch replay: if the (groupId, chunkId)
        // key is already in the ledger (this batch was delivered before a
        // restart — possibly already acked), keep the existing entry;
        // re-appending the WAL record would resurrect acked chunks. The
        // payload write is dynamic-partition-overwrite, so a replayed
        // write rewrites identical content rather than duplicating it.
        // Write-first: one pass (the write — an empty batch writes no
        // partitions), then the count from the written parquet footers.
        val chunkId = s"$groupId-$batchId"
        if (!ledger.isKnown(groupId, chunkId, batchId)) {
          // writeCounted sizes the file split to the batch (one file for
          // a steady-state micro-batch, full width for a replay burst)
          // and returns the row count from the same cached pass — no
          // footer job, no fixed parts-many files per chunk (round-12
          // ADVICE).
          val n = table.writeCounted(groupId, chunkId,
            batch.select(col("subject"), col("resourceId"), FanOut.seqCol.as("seq")))
          if (n > 0L) {
            val meta = ChunkMeta(groupId, chunkId, batchId, n,
              new Timestamp(System.currentTimeMillis()), acked = false)
            if (ledger.record(meta)) store.appendChunk(meta) // WAL after payload
            ()
          }
        }
        ()
      }
      .start()
    deliveries.put(groupId, q)
  }

  def stopDelivery(groupId: String): Unit =
    deliveries.remove(groupId).foreach(_.stop())

  // ---- multiplexed mode: ONE checkpointed query for all groups ------

  private val groups: concurrent.Map[String, StreamGroup] =
    new ConcurrentHashMap[String, StreamGroup]().asScala

  def addGroup(groupId: String, resourceType: ResourceType, resourceId: String,
               hierarchy: Hierarchy, includeSubresources: Boolean,
               eventType: String = EventType.All,
               token: Option[String] = None): StreamGroup =
    addGroupMulti(groupId, resourceType, resourceId, Seq(hierarchy),
      includeSubresources, eventType, token)

  /** Multi-hierarchy registration — union-of-matchers semantics, see
    * [[MultiplexedDelivery.addGroupMulti]]. */
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
    g
  }

  def removeGroup(groupId: String): Unit = groups.remove(groupId)

  /** R9 attach for the session protocol: the group must be registered
    * and the caller authorized; ensures its per-group delivery query is
    * running (restarting from the same checkpoint resumes, never
    * reprocesses). Groups served by [[startMultiplexed]] are covered by
    * the shared query already. */
  override def attachConsumer(groupId: String, token: Option[String]): Unit = {
    val g = groups.getOrElse(groupId,
      throw new NoSuchElementException(s"unknown stream group $groupId"))
    security.requireRead(token, ResourceType.fromName(g.resourceType), g.resourceId)
    if (!deliveries.contains(groupId) && !deliveries.contains("__mux__"))
      startDeliveryMulti(groupId, g.filterSubjects, eventType = g.eventType)
  }

  /** The durable engine keeps per-group checkpoints; stopping the query
    * on last-session close releases the cluster resources while the
    * checkpoint guarantees a later attach resumes exactly. */
  override def onLastSessionClosed(groupId: String): Unit = stopDelivery(groupId)

  /** One delivery query for ALL registered groups, reading the log from
    * a single shared checkpoint. Join = pure equi-join on candidate
    * match keys ([[Subjects.matchKeysCol]]), as in MultiplexedDelivery.
    *
    * Semantics difference vs per-group mode, by design:
    *  - per-group [[startDelivery]] owns a fresh checkpoint → a new
    *    group BACKFILLS the whole log from the beginning;
    *  - multiplexed groups share the mux checkpoint → a group added
    *    later sees only batches committed AFTER it registered
    *    (from-now-on semantics). Pick per need; both are exposed.
    */
  def startMultiplexed(retentionEvery: Int =
                         MultiplexedDelivery.PayloadRetentionEvery): Unit = synchronized {
    require(!deliveries.contains("__mux__"), "multiplexed delivery already running")
    val muxBatches = new AtomicLong(0L)
    val q = spark.readStream
      .schema(logSchema)
      .parquet(logDir)
      .writeStream
      .queryName("durable-mux-delivery")
      .outputMode("append")
      .option("checkpointLocation", s"$ckptRoot/mux")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val snapshot = groups.values.toSeq
        // No batch.isEmpty pre-check: that is a full extra pass on the
        // common (non-empty) path; the per-group counts below cost the
        // same on an empty batch and gate the write anyway.
        if (snapshot.nonEmpty) {
          // One row per (group, filter subject); multi-hierarchy groups
          // get union-of-matchers with once-per-message dedup — same
          // rule as MultiplexedDelivery's batch join.
          val anyMulti = snapshot.exists(_.extraFilterSubjects.nonEmpty)
          val subs = snapshot
            .flatMap(g => g.filterSubjects.map(fs => (g.id, fs, g.eventType)))
            .toDF("id", "joinKey", "subEventType")
          val subtreeDepths = snapshot.flatMap(_.filterSubjects)
            .flatMap(Subjects.subtreeDepth).distinct.sorted
          // Write-first: ONE distributed pass (join → partitioned payload
          // write) serves every group; per-group counts then come from
          // parquet FOOTERS of the just-written chunk dirs, never from a
          // second pass over the batch. A replayed batch rewrites its own
          // partitions (dynamic overwrite) — idempotent — and the ledger
          // guard below keeps an existing (possibly acked) meta intact.
          // Multi-matcher dedup on CONTENT-derived message identity
          // (never monotonically_increasing_id — round-13 ADVICE; see
          // MultiplexedDelivery). eventId restarts per incarnation and
          // a backfill batch can span incarnations, so the key also
          // carries resourceId/eventType/ts (logSchema scaladoc).
          // Pure equi-join on candidate match keys — same O(G)-free
          // form as MultiplexedDelivery (Subjects.matchKeysCol scaladoc);
          // the project-token equi + matchesCol residual it replaces
          // left every same-project subscription a per-row candidate.
          val joined = batch
            .select(col("subject"), col("resourceId"), col("eventType"),
              col("eventId"), col("spos"), col("ts"))
            .withColumn("joinKey",
              explode(Subjects.matchKeysCol(col("subject"), subtreeDepths)))
            .join(broadcast(subs), "joinKey")
            .filter(Subjects.eventTypeMatches(col("eventType"), col("subEventType")))
          val matched =
            (if (anyMulti)
               joined.dropDuplicates("id", "eventId", "spos", "resourceId", "eventType", "ts")
             else joined)
              .select(col("id").as("groupId"), col("subject"),
                col("resourceId"), FanOut.seqCol.as("seq"))
          val withChunk = matched
            .withColumn("chunkId", concat(col("groupId"), lit(s"-$batchId")))
          // Layout + count regimes — see MultiplexedDelivery (bucketed
          // past BucketedMinGroups registered groups: O(parts) files per
          // batch instead of one per matching group);
          // write-parallelism hint — see DeliveryTable.prepare.
          val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
          val counts =
            if (snapshot.size >= MultiplexedDelivery.BucketedMinGroups)
              table.writeBucketed(withChunk, batchId, parts)
            else if (snapshot.size > MultiplexedDelivery.FooterCountMaxGroups)
              table.writeMultiWithCounts(withChunk,
                math.max(1, parts / math.max(1, snapshot.size)))
            else {
              table.writeMulti(withChunk,
                math.max(1, parts / math.max(1, snapshot.size)))
              table.chunkCounts(snapshot.map(_.id), g => s"$g-$batchId")
            }
          counts.foreach { case (gid, n) =>
            val chunkId = s"$gid-$batchId"
            val meta = ChunkMeta(gid, chunkId, batchId, n,
              new Timestamp(System.currentTimeMillis()), acked = false)
            if (ledger.record(meta)) store.appendChunk(meta)
          }
          // automated bucketed retention — same cadence + restart-safety
          // story as MultiplexedDelivery (round-13 verdict task 4)
          if (retentionEvery > 0
              && snapshot.size >= MultiplexedDelivery.BucketedMinGroups
              && muxBatches.get % retentionEvery == (retentionEvery - 1L)) {
            compactPayloads(); ()
          }
        }
        muxBatches.incrementAndGet()
        ()
      }
      .start()
    deliveries.put("__mux__", q)
  }

  // ---- compaction (strategy (c) of the class doc) -------------------

  /** Compact the log into an archive directory: one coalesced file set
    * per project partition instead of one file per micro-batch. This is
    * the small-files remedy for long-running deployments.
    *
    * Why an ARCHIVE and not in-place: the ingest sink maintains a
    * `_spark_metadata` file-sink log that both batch and streaming
    * readers of `logDir` trust as the authoritative file listing —
    * rewriting data files in place would desynchronize it (compacted
    * files invisible, removed files still listed). The archive is a
    * plain partitioned parquet dataset read by BACKFILLING consumers
    * ([[archiveScan]]); live delivery queries keep reading the log from
    * their checkpoints and are never disturbed.
    *
    * `filesPerPartition` sizes the rewrite: 1 is right up to a few GB
    * per project; raise it so individual files stay near the HDFS/S3
    * sweet spot (~128 MB–1 GB) at scale. Returns rows archived. */
  def compactTo(archiveDir: String, filesPerPartition: Int = 1): Long = {
    val snap = spark.read.schema(logSchema).parquet(logDir)
    val n = snap.count()
    snap.repartition(filesPerPartition, col("project"))
      .write.mode("overwrite").partitionBy("project").parquet(archiveDir)
    n
  }

  /** Pruned batch scan of a compacted archive — what a backfilling
    * consumer reads BEFORE switching to the live log (from-now-on via
    * the multiplexed query). Same partition-prune + subject predicate
    * as [[deliveryStream]], so a subtree backfill touches exactly one
    * partition directory of the archive. */
  def archiveScan(archiveDir: String, filterSubject: String): DataFrame =
    prunedSubjectScan(spark.read.schema(logSchema).parquet(archiveDir), Seq(filterSubject))

  /** Serve a group's HISTORY from a compacted archive as ack-able
    * delivery chunks (the backfill half of the compaction story; the
    * live half is the from-now-on multiplexed query). Chunks are sliced
    * `chunkRows` at a time — the batch analog of the 250 ms micro-batch
    * window — under reserved negative batch ids so they sort before,
    * and never collide with, live chunks. Idempotent per (groupId,
    * chunkId): re-running a backfill re-serves nothing already in the
    * ledger (WAL rules apply — acked stays acked). Returns the number
    * of chunks created. */
  def backfillFromArchive(groupId: String, archiveDir: String, filterSubject: String,
                          chunkRows: Int = 10000): Int = {
    // Distributed slicing: zipWithIndex assigns contiguous scan-order
    // indices without a driver materialization (the RDD detour is the
    // one API that gives contiguous ids; this is a bulk admin path, not
    // a codegen-hot loop), then one partitioned write ships every
    // chunk's payload straight from the executors — one write TASK per
    // backfill chunk (DeliveryTable.prepare keys the shuffle on
    // (groupId, chunkId), so a million-row subtree backfill fans across
    // its chunks instead of collapsing onto one task; round-12 ADVICE).
    val base = archiveScan(archiveDir, filterSubject).select("subject", "resourceId")
    val n = base.count()
    if (n == 0) return 0
    val sliced = base.rdd.zipWithIndex.map { case (r, i) =>
      (s"$groupId-backfill-${i / chunkRows}", r.getString(0), r.getString(1), i)
    }
    // the zipWithIndex scan index doubles as the within-chunk delivery
    // order (`seq`) — content-derived, no monotonically_increasing_id
    table.writeMulti(spark.createDataFrame(sliced)
      .toDF("chunkId", "subject", "resourceId", "seq")
      .withColumn("groupId", lit(groupId)))
    val nChunks = ((n + chunkRows - 1) / chunkRows).toInt
    var created = 0
    (0 until nChunks).foreach { k =>
      val chunkId = s"$groupId-backfill-$k"
      // Idempotent per (groupId, chunkId): a re-run backfill re-serves
      // nothing already in the ledger (WAL rules — acked stays acked,
      // including acked history compacted into the watermark).
      val meta = ChunkMeta(groupId, chunkId, batchId = -(k + 1L),
        math.min(chunkRows.toLong, n - k.toLong * chunkRows),
        new Timestamp(System.currentTimeMillis()), acked = false)
      if (ledger.record(meta)) {
        store.appendChunk(meta)
        created += 1
      }
    }
    created
  }

  /** WAL hygiene: rewrite the chunk/ack ledger to minimal equivalent
    * state (see LedgerStore.compact) — pairs with [[compactTo]] for the
    * event log itself. */
  def compactLedger(): Unit = store.compact()

  /** Bucketed-payload retention for the multiplexed mode — see
    * [[MultiplexedDelivery.compactPayloads]] (same floor: every
    * group's lowest pending chunk, bounded by the highest minted seq
    * so an in-flight batch's payload is never reclaimed pre-record). */
  def compactPayloads(): Int = {
    // floor over the LEDGER, not the registration map: a WAL restart
    // restores pending metas before their groups are re-registered, and
    // those chunks' batches must survive retention (ChunkLedger scaladoc).
    // maxBatchId FIRST, pending floor second — the reverse order is a
    // TOCTOU against a micro-batch recording its meta between the two
    // reads (see MultiplexedDelivery.compactPayloads).
    val maxMinted = ledger.maxBatchId
    val floor = ledger.minPendingBatchId
    val bound =
      if (maxMinted == Long.MinValue) Long.MinValue else maxMinted + 1
    table.dropBatchesBefore(math.min(floor, bound))
  }

  def pendingChunks(groupId: String): Seq[DeliveryChunk] =
    table.hydrate(groupId, ledger.pending(groupId))

  /** Consumer pull with JetStream semantics (see [[EventEngine.pull]]):
    * disjoint claims across competing sessions, ack-wait redelivery
    * with the same chunkId, bounded batches; every claim journals its
    * flight so the redelivery timer survives restart. */
  def pull(groupId: String, sessionId: Long,
           max: Int = Int.MaxValue): Seq[DeliveryChunk] = {
    val metas = ledger.pending(groupId)
    val claimed =
      dispatcher.offer(groupId, sessionId, metas.map(_.chunkId), max).toSet
    for (c <- claimed; f <- dispatcher.flight(groupId, c))
      store.appendOffer(groupId, c, f.sessionId, f.offeredAt, f.deliveries)
    table.hydrate(groupId, metas.filter(m => claimed.contains(m.chunkId)))
  }

  /** Pending row count from driver metadata alone (no payload read). */
  def pendingRowCount(groupId: String): Long = ledger.pendingRows(groupId)

  /** All chunks ever delivered (acked history re-listed from the
    * durable payload table — see [[EventEngine.historyMetas]]). */
  def deliveredChunks(groupId: String): Seq[DeliveryChunk] =
    table.hydrate(groupId, EventEngine.historyMetas(
      groupId, ledger.pending(groupId), ledger.ackedResident(groupId),
      table.listChunks(groupId)))

  def ack(groupId: String, chunkId: String): Boolean =
    ledger.ack(groupId, chunkId) match {
      case Some(_) =>
        store.appendAck(groupId, chunkId)
        dispatcher.settle(groupId, chunkId)
        true
      case None => false // unknown id or duplicate ack
    }

  def processAllAvailable(): Unit = {
    ingestQuery.foreach(_.processAllAvailable())
    deliveries.values.foreach(_.processAllAvailable())
  }

  def stop(): Unit = synchronized {
    deliveries.values.foreach(_.stop()); deliveries.clear()
    ingestQuery.foreach(_.stop()); ingestQuery = None
  }
}
