package graft.streaming

import graft.core.DeliveryChunk

/** The delivery surface a bidi session consumes — what the reference's
  * `read_stream_group_messages` loop needs from its broker: an authz'd
  * attach, dispatched pulls, acks, and a close that releases only this
  * consumer's hold (public_event_server.rs:192-446). [[DeliveryCore]]
  * implements it once for all three engines, which supply only what a
  * last session's close releases — so one [[EventSession]] protocol
  * object serves every engine, as the reference multiplexes many bidi
  * streams over one JetStream consumer infrastructure.
  */
trait ConsumerHost {
  /** Consumer dispatch bookkeeping (sessions, flights, counters). */
  def dispatcher: ChunkDispatcher

  /** Bind to an existing group: authz re-check (R8/R9), and ensure its
    * delivery is running. Throws on unknown group / denied caller —
    * the pre-session failure path. */
  def attachConsumer(groupId: String, token: Option[String]): Unit

  /** Dispatched pull (see [[DeliveryCore.pull]] semantics). */
  def pull(groupId: String, sessionId: Long, max: Int = Int.MaxValue): Seq[DeliveryChunk]

  def ack(groupId: String, chunkId: String): Boolean

  /** The LAST live session on a group has closed (or the group is being
    * deleted): release per-group resources. Per-group engines stop the
    * group's delivery query; shared-query engines keep running (their
    * query serves everyone). */
  def onLastSessionClosed(groupId: String): Unit
}
