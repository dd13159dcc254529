package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream, EOFException}
import java.net.{Socket, SocketException}
import java.util.concurrent.ConcurrentHashMap

import graft.streaming.{H2c, Hpack}
import graft.streaming.H2c._

/** What one connection's reader thread hands to its owner. Every call
  * happens on that reader thread, with `nanos` stamped when the frame
  * carrying the message was read. */
trait H2Handler {
  def onMessage(sid: Int, msg: Array[Byte], nanos: Long): Unit = ()
  /** grpc-status of a finished stream; -1 for a reset. */
  def onTrailers(sid: Int, status: Int, nanos: Long): Unit = ()
  /** The socket has no buffered input left: a good moment to flush
    * replies (acks) gathered from the frames read so far. */
  def onIdle(): Unit = ()
}

/** One h2c gRPC connection of the load generator, written against the
  * public framing helpers of [[graft.streaming.H2c]].
  *
  * Unlike [[graft.streaming.GrpcClient]], sending never waits for a
  * reply: unary calls are written and the caller moves on, so an open
  * loop keeps its schedule however slow the server is. Replies are read
  * by exactly ONE thread per connection, which stamps each message as
  * it arrives. That thread is the only extra thread a connection costs. */
final class H2Conn(port: Int, handler: H2Handler) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
  private val lock = new Object
  private val encoder = new Hpack
  private val decoder = new Hpack
  private var nextSid = 1
  @volatile var readerError: Throwable = _
  /** grpc-status by stream id, for callers that wait on unary replies. */
  val statuses = new ConcurrentHashMap[Int, Integer]()

  lock.synchronized {
    out.write(Preface)
    writeFrameRaw(out, Frame(SETTINGS, 0, 0, initialSettingsPayload))
    writeFrameRaw(out, windowUpdate(0, ConnWindowGrant))
    out.flush()
  }

  private def requestHeaders(path: String): Array[Byte] =
    encoder.encode(Seq((":method", "POST"), (":scheme", "http"), (":path", path),
      (":authority", s"127.0.0.1:$port"), ("content-type", "application/grpc"),
      ("te", "trailers")))

  /** Writes one unary call per body in one flush; returns their stream ids. */
  def unary(path: String, bodies: Seq[Array[Byte]]): Seq[Int] = lock.synchronized {
    val sids = bodies.map { b =>
      val sid = nextSid; nextSid += 2
      writeFrameRaw(out, Frame(HEADERS, END_HEADERS, sid, requestHeaders(path)))
      writeFrameRaw(out, Frame(DATA, END_STREAM, sid, grpcFrame(b)))
      sid
    }
    out.flush()
    sids
  }

  /** Unary calls that must all succeed before the caller goes on. */
  def unaryOk(path: String, bodies: Seq[Array[Byte]], timeoutMillis: Long = 60000): Unit = {
    val sids = unary(path, bodies)
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    sids.foreach { sid =>
      while (!statuses.containsKey(sid) && System.nanoTime() < deadline) Thread.sleep(1)
      val st = statuses.remove(sid)
      require(st != null, s"no reply to $path on stream $sid" +
        Option(readerError).map(e => s" (reader: $e)").getOrElse(""))
      require(st.intValue == 0, s"$path failed: grpc-status $st")
    }
  }

  def openBidi(path: String): Int = lock.synchronized {
    val sid = nextSid; nextSid += 2
    writeFrameRaw(out, Frame(HEADERS, END_HEADERS, sid, requestHeaders(path)))
    out.flush()
    sid
  }

  /** One message on an open bidi stream; `flush = false` batches it with
    * the next write. */
  def send(sid: Int, msg: Array[Byte], flush: Boolean = true): Unit = lock.synchronized {
    writeFrameRaw(out, Frame(DATA, 0, sid, grpcFrame(msg)))
    if (flush) out.flush()
  }

  def flush(): Unit = lock.synchronized(out.flush())

  private val reader = new Thread(() => {
    val bufs = new java.util.HashMap[Int, ByteArrayOutputStream]()
    val headerBlock = new ByteArrayOutputStream()
    val streamConsumed = new java.util.HashMap[Int, Int]()
    var connConsumed = 0L
    def control(f: Frame): Unit = lock.synchronized { writeFrame(out, f) }
    try {
      var open = true
      while (open) {
        if (in.available() == 0) handler.onIdle()
        val f = try readFrame(in) catch { case _: EOFException => null }
        val now = System.nanoTime()
        if (f == null) open = false
        else f.tpe match {
          case SETTINGS =>
            if ((f.flags & ACK) == 0) control(Frame(SETTINGS, ACK, 0, Array.emptyByteArray))
          case PING =>
            if ((f.flags & ACK) == 0) control(Frame(PING, ACK, 0, f.payload))
          case HEADERS | CONTINUATION =>
            val frag = if (f.tpe == HEADERS) headersFragment(f.flags, f.payload) else f.payload
            headerBlock.write(frag, 0, frag.length)
            if ((f.flags & END_HEADERS) != 0) {
              // decode every block: HPACK table state is connection-wide
              val hs = decoder.decode(headerBlock.toByteArray).toMap
              headerBlock.reset()
              hs.get("grpc-status").foreach { s =>
                bufs.remove(f.streamId); streamConsumed.remove(f.streamId)
                statuses.put(f.streamId, s.toInt)
                handler.onTrailers(f.streamId, s.toInt, now)
              }
            }
          case DATA if f.payload.nonEmpty =>
            // re-credit the server's send windows on the same thresholds
            // the repo's own client uses
            connConsumed += f.payload.length
            if (connConsumed >= GrantThresholdConn) {
              control(windowUpdate(0, connConsumed.toInt)); connConsumed = 0
            }
            val sc = streamConsumed.getOrDefault(f.streamId, 0) + f.payload.length
            if (sc >= GrantThresholdStream) {
              streamConsumed.remove(f.streamId); control(windowUpdate(f.streamId, sc))
            } else streamConsumed.put(f.streamId, sc)
            val buf = bufs.computeIfAbsent(f.streamId, _ => new ByteArrayOutputStream())
            buf.write(f.payload, 0, f.payload.length)
            H2c.drainGrpcMessages(buf).foreach(m => handler.onMessage(f.streamId, m, now))
          case RST_STREAM =>
            statuses.put(f.streamId, -1)
            handler.onTrailers(f.streamId, -1, now)
          case GOAWAY => open = false
          case _ => ()
        }
      }
    } catch {
      case _: SocketException => ()
      case e: Throwable => readerError = e
    }
  }, s"perfbench-h2c-reader-$port")
  reader.setDaemon(true)
  reader.start()

  def close(): Unit = {
    try sock.close() catch { case _: Throwable => () }
    reader.join(10000)
  }
}
