package graft.streaming

import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import graft.engine.UnitDb
import graft.model.{Entry, Query}
import graft.streaming.{UtpCodec => C}

/** Minimal uTP endpoint — the read adapter that makes this engine
  * reachable by reference client binaries (the one capability gap a
  * reference *user* would notice; reference server/internal/hdl_conn.go
  * is the full 4.8k-LoC original, this speaks just enough of its
  * protocol to accept the data-plane verbs):
  *
  *  - CONNECT     → ACKNOWLEDGE control carrying ConnectAcknowledge
  *                  (Accepted, epoch, connId) — hdl_conn.go:93-156
  *  - PUBLISH     → one [[UnitDb.putEntry]] per PublishMessage (TTL
  *                  carried via the topic's `?ttl=` option), then the
  *                  ACKNOWLEDGE control echoing MessageID —
  *                  hdl_conn.go:434-487
  *  - RELAY       → per request with a `last` window, the stored matches
  *                  stream back as one PUBLISH packet (delivery mode 2,
  *                  the batch-on-relay rule, hdl_conn.go:348-380), then
  *                  ACKNOWLEDGE — hdl_conn.go:160-180
  *  - PINGREQ     → ACKNOWLEDGE — hdl_conn.go:228-234
  *  - DISCONNECT / EOF → flush ([[UnitDb.sync]]) and close.
  *
  * Scale/role note: this adapter is the INGEST EDGE, not the query
  * engine — one driver-side listener feeding the store's pending buffer,
  * exactly how the embedded `put` face is used, with durability on sync
  * cadence (`syncEveryPuts`) plus a final sync per connection close. A
  * production deployment fronts many of these (or the reference server
  * itself) and lets the Spark side do what it scales at: the store's
  * partitioned parquet is the meeting point. Secure mode needs no extra
  * code here — `putEntry`/`get` already enforce `key/topic` authority
  * per operation, matching the reference's per-request checks.
  *
  * SUBSCRIBE/UNSUBSCRIBE register live patterns per connection; every
  * accepted PUBLISH fans out express-style to matching subscribers
  * across connections (bidirectional wildcards, secure-mode read keys
  * enforced per pattern). The adapter's registry is connection-count
  * sized; the million-subscriber path remains [[Subscribe]] over
  * Structured Streaming.
  *
  * Transports: raw TCP on `port` always; `wsPort >= 0` adds a WebSocket
  * listener (the reference server likewise fronts the same packet loop
  * with tcp:// and ws:// listeners, server/internal/net/server.go) —
  * after the RFC 6455 upgrade, [[WsFraming]] presents the frame payloads
  * as a plain byte stream and the SAME serve loop runs on top. The WS
  * listener doubles as the reference's grpc-web face (its grpc-web
  * transport IS WebSocket binary frames carrying the raw uTP stream,
  * hdl_grpc_web.go — the handshake echoes its `grpc_web` subprotocol).
  * `grpcPort >= 0` adds the reference's remaining transport, genuine
  * gRPC over h2c (`rpc Stream (stream Packet) returns (stream Packet)`,
  * unitdb.proto:7-10 / hdl_grpc.go): [[H2Framing]] handles RFC 7540 +
  * gRPC message framing and each accepted bidi stream runs the same
  * serve loop — one h2 connection can carry several uTP sessions.
  *
  * `tls` mirrors the reference's optional `tls.Config`
  * (server/internal/net/server.go:84-88, default nil = plaintext): when
  * set, the tcp and ws listeners accept through the context's
  * SSLServerSocketFactory — the byte-stream layering above is untouched,
  * TLS is one more wrapper under [[WsFraming]]/the packet loop. The h2c
  * face stays cleartext BY NAME (that is what the "c" means): it is the
  * documented twin of the reference's grpc-go `WithInsecure` default
  * (hdl_grpc.go:74-76 — its TLS path swaps creds, not framing). */
final class UtpServer(db: UnitDb, port: Int = 0, syncEveryPuts: Int = 256,
    wsPort: Int = -1, grpcPort: Int = -1,
    tls: Option[javax.net.ssl.SSLContext] = None) {

  /** One live connection: identity key for the registries plus the
    * (possibly transport-wrapped) byte streams the packet loop uses.
    * Writes lock the Conn, never the raw socket — on WS the frame
    * writer interleaves the reader's pong replies under its own lock. */
  private final class Conn(val sock: Socket, val in: java.io.InputStream,
    val out: java.io.OutputStream) {
    /** Reliable-id sequence, PER CONNECTION (the reference keys held
      * messages by (messageId, session) — store.Log): a server-global
      * sequence masked to uint16 would wrap in seconds at measured
      * throughput and silently overwrite another connection's (or this
      * one's) still-unpulled held message. */
    val reliableIds = new AtomicInteger(0)
  }

  private def bind(p: Int): ServerSocket = tls match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket(p)
    case None      => new ServerSocket(p)
  }
  private val server = bind(port)
  private val wsServer: Option[ServerSocket] =
    if (wsPort >= 0) Some(bind(wsPort)) else None
  private val grpcServer: Option[ServerSocket] = // h2c: cleartext by name
    if (grpcPort >= 0) Some(new ServerSocket(grpcPort)) else None
  private val running = new AtomicBoolean(true)
  private val connIds = new AtomicInteger(0)
  private val putsSinceSync = new AtomicLong(0)

  /** Every live connection on any face, for the varz wire snapshot —
    * [[liveSubs]] only holds connections WITH subscriptions, and a
    * pipelined publisher typically has none. Registered at serve()
    * entry, removed in its finally. */
  private val liveConns =
    new java.util.concurrent.ConcurrentHashMap[Conn, java.lang.Boolean]()

  /** Live subscriptions per connection: bare pattern → delivery mode.
    * Fan-out happens on the publisher's thread against this registry
    * (the reference's subscription trie collapsed to a per-connection
    * map — an edge adapter holds few connections; the million-subscriber
    * path is [[Subscribe.fanoutPartitioned]] on the Spark side). */
  private val liveSubs =
    new java.util.concurrent.ConcurrentHashMap[Conn,
      scala.collection.concurrent.TrieMap[String, Int]]()

  /** Outbound reliable-delivery state per connection: messageId → the
    * pending Publish packet, held from NOTIFY until RECEIPT (reference
    * store.Log keyed by (messageId, session) — hdl_conn.go:241-266).
    * Bounded by the in-flight window of each subscriber, not by traffic:
    * entries leave on RECEIPT and with the connection. */
  private val reliableOut =
    new java.util.concurrent.ConcurrentHashMap[Conn,
      scala.collection.concurrent.TrieMap[Int, Array[Byte]]]()
  /** Reference-parity id space: the reference narrows ControlMessage
    * MessageID to uint16 (utp/flow_control.go ControlMessage), so held
    * reliable ids must stay in 1..65535 or a long-lived reference
    * subscriber stops matching RECEIVEs to NOTIFYs. Drawn from the
    * CONNECTION's sequence so a wrap can only ever collide with this
    * subscriber's own ≥65k-deep unpulled backlog, never another's. */
  private def nextReliableId(conn: Conn): Int = {
    var id = conn.reliableIds.incrementAndGet() & 0xffff
    while (id == 0) id = conn.reliableIds.incrementAndGet() & 0xffff
    id
  }

  /** Subscribe-side batch thresholds (delivery mode 2), set per
    * connection at CONNECT (reference internal/batch.go:12-19 defaults:
    * 100 ms / 3.5 MiB / 1000 messages). */
  private final case class BatchOpts(durationMs: Int, maxBytes: Int,
      maxCount: Int)
  private val batchOpts =
    new java.util.concurrent.ConcurrentHashMap[Conn, BatchOpts]()

  /** One pending coalesce buffer per mode-2 subscriber connection
    * (reference batchManager, internal/batch.go:93-111): messages
    * accumulate under the buffer's lock; count/byte threshold crossings
    * flush inline on the publisher's thread, the duration threshold
    * flushes from the shared ticker. Flushed batches ride the reliable
    * handshake — the uTP spec has no express batch mode (docs/utp.md
    * §Batching). */
  private final class Batcher(val opts: BatchOpts) {
    private val msgs = scala.collection.mutable.ArrayBuffer[C.PublishMessage]()
    private var bytes = 0
    /** Serializes drain→NOTIFY pairs: WITHOUT it, an inline threshold
      * flush and a concurrent ticker flush could NOTIFY their drained
      * batches out of arrival order. Separate from the buffer monitor
      * so publishers keep appending while a flush's blocking send is
      * in flight. */
    val notifyLock = new Object
    /** Skip-if-busy latch for TICKER flushes (the requestFlush
      * pattern): without it, a subscriber whose send blocks lets
      * scheduleAtFixedRate pile a new pool task every durationMs —
      * unbounded thread growth on one stuck connection. A skipped tick
      * loses nothing: the buffered batch goes out with the next tick
      * (or threshold crossing) once the send unblocks. */
    val flushBusy = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** Appends; returns true when a threshold crossed (caller flushes). */
    def add(m: C.PublishMessage): Boolean = synchronized {
      msgs += m
      bytes += m.payload.length
      msgs.length >= opts.maxCount || bytes >= opts.maxBytes
    }
    def drain(): Option[Seq[C.PublishMessage]] = synchronized {
      if (msgs.isEmpty) None
      else {
        val out = msgs.toSeq
        msgs.clear(); bytes = 0
        Some(out)
      }
    }
  }
  private val batchers =
    new java.util.concurrent.ConcurrentHashMap[Conn, Batcher]()
  private val batchTicker =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"utp-batch-$actualPort")
        t.setDaemon(true); t
      })
  private val tickerTasks =
    new java.util.concurrent.ConcurrentHashMap[Conn,
      java.util.concurrent.ScheduledFuture[_]]()

  /** Duration flushes' blocking sends run here, NEVER on the shared
    * ticker thread — one subscriber with a full TCP send buffer must
    * not stall every other connection's timed flush. Bounded by the
    * per-batcher flushBusy latch to one in-flight task per mode-2
    * connection. Declared BEFORE the accept daemons start: a val
    * further down could still be null when an early connection's
    * first tick fires mid-construction. */
  private val batchSenders = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "utp-batch-send")
      t.setDaemon(true); t
    })

  /** Threshold flushes run here, off the connection threads: with the
    * store's non-blocking flush, other connections already continue
    * through a sync — this keeps the TRIGGERING connection's ack latency
    * flat too. At most one queued flush (a second crossing while one
    * runs is subsumed by it); close() drains with a final inline sync. */
  private val flushBusy = new AtomicBoolean(false)
  private val flusher = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, s"utp-flusher-$actualPort"); t.setDaemon(true); t
    })
  private def requestFlush(): Unit =
    if (flushBusy.compareAndSet(false, true))
      flusher.submit(new Runnable {
        def run(): Unit =
          try syncLoudly("background") finally flushBusy.set(false)
      }): Unit

  /** Syncs that threw. The rows stay buffered for the next sync, but
    * nothing is becoming durable — so each failure is counted, reported
    * by `varz` as `sync_failures`, and printed to stderr. */
  private val syncFailures = new AtomicLong(0)

  /** Sync the store; on failure count and print it, and return it. */
  private def syncLoudly(where: String): Option[Exception] =
    try { db.sync(); None }
    catch {
      case e: Exception =>
        val n = syncFailures.incrementAndGet()
        System.err.println(s"utp-server $actualPort: $where sync failed (failure #$n): $e")
        Some(e)
    }

  /** Bound port (useful with port = 0 / ephemeral). */
  def actualPort: Int = server.getLocalPort

  /** Bound WebSocket port, or -1 when the WS listener is disabled. */
  def actualWsPort: Int = wsServer.map(_.getLocalPort).getOrElse(-1)

  /** Bound gRPC (h2c) port, or -1 when the gRPC listener is disabled. */
  def actualGrpcPort: Int = grpcServer.map(_.getLocalPort).getOrElse(-1)

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  private def acceptLoop(ss: ServerSocket)(mk: Socket => Conn): Unit = {
    while (running.get()) {
      try {
        val sock = ss.accept()
        // request/ack protocol: without NODELAY, Nagle + delayed-ACK
        // stalls every small ack ~40ms and caps a connection near
        // 25 batches/s regardless of batch size (measured)
        sock.setTcpNoDelay(true)
        val connId = connIds.incrementAndGet()
        daemon(s"utp-conn-$connId") {
          // the WS upgrade happens ON the connection thread (a slow or
          // bogus handshake must never stall the acceptor); a failed
          // upgrade drops just this connection
          val conn =
            try mk(sock)
            catch {
              case _: Exception =>
                try sock.close() catch { case _: Exception => () }
                null
            }
          if (conn != null) serve(conn, connId)
        }
      } catch {
        case _: java.net.SocketException => // closed (or close() racing)
        case _: Exception if running.get() =>
          // transient accept failure (e.g. fd exhaustion): the acceptor
          // must survive it — back off briefly and keep listening
          Thread.sleep(50)
      }
    }
  }

  daemon(s"utp-accept-$actualPort") {
    acceptLoop(server)(sock =>
      new Conn(sock, sock.getInputStream, sock.getOutputStream))
  }

  wsServer.foreach { ws =>
    daemon(s"utp-ws-accept-${ws.getLocalPort}") {
      acceptLoop(ws) { sock =>
        // handshake deadline: a half-open peer (header never finishes)
        // must time out and release this thread, not pin it forever —
        // steady-state packet reads then block indefinitely as on TCP
        sock.setSoTimeout(10000)
        WsFraming.serverHandshake(sock.getInputStream, sock.getOutputStream)
        sock.setSoTimeout(0)
        val (in, out) = WsFraming.wrap(sock.getInputStream,
          sock.getOutputStream, maskFrames = false)
        new Conn(sock, in, out)
      }
    }
  }

  grpcServer.foreach { gs =>
    daemon(s"utp-grpc-accept-${gs.getLocalPort}") {
      while (running.get()) {
        try {
          val sock = gs.accept()
          sock.setTcpNoDelay(true)
          daemon(s"utp-grpc-conn-${connIds.incrementAndGet()}") {
            // the h2 reader loop owns this thread for the connection's
            // life; each accepted rpc stream is one uTP session on its
            // own daemon. A stream's serve() must close ITS stream, not
            // the shared socket — Conn gets an unbound stand-in Socket
            // whose close() ends the gRPC stream (trailers), while the
            // real socket closes with the h2 connection below.
            val peer = new H2Framing.H2Peer(
              sock.getInputStream, sock.getOutputStream, isServer = true,
              (headers, h2In, h2Out) => {
                if (Option(headers.path).map(_.toString)
                    .contains(H2Framing.StreamPath)) {
                  val out = new H2Framing.GrpcOut(h2Out)
                  val vsock = new Socket() {
                    override def close(): Unit =
                      try out.close() catch { case _: Exception => () }
                  }
                  val conn = new Conn(vsock, new H2Framing.GrpcIn(h2In), out)
                  // capture the id — connIds.get() inside the daemon
                  // races with other accepts and could hand two live
                  // connections the same connack id
                  val streamConnId = connIds.incrementAndGet()
                  daemon(s"utp-grpc-stream-$streamConnId") {
                    serve(conn, streamConnId)
                  }
                  true
                } else false // → grpc-status 12 UNIMPLEMENTED trailers
              })
            try peer.serveLoop()
            finally { try sock.close() catch { case _: Exception => () } }
          }
        } catch {
          case _: java.net.SocketException => // closed (or close() racing)
          case _: Exception if running.get() => Thread.sleep(50)
        }
      }
    }
  }

  private def send(conn: Conn, bytes: Array[Byte]): Unit =
    conn.synchronized {
      conn.out.write(bytes)
      conn.out.flush()
    }

  private def ack(conn: Conn, msgType: Int, messageId: Int,
      payload: Array[Byte] = Array.emptyByteArray): Unit =
    send(conn, C.encodePacket(msgType, C.ACKNOWLEDGE,
      C.encodeControl(C.ControlMessage(messageId, payload))))

  private def serve(conn: Conn, connId: Int): Unit = {
    val in = conn.in
    liveConns.put(conn, java.lang.Boolean.TRUE)
    try {
      var open = true
      while (open && running.get()) {
        C.readPacket(in) match {
          case None => open = false
          // ANY frame with flowControl != NONE is a ControlMessage,
          // regardless of msgType — reference clients encode
          // RECEIVE/RECEIPT under MessageType=PUBLISH
          // (utp/flow_control.go:75-83) and the reference server
          // dispatches on FlowControl alone (net/message.go:63).
          // msgType FLOWCONTROL(8) stays accepted for older in-repo
          // clients that framed controls under their own type.
          case Some((fh, body))
              if fh.flowControl != C.NONE || fh.msgType == C.FLOWCONTROL =>
            val ctrl = C.decodeControl(body)
            fh.flowControl match {
              case C.RECEIVE =>
                Option(reliableOut.get(conn))
                  .flatMap(_.get(ctrl.messageId))
                  .foreach(send(conn, _))
              case C.RECEIPT =>
                Option(reliableOut.get(conn))
                  .foreach(_.remove(ctrl.messageId))
                send(conn, C.encodePacket(C.PUBLISH, C.COMPLETE,
                  C.encodeControl(C.ControlMessage(ctrl.messageId,
                    Array.emptyByteArray))))
              case _ => () // client-side ACK/NOTIFY/COMPLETE: nothing held
            }

          case Some((fh, body)) => fh.msgType match {
            case C.CONNECT =>
              val creq = C.decodeConnect(body)
              // subscribe-side batch thresholds (delivery mode 2) ride
              // the CONNECT — zero means the reference defaults
              // (internal/batch.go:12-19: 100ms / 3.5 MiB / 1000)
              if (creq.batchDuration > 0 || creq.batchByteThreshold > 0 ||
                  creq.batchCountThreshold > 0)
                batchOpts.put(conn, BatchOpts(
                  if (creq.batchDuration > 0) creq.batchDuration else 100,
                  if (creq.batchByteThreshold > 0) creq.batchByteThreshold
                  else 3584 * 1024,
                  if (creq.batchCountThreshold > 0) creq.batchCountThreshold
                  else 1000))
              else batchOpts.remove(conn)
              val connack = C.encodeConnack(C.ConnectAcknowledge(
                C.Accepted, (System.currentTimeMillis() / 1000).toInt,
                connId))
              ack(conn, C.CONNECT, 0, connack)
              // a Batcher already latched by an earlier mode-2 delivery
              // (batcherFor's computeIfAbsent) holds the OLD thresholds
              // and ticker period — a CONNECT after that first delivery,
              // or a re-CONNECT with new thresholds, must not be silently
              // ignored: retire it (flushing what it buffered, so nothing
              // is lost or reordered past the notify lock) and let the
              // next delivery rebuild from the fresh batchOpts. AFTER the
              // connack: the flush's NOTIFY must not interleave ahead of
              // the reply the client is blocked on.
              Option(batchers.remove(conn)).foreach { old =>
                Option(tickerTasks.remove(conn)).foreach(_.cancel(false))
                try flushBatch(conn, old) catch { case _: Exception => () }
              }

            case C.PUBLISH =>
              val pub = C.decodePublish(body)
              val (special, stores) =
                pub.messages.partition(_.topic.startsWith("unitdb/"))
              special.foreach { m =>
                // the reference's special-request face
                // (hdl_conn.go:528-594): keygen / clientid ride a
                // PUBLISH under the sentinel "unitdb" key prefix and
                // answer with a PUBLISH on the same topic
                send(conn, C.encodePacket(C.PUBLISH, C.NONE,
                  C.encodePublish(C.Publish(0, 0, Seq(C.PublishMessage(
                    m.topic,
                    specialRequest(m.topic.stripPrefix("unitdb/"),
                      m.payload), ""))))))
              }
              // per-REQUEST authorization (the reference errors the one
              // message, never the connection): pre-check write authority
              // so an unauthorized message is excluded without aborting
              // its co-batched peers — then one lock acquisition per
              // packet, not per message (connection threads otherwise
              // serialize on the store)
              val authorized = stores.filter(m => !db.secureMode || {
                // the same check putEntry's authorize applies, minus the
                // throw — exclusion instead of connection death
                val (key, bare) = graft.model.TopicKey.split(m.topic)
                key.nonEmpty && graft.model.TopicKey.validate(
                  key, bare, graft.model.TopicKey.AllowWrite)
              })
              db.putEntries(authorized.map { m =>
                val topic =
                  if (m.ttl == null || m.ttl.isEmpty) m.topic
                  else if (m.topic.contains('?')) s"${m.topic}&ttl=${m.ttl}"
                  else s"${m.topic}?ttl=${m.ttl}"
                Entry(topic, m.payload)
              })
              if (putsSinceSync.addAndGet(authorized.size.toLong) >=
                  syncEveryPuts) {
                putsSinceSync.addAndGet(-syncEveryPuts.toLong)
                requestFlush()
              }
              authorized.foreach(fanoutLive)
              ack(conn, C.PUBLISH, pub.messageId)

            case C.SUBSCRIBE =>
              val sub = C.decodeSubscribe(body)
              val mine = liveSubs.computeIfAbsent(conn,
                _ => scala.collection.concurrent.TrieMap.empty)
              sub.subscriptions.foreach { s =>
                authorizedPattern(s.topic).foreach(bare =>
                  mine.put(bare, s.deliveryMode))
              }
              ack(conn, C.SUBSCRIBE, sub.messageId)

            case C.UNSUBSCRIBE =>
              val sub = C.decodeSubscribe(body)
              Option(liveSubs.get(conn)).foreach { mine =>
                sub.subscriptions.foreach(s =>
                  authorizedPattern(s.topic).foreach(mine.remove))
              }
              ack(conn, C.UNSUBSCRIBE, sub.messageId)

            case C.RELAY =>
              val relay = C.decodeRelay(body)
              relay.requests.foreach { req =>
                if (req.last != null && req.last.nonEmpty) {
                  db.sync() // serve read-your-writes across connections
                  val sep = if (req.topic.contains('?')) "&" else "?"
                  // per-REQUEST authorization, as on the PUBLISH path:
                  // an unauthorized topic skips that one request (the
                  // reference errors the request, never the connection)
                  // and the RELAY is still acknowledged
                  val payloads =
                    try db.get(Query(s"${req.topic}${sep}last=${req.last}"))
                    catch {
                      case _: SecurityException =>
                        Array.empty[Array[Byte]]
                    }
                  if (payloads.nonEmpty)
                    send(conn, C.encodePacket(C.PUBLISH, C.NONE,
                      C.encodePublish(C.Publish(0, 2,
                        payloads.toSeq.map(p =>
                          C.PublishMessage(req.topic, p, ""))))))
                }
              }
              ack(conn, C.RELAY, relay.messageId)

            case C.PINGREQ =>
              ack(conn, C.PINGREQ, 0)

            case C.DISCONNECT =>
              open = false

            case _ =>
              // anything else: close cleanly rather than strand
              open = false
          }
        }
      }
    } catch {
      case _: java.io.EOFException | _: java.net.SocketException => // peer gone
      case _: Exception => // malformed frame from a misbehaving client:
        // drop the connection (the reference's readLoop does the same);
        // never let one bad peer take down the acceptor or the store
    } finally {
      liveConns.remove(conn)
      liveSubs.remove(conn)
      reliableOut.remove(conn)
      batchers.remove(conn)
      batchOpts.remove(conn)
      Option(tickerTasks.remove(conn)).foreach(_.cancel(false))
      syncLoudly("connection-close"): Unit
      try conn.sock.close() catch { case _: Exception => }
    }
  }

  /** Secure-mode gate for a SUBSCRIBE pattern: returns the bare pattern
    * when authorized (read key required, as for every read face), None
    * when not — per-row exclusion, the [[Subscribe.validSubs]] rule. */
  private def authorizedPattern(pattern: String): Option[String] = {
    if (!db.secureMode) return Some(pattern)
    val (key, bare) = graft.model.TopicKey.split(pattern)
    if (key.nonEmpty && graft.model.TopicKey.validate(
        key, bare, graft.model.TopicKey.AllowRead)) Some(bare)
    else None
  }

  /** Express fan-out of one published message to every live matching
    * subscription, across connections (reference hdl_conn publish →
    * subscriber routing; bidirectional wildcard semantics via
    * [[graft.model.Topic.matches]]). Send failures only drop that
    * subscriber's copy — the publisher's put/ack path is unaffected. */
  private def fanoutLive(m: C.PublishMessage): Unit = {
    // match and deliver on the BARE topic — a secure-mode publish
    // arrives as key/topic, and the write key must never reach readers
    val bare =
      if (db.secureMode) graft.model.TopicKey.split(m.topic)._2 else m.topic
    val it = liveSubs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val modes = e.getValue.iterator.collect {
        case (pattern, mode)
            if graft.model.Topic.matches(bare, pattern) => mode
      }.toSeq
      modes.foreach { mode =>
        try {
          if (mode == 1) {
            // RELIABLE: hold the message, offer it via NOTIFY; the
            // subscriber pulls with RECEIVE and settles with RECEIPT
            // (reference delivery-mode handshake, utp/flow_control.go)
            notifyHeld(e.getKey, 1, Seq(C.PublishMessage(bare, m.payload, "")))
          } else if (mode == 2) {
            // BATCH: coalesce into the connection's buffer; a crossed
            // count/byte threshold flushes now (on this publisher
            // thread — the same blocking-send semantics as express
            // mode), otherwise the ticker flushes on batchDuration
            val b = batcherFor(e.getKey)
            if (b.add(C.PublishMessage(bare, m.payload, "")))
              flushBatch(e.getKey, b)
          } else {
            send(e.getKey, C.encodePacket(C.PUBLISH, C.NONE,
              C.encodePublish(C.Publish(0, mode,
                Seq(C.PublishMessage(bare, m.payload, ""))))))
          }
        } catch { case _: Exception => () }
      }
    }
  }

  /** Hold a packet of messages for a subscriber and offer it via NOTIFY
    * (the shared front half of the reliable and batch delivery modes). */
  private def notifyHeld(conn: Conn, mode: Int,
      msgs: Seq[C.PublishMessage]): Unit = {
    val id = nextReliableId(conn)
    val pkt = C.encodePacket(C.PUBLISH, C.NONE,
      C.encodePublish(C.Publish(id, mode, msgs)))
    reliableOut.computeIfAbsent(conn,
      _ => scala.collection.concurrent.TrieMap.empty).put(id, pkt)
    // teardown race (see batcherFor): never leave a held-message map
    // behind for a connection whose cleanup already ran
    if (!liveSubs.containsKey(conn)) { reliableOut.remove(conn); return }
    send(conn, C.encodePacket(C.PUBLISH, C.NOTIFY,
      C.encodeControl(C.ControlMessage(id, Array.emptyByteArray))))
  }

  /** Drain + NOTIFY atomically under the batcher's notify lock, so two
    * concurrent flushes (inline threshold vs ticker) can never offer
    * their batches out of arrival order. */
  private def flushBatch(conn: Conn, b: Batcher): Unit =
    b.notifyLock.synchronized {
      b.drain().foreach(notifyHeld(conn, 2, _))
    }

  /** The connection's batch buffer, created on first mode-2 delivery
    * along with its duration-flush ticker task. The tick submits to
    * [[batchSenders]] only when the batcher's flushBusy latch is free
    * — at most ONE in-flight flush task per connection, however slow
    * its socket. */
  private def batcherFor(conn: Conn): Batcher = {
    val b = batchers.computeIfAbsent(conn, _ => {
      val opts = Option(batchOpts.get(conn))
        .getOrElse(BatchOpts(100, 3584 * 1024, 1000))
      val nb = new Batcher(opts)
      tickerTasks.put(conn, batchTicker.scheduleAtFixedRate(
        new Runnable {
          def run(): Unit =
            try {
              if (nb.flushBusy.compareAndSet(false, true))
                batchSenders.submit(new Runnable {
                  def run(): Unit =
                    try flushBatch(conn, nb)
                    catch { case _: Exception => () }
                    finally nb.flushBusy.set(false)
                }): Unit
            } catch { case _: Exception => nb.flushBusy.set(false) }
        },
        opts.durationMs.toLong, opts.durationMs.toLong,
        java.util.concurrent.TimeUnit.MILLISECONDS))
      nb
    })
    // teardown race: a publisher that read the liveSubs entry just
    // before the connection's cleanup can recreate the batcher AFTER
    // cleanup removed it — its ticker task would then fire forever.
    // serve()'s finally removes liveSubs FIRST, so re-checking it here
    // after creation makes the leak impossible: either cleanup sees our
    // entries, or we see its removal and undo ourselves.
    if (!liveSubs.containsKey(conn)) {
      Option(tickerTasks.remove(conn)).foreach(_.cancel(false))
      batchers.remove(conn)
    }
    b
  }

  /** keygen / clientid special requests (reference hdl_conn.go:538-594,
    * request/response both JSON). `keygen` maps onto the engine's real
    * [[UnitDb.keyGen]] face — `[{"topic": "a.b", "type": "rw"}]` in,
    * `[{"status": 200, "key": "...", "topic": "a.b"}]` out; `clientid`
    * mints an opaque id (the reference's is a MAC-encrypted blob its
    * clients never look inside — an engine-local opaque string honors
    * the same contract). Unknown targets answer status 404. */
  private def specialRequest(target: String, payload: Array[Byte]): Array[Byte] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def jstr(s: String): String = om.writeValueAsString(s)
    val resp: String = target match {
      case "keygen" =>
        try {
          val reqs = om.readTree(payload)
          val out = (0 until reqs.size()).map { i =>
            val topic = reqs.get(i).path("topic").asText("")
            val tpe = reqs.get(i).path("type").asText("")
            var perms = 0
            tpe.foreach {
              case 'r' => perms |= graft.model.TopicKey.AllowRead
              case 'w' => perms |= graft.model.TopicKey.AllowWrite
              case 'o' | 'a' => perms |= graft.model.TopicKey.AllowReadWrite
              case _ => ()
            }
            val key = db.keyGen(topic, perms)
            s"""{"status":200,"key":${jstr(key)},"topic":${jstr(topic)}}"""
          }
          out.mkString("[", ",", "]")
        } catch {
          case _: Exception => """{"status":400,"message":"bad request"}"""
        }
      case "clientid" =>
        // reference text form: a 32-byte opaque blob (its is MAC-
        // encrypted, clients never look inside) in the custom-alphabet
        // base32 encoding — 52 chars, uid/clientid.go:106 via
        // encoding/base32.go
        val blob = new Array[Byte](32)
        new java.security.SecureRandom().nextBytes(blob)
        s"""{"status":200,"clientId":${jstr(graft.model.IdCodec.encode32(blob))}}"""
      case "varz" =>
        // the reference server's monitor face (server/internal/monitor.go
        // serves Meter counters + duration stats over HTTP /varz); here
        // the same snapshot answers in-band as a special request
        val v = db.varz()
        def lat(l: graft.model.LatencyStats): String =
          s"""{"samples":${l.samples},"cumulative_us":${l.cumulativeUs},""" +
            s""""avg_us":${l.avgUs},"hmean_us":${l.hmeanUs},""" +
            s""""p50_us":${l.p50Us},"p75_us":${l.p75Us},""" +
            s""""p95_us":${l.p95Us},"p99_us":${l.p99Us},""" +
            s""""p999_us":${l.p999Us},"long5p_us":${l.long5pUs},""" +
            s""""short5p_us":${l.short5pUs},"min_us":${l.minUs},""" +
            s""""max_us":${l.maxUs},"range_us":${l.rangeUs},""" +
            s""""stddev_us":${l.stddevUs}}"""
        // wire snapshot (VERDICT r15 #8): per-connection receive backlog
        // at sampling time — bytes a peer has pushed past what the serve
        // loop has consumed, i.e. the observable in-flight depth of a
        // pipelined publisher (UtpProf window>1). InputStream.available()
        // is a floor on TLS (only decrypted-buffered counts); snapshot
        // cost is one syscall per live connection, paid only on varz.
        var wireConns = 0
        var wireInflight = 0L
        var wireInflightMax = 0L
        liveConns.keys().asIterator().forEachRemaining { c =>
          wireConns += 1
          val avail = try c.in.available().toLong catch { case _: Exception => 0L }
          wireInflight += avail
          if (avail > wireInflightMax) wireInflightMax = avail
        }
        s"""{"status":200,"puts":${v.puts},"gets":${v.gets},""" +
          s""""deletes":${v.deletes},"syncs":${v.syncs},""" +
          s""""entries_read":${v.entriesRead},""" +
          s""""bytes_written":${v.bytesWritten},"bytes_read":${v.bytesRead},""" +
          s""""file_size":${v.fileSize},"aborts":${v.aborts},""" +
          s""""recovers":${v.recovers},""" +
          s""""sync_failures":${syncFailures.get},""" +
          s""""wire":{"connections":$wireConns,""" +
          s""""inflight_bytes":$wireInflight,""" +
          s""""inflight_conn_max_bytes":$wireInflightMax},""" +
          s""""latency":${lat(v.latency)},""" +
          s""""put_latency":${lat(v.putLatency)},""" +
          s""""get_latency":${lat(v.getLatency)},""" +
          s""""sync_latency":${lat(v.syncLatency)}}"""
      case _ => """{"status":404,"message":"not found"}"""
    }
    resp.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Stop the listeners, drain the flusher, then run a final sync. A
    * failure of that sync is rethrown: the buffered rows never became
    * durable. */
  def close(): Unit = {
    running.set(false)
    try server.close() catch { case _: Exception => }
    wsServer.foreach(ws => try ws.close() catch { case _: Exception => })
    grpcServer.foreach(gs => try gs.close() catch { case _: Exception => })
    batchTicker.shutdownNow(): Unit
    batchSenders.shutdownNow(): Unit
    flusher.shutdown()
    try flusher.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    catch { case _: InterruptedException => () }
    syncLoudly("final").foreach(e => throw e)
  }
}
