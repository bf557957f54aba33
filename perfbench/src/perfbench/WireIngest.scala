package perfbench

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.engine.UnitDb
import graft.model.Topic
import graft.streaming.{UtpClient, UtpServer, UtpCodec => C}

/** Write-heavy load over loopback TCP: 2 publisher connections to an
  * in-process `UtpServer`, each sending a 100-message PUBLISH packet on a
  * fixed schedule and waiting for its ack before the next (a connection is
  * synchronous, as the reference client is); the server syncs in the
  * background every [[SyncEveryPuts]] puts; 1 subscriber holds an express
  * subscription that matches about 1 % of the traffic. The run ends with
  * `sync()`. */
object WireIngest {
  val Publishers = 2
  val PacketMsgs = 100
  /** The server's own default, so the cadence is what a user gets. */
  val SyncEveryPuts = 256
  val WarmupPackets = 100
  /** Each publisher's send interval: 2 x 50 packets/s = 10 000 msg/s
    * offered, about half the closed-loop capacity measured on the 4-core
    * host, so latency is measured at a fixed rate below saturation and a
    * store that cannot keep up shows as a lower `work_per_s`. */
  val PacketEveryNs = 20000000L

  private def packet(gen: Gen, pub: Int, k: Long): IndexedSeq[Msg] =
    (0 until PacketMsgs).map(j =>
      gen.streamMsg(pub, k * PacketMsgs + j, pub.toLong << 40, Gen.T0, graft.model.Message.MasterContract))

  /** Stamps the send time (this JVM's nanoTime) into payload bytes 8..16. */
  private def stamped(m: Msg, now: Long): (String, Array[Byte]) = {
    val p = m.payload.clone()
    ByteBuffer.wrap(p).putLong(8, now)
    (m.topic, p)
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val gen = new Gen(ctx.seed)
    val pattern = s"site${ctx.seed.abs % Gen.Sites}.*.${Gen.Metrics((ctx.seed.abs % Gen.Metrics.length).toInt)}"
    val parsedPattern = Model.parse(pattern)
    JobTrace.tag(ctx.spark, "sync") // inherited by the server's threads
    val db = UnitDb.open(ctx.spark, ctx.dir("store"), clock = () => Gen.T0)
    val server = new UtpServer(db, port = 0, syncEveryPuts = SyncEveryPuts)
    val sub = new UtpClient("127.0.0.1", server.actualPort)
    sub.connect()
    sub.subscribe(pattern -> 0)
    val pubs = (0 until Publishers).map { _ =>
      val c = new UtpClient("127.0.0.1", server.actualPort); c.connect(); c
    }

    // subscriber: records idx -> delivery latency
    val delivered = new ConcurrentHashMap[Long, java.lang.Double]()
    val subDone = new AtomicBoolean(false)
    val subThread = new Thread(() => {
      try while (!subDone.get()) {
        sub.nextDelivery().foreach { case (_, p) =>
          val now = System.nanoTime()
          val bb = ByteBuffer.wrap(p)
          delivered.put(bb.getLong(0), Stats.ms(now - bb.getLong(8)))
        }
      } catch { case _: Exception => () } // the connection closed at the end
    }, "perfbench-subscriber")
    subThread.setDaemon(true)
    subThread.start()

    val acked = Array.fill(Publishers)(mutable.ArrayBuffer[Msg]())
    val ackLat = Array.fill(Publishers)(mutable.ArrayBuffer[Double]())
    val lag = Array.fill(Publishers)(mutable.ArrayBuffer[Double]())
    val nextPacket = Array.fill(Publishers)(0L)
    /** Sends the publisher's next packet; `due` > 0 times it from its due
      * time (open-loop accounting: a late send counts its wait). */
    def publishOne(p: Int, due: Long): Unit = {
      val msgs = packet(gen, p, nextPacket(p))
      nextPacket(p) += 1
      val t = System.nanoTime()
      ctx.tracer.span("graft.streaming", "publish", nextPacket(p)) {
        pubs(p).publish(msgs.map(stamped(_, t)): _*)
      }
      if (due > 0) {
        ackLat(p) += Stats.ms(System.nanoTime() - due)
        lag(p) += Stats.ms(t - due)
      }
      acked(p) ++= msgs
    }
    for (p <- 0 until Publishers; _ <- 0 until WarmupPackets) publishOne(p, 0L)
    ctx.setupDone(res)

    val failures = new AtomicLong(0)
    var firstSend, lastAck, syncDone = 0L
    var finalSyncNs = 0L
    ctx.measure(res) { deadline =>
      firstSend = System.nanoTime()
      val threads = (0 until Publishers).map { p =>
        val t = new Thread(() => {
          // publishers are staggered by half an interval
          val first = firstSend + p * PacketEveryNs / Publishers
          var due = first
          try while (due < deadline) {
            val wait = due - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            publishOne(p, due)
            due += PacketEveryNs
          } catch { case e: Exception => failures.incrementAndGet(); res.synchronized(res.notes += s"publisher $p: $e") }
        }, s"perfbench-publisher-$p")
        t.start(); t
      }
      threads.foreach(_.join())
      lastAck = System.nanoTime()
      JobTrace.tag(ctx.spark, "sync")
      val s = System.nanoTime()
      db.sync()
      syncDone = System.nanoTime()
      finalSyncNs = syncDone - s
    }

    // correctness: stored == acked, subscriber got exactly the matching acks
    val all = acked.flatten
    val expected = all.iterator
      .filter(m => Model.matches(Model.parse(m.topic), parsedPattern)).map(_.idx).toSet
    val waitUntil = System.nanoTime() + 10000000000L
    while (delivered.size < expected.size && System.nanoTime() < waitUntil) Thread.sleep(20)
    JobTrace.tag(ctx.spark, "check")
    val stored = db.count()
    res.attempted = all.length.toLong + failures.get() * PacketMsgs
    if (failures.get() > 0) res.failed += failures.get() * PacketMsgs
    if (stored != all.length)
      res.fail(s"store holds $stored messages, ${all.length} were acked")
    val got = delivered.keySet().asScala.map(_.longValue).toSet
    val missing = (expected -- got).size
    val extra = (got -- expected).size
    if (missing + extra > 0)
      res.fail(s"subscriber: $missing matching messages missing, $extra unexpected",
        missing + extra)

    val measuredMsgs = ackLat.map(_.length).sum.toDouble * PacketMsgs
    val lat = ackLat.flatten
    val dl = expected.toSeq.flatMap(i => Option(delivered.get(i)).map(_.doubleValue))
    res.put("syncs", db.varz().syncs.toDouble, "count")
    res.put("bench.gen_lag_ms_p99", Stats.pct(lag.flatten, 0.99), "ms")
    res.put("publish_ack_p99_ms", Stats.pct(lat, 0.99), "ms")
    res.put("delivery_p50_ms", Stats.median(dl), "ms")
    res.put("delivery_p99_ms", Stats.pct(dl, 0.99), "ms")
    ctx.primary(res, lat, "publish")
    res.put("work_per_s", measuredMsgs / ((syncDone - firstSend) / 1e9), "1/s")
    if (ctx.traced) {
      ctx.writeLayers(res, db)
      res.put("streaming.utp.accept_msgs_per_s", measuredMsgs / ((lastAck - firstSend) / 1e9), "msg/s")
      res.put("streaming.utp.final_sync_s", finalSyncNs / 1e9, "s")
      res.put("streaming.utp.delivered_ratio",
        got.intersect(expected).size.toDouble / math.max(1, expected.size), "ratio")
      res.put("engine.bytes_on_disk", db.fileSize().toDouble, "B")
      layerMicro(ctx, gen, pattern, all, res)
    }
    pubs.foreach(_.close())
    subDone.set(true)
    sub.close()
    subThread.join(5000)
    server.close()
    db.close()
    res
  }

  /** Times the wire codec and the topic model directly over this run's
    * packets and topics, after the measured window. */
  private def layerMicro(ctx: Ctx, gen: Gen, pattern: String,
      msgs: collection.IndexedSeq[Msg], res: Result): Unit = {
    val packets = (0 until 200).map(k => C.Publish(k + 1, 0,
      packet(gen, 0, k).map(m => C.PublishMessage(m.topic, m.payload, ""))))
    def perOpNs(reps: Int, n: Int)(f: Int => Unit): Double =
      Stats.median((0 until reps).map { _ =>
        val t = System.nanoTime(); var i = 0
        while (i < n) { f(i); i += 1 }
        (System.nanoTime() - t).toDouble / n
      })
    var sink = 0L
    val encoded = packets.map(p => C.encodePacket(C.PUBLISH, C.NONE, C.encodePublish(p)))
    val enc = ctx.tracer.span("graft.streaming", "codec.encode", 0) {
      perOpNs(5, packets.length)(i =>
        sink += C.encodePacket(C.PUBLISH, C.NONE, C.encodePublish(packets(i))).length)
    }
    val dec = ctx.tracer.span("graft.streaming", "codec.decode", 0) {
      perOpNs(5, encoded.length) { i =>
        val (_, body) = C.readPacket(new java.io.ByteArrayInputStream(encoded(i))).get
        sink += C.decodePublish(body).messages.length
      }
    }
    val topics = msgs.iterator.take(100000).map(_.topic).toArray
    val parse = ctx.tracer.span("graft.model", "topic.parse", 0) {
      perOpNs(5, topics.length)(i => sink += Topic.parse(topics(i)).depth)
    }
    val matches = ctx.tracer.span("graft.model", "topic.matches", 0) {
      perOpNs(5, topics.length)(i => if (Topic.matches(topics(i), pattern)) sink += 1)
    }
    res.put("streaming.utp.encode_us_per_packet", enc / 1000, "us")
    res.put("streaming.utp.decode_us_per_packet", dec / 1000, "us")
    res.put("model.topic_parse_ns", parse, "ns")
    res.put("model.topic_matches_ns", matches, "ns")
    res.notes += s"layer checksum $sink"
  }
}
