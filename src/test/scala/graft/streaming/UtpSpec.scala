package graft.streaming

import java.net.Socket
import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.engine.{PosixSwapCommit, StoreCommitProtocol, UnitDb}
import graft.model.Query
import graft.streaming.{UtpCodec => C}

/** The uTP adapter: wire-layout vectors pinning cross-implementation
  * byte compatibility, and a live loopback session driving the
  * CONNECT/PUBLISH/RELAY/PINGREQ/DISCONNECT verbs into a real store. */
class UtpSpec extends SparkSpec {

  test("codec: FixedHeader byte layout matches the proto3 wire spec") {
    // FixedHeader{MessageType: PUBLISH(2), MessageLength: 5} —
    // field 1 varint 2 → 0x08 0x02; field 3 varint 5 → 0x18 0x05;
    // FlowControl 0 is absent under proto3 zero-skipping
    val fh = C.encodeFixedHeader(C.FixedHeader(C.PUBLISH, C.NONE, 5))
    assert(fh.toSeq == Seq(0x08, 0x02, 0x18, 0x05).map(_.toByte))
    assert(C.decodeFixedHeader(fh) == C.FixedHeader(2, 0, 5))
    // the packet prefixes the header with its mqtt-varint length
    val pkt = C.encodePacket(C.PUBLISH, C.NONE, new Array[Byte](5))
    assert(pkt(0) == 4.toByte && pkt.length == 1 + 4 + 5)
  }

  test("codec: mqtt varint lengths round-trip across the 127/128 boundary") {
    for (n <- Seq(0, 1, 127, 128, 300, 16383, 16384, 2097151)) {
      val enc = C.encodeMqttLen(n)
      val in = new java.io.ByteArrayInputStream(enc)
      assert(C.readMqttLen(in) == n, s"length $n")
    }
    assert(C.encodeMqttLen(300).toSeq ==
      Seq(0xAC.toByte, 0x02.toByte), "multi-byte little-endian groups")
  }

  test("codec: Publish with repeated messages and unknown fields") {
    val p = C.Publish(42, 1, Seq(
      C.PublishMessage("a.b", "hello".getBytes, "1h"),
      C.PublishMessage("c.d", Array.emptyByteArray, "")))
    val dec = C.decodePublish(C.encodePublish(p))
    assert(dec.messageId == 42 && dec.deliveryMode == 1)
    assert(dec.messages.map(_.topic) == Seq("a.b", "c.d"))
    assert(dec.messages.head.payload.sameElements("hello".getBytes))
    assert(dec.messages.head.ttl == "1h" && dec.messages(1).ttl == "")
    // a decoder must skip fields it does not know (proto3 forward compat):
    // append field 9 (varint 7) and field 10 (length-delimited "xx")
    val extra = C.encodePublish(p) ++
      Array((9 << 3).toByte, 7.toByte, ((10 << 3) | 2).toByte, 2.toByte,
        'x'.toByte, 'x'.toByte)
    assert(C.decodePublish(extra).messages.length == 2)
  }

  test("codec: Connect and ConnectAcknowledge round-trip") {
    val c = C.Connect(1, insecure = true, "client-1", 30,
      cleanSess = true, 0, "u", "pw".getBytes, 0, 0, 0)
    val dec = C.decodeConnect(C.encodeConnect(c))
    assert(dec.clientId == "client-1" && dec.insecure && dec.keepAlive == 30)
    assert(dec.password.sameElements("pw".getBytes))
    val a = C.decodeConnack(C.encodeConnack(C.ConnectAcknowledge(0, 123, 7)))
    assert(a == C.ConnectAcknowledge(0, 123, 7))
  }

  test("codec: fuzzed round-trips and garbage tolerance") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val msgs = (0 until rnd.nextInt(5)).map { _ =>
        val topic = (0 until 1 + rnd.nextInt(4))
          .map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)
          .mkString(".")
        val payload = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(payload)
        C.PublishMessage(topic, payload,
          if (rnd.nextBoolean()) "" else s"${1 + rnd.nextInt(48)}h")
      }
      val p = C.Publish(rnd.nextInt(65536), rnd.nextInt(3), msgs)
      val dec = C.decodePublish(C.encodePublish(p))
      assert(dec.messageId == p.messageId && dec.deliveryMode == p.deliveryMode)
      assert(dec.messages.size == p.messages.size)
      dec.messages.zip(p.messages).foreach { case (a, b) =>
        assert(a.topic == b.topic && a.ttl == b.ttl &&
          a.payload.sameElements(b.payload))
      }
    }
    // garbage bytes must raise a plain exception, never hang or corrupt
    for (_ <- 1 to 500) {
      val junk = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(junk)
      try { C.decodePublish(junk); () } catch { case _: Exception => () }
      try { C.decodeFixedHeader(junk); () } catch { case _: Exception => () }
      val in = new java.io.ByteArrayInputStream(junk)
      try { C.readPacket(in); () } catch { case _: Exception => () }
    }
  }

  test("codec: a truncated length-delimited field errors, never zero-pads") {
    // Publish body declaring a 100-byte payload but carrying 4
    val w = C.encodePublish(C.Publish(1, 0,
      Seq(C.PublishMessage("t", "abcd".getBytes, ""))))
    // corrupt the inner payload length varint (field 2 of the message)
    // by rebuilding: message field with a lying length
    val lying = Array(((3 << 3) | 2).toByte, 9.toByte, // msgs field, 9 bytes
      ((1 << 3) | 2).toByte, 1.toByte, 't'.toByte,     // topic "t"
      ((2 << 3) | 2).toByte, 100.toByte,               // payload len 100 (!)
      'a'.toByte, 'b'.toByte)                          // ...only 2 bytes
    val ex = intercept[Exception] { C.decodePublish(lying) }
    assert(ex.getMessage.contains("overruns"), ex.getMessage)
    assert(C.decodePublish(w).messages.head.payload.length == 4)
  }

  test("server: secure mode drops only the unauthorized message in a batch") {
    val dir = Files.createTempDirectory("graft_utp_sec").toString + "/store"
    val db = UnitDb.open(spark, dir, secureMode = true)
    val wk = db.keyGen("sec.ok", graft.model.TopicKey.AllowWrite)
    val srv = new UtpServer(db, port = 0)
    try {
      val sock = new Socket("127.0.0.1", srv.actualPort)
      val out = sock.getOutputStream
      out.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(5, 0, Seq(
          C.PublishMessage(s"$wk/sec.ok", "good-1".getBytes, ""),
          C.PublishMessage("sec.ok", "no-key".getBytes, ""),
          C.PublishMessage(s"$wk/sec.ok", "good-2".getBytes, ""))))))
      out.flush()
      // the connection survives and the packet is acked
      val (afh, abody) = C.readPacket(sock.getInputStream).get
      assert(afh.msgType == C.PUBLISH && afh.flowControl == C.ACKNOWLEDGE)
      assert(C.decodeControl(abody).messageId == 5)
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (db.count() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val rk = db.keyGen("sec.ok", graft.model.TopicKey.AllowRead)
      assert(db.get(Query(s"$rk/sec.ok")).map(new String(_)).toSet ==
        Set("good-1", "good-2"), "authorized peers land; no-key is excluded")
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: a garbage frame drops only that connection, store stays live") {
    val dir = Files.createTempDirectory("graft_utp_junk").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      val bad = new Socket("127.0.0.1", srv.actualPort)
      // a huge bogus header length followed by garbage
      bad.getOutputStream.write(Array(0xFF, 0xFF, 0xFF, 0x7F, 0x13, 0x37)
        .map(_.toByte))
      bad.getOutputStream.flush()
      bad.close()
      // a well-behaved client on a fresh connection still works
      val good = new Socket("127.0.0.1", srv.actualPort)
      good.getOutputStream.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(1, 0, Seq(
          C.PublishMessage("ok.topic", "fine".getBytes, ""))))))
      good.getOutputStream.flush()
      val (afh, _) = C.readPacket(good.getInputStream).get
      assert(afh.flowControl == C.ACKNOWLEDGE)
      good.close()
      val deadline = System.currentTimeMillis() + 10000
      while (db.count() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(db.get(Query("ok.topic")).map(new String(_)).toSeq == Seq("fine"))
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: a wire client connects, publishes, relays back, disconnects") {
    val dir = Files.createTempDirectory("graft_utp").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, syncEveryPuts = 1000)
    try {
      val sock = new Socket("127.0.0.1", srv.actualPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      def roundTrip(pkt: Array[Byte]): (C.FixedHeader, Array[Byte]) = {
        out.write(pkt); out.flush()
        C.readPacket(in).get
      }

      // CONNECT → ACKNOWLEDGE control wrapping a ConnectAcknowledge
      val (cfh, cbody) = roundTrip(C.encodePacket(C.CONNECT, C.NONE,
        C.encodeConnect(C.Connect(1, insecure = true, "cli", 30,
          cleanSess = true, 0, "", Array.emptyByteArray, 0, 0, 0))))
      assert(cfh.msgType == C.CONNECT && cfh.flowControl == C.ACKNOWLEDGE)
      val connack = C.decodeConnack(C.decodeControl(cbody).message)
      assert(connack.returnCode == C.Accepted)

      // PUBLISH 3 messages on 2 topics → ACKNOWLEDGE echoing MessageID
      val (pfh, pbody) = roundTrip(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(7, 0, Seq(
          C.PublishMessage("utp.alpha", "m1".getBytes, ""),
          C.PublishMessage("utp.alpha", "m2".getBytes, ""),
          C.PublishMessage("utp.beta", "m3".getBytes, ""))))))
      assert(pfh.msgType == C.PUBLISH && pfh.flowControl == C.ACKNOWLEDGE)
      assert(C.decodeControl(pbody).messageId == 7)

      // PINGREQ → ACKNOWLEDGE
      val (gfh, _) = roundTrip(C.encodePacket(C.PINGREQ, C.NONE,
        Array.emptyByteArray))
      assert(gfh.msgType == C.PINGREQ && gfh.flowControl == C.ACKNOWLEDGE)

      // RELAY utp.alpha?last=1h → one PUBLISH packet with both payloads
      // (delivery mode 2, the batch-on-relay rule), then the ACKNOWLEDGE
      out.write(C.encodePacket(C.RELAY, C.NONE,
        C.encodeRelay(C.Relay(9, Seq(C.RelayRequest("utp.alpha", "1h"))))))
      out.flush()
      val (rfh1, rbody1) = C.readPacket(in).get
      assert(rfh1.msgType == C.PUBLISH && rfh1.flowControl == C.NONE)
      val relayed = C.decodePublish(rbody1)
      assert(relayed.deliveryMode == 2)
      assert(relayed.messages.map(m => new String(m.payload)).toSet ==
        Set("m1", "m2"))
      val (rfh2, rbody2) = C.readPacket(in).get
      assert(rfh2.msgType == C.RELAY && rfh2.flowControl == C.ACKNOWLEDGE)
      assert(C.decodeControl(rbody2).messageId == 9)

      // DISCONNECT → server syncs and closes; the data is in the store
      out.write(C.encodePacket(C.DISCONNECT, C.NONE, Array.emptyByteArray))
      out.flush()
      sock.close()
      // poll for the close-side sync (connection thread is async)
      val deadline = System.currentTimeMillis() + 10000
      while (db.count() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(db.get(Query("utp.alpha")).map(new String(_)).toSet ==
        Set("m1", "m2"))
      assert(db.get(Query("utp.beta")).map(new String(_)).toSeq == Seq("m3"))
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: unitdb/keygen special request mints a working topic key") {
    val dir = Files.createTempDirectory("graft_utp_kg").toString + "/store"
    val db = UnitDb.open(spark, dir, secureMode = true)
    val srv = new UtpServer(db, port = 0)
    try {
      val sock = new Socket("127.0.0.1", srv.actualPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(3, 0, Seq(C.PublishMessage(
          "unitdb/keygen",
          """[{"topic":"sec.data","type":"rw"}]""".getBytes, ""))))))
      out.flush()
      // response PUBLISH on the request topic, then the publish ack
      val (rfh, rbody) = C.readPacket(in).get
      assert(rfh.msgType == C.PUBLISH && rfh.flowControl == C.NONE)
      val respMsg = C.decodePublish(rbody).messages.head
      assert(respMsg.topic == "unitdb/keygen")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(respMsg.payload)
      assert(json.get(0).get("status").asInt() == 200)
      val key = json.get(0).get("key").asText()
      val (afh, _) = C.readPacket(in).get
      assert(afh.flowControl == C.ACKNOWLEDGE)
      // the minted key authorizes the topic on this secure store — the
      // whole point of the wire face reaching the real keyGen
      db.putEntry(graft.model.Entry(s"$key/sec.data", "v".getBytes))
      db.sync()
      assert(db.get(Query(s"$key/sec.data")).length == 1)
      sock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: live SUBSCRIBE fans out across connections, UNSUBSCRIBE stops it") {
    val dir = Files.createTempDirectory("graft_utp_sub").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      // subscriber connection: wildcard pattern
      val subSock = new Socket("127.0.0.1", srv.actualPort)
      subSock.getOutputStream.write(C.encodePacket(C.SUBSCRIBE, C.NONE,
        C.encodeSubscribe(C.Subscribe(11, Seq(
          C.Subscription(0, 0, "live.*.temp"))))))
      subSock.getOutputStream.flush()
      val (sfh, sbody) = C.readPacket(subSock.getInputStream).get
      assert(sfh.msgType == C.SUBSCRIBE && sfh.flowControl == C.ACKNOWLEDGE)
      assert(C.decodeControl(sbody).messageId == 11)

      // publisher connection: one matching, one non-matching message
      val pubSock = new Socket("127.0.0.1", srv.actualPort)
      pubSock.getOutputStream.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(1, 0, Seq(
          C.PublishMessage("live.room1.temp", "21C".getBytes, ""),
          C.PublishMessage("live.room1.hum", "40%".getBytes, ""))))))
      pubSock.getOutputStream.flush()
      C.readPacket(pubSock.getInputStream) // publish ack

      // the subscriber receives exactly the matching message
      val (dfh, dbody) = C.readPacket(subSock.getInputStream).get
      assert(dfh.msgType == C.PUBLISH && dfh.flowControl == C.NONE)
      val delivered = C.decodePublish(dbody).messages
      assert(delivered.map(_.topic) == Seq("live.room1.temp"))
      assert(new String(delivered.head.payload) == "21C")

      // unsubscribe, publish again — nothing further arrives (the next
      // frame the subscriber sees is its own ping ack)
      subSock.getOutputStream.write(C.encodePacket(C.UNSUBSCRIBE, C.NONE,
        C.encodeSubscribe(C.Subscribe(12, Seq(
          C.Subscription(0, 0, "live.*.temp"))))))
      subSock.getOutputStream.flush()
      C.readPacket(subSock.getInputStream) // unsubscribe ack
      pubSock.getOutputStream.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(2, 0, Seq(
          C.PublishMessage("live.room2.temp", "19C".getBytes, ""))))))
      pubSock.getOutputStream.flush()
      C.readPacket(pubSock.getInputStream) // publish ack
      subSock.getOutputStream.write(C.encodePacket(C.PINGREQ, C.NONE,
        Array.emptyByteArray))
      subSock.getOutputStream.flush()
      val (nfh, _) = C.readPacket(subSock.getInputStream).get
      assert(nfh.msgType == C.PINGREQ && nfh.flowControl == C.ACKNOWLEDGE,
        "a frame arrived after unsubscribe that is not the ping ack")
      subSock.close(); pubSock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: reliable delivery walks NOTIFY/RECEIVE/RECEIPT/COMPLETE") {
    val dir = Files.createTempDirectory("graft_utp_rel").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      val subSock = new Socket("127.0.0.1", srv.actualPort)
      subSock.getOutputStream.write(C.encodePacket(C.SUBSCRIBE, C.NONE,
        C.encodeSubscribe(C.Subscribe(21, Seq(
          C.Subscription(1, 0, "rel.topic")))))) // delivery mode 1
      subSock.getOutputStream.flush()
      C.readPacket(subSock.getInputStream) // subscribe ack

      val pubSock = new Socket("127.0.0.1", srv.actualPort)
      pubSock.getOutputStream.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(1, 0, Seq(
          C.PublishMessage("rel.topic", "precious".getBytes, ""))))))
      pubSock.getOutputStream.flush()
      C.readPacket(pubSock.getInputStream) // publish ack

      // 1. NOTIFY arrives with the held message's id
      val (nfh, nbody) = C.readPacket(subSock.getInputStream).get
      assert(nfh.msgType == C.PUBLISH && nfh.flowControl == C.NOTIFY)
      val id = C.decodeControl(nbody).messageId
      assert(id > 0)
      // 2. RECEIVE pulls the message itself
      subSock.getOutputStream.write(C.encodePacket(C.FLOWCONTROL, C.RECEIVE,
        C.encodeControl(C.ControlMessage(id, Array.emptyByteArray))))
      subSock.getOutputStream.flush()
      val (mfh, mbody) = C.readPacket(subSock.getInputStream).get
      assert(mfh.msgType == C.PUBLISH && mfh.flowControl == C.NONE)
      val got = C.decodePublish(mbody)
      assert(got.messageId == id && got.deliveryMode == 1)
      assert(new String(got.messages.head.payload) == "precious")
      // 3. RECEIPT settles; COMPLETE comes back
      subSock.getOutputStream.write(C.encodePacket(C.FLOWCONTROL, C.RECEIPT,
        C.encodeControl(C.ControlMessage(id, Array.emptyByteArray))))
      subSock.getOutputStream.flush()
      val (cfh, cbody) = C.readPacket(subSock.getInputStream).get
      assert(cfh.msgType == C.PUBLISH && cfh.flowControl == C.COMPLETE)
      assert(C.decodeControl(cbody).messageId == id)
      // 4. a second RECEIVE for the settled id yields nothing — the next
      // frame is the ping ack, proving the held message was dropped
      subSock.getOutputStream.write(C.encodePacket(C.FLOWCONTROL, C.RECEIVE,
        C.encodeControl(C.ControlMessage(id, Array.emptyByteArray))))
      subSock.getOutputStream.write(C.encodePacket(C.PINGREQ, C.NONE,
        Array.emptyByteArray))
      subSock.getOutputStream.flush()
      val (pfh, _) = C.readPacket(subSock.getInputStream).get
      assert(pfh.msgType == C.PINGREQ && pfh.flowControl == C.ACKNOWLEDGE)
      subSock.close(); pubSock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("client: the UtpClient face drives the whole session end-to-end") {
    val dir = Files.createTempDirectory("graft_utp_cli").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      val pubCli = new UtpClient("127.0.0.1", srv.actualPort)
      val subCli = new UtpClient("127.0.0.1", srv.actualPort)
      assert(pubCli.connect("producer") > 0)
      subCli.subscribe(("cli.*.x", 0), ("cli.rel", 1))
      pubCli.publish(("cli.a.x", "hello".getBytes))
      val d1 = subCli.nextDelivery()
      assert(d1 == Seq(("cli.a.x", d1.head._2)) &&
        new String(d1.head._2) == "hello")
      // reliable delivery walks the handshake transparently
      pubCli.publish(("cli.rel", "precious".getBytes))
      val d2 = subCli.nextDelivery()
      assert(d2.map(_._1) == Seq("cli.rel") &&
        new String(d2.head._2) == "precious")
      // relay a stored window back
      val relayed = pubCli.relay("cli.a.x", "1h")
      assert(relayed.map(new String(_)) == Seq("hello"))
      pubCli.ping()
      pubCli.close(); subCli.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: publish TTL rides the topic option into expiry") {
    val dir = Files.createTempDirectory("graft_utp_ttl").toString + "/store"
    var now = 1700000000000L
    val db = UnitDb.open(spark, dir, clock = () => now)
    val srv = new UtpServer(db, port = 0)
    try {
      val sock = new Socket("127.0.0.1", srv.actualPort)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(1, 0, Seq(
          C.PublishMessage("utp.ttl", "fleeting".getBytes, "1m"),
          C.PublishMessage("utp.ttl", "durable".getBytes, ""))))))
      out.flush()
      C.readPacket(in) // ack
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (db.count() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(db.get(Query("utp.ttl")).length == 2)
      now += 2 * 60 * 1000 // two minutes later the 1m TTL row is gone
      assert(db.get(Query("utp.ttl")).map(new String(_)).toSeq ==
        Seq("durable"))
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: flow-control frames typed PUBLISH dispatch as controls " +
      "(reference client parity)") {
    // Reference clients encode RECEIVE/RECEIPT under MessageType=PUBLISH
    // (utp/flow_control.go:75-83); the receiver must dispatch on
    // FlowControl != NONE alone (net/message.go:63). ADVICE r9 high: the
    // adapter previously required msgType FLOWCONTROL(8), so a real
    // reference subscriber died at its first RECEIVE.
    val dir = Files.createTempDirectory("graft_utp_refc").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      val subSock = new Socket("127.0.0.1", srv.actualPort)
      subSock.getOutputStream.write(C.encodePacket(C.SUBSCRIBE, C.NONE,
        C.encodeSubscribe(C.Subscribe(9, Seq(
          C.Subscription(1, 0, "refc.topic"))))))
      subSock.getOutputStream.flush()
      C.readPacket(subSock.getInputStream) // subscribe ack

      val pubSock = new Socket("127.0.0.1", srv.actualPort)
      pubSock.getOutputStream.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(1, 0, Seq(
          C.PublishMessage("refc.topic", "via-ref-framing".getBytes, ""))))))
      pubSock.getOutputStream.flush()
      C.readPacket(pubSock.getInputStream) // publish ack

      val (nfh, nbody) = C.readPacket(subSock.getInputStream).get
      assert(nfh.flowControl == C.NOTIFY)
      val id = C.decodeControl(nbody).messageId
      // RECEIVE with MessageType=PUBLISH, exactly as the reference frames it
      subSock.getOutputStream.write(C.encodePacket(C.PUBLISH, C.RECEIVE,
        C.encodeControl(C.ControlMessage(id, Array.emptyByteArray))))
      subSock.getOutputStream.flush()
      val (mfh, mbody) = C.readPacket(subSock.getInputStream).get
      assert(mfh.msgType == C.PUBLISH && mfh.flowControl == C.NONE)
      assert(new String(C.decodePublish(mbody).messages.head.payload) ==
        "via-ref-framing")
      // RECEIPT likewise — COMPLETE must come back, connection stays up
      subSock.getOutputStream.write(C.encodePacket(C.PUBLISH, C.RECEIPT,
        C.encodeControl(C.ControlMessage(id, Array.emptyByteArray))))
      subSock.getOutputStream.flush()
      val (cfh, cbody) = C.readPacket(subSock.getInputStream).get
      assert(cfh.flowControl == C.COMPLETE &&
        C.decodeControl(cbody).messageId == id)
      subSock.close(); pubSock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: batch delivery mode 2 coalesces on count and duration") {
    val dir = Files.createTempDirectory("graft_utp_batch").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      // subscriber: batchCountThreshold=3, duration long enough that the
      // count threshold fires first
      val sub = new UtpClient("127.0.0.1", srv.actualPort)
      assert(sub.connect("batcher", batchDurationMs = 60000,
        batchCountThreshold = 3) > 0)
      sub.subscribe(("bat.x", 2)) // delivery mode 2 = batch
      val pub = new UtpClient("127.0.0.1", srv.actualPort)
      pub.publish(("bat.x", "m1".getBytes))
      pub.publish(("bat.x", "m2".getBytes))
      pub.publish(("bat.x", "m3".getBytes))
      // ONE delivery arrives carrying all three coalesced messages
      val got = sub.nextDelivery()
      assert(got.map(p => new String(p._2)) == Seq("m1", "m2", "m3"),
        s"expected one 3-message batch, got ${got.map(p => new String(p._2))}")

      // duration flush: a second subscriber with a 100ms window and a
      // high count threshold gets a sub-threshold batch on the ticker
      val sub2 = new UtpClient("127.0.0.1", srv.actualPort)
      assert(sub2.connect("ticker", batchDurationMs = 100,
        batchCountThreshold = 1000) > 0)
      sub2.subscribe(("bat.tick", 2))
      pub.publish(("bat.tick", "t1".getBytes))
      pub.publish(("bat.tick", "t2".getBytes))
      // the ticker flushes within ~100-200ms; it may split the two
      // messages across ticks, so accumulate until both arrive
      val got2 = scala.collection.mutable.ArrayBuffer[String]()
      while (got2.length < 2)
        got2 ++= sub2.nextDelivery().map(p => new String(p._2))
      assert(got2.sorted == Seq("t1", "t2"))
      sub.close(); sub2.close(); pub.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: unitdb/varz special request answers the metrics snapshot") {
    val dir = Files.createTempDirectory("graft_utp_varz").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      val cli = new UtpClient("127.0.0.1", srv.actualPort)
      assert(cli.connect("monitor") > 0)
      cli.publish(("vz.a", "one".getBytes), ("vz.b", "two".getBytes))
      val v = cli.varz()
      assert(v.get("puts").asLong() == 2L, v.toString)
      assert(v.get("bytes_written").asLong() == 6L)
      assert(v.get("file_size").asLong() >= 0L)
      assert(v.get("sync_failures").asLong() == 0L)
      // the per-face latency percentile blocks ride along populated
      val putLat = v.get("put_latency")
      assert(putLat.get("samples").asInt() >= 1)
      assert(putLat.get("p50_us").asDouble() > 0.0)
      assert(v.get("latency").get("p99_us").asDouble() >=
        v.get("latency").get("p50_us").asDouble())
      // wire snapshot (VERDICT r15 #8): the asking connection itself is
      // live, and the backlog gauges are present and sane (≥ 0; a
      // request/ack client has nothing pipelined at snapshot time)
      val wire = v.get("wire")
      assert(wire.get("connections").asInt() >= 1, v.toString)
      assert(wire.get("inflight_bytes").asLong() >= 0L)
      assert(wire.get("inflight_conn_max_bytes").asLong() <=
        math.max(wire.get("inflight_bytes").asLong(), 0L))
      cli.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: failed syncs are counted in varz, and close() rethrows the final one") {
    val dir = Files.createTempDirectory("graft_utp_syncfail").toString + "/store"
    val failing = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the live-directory lookup is the first thing a data flush needs
    val protocol = new StoreCommitProtocol {
      override def resolveLive(path: String): String =
        if (failing.get) throw new java.io.IOException("injected sync failure") else path
      def commitRewrite(path: String, tmp: String, keep: Seq[String]): Unit =
        PosixSwapCommit.commitRewrite(path, tmp, keep)
    }
    val db = UnitDb.open(spark, dir, commitProtocol = protocol)
    val srv = new UtpServer(db, port = 0, syncEveryPuts = 1)
    failing.set(true)
    val cli = new UtpClient("127.0.0.1", srv.actualPort)
    assert(cli.connect("syncfail") > 0)
    cli.publish(("sf.a", "one".getBytes)) // crosses syncEveryPuts: background sync
    val deadline = System.nanoTime() + 10000000000L
    var failures = 0L
    while (failures == 0L && System.nanoTime() < deadline) {
      failures = cli.varz().get("sync_failures").asLong()
      if (failures == 0L) Thread.sleep(20)
    }
    assert(failures >= 1L, "background sync failure not counted")
    cli.close()
    val e = intercept[java.io.IOException](srv.close())
    assert(e.getMessage == "injected sync failure")
    // nothing was lost: the row stayed buffered and lands once syncs work
    failing.set(false)
    db.sync()
    assert(db.get(Query("sf.a")).map(new String(_)).toSeq == Seq("one"))
    db.close()
  }

  test("ws: RFC 6455 accept key and frame round-trips") {
    // the RFC's own test vector (§1.3 / §4.2.2)
    assert(WsFraming.acceptKey("dGhlIHNhbXBsZSBub25jZQ==") ==
      "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
    // frames round-trip through a pipe at the three length encodings
    // (7-bit, 16-bit, 64-bit), masked and unmasked
    for ((n, masked) <- Seq((0, true), (1, false), (125, true), (126, false),
        (65535, true), (65536, false), (200000, true))) {
      val buf = new java.io.ByteArrayOutputStream()
      val w = new WsFraming.FrameWriter(buf, maskFrames = masked)
      val payload = Array.tabulate[Byte](n)(i => (i * 31).toByte)
      w.writeFrame(0x2, payload)
      val back = new java.io.ByteArrayInputStream(buf.toByteArray)
      val rIn = new WsFraming.WsInputStream(back,
        new WsFraming.FrameWriter(new java.io.ByteArrayOutputStream(), false),
        expectMasked = masked)
      val got = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val k = rIn.read(got, off, n - off)
        assert(k > 0, s"short read at $off/$n")
        off += k
      }
      assert(got.sameElements(payload), s"payload mismatch at n=$n masked=$masked")
      assert(rIn.read() == -1, "clean EOF after the frame")
    }
  }

  test("ws: a full uTP session runs over the WebSocket transport") {
    val dir = Files.createTempDirectory("graft_utp_ws").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, wsPort = 0)
    try {
      assert(srv.actualWsPort > 0)
      val pub = new UtpClient("127.0.0.1", srv.actualWsPort, ws = true)
      val sub = new UtpClient("127.0.0.1", srv.actualWsPort, ws = true)
      assert(pub.connect("ws-producer") > 0)
      sub.subscribe(("ws.*.x", 0), ("ws.rel", 1))
      pub.publish(("ws.a.x", "hello-ws".getBytes))
      val d1 = sub.nextDelivery()
      assert(d1.map(_._1) == Seq("ws.a.x") &&
        new String(d1.head._2) == "hello-ws")
      // reliable handshake (NOTIFY/RECEIVE/RECEIPT/COMPLETE) over WS
      pub.publish(("ws.rel", "precious-ws".getBytes))
      val d2 = sub.nextDelivery()
      assert(d2.map(_._1) == Seq("ws.rel") &&
        new String(d2.head._2) == "precious-ws")
      // RELAY a stored window back over WS
      val relayed = pub.relay("ws.a.x", "1h")
      assert(relayed.map(new String(_)) == Seq("hello-ws"))
      // special request over WS
      assert(pub.varz().get("puts").asLong() == 2L)
      pub.ping()
      // cross-transport fan-out: a TCP publisher reaches the WS subscriber
      val tcp = new UtpClient("127.0.0.1", srv.actualPort)
      tcp.publish(("ws.b.x", "tcp-to-ws".getBytes))
      val d3 = sub.nextDelivery()
      assert(new String(d3.head._2) == "tcp-to-ws")
      tcp.close(); pub.close(); sub.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: secure mode errors one unauthorized relay request, " +
      "not the connection") {
    val dir = Files.createTempDirectory("graft_utp_secrel").toString + "/store"
    val db = UnitDb.open(spark, dir, secureMode = true)
    val rwKey = db.keyGen("secrel.ok", graft.model.TopicKey.AllowReadWrite)
    val srv = new UtpServer(db, port = 0)
    try {
      val cli = new UtpClient("127.0.0.1", srv.actualPort)
      assert(cli.connect("sec", insecure = false) > 0)
      cli.publish((s"$rwKey/secrel.ok", "kept".getBytes))
      db.sync()
      // an unauthorized relay (no key) is skipped but still acknowledged —
      // the connection survives to serve the authorized request after it
      assert(cli.relay("secrel.ok", "1h").isEmpty)
      val good = cli.relay(s"$rwKey/secrel.ok", "1h")
      assert(good.map(new String(_)) == Seq("kept"))
      cli.ping() // connection demonstrably alive
      cli.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: reliable ids are per-connection sequences (review r10)") {
    // A server-global uint16 sequence would hand different connections
    // interleaved ids and, once wrapped, silently overwrite another
    // connection's still-unpulled held message. Two fresh reliable
    // subscribers must BOTH see their first NOTIFY carry id 1.
    val dir = Files.createTempDirectory("graft_utp_perconn").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      def reliableSub(topic: String): Socket = {
        val s = new Socket("127.0.0.1", srv.actualPort)
        s.getOutputStream.write(C.encodePacket(C.SUBSCRIBE, C.NONE,
          C.encodeSubscribe(C.Subscribe(5, Seq(
            C.Subscription(1, 0, topic))))))
        s.getOutputStream.flush()
        C.readPacket(s.getInputStream) // subscribe ack
        s
      }
      val subA = reliableSub("pc.a")
      val subB = reliableSub("pc.b")
      val pub = new Socket("127.0.0.1", srv.actualPort)
      for (t <- Seq("pc.a", "pc.b")) {
        pub.getOutputStream.write(C.encodePacket(C.PUBLISH, C.NONE,
          C.encodePublish(C.Publish(1, 0, Seq(
            C.PublishMessage(t, s"to-$t".getBytes, ""))))))
        pub.getOutputStream.flush()
        C.readPacket(pub.getInputStream) // publish ack
      }
      val (afh, abody) = C.readPacket(subA.getInputStream).get
      val (bfh, bbody) = C.readPacket(subB.getInputStream).get
      assert(afh.flowControl == C.NOTIFY && bfh.flowControl == C.NOTIFY)
      assert(C.decodeControl(abody).messageId == 1,
        "first NOTIFY on connection A must carry id 1")
      assert(C.decodeControl(bbody).messageId == 1,
        "first NOTIFY on connection B must carry id 1 — ids are " +
          "per-connection, not a shared server sequence")
      Seq(subA, subB, pub).foreach(s => try s.close() catch { case _: Exception => })
    } finally {
      srv.close()
      db.close()
    }
  }

  test("ws: garbage and half-open handshakes drop the connection, not the listener") {
    val dir = Files.createTempDirectory("graft_utp_wsfuzz").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, wsPort = 0)
    try {
      // raw binary garbage, an HTTP request that isn't an upgrade, and
      // a half-open connection (header never finishes) — each must cost
      // only its own connection
      val garbage = new Socket("127.0.0.1", srv.actualWsPort)
      garbage.getOutputStream.write(Array.tabulate[Byte](512)(i => (i * 37).toByte))
      garbage.getOutputStream.flush()
      val nonUpgrade = new Socket("127.0.0.1", srv.actualWsPort)
      nonUpgrade.getOutputStream.write(
        "POST /x HTTP/1.1\r\nHost: h\r\nContent-Length: 0\r\n\r\n".getBytes)
      nonUpgrade.getOutputStream.flush()
      val halfOpen = new Socket("127.0.0.1", srv.actualWsPort)
      halfOpen.getOutputStream.write("GET / HTTP/1.1\r\nHost:".getBytes)
      halfOpen.getOutputStream.flush()
      // a well-formed WS session still works after all three
      val cli = new UtpClient("127.0.0.1", srv.actualWsPort, ws = true)
      assert(cli.connect("post-fuzz") > 0)
      cli.ping()
      cli.close()
      Seq(garbage, nonUpgrade, halfOpen).foreach(s =>
        try s.close() catch { case _: Exception => })
    } finally {
      srv.close()
      db.close()
    }
  }

  test("server: close() releases the WebSocket listener port (review r10)") {
    val dir = Files.createTempDirectory("graft_utp_wsclose").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, wsPort = 0)
    val wsPort = srv.actualWsPort
    assert(wsPort > 0)
    srv.close()
    db.close()
    // the port must be immediately rebindable — a leaked listener throws
    val reuse = new java.net.ServerSocket(wsPort)
    reuse.close()
  }

  test("server: unitdb/clientid mints ids in the reference text form") {
    val dir = Files.createTempDirectory("graft_utp_cid").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      val cli = new UtpClient("127.0.0.1", srv.actualPort)
      val ids = Seq.fill(3)(cli.clientId())
      // 32-byte blob → 52 chars of the custom alphabet (clientid.go:106
      // via encoding/base32.go); decode32 round-trips and ids are unique
      ids.foreach { id =>
        assert(id.length == 52, id)
        assert(graft.model.IdCodec.encode32(
          graft.model.IdCodec.decode32(id)) == id)
      }
      assert(ids.distinct.size == 3)
      cli.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("grpc: a full uTP session runs over the h2c transport") {
    val dir = Files.createTempDirectory("graft_utp_grpc").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, grpcPort = 0)
    try {
      assert(srv.actualGrpcPort > 0)
      val pub = new UtpClient("127.0.0.1", srv.actualGrpcPort, grpc = true)
      val sub = new UtpClient("127.0.0.1", srv.actualGrpcPort, grpc = true)
      assert(pub.connect("grpc-producer") > 0)
      sub.subscribe(("gr.*.x", 0), ("gr.rel", 1))
      pub.publish(("gr.a.x", "hello-grpc".getBytes))
      val d1 = sub.nextDelivery()
      assert(d1.map(_._1) == Seq("gr.a.x") &&
        new String(d1.head._2) == "hello-grpc")
      // reliable handshake (NOTIFY/RECEIVE/RECEIPT/COMPLETE) over h2c
      pub.publish(("gr.rel", "precious-grpc".getBytes))
      val d2 = sub.nextDelivery()
      assert(d2.map(_._1) == Seq("gr.rel") &&
        new String(d2.head._2) == "precious-grpc")
      // RELAY a stored window back over h2c
      val relayed = pub.relay("gr.a.x", "1h")
      assert(relayed.map(new String(_)) == Seq("hello-grpc"))
      // special request over h2c
      assert(pub.varz().get("puts").asLong() == 2L)
      pub.ping()
      // cross-transport fan-out: a TCP publisher reaches the gRPC subscriber
      val tcp = new UtpClient("127.0.0.1", srv.actualPort)
      tcp.publish(("gr.b.x", "tcp-to-grpc".getBytes))
      val d3 = sub.nextDelivery()
      assert(new String(d3.head._2) == "tcp-to-grpc")
      tcp.close(); pub.close(); sub.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("grpc: several rpc streams multiplex one h2 connection") {
    val dir = Files.createTempDirectory("graft_utp_grpcmux").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, grpcPort = 0)
    try {
      val sock = new Socket("127.0.0.1", srv.actualGrpcPort)
      sock.setTcpNoDelay(true)
      sock.getOutputStream.write("PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII"))
      sock.getOutputStream.flush()
      val peer = new H2Framing.H2Peer(sock.getInputStream,
        sock.getOutputStream, isServer = false, (_, _, _) => false)
      peer.sendSettings()
      val t = new Thread(() => peer.serveLoop()); t.setDaemon(true); t.start()
      // two independent uTP sessions over ONE h2 connection — each gets
      // its own serve loop server-side, ids/acks must not cross
      val s1 = peer.openStream(H2Framing.StreamPath, "t")
      val s2 = peer.openStream(H2Framing.StreamPath, "t")
      val streams = Seq(s1, s2).map { case (i, o) =>
        (new H2Framing.GrpcIn(i), new H2Framing.GrpcOut(o))
      }
      for (((in, out), k) <- streams.zipWithIndex) {
        out.write(C.encodePacket(C.PUBLISH, C.NONE,
          C.encodePublish(C.Publish(7 + k, 0, Seq(
            C.PublishMessage(s"mux.$k", s"payload-$k".getBytes, ""))))))
        out.flush()
      }
      // acks come back on the right streams with the right message ids
      for (((in, _), k) <- streams.zipWithIndex) {
        val (fh, body) = C.readPacket(in).get
        assert(fh.msgType == C.PUBLISH && fh.flowControl == C.ACKNOWLEDGE)
        assert(C.decodeControl(body).messageId == 7 + k, s"stream $k ack")
      }
      db.sync()
      assert(new String(db.get(graft.model.Query("mux.0")).head) == "payload-0")
      assert(new String(db.get(graft.model.Query("mux.1")).head) == "payload-1")
      sock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("grpc: server honors an 8-byte stream window, resumes on WINDOW_UPDATE") {
    // A raw frame-level client (no H2Peer — the point is to DENY the
    // automatic replenishment our own client performs) announces
    // INITIAL_WINDOW_SIZE = 8 and sends one PINGREQ. The server's ack is
    // ~15 bytes of gRPC framing, so a spec-compliant sender must split
    // it into ≤8-byte DATA frames and BLOCK between them until the
    // client grants more window — RFC 7540 §6.9 exercised for real, not
    // just parsed.
    val dir = Files.createTempDirectory("graft_utp_flow").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, grpcPort = 0)
    try {
      val sock = new Socket("127.0.0.1", srv.actualGrpcPort)
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(15000)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      def be32(v: Long) = Array(((v >>> 24) & 0xff).toByte,
        ((v >>> 16) & 0xff).toByte, ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
      def frame(tpe: Int, flags: Int, sid: Int, p: Array[Byte]): Unit = {
        out.write(Array(((p.length >>> 16) & 0xff).toByte,
          ((p.length >>> 8) & 0xff).toByte, (p.length & 0xff).toByte,
          tpe.toByte, flags.toByte))
        out.write(be32(sid.toLong)); out.write(p); out.flush()
      }
      def readFrame(): (Int, Int, Int, Array[Byte]) = {
        val h = new Array[Byte](9)
        var off = 0
        while (off < 9) {
          val k = in.read(h, off, 9 - off); assert(k >= 0, "EOF"); off += k
        }
        val len = ((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)
        val p = new Array[Byte](len)
        off = 0
        while (off < len) {
          val k = in.read(p, off, len - off); assert(k >= 0, "EOF"); off += k
        }
        (h(3) & 0xff, h(4) & 0xff,
          (((h(5) & 0x7f) << 24) | ((h(6) & 0xff) << 16) |
            ((h(7) & 0xff) << 8) | (h(8) & 0xff)), p)
      }
      out.write("PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII"))
      // SETTINGS: INITIAL_WINDOW_SIZE (id 4) = 8
      frame(0x4, 0, 0, Array[Byte](0, 4, 0, 0, 0, 8))
      // request headers for the Stream rpc (Netty HPACK encoder)
      val hdrs = new io.netty.handler.codec.http2.DefaultHttp2Headers(false)
      hdrs.method("POST"); hdrs.scheme("http"); hdrs.path(H2Framing.StreamPath)
      hdrs.authority("t"); hdrs.set("content-type", "application/grpc")
      val hbuf = io.netty.buffer.Unpooled.buffer(64)
      new io.netty.handler.codec.http2.DefaultHttp2HeadersEncoder()
        .encodeHeaders(1, hdrs, hbuf)
      val hblock = new Array[Byte](hbuf.readableBytes()); hbuf.readBytes(hblock)
      hbuf.release()
      frame(0x1, 0x4, 1, hblock) // HEADERS + END_HEADERS
      // one gRPC message: [0][len][Packet{data = uTP PINGREQ}]
      val pkt = H2Framing.packetProto(
        C.encodePacket(C.PINGREQ, C.NONE, Array.emptyByteArray))
      frame(0x0, 0, 1, Array[Byte](0) ++ be32(pkt.length.toLong) ++ pkt)
      // drain server frames: grant 8 more bytes after EVERY DATA frame,
      // ack SETTINGS, assemble the ack bytes
      val got = new java.io.ByteArrayOutputStream()
      var dataFrames = 0
      val ackLen = 5 + H2Framing.packetProto(
        C.encodePacket(C.PINGREQ, C.ACKNOWLEDGE,
          C.encodeControl(C.ControlMessage(0, Array.emptyByteArray)))).length
      while (got.size < ackLen) {
        val (tpe, flags, sid, p) = readFrame()
        tpe match {
          case 0x4 if (flags & 0x1) == 0 => frame(0x4, 0x1, 0, Array.emptyByteArray)
          case 0x0 =>
            assert(p.length <= 8,
              s"DATA frame of ${p.length} bytes violates the 8-byte window")
            dataFrames += 1
            got.write(p)
            frame(0x8, 0, 0, be32(8)) // connection window
            frame(0x8, 0, 1, be32(8)) // stream window — the grant it waits on
          case _ => () // SETTINGS ack, response HEADERS, PING...
        }
      }
      assert(dataFrames >= 2, s"expected a split send, got $dataFrames frame(s)")
      val bytes = got.toByteArray
      assert(bytes(0) == 0) // uncompressed gRPC message
      val (fh, _) = C.readPacket(new java.io.ByteArrayInputStream(
        H2Framing.packetData(java.util.Arrays.copyOfRange(bytes, 5, bytes.length)))).get
      assert(fh.msgType == C.PINGREQ && fh.flowControl == C.ACKNOWLEDGE)
      sock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("grpc: stream churn on one connection reaps finished streams (review r11)") {
    val dir = Files.createTempDirectory("graft_utp_churn").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, grpcPort = 0)
    try {
      val sock = new Socket("127.0.0.1", srv.actualGrpcPort)
      sock.setTcpNoDelay(true)
      sock.getOutputStream.write("PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII"))
      sock.getOutputStream.flush()
      val peer = new H2Framing.H2Peer(sock.getInputStream,
        sock.getOutputStream, isServer = false, (_, _, _) => false)
      peer.sendSettings()
      val t = new Thread(() => peer.serveLoop()); t.setDaemon(true); t.start()
      // 20 short sessions on ONE h2 connection: each pings, half-closes,
      // and must leave the stream registry once the server's trailers land
      for (k <- 1 to 20) {
        val (i0, o0) = peer.openStream(H2Framing.StreamPath, "t")
        val (in, out) = (new H2Framing.GrpcIn(i0), new H2Framing.GrpcOut(o0))
        out.write(C.encodePacket(C.PINGREQ, C.NONE, Array.emptyByteArray))
        out.flush()
        val (fh, _) = C.readPacket(in).get
        assert(fh.msgType == C.PINGREQ && fh.flowControl == C.ACKNOWLEDGE, s"session $k")
        out.close() // half-close; server answers trailers
        while (in.read() != -1) () // drain to the trailers' EOF
      }
      // both directions done on every stream — registry must not grow
      // with the churn (a stray in-flight reap is the only slack allowed)
      val deadline = System.nanoTime() + 5000000000L
      while (peer.openStreams > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(peer.openStreams == 0, s"leaked ${peer.openStreams} streams")
      sock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("grpc: an unknown rpc path answers UNIMPLEMENTED trailers, not data") {
    val dir = Files.createTempDirectory("graft_utp_grpc404").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, grpcPort = 0)
    try {
      val sock = new Socket("127.0.0.1", srv.actualGrpcPort)
      sock.getOutputStream.write("PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII"))
      sock.getOutputStream.flush()
      val peer = new H2Framing.H2Peer(sock.getInputStream,
        sock.getOutputStream, isServer = false, (_, _, _) => false)
      peer.sendSettings()
      val t = new Thread(() => peer.serveLoop()); t.setDaemon(true); t.start()
      val (in, _) = peer.openStream("/unitdb.schema.Unitdb/NoSuchRpc", "t")
      // trailers-only refusal: no payload, and the non-OK grpc-status
      // surfaces as an ERROR, never as a clean end-of-stream
      val e = intercept[java.io.IOException](while (in.read() != -1) ())
      assert(e.getMessage.contains("grpc-status 12"), e.getMessage)
      sock.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("grpc: garbage prefaces drop the connection, not the listener") {
    val dir = Files.createTempDirectory("graft_utp_grpcfuzz").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, grpcPort = 0)
    try {
      // a non-h2 peer (wrong preface), an HTTP/1.1 request, and a
      // half-open socket each cost only their own connection
      for (junk <- Seq("NOT-A-PREFACE-AT-ALL-24B!!",
          "GET / HTTP/1.1\r\nHost: x\r\n\r\n")) {
        val s = new Socket("127.0.0.1", srv.actualGrpcPort)
        s.getOutputStream.write(junk.getBytes("US-ASCII"))
        s.getOutputStream.flush()
        s.close()
      }
      val halfOpen = new Socket("127.0.0.1", srv.actualGrpcPort)
      // the listener still serves a well-behaved client afterwards
      val cli = new UtpClient("127.0.0.1", srv.actualGrpcPort, grpc = true)
      assert(cli.connect("survivor") > 0)
      cli.publish(("fz.x", "alive".getBytes))
      cli.ping()
      cli.close()
      halfOpen.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("ws: grpc-web subprotocol is confirmed in the upgrade (reference parity)") {
    val dir = Files.createTempDirectory("graft_utp_grpcweb").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, wsPort = 0)
    try {
      // the reference's grpc-web transport is WS binary frames carrying
      // the raw uTP stream under subprotocol "grpc_web"
      // (hdl_grpc_web.go:91-94); its gorilla client rejects a 101 that
      // doesn't confirm the subprotocol it asked for — clientHandshake
      // enforces that same rejection, so passing proves the echo
      val s = new Socket("127.0.0.1", srv.actualWsPort)
      WsFraming.clientHandshake(s.getInputStream, s.getOutputStream,
        s"127.0.0.1:${srv.actualWsPort}", subprotocol = "grpc_web")
      val (in, out) = WsFraming.wrap(s.getInputStream, s.getOutputStream,
        maskFrames = true)
      out.write(C.encodePacket(C.PINGREQ, C.NONE, Array.emptyByteArray))
      out.flush()
      val (fh, _) = C.readPacket(in).get
      assert(fh.msgType == C.PINGREQ && fh.flowControl == C.ACKNOWLEDGE)
      s.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("ws: mask direction is enforced per RFC 6455 §5.1 (ADVICE r10)") {
    // stream level: a reader expecting masked frames (the server side)
    // must fail on an unmasked one, and vice versa — lenient parsing
    // would let a broken peer limp along here and then break against
    // spec-compliant reference endpoints
    for (sentMasked <- Seq(true, false)) {
      val buf = new java.io.ByteArrayOutputStream()
      new WsFraming.FrameWriter(buf, maskFrames = sentMasked)
        .writeFrame(0x2, "x".getBytes)
      val rIn = new WsFraming.WsInputStream(
        new java.io.ByteArrayInputStream(buf.toByteArray),
        new WsFraming.FrameWriter(new java.io.ByteArrayOutputStream(), false),
        expectMasked = !sentMasked)
      intercept[IllegalArgumentException](rIn.read())
    }
    // live: the server drops a client that sends an UNMASKED data frame
    // instead of answering the uTP packet inside it
    val dir = Files.createTempDirectory("graft_utp_unmask").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0, wsPort = 0)
    try {
      val s = new Socket("127.0.0.1", srv.actualWsPort)
      WsFraming.clientHandshake(s.getInputStream, s.getOutputStream,
        s"127.0.0.1:${srv.actualWsPort}")
      // an unmasked binary frame carrying a well-formed PINGREQ: a
      // lenient server would answer the ping; a compliant one fails the
      // connection without replying
      new WsFraming.FrameWriter(s.getOutputStream, maskFrames = false)
        .writeFrame(0x2, C.encodePacket(C.PINGREQ, C.NONE, Array.emptyByteArray))
      s.setSoTimeout(5000)
      assert(s.getInputStream.read() == -1,
        "server answered an unmasked client frame instead of dropping it")
      s.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("client: varz() throws on an interleaved non-ack frame (ADVICE r10)") {
    // A varz/keygen exchange ends by consuming the publish ack; on a
    // connection that also holds live subscriptions an interleaved
    // delivery could land in that slot. The client must fail loudly
    // rather than silently desynchronize the request/response stream.
    // Hand-rolled one-shot server: answers the varz request correctly,
    // then sends a NOTIFY where the ack belongs.
    val ss = new java.net.ServerSocket(0)
    val srvThread = new Thread(() => {
      val s = ss.accept()
      val in = s.getInputStream
      C.readPacket(in) // the varz request publish
      val out = s.getOutputStream
      out.write(C.encodePacket(C.PUBLISH, C.NONE,
        C.encodePublish(C.Publish(0, 0, Seq(C.PublishMessage(
          "unitdb/varz", """{"status":200}""".getBytes, ""))))))
      // an interleaved NOTIFY instead of the (PUBLISH, ACKNOWLEDGE) ack
      out.write(C.encodePacket(C.PUBLISH, C.NOTIFY,
        C.encodeControl(C.ControlMessage(7, Array.emptyByteArray))))
      out.flush()
      Thread.sleep(2000)
      s.close()
    })
    srvThread.setDaemon(true); srvThread.start()
    val cli = new UtpClient("127.0.0.1", ss.getLocalPort)
    try {
      val e = intercept[IllegalArgumentException](cli.varz())
      assert(e.getMessage.contains("expected publish ack"), e.getMessage)
    } finally {
      cli.close(); ss.close()
    }
  }

  test("server: re-CONNECT replaces a latched Batcher's thresholds (ADVICE r10)") {
    // Batch options used to be latched into the Batcher (and its ticker
    // period) at the FIRST mode-2 delivery; a re-CONNECT with new
    // thresholds was silently ignored for the rest of the connection.
    // Now the retire-and-rebuild on CONNECT (a) flushes what the old
    // batcher buffered, and (b) applies the new thresholds to deliveries
    // after it.
    val dir = Files.createTempDirectory("graft_utp_reconn").toString + "/store"
    val db = UnitDb.open(spark, dir)
    val srv = new UtpServer(db, port = 0)
    try {
      val sub = new UtpClient("127.0.0.1", srv.actualPort)
      // thresholds nothing will cross: 60 s ticker, 1000-message count
      assert(sub.connect("rc", batchDurationMs = 60000,
        batchCountThreshold = 1000) > 0)
      sub.subscribe(("rc.x", 2))
      val pub = new UtpClient("127.0.0.1", srv.actualPort)
      pub.publish(("rc.x", "held".getBytes)) // latches the batcher, buffers
      // re-CONNECT with count threshold 2: must flush the held message...
      assert(sub.connect("rc2", batchDurationMs = 60000,
        batchCountThreshold = 2) > 0)
      val flushed = sub.nextDelivery()
      assert(flushed.map(p => new String(p._2)) == Seq("held"),
        s"retired batcher did not flush: $flushed")
      // ...and the NEW threshold governs from here: the second message
      // crosses count=2 and flushes inline (the old 1000 never would)
      pub.publish(("rc.x", "b1".getBytes))
      pub.publish(("rc.x", "b2".getBytes))
      val got = sub.nextDelivery()
      assert(got.map(p => new String(p._2)) == Seq("b1", "b2"),
        s"new thresholds not applied: $got")
      sub.close(); pub.close()
    } finally {
      srv.close()
      db.close()
    }
  }

  test("tls: full sessions run over the wrapped tcp and ws faces; a " +
      "plaintext intruder drops without killing the listener") {
    // reference parity: WithTLSConfig (server.go:84-88) wraps the same
    // listeners; default stays plaintext. Self-signed material comes from
    // the JDK's own keytool — no fixture files, valid for the test run.
    import scala.sys.process._
    val dir = Files.createTempDirectory("graft_tls")
    val (ksF, certF) = (s"$dir/ks.p12", s"$dir/srv.cer")
    val keytool = System.getProperty("java.home") + "/bin/keytool"
    // SAN iPAddress is what the client's endpoint identification (RFC
    // 6125 rules) matches for an IP target — CN alone no longer counts
    assert(Seq(keytool, "-genkeypair", "-alias", "srv", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", ksF,
      "-storepass", "changeit", "-dname", "CN=127.0.0.1",
      "-ext", "SAN=ip:127.0.0.1",
      "-validity", "2").! == 0, "keytool genkeypair failed")
    assert(Seq(keytool, "-exportcert", "-alias", "srv", "-keystore", ksF,
      "-storepass", "changeit", "-file", certF).! == 0, "exportcert failed")
    val kks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksF)
    try kks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(kks, "changeit".toCharArray)
    val srvCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    srvCtx.init(kmf.getKeyManagers, null, null)
    val cf = java.security.cert.CertificateFactory.getInstance("X.509")
    val cis = new java.io.FileInputStream(certF)
    val cert = try cf.generateCertificate(cis) finally cis.close()
    val tks = java.security.KeyStore.getInstance("PKCS12")
    tks.load(null, null)
    tks.setCertificateEntry("srv", cert)
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(tks)
    val cliCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    cliCtx.init(null, tmf.getTrustManagers, null)

    val store = Files.createTempDirectory("graft_utp_tls").toString + "/store"
    val db = UnitDb.open(spark, store)
    val srv = new UtpServer(db, port = 0, wsPort = 0, tls = Some(srvCtx))
    try {
      // a PLAINTEXT client against the TLS port must fail its handshake
      // (the uTP CONNECT bytes are not a ClientHello) without taking the
      // listener down for the real clients below
      intercept[Exception] {
        val bad = new UtpClient("127.0.0.1", srv.actualPort)
        try bad.connect("intruder") finally bad.close()
      }
      for (overWs <- Seq(false, true)) {
        val port = if (overWs) srv.actualWsPort else srv.actualPort
        val pub = new UtpClient("127.0.0.1", port, ws = overWs,
          tls = Some(cliCtx))
        val sub = new UtpClient("127.0.0.1", port, ws = overWs,
          tls = Some(cliCtx))
        assert(pub.connect(s"tls-pub-$overWs") > 0)
        assert(sub.connect(s"tls-sub-$overWs") > 0)
        sub.subscribe(("tls.a.*", 0))
        pub.publish(("tls.a.x", s"secret-$overWs".getBytes))
        val got = sub.nextDelivery()
        assert(got.map(p => new String(p._2)) == Seq(s"secret-$overWs"),
          s"ws=$overWs delivery: $got")
        sub.close(); pub.close()
      }
    } finally { srv.close(); db.close() }
  }

  test("ws: subprotocol offer split across header lines still confirms (ADVICE r11)") {
    // RFC 7230 §3.2.2 list syntax: two Sec-WebSocket-Protocol lines ≡ one
    // comma-joined line — a gorilla-style strict client offering grpc_web
    // on the SECOND line must still get its confirmation
    val req = "GET / HTTP/1.1\r\nHost: x\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
      "Sec-WebSocket-Version: 13\r\n" +
      "Sec-WebSocket-Protocol: mqtt\r\n" +
      "Sec-WebSocket-Protocol: amqp, grpc_web\r\n\r\n"
    val out = new java.io.ByteArrayOutputStream()
    WsFraming.serverHandshake(
      new java.io.ByteArrayInputStream(req.getBytes("UTF-8")), out)
    val resp = out.toString("UTF-8")
    assert(resp.contains("Sec-WebSocket-Protocol: grpc_web"),
      s"second-line offer not confirmed:\n$resp")
  }

  test("grpc: a sender outrunning the serve thread stalls on the stream " +
      "window, not the heap (ADVICE r11)") {
    // the stream-level WINDOW_UPDATE is deferred until the consumer
    // dequeues — so with the handler parked, a fast peer must stall at
    // the 64 KiB initial window instead of growing the inbound queue
    val ss = new java.net.ServerSocket(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val srvT = new Thread(() => {
      try {
        val s = ss.accept()
        val peer = new H2Framing.H2Peer(
          s.getInputStream, s.getOutputStream, isServer = true,
          (_, h2In, _) => {
            val t = new Thread(() => {
              gate.await()
              val buf = new Array[Byte](8192)
              var n = h2In.read(buf)
              while (n >= 0) { received.addAndGet(n); n = h2In.read(buf) }
            }, "bp-consumer")
            t.setDaemon(true); t.start()
            true
          })
        peer.serveLoop()
      } catch { case _: Exception => () }
    }, "bp-server")
    srvT.setDaemon(true); srvT.start()
    val sock = new java.net.Socket("127.0.0.1", ss.getLocalPort)
    sock.setTcpNoDelay(true)
    try {
      val (_, gout) = H2Framing.clientStream(
        sock.getInputStream, sock.getOutputStream, "t")
      val chunk = new Array[Byte](16 * 1024)
      val flushes = 32 // 512 KiB total, 8× the initial stream window
      val wrote = new java.util.concurrent.atomic.AtomicLong(0)
      val writer = new Thread(() => {
        var i = 0
        while (i < flushes) {
          gout.write(chunk); gout.flush()
          wrote.addAndGet(chunk.length): Unit
          i += 1
        }
      }, "bp-writer")
      writer.setDaemon(true); writer.start()
      Thread.sleep(1500)
      assert(writer.isAlive, "writer finished with the consumer parked")
      val stalled = wrote.get()
      assert(stalled <= 80 * 1024,
        s"wrote $stalled B against a parked consumer — window not enforced")
      gate.countDown()
      writer.join(20000)
      assert(!writer.isAlive, "writer did not resume after the consumer drained")
      // every byte arrives (payload + a few framing bytes per flush)
      val floor = flushes.toLong * chunk.length
      val ceil = flushes.toLong * (chunk.length + 16)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (received.get() < floor && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(200) // no stragglers past the framing allowance
      assert(received.get() >= floor && received.get() <= ceil,
        s"received ${received.get()} B after drain, expected in [$floor, $ceil]")
    } finally { sock.close(); ss.close() }
  }
}
