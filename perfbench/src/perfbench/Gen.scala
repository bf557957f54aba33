package perfbench

import java.nio.ByteBuffer
import java.util.SplittableRandom

/** One generated message: `idx` is unique within a run and is also written
  * into the first 8 payload bytes, so a payload read back from the store
  * identifies the message it came from. */
final case class Msg(idx: Long, contract: Long, topic: String, tsMs: Long,
    payload: Array[Byte])

/** One generated read: `shape` is an index into [[Gen.Shapes]]. */
final case class Get(shape: Int, contract: Long, topic: String)

/** Seeded IoT traffic model shared by every workload.
  *
  * Four tenant contracts; topics `site<s>.dev<d>.<metric>` (20 sites x 50
  * devices x 5 metrics = 5000 per tenant) with device popularity Zipf
  * skewed; 64-256 byte payloads; timestamps over the 72 h before [[T0]]
  * (several `day` partitions); about 1 % of puts go to wildcard topics so
  * the store's wildcard bucket is not empty. Everything is a pure function
  * of the seed: the program only ever sees the generated values. */
final class Gen(val seed: Long) {
  import Gen._

  val contracts: IndexedSeq[Long] = {
    val r = new SplittableRandom(seed ^ 0x5eed5eedL)
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    while (out.size < Tenants) {
      val c = (r.nextLong() & 0xffffffffL)
      if (c != 0L && c != graft.model.Message.MasterContract) out += c
    }
    out.toIndexedSeq
  }

  /** Device rank -> device id, a seeded permutation per site so the
    * popular devices differ between sites. */
  private val devicePerm: Array[Array[Int]] = {
    val r = new SplittableRandom(seed ^ 0xdec0deL)
    Array.fill(Sites)(shuffle(r, Array.tabulate(Devices)(identity)))
  }

  private def zipfDevice(r: SplittableRandom, site: Int): Int = {
    val u = r.nextDouble() * ZipfCdf(Devices - 1)
    var lo = 0; var hi = Devices - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ZipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    devicePerm(site)(lo)
  }

  /** A random static topic for one tenant, with Zipf-popular devices. */
  def staticTopic(r: SplittableRandom): String = {
    val s = r.nextInt(Sites)
    s"site$s.dev${zipfDevice(r, s)}.${Metrics(r.nextInt(Metrics.length))}"
  }

  /** The topic a put goes to: static, or (1 %) a stored wildcard. */
  def putTopic(r: SplittableRandom): String =
    if (r.nextInt(100) != 0) staticTopic(r)
    else {
      val s = r.nextInt(Sites)
      if (r.nextBoolean()) s"site$s.*.${Metrics(r.nextInt(Metrics.length))}"
      else s"site$s.dev${zipfDevice(r, s)}..."
    }

  def payload(r: SplittableRandom, idx: Long): Array[Byte] = {
    val b = new Array[Byte](64 + r.nextInt(193))
    r.nextBytes(b)
    ByteBuffer.wrap(b).putLong(0, idx)
    b
  }

  /** `n` messages for a preloaded store, idx `0 until n`, timestamps
    * spread over the 72 h before [[T0]] in `batches` consecutive time
    * slices (batch k covers slice k, as a store synced every 72/batches
    * hours would hold them). */
  def preload(n: Int, batches: Int): IndexedSeq[IndexedSeq[Msg]] = {
    val r = new SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
    val per = (n + batches - 1) / batches
    val sliceMs = WindowMs / batches
    (0 until batches).map { b =>
      val from = b * per
      val until = math.min(n, from + per)
      (from until until).map { i =>
        val ts = T0 - WindowMs + b * sliceMs + r.nextLong(sliceMs)
        Msg(i.toLong, contracts(r.nextInt(Tenants)), putTopic(r), ts,
          payload(r, i.toLong))
      }
    }
  }

  /** The `k`-th message of stream `stream` (one stream per writer thread
    * or publisher connection): a pure function of (seed, stream, k), so
    * open-ended writers generate on the fly and stay reproducible. `idx`
    * is `base + k`; `ts` is `tsBase + k` ms. */
  def streamMsg(stream: Int, k: Long, base: Long, tsBase: Long,
      contract: Long): Msg = {
    val r = new SplittableRandom(seed * 1000003L + stream * 7919L + k)
    Msg(base + k, contract, putTopic(r), tsBase + k, payload(r, base + k))
  }

  /** `n` reads for one tenant in fixed shape proportions: each block of
    * [[Shapes]].length reads holds every shape once, in seeded order. */
  def gets(n: Int, contract: Long): IndexedSeq[Get] = {
    val r = new SplittableRandom(seed ^ 0x6e7a11L)
    val k = Shapes.length
    (0 until n by k).flatMap { _ =>
      shuffle(r, Array.tabulate(k)(identity)).toSeq
        .map(shape => Get(shape, contract, queryTopic(r, shape)))
    }.take(n)
  }

  private def queryTopic(r: SplittableRandom, shape: Int): String = {
    val s = r.nextInt(Sites)
    val m = Metrics(r.nextInt(Metrics.length))
    Shapes(shape) match {
      case "static"      => s"site$s.dev${zipfDevice(r, s)}.$m"
      case "static_last_1h" => s"site$s.dev${zipfDevice(r, s)}.$m?last=1h"
      case "static_last_50" => s"site$s.dev${zipfDevice(r, s)}.$m?last=50"
      case "star"        => s"site$s.*.$m"
      case "multi"       => s"site$s..."
    }
  }
}

object Gen {
  /** The store clock: fixed, so every `?last=` cutoff is reproducible. */
  val T0: Long = 1767225600000L // 2026-01-01T00:00:00Z
  val WindowMs: Long = 72L * 3600 * 1000
  val Tenants = 4
  val Sites = 20
  val Devices = 50
  val Metrics: IndexedSeq[String] = Vector("temp", "hum", "volt", "rssi", "co2")
  val Shapes: IndexedSeq[String] =
    Vector("static", "static_last_1h", "static_last_50", "star", "multi")
  def isStaticShape(shape: Int): Boolean = shape < 3
  /** Result limit of every generated read. */
  val Limit = 100

  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(Devices)(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail
  }

  /** Fisher-Yates, in place. */
  def shuffle[A](r: SplittableRandom, a: Array[A]): Array[A] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }

  def idxOf(payload: Array[Byte]): Long = ByteBuffer.wrap(payload).getLong(0)

  /** SHA-256 over a canonical serialization of messages and reads — the
    * generator's determinism check compares these. */
  def digest(msgs: Iterator[Msg], gets: Iterator[Get]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = ByteBuffer.allocate(32)
    msgs.foreach { m =>
      bb.clear(); bb.putLong(m.idx).putLong(m.contract).putLong(m.tsMs)
      md.update(bb.array(), 0, 24)
      md.update(m.topic.getBytes("UTF-8")); md.update(m.payload)
    }
    gets.foreach { g =>
      bb.clear(); bb.putInt(g.shape).putLong(g.contract)
      md.update(bb.array(), 0, 12); md.update(g.topic.getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
