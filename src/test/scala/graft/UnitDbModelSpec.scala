package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.engine.UnitDb
import graft.model.{Entry, Message, MessageId, Query}

/** Model-based interleaving property (FIXTURES §3): seeded random
  * sequences of put / putEntries / delete / batch / sync / compact /
  * vacuum / get against one store, with event times and TTLs on both
  * sides of the injected clock (and of a UTC midnight). A plain-Scala
  * model — its own matcher, its own liveness rule — predicts every `get`
  * exactly: contract scope, bidirectional wildcards, `?last=` duration
  * and count, newest-first order and the limit clamp; expired and deleted
  * rows never come back. The sequence ends with `count()` against the
  * model's live-row count. */
class UnitDbModelSpec extends SparkSpec {
  import UnitDbModelSpec._

  test("random put/delete/batch/sync/compact/vacuum/get sequences agree with a plain-Scala model") {
    val prop = Prop.forAllNoShrink(opsGen)(ops => { run(ops); true })
    val params = Check.Parameters.default
      .withMinSuccessfulTests(6).withWorkers(1)
      .withInitialSeed(Seed(20231115L))
    val res = Check.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }

  private def run(ops: List[Op]): Unit = {
    val dir = Files.createTempDirectory("graftdb_model").toString + "/store"
    var now = T0
    val db = UnitDb.open(spark, dir, clock = () => now)
    val rows = ArrayBuffer[Row]()
    val deleted = scala.collection.mutable.Set[(Long, Long, String)]()
    var n = 0
    val log = ArrayBuffer[String]()
    def check(cond: Boolean, what: => String): Unit =
      if (!cond) throw new AssertionError(
        s"$what\nafter ops:\n${log.mkString("  ", "\n  ", "")}")

    def entry(p: Put): Entry = {
      n += 1
      val topic = p.topic + (if (p.ttlInTopic) p.ttl.fold("")(t => s"?ttl=${t / 60000}m") else "")
      Entry(topic, s"m$n".getBytes, contract = p.contract,
        ttlMillis = if (p.ttlInTopic) None else p.ttl,
        tsMillis = Some(now - p.ageMs))
    }
    def row(e: Entry, id: Array[Byte]): Row = {
      val ts = e.tsMillis.get
      Row(MessageId.decode(id)._3, e.contract, parse(e.topic).key, ts,
        ttlOf(e).map(ts + _), new String(e.payload))
    }
    def ttlOf(e: Entry): Option[Long] =
      e.ttlMillis.orElse(Option(e.topic.indexOf("?ttl=")).filter(_ >= 0)
        .map(i => e.topic.substring(i + 5).stripSuffix("m").toLong * 60000L))
    def idOf(r: Row): Array[Byte] = MessageId.encode(r.tsMs / 1000, r.contract, r.seq)
    def live(r: Row): Boolean =
      !deleted((r.seq, r.contract, r.key)) && r.expiresMs.forall(_ > now)

    for (op <- ops) {
      log += op.toString
      op match {
        case p: Put =>
          val e = entry(p)
          rows += row(e, db.putEntry(e))
        case PutMany(ps) =>
          val es = ps.map(p => entry(p).withID(db.newID()))
          db.putEntries(es)
          rows ++= es.map(e => row(e, e.id.get))
        case Delete(pick, face, sameTopic) if rows.nonEmpty =>
          val r = rows(pick % rows.size)
          val topic = if (sameTopic) r.key else "zz.q"
          face match {
            case 0 => db.delete(r.seq, topic, r.contract)
            case 1 => db.delete(idOf(r), topic)
            case _ => db.deleteEntry(Entry(topic, Array.emptyByteArray,
              contract = r.contract).withID(idOf(r)))
          }
          deleted += ((r.seq, r.contract, parse(topic).key))
        case _: Delete => ()
        case Batch(ps, dels, abort) =>
          val added = ArrayBuffer[Row]()
          val marks = ArrayBuffer[(Long, Long, String)]()
          val attempt = scala.util.Try(db.batch { b =>
            ps.foreach { p => val e = entry(p); added += row(e, b.putEntry(e)) }
            val pool = rows ++ added
            if (pool.nonEmpty) dels.foreach { d =>
              val r = pool(d % pool.size)
              b.delete(idOf(r), r.key)
              marks += ((r.seq, r.contract, r.key))
            }
            if (abort) throw new RuntimeException("abort")
          })
          check(attempt.isFailure == abort, s"batch outcome $attempt")
          if (!abort) { rows ++= added; deleted ++= marks }
        case Sync => db.sync()
        case Compact => db.compact(minFiles = 2): Unit
        case Vacuum => db.vacuum()
        case Tick(ms) => now += ms
        case Get(pattern, contract, limit) =>
          val got = db.get(Query(pattern, contract, limit)).map(new String(_)).toVector
          val want = expected(rows.filter(live).toSeq, pattern, contract, limit, now)
          check(got == want, s"get $op at now=$now: got $got, want $want")
      }
    }
    // whole-contract reads at the end; the duration windows reach back
    // across midnight into rows stored under the previous day
    for (c <- Contracts; pattern <- Seq("...", "...?last=1h", "...?last=2h", "...?last=3")) {
      val got = db.get(Query(pattern, c)).map(new String(_)).toVector
      val want = expected(rows.filter(live).toSeq, pattern, c, 0, now)
      check(got == want, s"final get $pattern of contract $c: got $got, want $want")
    }
    val liveRows = rows.count(live).toLong
    check(db.count() == liveRows, s"count ${db.count()} != model $liveRows")
    db.close()
  }
}

object UnitDbModelSpec {
  val Tenant = 7L
  val Contracts = Vector(Message.MasterContract, Tenant)
  /** 00:20 UTC: event times and `?last=` windows straddle a midnight, so
    * the cutoff-day partition pruning is exercised too. */
  val T0: Long = java.time.Instant.parse("2023-11-15T00:20:00Z").toEpochMilli
  private val Min = 60000L

  sealed trait Op
  final case class Put(topic: String, contract: Long, ageMs: Long,
      ttl: Option[Long], ttlInTopic: Boolean) extends Op
  final case class PutMany(puts: List[Put]) extends Op
  final case class Delete(pick: Int, face: Int, sameTopic: Boolean) extends Op
  final case class Batch(puts: List[Put], dels: List[Int], abort: Boolean) extends Op
  case object Sync extends Op
  case object Compact extends Op
  case object Vacuum extends Op
  final case class Tick(ms: Long) extends Op
  final case class Get(pattern: String, contract: Long, limit: Int) extends Op

  final case class Row(seq: Long, contract: Long, key: String, tsMs: Long,
      expiresMs: Option[Long], payload: String)

  // ---------------------------------------------------------------- model

  final case class Parsed(key: String, parts: Vector[String], multi: Boolean,
      last: Option[String])

  /** Independent of graft.model.Topic: `a.b...`/`...` are multi-level,
    * `?last=` is the only option a query reads. */
  def parse(topic: String): Parsed = {
    val q = topic.indexOf('?')
    val key = if (q < 0) topic else topic.substring(0, q)
    val last = if (q < 0) None
      else topic.substring(q + 1).split('&').collectFirst {
        case kv if kv.startsWith("last=") => kv.substring(5)
      }
    val multi = key.endsWith("...")
    val body = key.stripSuffix("...").stripSuffix(".")
    Parsed(key, if (body.isEmpty) Vector.empty else body.split('.').toVector, multi, last)
  }

  /** Level-wise match with `*` on either side; unequal depths match only
    * when the shorter side ends in `...`. */
  def matches(a: Parsed, b: Parsed): Boolean =
    a.parts.zip(b.parts).forall { case (x, y) => x == y || x == "*" || y == "*" } && (
      if (a.parts.length == b.parts.length) true
      else if (a.parts.length < b.parts.length) a.multi
      else b.multi)

  def expected(live: Seq[Row], pattern: String, contract: Long, limit: Int,
      now: Long): Vector[String] = {
    val p = parse(pattern)
    val clamp = Query.MaxLimit
    val (cutoff, n) = p.last match {
      case Some(v) if v.endsWith("m") => (now - v.stripSuffix("m").toLong * Min, None)
      case Some(v) if v.endsWith("h") => (now - v.stripSuffix("h").toLong * 60 * Min, None)
      case Some(v) => (Long.MinValue, Some(math.min(v.toInt, clamp)))
      case None => (Long.MinValue, None)
    }
    val lim = n.getOrElse(if (limit <= 0) Query.DefaultLimit else math.min(limit, clamp))
    live.filter(r => r.contract == contract && r.tsMs >= cutoff &&
        matches(parse(r.key), p))
      .sortBy(r => (-r.tsMs, -r.seq))
      .take(lim).map(_.payload).toVector
  }

  // ----------------------------------------------------------- generators

  private val level = Gen.oneOf("a", "b")

  private def topicGen(wildPct: Int): Gen[String] = for {
    depth <- Gen.choose(1, 3)
    parts <- Gen.listOfN(depth, level)
    wild <- Gen.choose(0, 99)
    star <- Gen.choose(0, depth - 1)
    form <- Gen.choose(0, 3)
  } yield
    if (wild >= wildPct) parts.mkString(".")
    else form match {
      case 0 => parts.updated(star, "*").mkString(".")
      case 1 => parts.mkString(".") + "..."
      case 2 => parts.updated(star, "*").mkString(".") + "..."
      case _ => "..."
    }

  private val putGen: Gen[Put] = for {
    topic <- topicGen(wildPct = 20)
    contract <- Gen.frequency(3 -> Message.MasterContract, 1 -> Tenant)
    age <- Gen.oneOf(0L, 5 * Min, 40 * Min, 90 * Min, 180 * Min)
    ttl <- Gen.oneOf(None, Some(10 * Min), Some(60 * Min), Some(240 * Min))
    inTopic <- Gen.oneOf(false, true)
  } yield Put(topic, contract, age, ttl, inTopic)

  private val getGen: Gen[Get] = for {
    topic <- topicGen(wildPct = 40)
    last <- Gen.oneOf("", "?last=30m", "?last=1h", "?last=2h", "?last=2", "?last=5")
    contract <- Gen.frequency(3 -> Message.MasterContract, 1 -> Tenant)
    limit <- Gen.oneOf(0, 1, 3, 200000)
  } yield Get(topic + last, contract, limit)

  private val opGen: Gen[Op] = Gen.frequency(
    6 -> putGen,
    2 -> Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, putGen)).map(PutMany(_)),
    3 -> (for { p <- Gen.choose(0, 999); f <- Gen.choose(0, 2); s <- Gen.frequency(4 -> true, 1 -> false) }
          yield Delete(p, f, s)),
    2 -> (for {
            ps <- Gen.choose(0, 3).flatMap(k => Gen.listOfN(k, putGen))
            ds <- Gen.choose(0, 2).flatMap(k => Gen.listOfN(k, Gen.choose(0, 999)))
            abort <- Gen.frequency(4 -> false, 1 -> true)
          } yield Batch(ps, ds, abort)),
    2 -> Gen.const(Sync),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Vacuum),
    2 -> Gen.choose(0L, 25 * Min).map(Tick(_)),
    5 -> getGen)

  val opsGen: Gen[List[Op]] = Gen.choose(14, 22).flatMap(k => Gen.listOfN(k, opGen))
}
