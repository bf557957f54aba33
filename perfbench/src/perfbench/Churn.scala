package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable

import graft.engine.UnitDb
import graft.model.{Entry, Query}

/** Mixed load on a preloaded store, four threads:
  *  1. a writer puts [[BatchMsgs]]-message batches at a fixed offered rate
  *     (open loop: each batch is timed from its due time) and asks for a
  *     `sync()` every [[SyncEveryBatches]] batches, run by a sync thread so
  *     the schedule never waits for the disk; `op_p50_ms` is the time from
  *     a batch's due time to the return of the `sync()` that covers it;
  *  2. a deleter tombstones preloaded (durable) messages at a fixed rate;
  *  3. a reader runs `get_mix`'s shapes in a closed loop;
  *  4. a maintenance thread runs `compact()` then `vacuum()` every
  *     [[MaintenanceEveryMs]].
  * `churn` lets maintenance and reads take turns: the store fails a `get`
  * whose scan overlaps a compact/vacuum swap (FILE_NOT_EXIST), so a get
  * started during maintenance waits for it to end, and its latency holds
  * that wait. `churn_race` lets them overlap, so that failure shows.
  * Writes, deletes and syncs race reads in both.
  * At the end the store is synced, closed and reopened, and its live set is
  * compared with the model's. */
object Churn {
  val StoreMsgs = 50000
  val Batches = 5
  val BatchMsgs = 25
  val BatchEveryMs = 50L // 500 msg/s offered
  val SyncEveryBatches = 40 // one sync per 2 s of offered load
  val DeleteEveryMs = 50L // 20 deletes/s
  /** compact + vacuum at 4 s, 12 s, ... into the measured window. */
  val MaintenanceEveryMs = 8000L
  /** A read whose scan lost a file to a concurrent compact/vacuum (only
    * `churn_race` lets them overlap) is retried up to this many times, so
    * that it still gives a latency sample. Every attempt that threw counts
    * as a failed operation. */
  val MaxRetries = 3
  val WarmupGets = 40
  val Checked = 60

  final case class ReadSample(g: Get, got: Vector[Long], ms: Double,
      w0: Int, w1: Int, d0: Int, d1: Int, duringMaintenance: Boolean)

  /** True for the error a read raises when compact/vacuum removed a file
    * its plan had listed. */
  def lostFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException => true
      case t => String.valueOf(t.getMessage).contains("FILE_NOT_EXIST")
    }

  def run(ctx: Ctx): Result = run(ctx, overlapMaintenance = false)

  def runRace(ctx: Ctx): Result = run(ctx, overlapMaintenance = true)

  def run(ctx: Ctx, overlapMaintenance: Boolean): Result = {
    val res = new Result
    val gen = new Gen(ctx.seed)
    val batches = gen.preload(StoreMsgs, Batches)
    val preloaded = batches.flatten
    val db = GetMix.preload(ctx, ctx.dir("store"), batches)
    // seqs of the preloaded messages, read back through the public scan
    val seqOf = mutable.HashMap[Long, Long]()
    gen.contracts.foreach { c =>
      db.scanFrame(Query("...", c)).select("seq", "payload").collect().foreach { r =>
        seqOf(Gen.idxOf(r.getAs[Array[Byte]](1))) = r.getLong(0)
      }
    }
    val deleteOrder =
      Gen.shuffle(new java.util.SplittableRandom(ctx.seed ^ 0xde1e7eL), preloaded.toArray)
    val tenant = gen.contracts(0)
    val gets = gen.gets(4000, tenant)
    val reader = new Reader(ctx.spark, db, ctx.tracer, ctx.jobs)
    Reader.warmup(db, gets.take(WarmupGets), Main.Cores)
    ctx.setupDone(res)

    val written = mutable.ArrayBuffer[Msg]() // in put order
    val putsDone = new AtomicInteger(0)      // messages whose put returned
    val putsStarted = new AtomicInteger(0)
    val delsDone = new AtomicInteger(0)
    val delsStarted = new AtomicInteger(0)
    val maintaining = new AtomicBoolean(false)
    // a fair lock, so maintenance gets its turn between two reads
    val turn = new java.util.concurrent.locks.ReentrantLock(true)
    def inTurn[T](f: => T): T =
      if (overlapMaintenance) f else { turn.lock(); try f finally turn.unlock() }
    val lag = mutable.ArrayBuffer[Double]()
    val durable = mutable.ArrayBuffer[Double]()
    val batchDue = mutable.ArrayBuffer[Long]() // due time per batch
    val syncReq = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val vacuumMs, compactMs, compactParts, vacuumBytes = mutable.ArrayBuffer[Double]()
    val reads = mutable.ArrayBuffer[ReadSample]()
    var getsTried = 0L
    val errors = new AtomicInteger(0)
    def guard(what: String)(f: => Unit): Unit =
      try f catch {
        case e: Exception =>
          errors.incrementAndGet()
          res.synchronized(res.notes += s"$what: $e")
      }

    def thread(name: String, tag: String)(body: => Unit): Thread = {
      val t = new Thread(() => { JobTrace.tag(ctx.spark, tag); body }, s"perfbench-$name")
      t.start(); t
    }

    var firstDue, lastDurable = 0L
    ctx.measure(res) { deadline =>
      val start = System.nanoTime()
      firstDue = start
      val syncer = thread("sync", "sync") {
        var done = false
        while (!done) {
          val upTo: Int = syncReq.take()
          if (upTo < 0) done = true
          else guard("sync") {
            ctx.tracer.span("graft.engine", "sync", upTo.toLong)(db.sync())
            val now = System.nanoTime()
            lastDurable = now
            durable.synchronized {
              (durable.length until upTo).foreach(b => durable += Stats.ms(now - batchDue(b)))
            }
          }
        }
      }
      val writer = thread("writer", "put") {
        var b = 0
        while (System.nanoTime() < deadline) {
          val due = start + b * BatchEveryMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          lag += Stats.ms(System.nanoTime() - due)
          val msgs = (0 until BatchMsgs).map { j =>
            val k = b.toLong * BatchMsgs + j
            gen.streamMsg(0, k, StoreMsgs.toLong, Gen.T0 - 1800000L,
              gen.contracts((k % Gen.Tenants).toInt))
          }
          written.synchronized(written ++= msgs)
          putsStarted.addAndGet(BatchMsgs)
          guard("put") {
            ctx.tracer.span("graft.engine", "put", b.toLong) {
              db.putEntries(msgs.map(m =>
                Entry(m.topic, m.payload, m.contract, tsMillis = Some(m.tsMs))))
            }
          }
          putsDone.addAndGet(BatchMsgs)
          durable.synchronized(batchDue += due)
          b += 1
          if (b % SyncEveryBatches == 0) syncReq.put(b)
        }
        syncReq.put(b)
      }
      val deleter = thread("deleter", "delete") {
        var i = 0
        while (System.nanoTime() < deadline && i < deleteOrder.length) {
          val due = start + i * DeleteEveryMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val m = deleteOrder(i)
          delsStarted.incrementAndGet()
          guard("delete") {
            ctx.tracer.span("graft.engine", "delete", i.toLong)(
              db.delete(seqOf(m.idx), m.topic, m.contract))
          }
          delsDone.incrementAndGet()
          i += 1
        }
      }
      val maint = thread("maintenance", "maintenance") {
        var next = start + MaintenanceEveryMs / 2 * 1000000L
        while (next < deadline) {
          val wait = next - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L)
          maintaining.set(true)
          guard("maintenance") {
            inTurn {
              val t0 = System.nanoTime()
              val parts = ctx.tracer.span("graft.engine", "compact", 0)(db.compact())
              val t1 = System.nanoTime()
              ctx.tracer.span("graft.engine", "vacuum", 0)(db.vacuum())
              val t2 = System.nanoTime()
              compactMs += Stats.ms(t1 - t0); compactParts += parts
              vacuumMs += Stats.ms(t2 - t1)
              if (ctx.traced) vacuumBytes += StoreFiles.layout(ctx.dir("store")).bytes
            }
          }
          maintaining.set(false)
          next += MaintenanceEveryMs * 1000000L
        }
      }
      var i = 0
      while (System.nanoTime() < deadline) {
        val g = gets((WarmupGets + i) % gets.length)
        val w0 = putsDone.get(); val d0 = delsDone.get()
        val m0 = maintaining.get()
        val t = System.nanoTime()
        var got: Option[Vector[Long]] = None
        var left = MaxRetries
        while (got.isEmpty && left >= 0) {
          getsTried += 1
          try got = Some(inTurn(reader.get(g)))
          catch {
            case e: Exception =>
              res.synchronized(res.fail(s"get ${g.topic}: $e"))
              left = if (lostFile(e)) left - 1 else -1
          }
        }
        got.foreach { idxs =>
          reads += ReadSample(g, idxs, Stats.ms(System.nanoTime() - t), w0,
            putsStarted.get(), d0, delsStarted.get(), m0 || maintaining.get())
        }
        i += 1
      }
      writer.join(); deleter.join(); maint.join()
      syncReq.put(-1); syncer.join()
    }
    val written0 = written.toVector
    res.attempted = getsTried + written0.length + delsDone.get() + vacuumMs.length * 2L
    res.failed += errors.get()

    // sampled reads against the model at every admissible interleaving of
    // the writes and deletes that overlapped them
    val preRows = preloaded.map(Model.row).sortWith(Model.newestFirst.lt).groupBy(_.contract)
    val wRows = written0.map(Model.row)
    val deletedIdx = deleteOrder.iterator.take(delsDone.get()).map(_.idx).toVector
    val step = math.max(1, reads.length / Checked)
    reads.indices.by(step).foreach { k =>
      val s = reads(k)
      val p = Model.parse(s.g.topic)
      val pre = preRows.getOrElse(s.g.contract, Vector.empty)
      val fixedW = wRows.take(s.w0).filter(_.contract == s.g.contract)
        .sortWith(Model.newestFirst.lt)
      val maybeW = wRows.slice(s.w0, s.w1)
        .filter(r => r.contract == s.g.contract && Model.matches(r.parsed, p))
      val dead0 = deletedIdx.take(s.d0).toSet
      val maybeD = deleteOrder.slice(s.d0, s.d1).map(_.idx).toVector
      val ok = (0 to maybeW.length).exists { a =>
        val rows = (fixedW ++ maybeW.take(a)).sortWith(Model.newestFirst.lt)
        (0 to maybeD.length).exists { b =>
          val dead = dead0 ++ maybeD.take(b)
          Model.get(s.g, Model.merge(pre, rows), i => !dead(i)) == s.got
        }
      }
      if (!ok) res.fail(s"get ${s.g.topic}: result matches no admissible model state")
    }

    // restart: every acked and synced write is readable, deletes stay deleted
    JobTrace.tag(ctx.spark, "check")
    db.sync()
    val tombRows = if (ctx.traced) db.tombstonesFor().count() else 0L
    if (ctx.traced) ctx.writeLayers(res, db)
    val layout = StoreFiles.layout(ctx.dir("store"))
    db.close()
    val reopened = UnitDb.open(ctx.spark, ctx.dir("store"), clock = () => Gen.T0)
    val dead = deletedIdx.toSet
    val live = (preloaded ++ written0).filterNot(m => dead(m.idx))
    val count = reopened.count()
    if (count != live.length)
      res.fail(s"reopened store counts $count live messages, model ${live.length}")
    val seen = gen.contracts.flatMap { c =>
      reopened.scanFrame(Query("...", c)).select("payload").collect()
        .map(r => Gen.idxOf(r.getAs[Array[Byte]](0)))
    }.toSet
    val want = live.map(_.idx).toSet
    if (seen != want)
      res.fail(s"after restart: ${(want -- seen).size} live messages missing, " +
        s"${(seen -- want).size} deleted or unknown ones present")
    val bytes = reopened.fileSize().toDouble
    val userBytes = live.iterator.map(m => Model.row(m).userBytes).sum.toDouble
    reopened.close()

    val lat = reads.map(_.ms)
    res.put("get_p50_ms", Stats.median(lat), "ms")
    res.put("get_p95_ms", Stats.pct(lat, 0.95), "ms")
    res.put("get_static_p50_ms",
      Stats.median(reads.filter(r => Gen.isStaticShape(r.g.shape)).map(_.ms)), "ms")
    res.put("get_wildcard_p50_ms",
      Stats.median(reads.filterNot(r => Gen.isStaticShape(r.g.shape)).map(_.ms)), "ms")
    res.put("gets", lat.length.toDouble, "count")
    res.put("get_per_s", lat.length / ctx.measuredS, "1/s")
    ctx.primary(res, durable, "write, batch due -> covering sync returned")
    res.put("work_per_s", written0.length / ((lastDurable - firstDue) / 1e9), "1/s")
    res.put("vacuum_s", Stats.median(vacuumMs) / 1000, "s")
    res.put("space_amp", bytes / userBytes, "ratio")
    res.put("bench.gen_lag_ms_p99", Stats.pct(lag, 0.99), "ms")
    if (ctx.traced) {
      reader.layerMetrics(res)
      res.put("engine.data_files", layout.dataFiles, "count")
      res.put("engine.files_per_partition_max", layout.filesPerPartitionMax, "count")
      res.put("engine.tombstone_rows", tombRows.toDouble, "count")
      res.put("engine.compact_ms", Stats.median(compactMs), "ms")
      res.put("engine.compact.partitions", Stats.median(compactParts), "count")
      res.put("engine.get_during_maintenance_p50_ms",
        Stats.median(reads.filter(_.duringMaintenance).map(_.ms)), "ms")
      res.put("engine.vacuum.bytes_rewritten", Stats.median(vacuumBytes), "B")
      res.put("engine.bytes_on_disk", bytes, "B")
    }
    res
  }
}
