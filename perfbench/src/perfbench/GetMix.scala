package perfbench

import scala.collection.mutable

import graft.engine.UnitDb
import graft.model.Entry

/** Read-only closed loop: one client calls `UnitDb.get` (limit 100, one
  * tenant) on a preloaded store, cycling five query shapes in fixed
  * proportions. No deletes, no expiry. */
object GetMix {
  val StoreMsgs = 100000
  val Batches = 5
  val WarmupGets = 40
  /** How many reads are compared with the model (spread over the run). */
  val Checked = 100

  /** Loads `batches` into a fresh store at `path`, one `sync` per batch. */
  def preload(ctx: Ctx, path: String, batches: IndexedSeq[IndexedSeq[Msg]]): UnitDb = {
    val db = UnitDb.open(ctx.spark, path, clock = () => Gen.T0)
    batches.foreach { b =>
      db.putEntries(b.map(m => Entry(m.topic, m.payload, m.contract, tsMillis = Some(m.tsMs))))
      db.sync()
    }
    db
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val gen = new Gen(ctx.seed)
    val batches = gen.preload(StoreMsgs, Batches)
    val db = preload(ctx, ctx.dir("store"), batches)
    val tenant = gen.contracts(0)
    val gets = gen.gets(4000, tenant)
    val reader = new Reader(ctx.spark, db, ctx.tracer, ctx.jobs)
    Reader.warmup(db, gets.take(WarmupGets), Main.Cores)
    ctx.setupDone(res)

    val lat = mutable.ArrayBuffer[(Int, Double)]()
    val results = mutable.ArrayBuffer[(Get, Vector[Long])]()
    ctx.measure(res) { deadline =>
      var i = 0
      while (System.nanoTime() < deadline) {
        val g = gets((WarmupGets + i) % gets.length)
        res.attempted += 1
        val t = System.nanoTime()
        try {
          val idxs = reader.get(g)
          lat += ((g.shape, Stats.ms(System.nanoTime() - t)))
          results += ((g, idxs))
        } catch { case e: Exception => res.fail(s"get ${g.topic}: $e") }
        i += 1
      }
    }

    // correctness: a spread sample of reads against the plain-Scala model
    val rows = batches.flatten.map(Model.row).sortWith(Model.newestFirst.lt)
      .groupBy(_.contract)
    val step = math.max(1, results.length / Checked)
    results.indices.by(step).foreach { k =>
      val (g, got) = results(k)
      val want = Model.get(g, rows.getOrElse(g.contract, Vector.empty).iterator, _ => true)
      if (got != want)
        res.fail(s"get ${g.topic}: ${got.length} rows differ from model's ${want.length}")
    }

    val all = lat.map(_._2)
    res.put("get_static_p50_ms",
      Stats.median(lat.collect { case (s, v) if Gen.isStaticShape(s) => v }), "ms")
    res.put("get_wildcard_p50_ms",
      Stats.median(lat.collect { case (s, v) if !Gen.isStaticShape(s) => v }), "ms")
    res.put("gets", all.length.toDouble, "count")
    ctx.primary(res, all, "get")
    res.put("work_per_s", all.length / ctx.measuredS, "1/s")
    if (ctx.traced) {
      reader.layerMetrics(res)
      val l = StoreFiles.layout(ctx.dir("store"))
      res.put("engine.data_files", l.dataFiles, "count")
      res.put("engine.files_per_partition_max", l.filesPerPartitionMax, "count")
      res.put("engine.bytes_on_disk", db.fileSize().toDouble, "B")
    }
    db.close()
    res
  }
}
