package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.UnitDb
import graft.model.Query

object Reader {
  /** Untraced reads of `gets` from `threads` concurrent clients, so the
    * JIT and Spark's planner reach steady state before the measured,
    * single-client window (a single warm-up client needs ~60 reads to
    * level off). */
  def warmup(db: UnitDb, gets: IndexedSeq[Get], threads: Int): Unit = {
    val ts = (0 until threads).map { t =>
      val th = new Thread(() =>
        gets.indices.filter(_ % threads == t).foreach { i =>
          val g = gets(i)
          db.get(Query(g.topic, g.contract, Gen.Limit))
        }, s"perfbench-warmup-$t")
      th.start(); th
    }
    ts.foreach(_.join())
  }
}

/** Timed `UnitDb.get` calls, shared by `get_mix` and `churn`.
  *
  * Untraced, a read is exactly `db.get`. Traced, it is split the way `get`
  * runs it: `getFrame(q).select("payload")` (capture: seqlock capture,
  * listing, logical plan), then `queryExecution.executedPlan` (analysis,
  * optimization, planning), then `collect()` (execution). */
final class Reader(spark: SparkSession, db: UnitDb, tracer: Tracer,
    jobs: Option[JobTrace]) {

  final case class Traced(req: String, captureNs: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, execNs: Long,
      execLoMs: Long, execHiMs: Long, broadcasts: Int, filesRead: Long,
      rowsScanned: Long, returned: Int, static: Boolean)

  private val traced = mutable.ArrayBuffer[Traced]()
  private var n = 0L

  /** Returns the payload idxs read, newest first. */
  def get(g: Get): Vector[Long] = {
    val q = Query(g.topic, g.contract, Gen.Limit)
    n += 1
    if (!tracer.enabled) db.get(q).iterator.map(Gen.idxOf).toVector
    else {
      val req = s"get-${Thread.currentThread().getId}-$n"
      JobTrace.tag(spark, req)
      tracer.span("graft.engine", "get", n) {
        val t0 = System.nanoTime()
        val df = tracer.span("graft.engine", "get.capture", n) {
          db.getFrame(q).select("payload")
        }
        val t1 = System.nanoTime()
        tracer.span("graft.engine", "get.plan", n)(df.queryExecution.executedPlan)
        val lo = System.currentTimeMillis()
        val t2 = System.nanoTime()
        val rows = tracer.span("graft.engine", "get.exec", n)(df.collect())
        val t3 = System.nanoTime()
        val hi = System.currentTimeMillis()
        JobTrace.tag(spark, null)
        val phases = df.queryExecution.tracker.phases
        def phaseMs(k: String): Double =
          phases.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        val plan = df.queryExecution.executedPlan
        synchronized {
          traced += Traced(req, t1 - t0, phaseMs("analysis"),
            phaseMs("optimization"), phaseMs("planning"), t3 - t2, lo, hi,
            Plans.broadcasts(plan), Plans.filesRead(plan),
            Plans.rowsScanned(plan), rows.length, Gen.isStaticShape(g.shape))
        }
        rows.iterator.map(r => Gen.idxOf(r.getAs[Array[Byte]](0))).toVector
      }
    }
  }

  /** The `engine.get.*` per-layer metrics over every traced read. */
  def layerMetrics(res: Result): Unit = {
    val ts = synchronized(traced.toList)
    def med(f: Traced => Double) = Stats.median(ts.map(f))
    val acc = jobs.map(j => ts.map(t => t -> j.get(t.req)).toMap).getOrElse(Map.empty)
    def medJ(f: JobTrace#Acc => Double) =
      Stats.median(ts.flatMap(t => acc.get(t).map(f)))
    res.put("engine.get.capture_ms", med(t => Stats.ms(t.captureNs)), "ms")
    res.put("engine.get.analysis_ms", med(_.analysisMs), "ms")
    res.put("engine.get.optimization_ms", med(_.optimizationMs), "ms")
    res.put("engine.get.planning_ms", med(_.planningMs), "ms")
    res.put("engine.get.exec_ms", med(t => Stats.ms(t.execNs)), "ms")
    res.put("engine.get.idle_ms", Stats.median(ts.flatMap(t =>
      jobs.map(_.idleMs(t.req, t.execLoMs, t.execHiMs)))), "ms")
    res.put("engine.get.jobs", medJ(_.jobs.toDouble), "count")
    res.put("engine.get.stages", medJ(_.stages.toDouble), "count")
    res.put("engine.get.tasks", medJ(_.tasks.toDouble), "count")
    res.put("engine.get.broadcasts", med(_.broadcasts.toDouble), "count")
    res.put("engine.get.shuffle_bytes", medJ(_.shuffleBytes.toDouble), "B")
    res.put("engine.get.files_read", med(_.filesRead.toDouble), "count")
    res.put("engine.get.rows_scanned_per_returned",
      med(t => t.rowsScanned.toDouble / math.max(1, t.returned)), "ratio")
    res.put("engine.get.task_cpu_ms", medJ(_.cpuNs / 1e6), "ms")
    res.put("engine.get.static_broadcasts",
      Stats.median(ts.filter(_.static).map(_.broadcasts.toDouble)), "count")
  }
}
