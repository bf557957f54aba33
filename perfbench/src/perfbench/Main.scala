package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, workDir: String, val startNs: Long) {
  val tracer = new Tracer(traced)
  val jobs: Option[JobTrace] =
    if (traced) { val j = new JobTrace; spark.sparkContext.addSparkListener(j); Some(j) }
    else None

  def dir(name: String): String = s"$workDir/$name"

  private var setupNs = 0L
  private var measuredNs = 0L

  /** Marks the end of set-up; `setup_s` runs from process start to here. */
  def setupDone(res: Result): Unit = {
    setupNs = System.nanoTime() - startNs
    res.put("setup_s", setupNs / 1e9, "s")
  }

  /** Runs `body(deadlineNs)` as the measured window and records the JVM's
    * GC and CPU time spent in it. */
  def measure(res: Result)(body: Long => Unit): Unit = {
    val gc0 = Jvm.gcMs; val cpu0 = Jvm.cpuNs
    val t0 = System.nanoTime()
    body(t0 + seconds * 1000000000L)
    measuredNs = System.nanoTime() - t0
    res.put("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble, "ms")
    res.put("jvm.process_cpu_s", (Jvm.cpuNs - cpu0) / 1e9, "s")
  }

  def measuredS: Double = measuredNs / 1e9

  /** The write-path `engine.*` layer metrics: `varz` put and sync
    * latencies plus the executor CPU of jobs tagged `sync`. */
  def writeLayers(res: Result, db: graft.engine.UnitDb): Unit = {
    val v = db.varz()
    res.put("engine.put_us_p50", v.putLatency.p50Us, "us")
    res.put("engine.put_us_p99", v.putLatency.p99Us, "us")
    res.put("engine.sync_ms_p50", v.syncLatency.p50Us / 1000, "ms")
    res.put("engine.sync_ms_max", v.syncLatency.maxUs / 1000, "ms")
    res.put("engine.syncs", v.syncs.toDouble, "count")
    jobs.foreach { j =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      res.put("engine.sync.task_cpu_s", j.get("sync").cpuNs / 1e9, "s")
    }
  }

  /** The workload-independent end-to-end metrics over the workload's
    * foreground operation latencies (ms). */
  def primary(res: Result, latMs: collection.Seq[Double], op: String): Unit = {
    res.put("op_p50_ms", Stats.median(latMs), "ms")
    res.put("op_p95_ms", Stats.pct(latMs, 0.95), "ms")
    res.notes += s"op = $op, ${latMs.length} samples"
  }
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`: runs one workload and prints one JSON object holding
  * every metric it measured plus `attempted`/`failed`. */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "get_mix" -> GetMix.run,
    "wire_ingest" -> WireIngest.run,
    "churn" -> Churn.run,
    "churn_race" -> Churn.runRace)

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = opts("work")
    val spark = graft.GraftSession.builder(Cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", work, startNs)
    val res = run(ctx)
    res.put("rss_peak_mb", Jvm.rssPeakMb, "MB")
    res.put("failed_ratio", res.failed.toDouble / math.max(1L, res.attempted), "ratio")
    if (ctx.traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      ctx.tracer.selfMsByLayer.foreach { case (layer, ms) =>
        res.put(s"trace.self_ms.$layer", ms, "ms")
      }
      res.put("trace.spans", ctx.tracer.count.toDouble, "count")
      ctx.tracer.write(s"$work/spans.jsonl")
    }
    spark.stop()
    println(s"""{"attempted": ${res.attempted}, "failed": ${res.failed}, """ +
      s""""notes": ${res.notes.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""metrics": ${Json.metrics(res.metrics)}}""")
  }

  /** `local[N]`: fixed, so both sides of an A/B run the same parallelism. */
  val Cores = 4
}
