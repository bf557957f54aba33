package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike

/** Spans recorded by the benchmark around each call it makes into a layer.
  * Kept in memory, written out when the run ends. A disabled tracer runs
  * the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, req: Long, layer: String,
      name: String, startNs: Long, endNs: Long)

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[A](layer: String, name: String, req: Long)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val s = System.nanoTime()
      try f
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, req, layer, name, s, System.nanoTime()))
      }
    }

  def count: Int = spans.size

  /** Self time per layer in ms: span duration minus the part of it that
    * its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = coverage(byParent.getOrElse(s.id, Nil), s.startNs, s.endNs)
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  private def coverage(kids: Seq[Span], lo: Long, hi: Long): Long = {
    var covered = 0L; var reach = lo
    kids.map(k => (math.max(lo, k.startNs), math.min(hi, k.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Per-request Spark counters from the listener bus. Jobs are attributed
  * through the `perfbench.req` local property the calling thread sets;
  * stages and tasks through their job. */
final class JobTrace extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var cpuNs, shuffleBytes = 0L
    val taskSpans = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val accs = mutable.HashMap[String, Acc]()
  private val stageReq = mutable.HashMap[Int, String]()

  private def acc(req: String): Acc = accs.getOrElseUpdate(req, new Acc)
  private def reqOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(JobTrace.Prop))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = reqOf(e.properties)
    acc(r).jobs += 1
    e.stageIds.foreach(stageReq(_) = r)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = stageReq.getOrElseUpdate(e.stageInfo.stageId, reqOf(e.properties))
    acc(r).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageReq.getOrElse(e.stageId, "-"))
    a.tasks += 1
    a.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  def get(req: String): Acc = synchronized(accs.getOrElse(req, new Acc))

  /** Wall ms of [lo, hi] (epoch ms) during which no task of `req` ran. */
  def idleMs(req: String, lo: Long, hi: Long): Double = synchronized {
    val spans = accs.get(req).map(_.taskSpans.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(lo, a), math.min(hi, b)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var reach = lo
    spans.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    (hi - lo - covered).toDouble
  }
}

object JobTrace {
  val Prop = "perfbench.req"
  def tag(spark: SparkSession, req: String): Unit =
    spark.sparkContext.setLocalProperty(Prop, req)
}

/** Reads a final physical plan after execution. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
  def broadcasts(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[BroadcastExchangeLike])
  private def scanMetric(p: SparkPlan, key: String): Long =
    nodes(p).collect { case s: FileSourceScanExec =>
      s.metrics.get(key).map(_.value).getOrElse(0L)
    }.sum
  def filesRead(p: SparkPlan): Long = scanMetric(p, "numFiles")
  def rowsScanned(p: SparkPlan): Long = scanMetric(p, "numOutputRows")
}
