package perfbench

import scala.collection.mutable

/** Percentiles by linear interpolation between closest ranks. */
object Stats {
  def pct(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toArray.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 0.5)
  def ms(ns: Long): Double = ns / 1e6
}

/** What one run measured. `report` holds every metric the workload
  * defines (printed on the line before the result); the result line
  * carries the end-to-end set (untraced) or the per-layer set (traced). */
final class Result {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def fail(note: String, n: Long = 1): Unit = {
    failed += n
    if (notes.length < 20) notes += note
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
}

/** Process-level counters read from the JVM's own management beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** VmHWM of this process in MB (0 where /proc is unavailable). */
  def rssPeakMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

/** Directory statistics of a store, read from outside the program. */
object StoreFiles {
  import java.nio.file.{Files, Path}
  import scala.jdk.CollectionConverters._

  final case class Layout(dataFiles: Int, filesPerPartitionMax: Int, bytes: Long)

  def layout(root: String): Layout = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) return Layout(0, 0, 0L)
    val files: Seq[Path] = {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }
    val data = files.filter { f =>
      f.getFileName.toString.endsWith(".parquet") &&
        !p.relativize(f).iterator().asScala.exists(_.toString.startsWith("_"))
    }
    val perPart = data.groupBy(_.getParent).values.map(_.size)
    Layout(data.size, if (perPart.isEmpty) 0 else perPart.max,
      files.map(Files.size).sum)
  }
}
