package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The run's own record of its host and JVM, read from /proc and the
  * management beans, so host noise is shown from the run's data. */
object Env {
  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    catch { case _: java.io.IOException => "" }

  /** Aggregate cpu jiffies from /proc/stat: user nice system idle iowait
    * irq softirq steal. */
  def cpuJiffies(): Array[Long] =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong))
      .getOrElse(Array.fill(8)(0L))

  /** Share (%) of cpu time spent in iowait and steal between two samples. */
  def iowaitStealPct(a: Array[Long], b: Array[Long]): (Double, Double) = {
    val d = b.zip(a).map { case (x, y) => x - y }
    val total = d.sum.toDouble
    if (total <= 0) (0.0, 0.0) else (100.0 * d(4) / total, 100.0 * d(7) / total)
  }

  /** Minor page faults of this process so far (/proc/self/stat field 10). */
  def minorFaults(): Long = {
    val s = read("/proc/self/stat")
    val fields = s.substring(s.lastIndexOf(')') + 2).split(" ")
    if (fields.length > 7) fields(7).toLong else 0L
  }

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / 1048576.0

  def loadAvg1(): Double =
    read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
}

/** Minimal JSON rendering for the run record (maps, sequences, strings,
  * numbers, booleans). Non-finite numbers render as null. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
