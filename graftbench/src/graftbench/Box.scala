package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

import scala.jdk.CollectionConverters._

/** Machine and JVM readings. They are recorded beside the metrics to
  * explain drift and never used to adjust a metric. */
object Box {
  @volatile private var sink = 0L

  /** A fixed pure-JVM integer loop with no engine code: its wall time
    * tracks how fast the box runs right now. Median of three. */
  def calib(): Double = {
    val ts = (1 to 3).map { r =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L + r
      var i = 0
      while (i < 50000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= x >>> 29
        i += 1
      }
      sink += x
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(ts)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else 0L
  }

  /** (iowait, steal) in ms from the first line of /proc/stat, counted
    * in USER_HZ = 100 ticks; (0, 0) where the file is absent. */
  def statMs: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val l = try f.getLines().next().trim.split("\\s+") finally f.close()
      (l(5).toLong * 10, l(8).toLong * 10)
    } catch { case _: Exception => (0L, 0L) }

  /** Heap in use after full collections, in MB. */
  def heapLiveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def files(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(files)

  def bytesUnder(dir: String): Long = files(new File(dir)).map(_.length).sum

  /** fsync every file under `dir`, so set-up writes are on disk before
    * the timed window opens. Returns the ms it took. */
  def syncTree(dir: String): Double = {
    val t0 = System.nanoTime()
    files(new File(dir)).foreach { f =>
      val ch = FileChannel.open(f.toPath, StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    }
    (System.nanoTime() - t0) / 1e6
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Minimal JSON rendering for the report. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
        quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
