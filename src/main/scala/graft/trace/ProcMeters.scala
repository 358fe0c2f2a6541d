package graft.trace

/** JVM and box meters: GC and JIT wall, and the machine-wide iowait and
  * steal counters from /proc/stat. [[graft.Bench]] brackets every timed
  * rep with the steal counter.
  */
object ProcMeters {
  /** Cumulative GC wall (ms) across all collectors. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Cumulative GC count across all collectors. */
  def gcCount: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionCount).filter(_ > 0).sum
  }

  /** Cumulative JIT compilation wall (ms); 0 where unsupported. */
  def jitMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else 0L
  }

  /** Box-level (iowait, steal) jiffies from /proc/stat's first line —
    * the two counters a GUEST can read that name machine-wide
    * inflation no process-local meter can see: writeback/disk stalls
    * (iowait) and HOST-level CPU steal on a shared hypervisor (the
    * round-16-named mechanism). (0, 0) off-Linux. USER_HZ is 100 on
    * every mainstream Linux: 1 jiffy = 10 ms. */
  def statJiffies: (Long, Long) = {
    try {
      val l = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      (l(5).toLong, l(8).toLong)
    } catch { case _: Throwable => (0L, 0L) }
  }
}
