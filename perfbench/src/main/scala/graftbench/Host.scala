package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host state recorded in every artifact, and the cool-down gate. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadavg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (total, idle + iowait, steal) jiffies from the first line of /proc/stat. */
  private def cpuJiffies(): Option[(Long, Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      if (f.length >= 8) Some((f.sum, f(3) + f(4), f(7))) else None
    } catch { case _: Throwable => None }

  /** Busy cores (non-idle share × nproc) and steal % over a short window. */
  def sample(windowMs: Long = 1000): (Double, Double) = {
    val a = cpuJiffies()
    Thread.sleep(windowMs)
    val b = cpuJiffies()
    (a, b) match {
      case (Some((t0, i0, s0)), Some((t1, i1, s1))) if t1 > t0 =>
        val dt = (t1 - t0).toDouble
        ((1.0 - (i1 - i0) / dt) * nproc, 100.0 * (s1 - s0) / dt)
      case _ => (0.0, 0.0)
    }
  }

  /** Load gate in busy cores, scaled with the core count: a quarter of the
    * box may be busy with other work before the run waits. */
  def loadGate: Double = 0.25 * nproc
  val StealGate = 5.0

  /** Waits, at most `maxSecs`, until the box is quiet. The gate reads
    * busy cores over one second rather than the one-minute loadavg, which
    * still carries the previous run of this benchmark long after it ended.
    * Returns the seconds waited and the final (busy cores, steal %). */
  def cooldown(maxSecs: Double): (Double, Double, Double) = {
    val t0 = System.nanoTime()
    var (busy, steal) = sample(500)
    def waited = (System.nanoTime() - t0) / 1e9
    while ((busy >= loadGate || steal >= StealGate) && waited < maxSecs) {
      val s = sample(); busy = s._1; steal = s._2
    }
    (waited, busy, steal)
  }

  def snapshot(): Map[String, Any] = {
    val (busy, steal) = sample(250)
    Map("loadavg" -> loadavg, "busy_cores" -> busy, "steal_pct" -> steal)
  }

  def versions: Map[String, Any] = Map(
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "nproc" -> nproc,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
}

/** Tracks the largest heap occupancy seen right after a garbage
  * collection: retained memory, not garbage. Young collections leave
  * uncollected old-generation garbage in place, so only full collections
  * (including the ones [[settle]] forces between measured passes) count. */
object Heap {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peakB = 0.0
  @volatile private var installed = false
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (!info.getGcAction.contains("minor")) {
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (after > peakB) peakB = after.toDouble
        }
      }
  }

  def install(): Unit = synchronized {
    if (!installed) {
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ =>
      }
      installed = true
    }
  }

  /** Forces a full collection and records the heap left after it. */
  def settle(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
    if (used > peakB) peakB = used
  }

  def reset(): Unit = peakB = 0.0
  def peakMb: Double = peakB / 1048576.0
}
