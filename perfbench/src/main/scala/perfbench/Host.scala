package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** Process and host readings: CPU, heap after GC, GC time, host noise. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU seconds of the whole JVM process. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** CPU nanoseconds burnt by the benchmark's own broker threads;
   * subtracted from the process CPU so `cpu_s` charges only the program.
   * Each such thread adds its own CPU time when it ends. */
  val ownThreadCpuNs = new AtomicLong(0L)
  def chargeOwnThread(): Unit = {
    val t = threads.getCurrentThreadCpuTime
    if (t > 0) ownThreadCpuNs.addAndGet(t)
  }

  /** CPU seconds of the JIT compiler threads (Linux: the per-thread ticks
   * under /proc/self/task of the threads named "C1/C2 CompilerThread"; the
   * JVM runs with -XX:-UseDynamicNumberOfCompilerThreads so that none of
   * them exits and takes its ticks along). A run ends long before the JVM
   * stops compiling, so this warm-up work is kept out of `cpu_s`. */
  def jitCpuS(): Double =
    try {
      new java.io.File("/proc/self/task").listFiles().iterator.map { t =>
        try {
          val s = scala.io.Source.fromFile(s"${t.getPath}/stat").mkString
          val close = s.lastIndexOf(')')
          val comm = s.substring(s.indexOf('(') + 1, close)
          if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0L
          else { val rest = s.substring(close + 2).split(" "); rest(11).toLong + rest(12).toLong }
        } catch { case _: Throwable => 0L }
      }.sum / 100.0
    } catch { case _: Throwable => 0.0 }

  /** Seconds spent in GC since JVM start, all collectors. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  // Largest heap occupancy seen right after a collection, reset per round.
  private val heapAfterGcPeak = new AtomicLong(0L)
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        heapAfterGcPeak.accumulateAndGet(used, math.max)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }
  def resetHeapPeak(): Unit = heapAfterGcPeak.set(0L)
  /** Peak used heap after GC since the last reset, in MiB. One collection
   * is forced at the end of the round so that a round without a GC still
   * reports its live set. */
  def heapPeakMb(): Double = {
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(heapAfterGcPeak.get, live) / (1024.0 * 1024.0)
  }

  // ——— host noise: load, steal, the busiest other process ———

  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal ticks, total ticks) of the aggregate cpu line of /proc/stat. */
  def stealTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      val v = f.drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else -1L, v.take(8).sum)
    } catch { case _: Throwable => (-1L, -1L) }

  def stealPct(t0: (Long, Long), t1: (Long, Long)): Double =
    if (t0._1 < 0 || t1._1 < 0 || t1._2 <= t0._2) -1.0
    else 100.0 * (t1._1 - t0._1) / (t1._2 - t0._2)

  /** utime+stime ticks of every other process, by pid. */
  def procTicks(): Map[Int, (String, Long)] =
    try {
      val self = ProcessHandle.current().pid().toInt
      new java.io.File("/proc").listFiles().iterator
        .filter(_.getName.forall(_.isDigit))
        .flatMap { f =>
          try {
            val pid = f.getName.toInt
            val s = scala.io.Source.fromFile(s"/proc/$pid/stat").mkString
            val close = s.lastIndexOf(')')
            val comm = s.substring(s.indexOf('(') + 1, close)
            val rest = s.substring(close + 2).split(" ")
            if (pid == self) None else Some(pid -> (comm, rest(11).toLong + rest(12).toLong))
          } catch { case _: Throwable => None }
        }.toMap
    } catch { case _: Throwable => Map.empty }

  /** The other process that used the most CPU between two snapshots:
   * (command, cpu seconds at USER_HZ=100). */
  def topExternal(before: Map[Int, (String, Long)],
                  after: Map[Int, (String, Long)]): (String, Double) =
    after.toSeq.map { case (pid, (comm, t1)) =>
      (comm, (t1 - before.get(pid).map(_._2).getOrElse(0L)) / 100.0)
    }.maxByOption(_._2).getOrElse(("none", 0.0))

  /** Milliseconds for a fixed single-threaded job: 2M dependent random
   * reads of a 32 MiB array. It does not touch the program, so it moves
   * only with the host (CPU clock, cache and memory contention from other
   * tenants): a slow run on a slow host shows here. */
  def probeMs(): Double = {
    val a = Array.tabulate(1 << 23)(i => (i * 2654435761L).toInt)
    def walk(): Int = {
      var x = 1; var i = 0
      while (i < 2000000) { x = a((x ^ i) & ((1 << 23) - 1)) + i; i += 1 }
      x
    }
    walk() // compiled before it is timed
    val t0 = System.nanoTime()
    val x = walk()
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42) System.err.print("")
    ms
  }

  /** A whole-run noise record, started at construction. */
  final class Noise {
    private val steal0 = stealTicks()
    private val procs0 = procTicks()
    private val loadStart = load1()
    private val probeStart = probeMs()
    def json(): String = {
      val (comm, cpu) = topExternal(procs0, procTicks())
      s"""{"load1_start":${Json.num(loadStart)},"load1_end":${Json.num(load1())},""" +
        s""""probe_ms_start":${Json.num(probeStart)},"probe_ms_end":${Json.num(probeMs())},""" +
        s""""steal_pct":${Json.num(stealPct(steal0, stealTicks()))},""" +
        s""""top_external":{"comm":${Json.str(comm)},"cpu_s":${Json.num(cpu)}}}"""
    }
  }
}

/** Tiny JSON writer helpers (no JSON library on the classpath we rely on). */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String =
    if (s == null) "null"
    else s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Order statistics over samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
