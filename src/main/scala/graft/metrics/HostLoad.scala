package graft.metrics

import scala.jdk.CollectionConverters._

/**
 * Host contention snapshot shared by the timing harnesses ([[graft.Bench]],
 * [[graft.ScaleReport]]): wall-clock numbers from a contended host do not
 * reflect the build (the r15 bench lesson — a concurrent 32-thread JVM
 * inflates totals 3-6×), so every timing artifact records the start
 * loadavg and the FOREIGN JVM count ([[graft.Bench]] also the busy-CPU
 * share, which its verdict reads). Ancestor JVMs (the sbt process that
 * forked this run) are excluded: they are part of this invocation, not
 * foreign load.
 */
object HostLoad {

  /** (1-minute loadavg, foreign JVM count). */
  def state(): (Double, Int) = {
    val loadavg =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    val lineage = Iterator.iterate(Option(ProcessHandle.current())) {
      _.flatMap(h => Option(h.parent().orElse(null)))
    }.takeWhile(_.isDefined).take(16).flatten.map(_.pid()).toSet
    val otherJvms = ProcessHandle.allProcesses().iterator().asScala.count { p =>
      !lineage.contains(p.pid()) &&
        p.info().command().map[Boolean](_.contains("java")).orElse(false)
    }
    (loadavg, otherJvms)
  }

  /** The r14-judge contention bar: loadavg above 0.15×cores at start, or
    * ANY foreign JVM. */
  def contended(cores: Int, loadavg: Double, otherJvms: Int): Boolean =
    loadavg > 0.15 * cores || otherJvms > 0

  /** Share of the host's CPU time spent busy over one second, from two
    * `/proc/stat` reads: everything but idle and iowait (steal counts as
    * busy — it is time another tenant took). Unlike the 1-minute
    * loadavg, it holds nothing of a burst that ended before the window,
    * so a harness run started right after another does not read the
    * previous run's own load. -1.0 when `/proc/stat` is unreadable. */
  def busyShare(): Double = {
    def ticks(): Option[(Long, Long)] =
      try {
        val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
          .get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
        Some((f.sum, f(3) + f(4)))
      } catch { case _: Exception => None }
    val a = ticks()
    Thread.sleep(1000L)
    (a, ticks()) match {
      case (Some((t0, i0)), Some((t1, i1))) if t1 > t0 =>
        1.0 - (i1 - i0).toDouble / (t1 - t0)
      case _ => -1.0
    }
  }

  /** The start-of-run contention bar on [[busyShare]]: more than 15 % of
    * the host's CPU time busy (the 0.15×cores loadavg bar as a share),
    * or ANY foreign JVM. */
  def busy(share: Double, otherJvms: Int): Boolean =
    share > 0.15 || otherJvms > 0
}
