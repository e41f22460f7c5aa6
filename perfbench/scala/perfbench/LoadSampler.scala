package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** Co-tenant load sampler. Every `periodMs` it reads the machine's CPU
  * counters (/proc/stat, steal time included: on a VM that is time the
  * host gave to other guests) and this process's own CPU time
  * (/proc/self/stat). `overlap(a, b)` is the share of the machine's CPU
  * capacity that other processes used between two wall-clock instants,
  * so a run under co-tenant load labels itself without a reference
  * calibrated for one core count. */
final class LoadSampler(periodMs: Long = 100L) extends AutoCloseable {
  private final case class Sample(tMs: Long, busy: Long, total: Long, self: Long)

  private val samples = ArrayBuffer.empty[Sample]
  @volatile private var running = true

  private def read(): Sample = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal (guest time is already in user)
    val idle = cpu(3) + cpu(4)
    val total = cpu.take(8).sum
    val self = {
      val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      // fields 14-17 of stat (utime stime cutime cstime), counted after the comm field
      f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong
    }
    Sample(System.currentTimeMillis(), total - idle, total, self)
  }

  private val thread = new Thread(() => {
    while (running) {
      val s = read()
      samples.synchronized(samples += s)
      Thread.sleep(periodMs)
    }
  }, "perfbench-load-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Others' share of machine CPU over [fromMs, toMs], using the samples
    * that bracket the interval; 0 when fewer than two samples exist. */
  def overlap(fromMs: Long, toMs: Long): Double = samples.synchronized {
    val before = samples.lastIndexWhere(_.tMs <= fromMs) max 0
    val after0 = samples.indexWhere(_.tMs >= toMs)
    val after = if (after0 < 0) samples.length - 1 else after0
    if (after <= before) 0.0
    else {
      val (a, b) = (samples(before), samples(after))
      val dt = (b.total - a.total).toDouble
      if (dt <= 0) 0.0 else (((b.busy - a.busy) - (b.self - a.self)) / dt).max(0.0)
    }
  }

  def close(): Unit = {
    running = false
    thread.join(1000)
  }
}
