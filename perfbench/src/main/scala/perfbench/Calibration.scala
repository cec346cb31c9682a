package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

/** How fast the host is right now. A shared host drifts by tens of
  * percent within seconds to minutes, and the drift hits every workload
  * alike, so each run times a fixed probe on all its cores next to each
  * unit of work, and scales that unit's time to the speed at which the
  * probe takes `ReferenceMs`. The probe does the same CPU and cache work on
  * every run and touches no engine code. Before each sample the program's
  * leftover background work is ended or waited out (`quiesce`), so a change
  * that leaves more garbage or more background threads behind cannot slow
  * the probe and so read as faster. The scaling assumes that the measured
  * work is CPU-bound like the probe: a host that is slow on disk or memory
  * but not on CPU is not corrected for.
  */
object Calibration {
  /** The probe's median on an idle 4-core host of the kind the benchmark
    * was written on.
    */
  val ReferenceMs = 100.0

  private val data = Array.tabulate(1 << 19)(i => i * 0x9e3779b9)
  @volatile private var sink = 0
  private val samples = ArrayBuffer.empty[Double]
  /** Wall ms of each quiesce, for the result's host record. */
  val quiesceMs = ArrayBuffer.empty[Double]

  /** Wall ms of the probe: `threads` threads each hash `data` 128 times. */
  private def probe(threads: Int): Double = Util.ms {
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        var h = k
        var r = 0
        while (r < 128) {
          var i = 0
          while (i < data.length) { h = h * 31 + data(i); i += 1 }
          r += 1
        }
        sink += h
      })
      t.start()
      t
    }
    ts.foreach(_.join())
  }._2

  /** Compile the probe before its first recorded sample. */
  def warm(threads: Int): Unit = (1 to 5).foreach(_ => probe(threads))

  /** A full GC, which also ends a concurrent G1 cycle, then a wait of up
    * to 3 s until the whole process (its JIT compiler and GC threads, Spark's
    * ContextCleaner, a stopping session, a streaming trigger) has used at
    * most 15 ms of CPU in 2 windows of 50 ms in a row, under a third of one
    * core. The process CPU clock ticks in 10 ms steps, hence the long
    * windows. An idle streaming query, polling its source, uses about 15 %
    * of one core.
    */
  private def quiesce(): Unit = {
    System.gc()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val end = System.nanoTime() + 3000000000L
    var quiet = 0
    var last = os.getProcessCpuTime
    while (quiet < 2 && System.nanoTime() < end) {
      Thread.sleep(50)
      val now = os.getProcessCpuTime
      quiet = if (now - last <= 15000000L) quiet + 1 else 0
      last = now
    }
  }

  /** Quiesce, then time the probe; returns its ms. */
  def sample(threads: Int): Double = {
    quiesceMs += Util.ms(quiesce())._2
    val t = probe(threads)
    samples += t
    t
  }
  /** `ms` measured while the probe took `probeMs`, at the reference speed. */
  def scale(ms: Double, probeMs: Double): Double = ms * ReferenceMs / probeMs
  def median: Double = Util.median(samples.toSeq)
  def all: Seq[Double] = samples.toSeq
}
