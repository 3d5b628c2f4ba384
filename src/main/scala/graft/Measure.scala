package graft

/** Shared measurement plumbing for Bench, Profile, JobLedger and the
  * perfbench harness — one definition of the CPU-canary protocol and the
  * listener-bus flush, so a protocol change (or a Spark-version change
  * to the private[spark] listenerBus surface) lands everywhere at once
  * instead of silently diverging across artifact producers. */
object Measure {

  /** How many threads the multi-core canary runs. 8 is enough to sit
    * inside any plausible multi-core frequency/steal regime without
    * saturating the 32-thread box the suite itself needs. */
  val MultiCanaryThreads = 8

  // the shared canary kernel: a fixed 200M-step xorshift loop. One
  // method for both canaries so JIT warms it exactly once per JVM.
  private def xorshiftPass(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }
  // accumulate into a volatile sink so neither canary's loop can be
  // elided; never read except for an impossible-value guard
  @volatile private var sink = 0L

  /** Single-thread CPU canary: the xorshift kernel, timed after one JIT
    * warmup pass. The same commit has measured 11.2 s and 18.3 s suite
    * totals on this box hours apart while the canary moved 2.2 → 3.2 s
    * in step — the ratio against a reference canary normalizes totals
    * across host-speed states the way load_average (runnable queue
    * depth only, no frequency/steal visibility) cannot. */
  def cpuCanary(): Double = {
    sink += xorshiftPass() // JIT warmup
    val t0 = System.nanoTime()
    sink += xorshiftPass()
    val t = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) println("") // keep the loops un-elidable
    t
  }

  /** Multi-core CPU canary: the SAME kernel on [[MultiCanaryThreads]]
    * threads at once; returns the wall-clock for all to finish. The
    * round-15 gap this closes: this box's throttle regime slows
    * multi-core work 1.3–1.7× while the single-thread canary reads only
    * ~1.1× — a suite that runs 32 concurrent tasks needs a canary that
    * exercises concurrency. Reading protocol (BASELINE.md): on a clean
    * host multi ≈ single (idle cores run the kernel at full speed in
    * parallel); multi/single ratios ≫ 1.3 flag a multi-core-only
    * throttle that per-query medians will mirror even when the single
    * canary looks clean. */
  def cpuCanaryMulti(): Double = {
    sink += xorshiftPass() // JIT warmup on the shared kernel
    val acc = new java.util.concurrent.atomic.AtomicLong
    val threads = (1 to MultiCanaryThreads).map { _ =>
      new Thread(() => { acc.addAndGet(xorshiftPass()); () })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t = (System.nanoTime() - t0) / 1e9
    sink += acc.get()
    if (sink == 42L) println("") // keep the loops un-elidable
    t
  }

  /** Both canaries as a (single, multi) pair — the artifact unit every
    * producer ships so host state is attributable per leg. */
  def canaryPair(): (Double, Double) = (cpuCanary(), cpuCanaryMulti())

  /** Spark's listener bus is asynchronous: without a flush, stage events
    * from the last run may not have been delivered when listener counters
    * are read (undercount), and earlier events can land after a reset
    * (overcount). waitUntilEmpty is private[spark], so reach it
    * reflectively; fall back to a generous sleep if the internals move. */
  def flushListenerBus(sc: org.apache.spark.SparkContext): Unit = {
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .map(_.invoke(bus))
        .getOrElse(Thread.sleep(1000))
    } catch { case _: Throwable => Thread.sleep(1000) }
    ()
  }
}
