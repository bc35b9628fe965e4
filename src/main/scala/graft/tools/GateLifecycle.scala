package graft.tools

/** Gate-scaffolding time accumulator for the bench: composition and
  * streaming gates spend much of their wall clock on lifecycle — child-JVM
  * boot (c15's crash-forge), streaming-query startup/checkpoint-recovery/
  * trigger-polling/teardown (every `runner.run` with a stream inside:
  * q58–q65, c14/c15-class), gate preamble setup — not on query plans.
  * The child-JVM spawn records here explicitly (Extras c15), the gate
  * preamble via [[timed]], and every run-to-completion stream in
  * [[graft.exec.StreamTuning.run]], which [[drainSec]] drains alongside.
  * [[graft.Bench]] drains the accumulator around every timed execution
  * and reports `plan_cost` (total minus scaffolding) beside `total` in the
  * contract line — so a lifecycle-heavy gate cannot mask a real engine
  * drift, and a lifecycle drift cannot masquerade as one. Thread-safe;
  * nanos internally so concurrent adds never lose fractions. */
object GateLifecycle {
  private val acc = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Record `sec` seconds of gate scaffolding (JVM spawn, session boot). */
  def add(sec: Double): Unit = { acc.addAndGet((sec * 1e9).toLong); () }
  /** Return and reset the accumulated seconds, stream lifecycle included. */
  def drainSec(): Double =
    acc.getAndSet(0L) / 1e9 + graft.exec.StreamTuning.drainLifecycleSec()

  /** Time `body` (gate preamble work: temp-warehouse dirs, store/runner
    * construction) and record its whole wall as scaffolding. */
  def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add((System.nanoTime() - t0) / 1e9)
  }
}
