package graft.operators

/** Orchestration semantics WITHOUT a scheduler — the mechanics the
  * reference delegates to Airflow (dags/streaming_pipeline_dag.py:
  * retries, retry_delay, SLA, catchup) as library combinators around
  * any job body, so a plain `main` + cron (or any runner) gets the same
  * guarantees:
  *
  *  - [[withRetries]]: bounded re-attempts with a fixed delay — pair
  *    with this engine's idempotent writers (partition overwrite, batch
  *    ledgers, versioned publish), which make a re-attempt safe by
  *    construction.
  *  - [[runReport]]: attempts + elapsed + SLA verdict, the row a
  *    monitoring table ingests (feed [[graft.monitoring.Alerts]]).
  *  - [[catchup]]: run every not-yet-done logical date in order —
  *    Airflow's catchup=True, where "done" is the engine's own durable
  *    evidence (a partition dir, a batch ledger, a generation meta),
  *    never scheduler state.
  *
  * All driver-side; nothing here touches Spark, which is what makes the
  * combinators composable with every entry point in this library. */
object Orchestrate {

  /** One run's outcome: attempts used, success, wall time, SLA verdict. */
  final case class RunReport(attempts: Int, succeeded: Boolean,
                             elapsedMs: Long, slaMs: Option[Long]) {
    def slaMissed: Boolean = slaMs.exists(_ < elapsedMs)
  }

  /** Run `body` up to `maxAttempts` times, sleeping `delayMs` between
    * attempts; rethrows the LAST failure once attempts are exhausted.
    * Returns (result, attempts used). `sleep` is injectable for tests.
    *
    * Only non-fatal failures are retried: a VirtualMachineError (OOM,
    * stack overflow) means the JVM is compromised — retrying it hides
    * the crash — and an interrupt is a cancellation request, never a
    * transient fault, so it propagates immediately with the thread's
    * interrupt flag restored. */
  def withRetries[T](maxAttempts: Int, delayMs: Long = 0L,
                     sleep: Long => Unit = Thread.sleep)(body: () => T): (T, Int) = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxAttempts) {
      attempt += 1
      try return (body(), attempt)
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case scala.util.control.NonFatal(e) =>
          last = e
          if (attempt < maxAttempts && delayMs > 0) sleep(delayMs)
      }
    }
    throw last
  }

  /** [[withRetries]] plus timing and an SLA verdict; never throws on a
    * NON-FATAL failure — that is reported, not raised, so the caller can
    * alert AND continue with other partitions. Fatal errors and
    * interrupts escape: a report row is no place to bury an OOM. */
  def runReport[T](maxAttempts: Int, delayMs: Long = 0L,
                   slaMs: Option[Long] = None,
                   sleep: Long => Unit = Thread.sleep)
                  (body: () => T): (Option[T], RunReport) = {
    val t0 = System.nanoTime()
    try {
      val (r, n) = withRetries(maxAttempts, delayMs, sleep)(body)
      (Some(r), RunReport(n, succeeded = true,
        (System.nanoTime() - t0) / 1000000L, slaMs))
    } catch { case scala.util.control.NonFatal(_) =>
      (None, RunReport(maxAttempts, succeeded = false,
        (System.nanoTime() - t0) / 1000000L, slaMs))
    }
  }

  /** Catchup: run every logical date not yet `isDone`, in order, each
    * under [[withRetries]]; stops at the first date that still fails
    * (later dates often depend on earlier ones — same as a depends-on-
    * past DAG). Returns the dates actually executed successfully.
    * Idempotence comes from the engine's writers, so re-invoking after
    * a crash re-runs only what is still missing. */
  def catchup(dates: Seq[String], isDone: String => Boolean,
              maxAttempts: Int = 1, delayMs: Long = 0L,
              sleep: Long => Unit = Thread.sleep)
             (run: String => Unit): Seq[String] = {
    val done = scala.collection.mutable.ListBuffer.empty[String]
    dates.filterNot(isDone).foreach { d =>
      try { withRetries(maxAttempts, delayMs, sleep)(() => run(d)); done += d }
      catch { case scala.util.control.NonFatal(_) => return done.toSeq }
    }
    done.toSeq
  }
}
