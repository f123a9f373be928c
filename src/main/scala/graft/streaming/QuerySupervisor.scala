package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import java.util.concurrent.CountDownLatch

/** Self-healing launcher for one streaming query — the reference's
  * supervisor loop (`run_datastream_job.sh:27-59`, cancel → resubmit with
  * retry budget) as a [[StreamingQueryListener]] policy instead of a shell
  * loop around a cluster client.
  *
  * `startQuery` MUST start the query against a fixed `checkpointLocation`:
  * the restart inherits the offset/commit WAL, so a healed run resumes
  * exactly where the failed run stopped (the failed batch redelivers —
  * at-least-once into sinks, no loss; sinks dedupe on `batchId`). That is
  * the Spark-native version of the reference's resubmit-from-state, and
  * it is what the kill/restart cases in StreamingSpec prove.
  *
  * Policy: a termination WITH an exception consumes one restart attempt
  * and schedules `startQuery` after `backoffMs << (attempt-1)` (bounded
  * exponential backoff, off the listener-bus thread so other queries'
  * events are not delayed). A clean stop, an exhausted budget, or a
  * failure to start detaches the listener and latches terminal state. */
final class QuerySupervisor private (
    spark: SparkSession,
    startQuery: () => StreamingQuery,
    maxRestarts: Int,
    backoffMs: Long) {

  @volatile private var current: StreamingQuery = _
  // the query ID is persisted in checkpoint metadata, so it is STABLE
  // across restarts — matching on it (not runId) means a restarted run
  // that dies before `current` is reassigned still gets its termination
  // event counted instead of silently stalling the supervisor
  @volatile private var queryId: java.util.UUID = _
  @volatile private var restartCount = 0
  @volatile private var userStopped = false
  @volatile private var lastError: Option[String] = None
  private val terminal = new CountDownLatch(1)

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      if (queryId == null || e.id != queryId) return // another session query
      lastError = e.exception
      if (userStopped || e.exception.isEmpty) { finish(); return }
      if (restartCount >= maxRestarts) { finish(); return }
      restartCount += 1
      val delay = backoffMs << (restartCount - 1)
      val t = new Thread(() => {
        Thread.sleep(delay)
        if (!userStopped)
          try {
            current = startQuery()
            if (userStopped) current.stop() // stop() raced this restart
          } catch { case ex: Throwable => lastError = Some(ex.toString); finish() }
      }, s"graft-supervisor-restart-$restartCount")
      t.setDaemon(true)
      t.start()
    }
  }

  private def finish(): Unit = {
    spark.streams.removeListener(listener)
    terminal.countDown()
  }

  private def launch(): Unit = {
    spark.streams.addListener(listener)
    try {
      current = startQuery()
      queryId = current.id
    } catch { case ex: Throwable => lastError = Some(ex.toString); finish(); throw ex }
  }

  /** The live run (changes identity across restarts; same query id). A
    * restarted run is registered as active before its start returns, so it
    * is looked up by id rather than read from `current`, which the restart
    * thread assigns only after start returns. */
  def query: StreamingQuery =
    Option(queryId).flatMap(id => Option(spark.streams.get(id))).getOrElse(current)

  /** Restarts consumed so far. */
  def restarts: Int = restartCount

  /** The last run's failure, if any (None after a clean stop). */
  def failure: Option[String] = lastError

  /** True once the supervisor gave up or was stopped. */
  def isTerminal: Boolean = terminal.getCount == 0

  /** Block until the supervisor latches terminal state. */
  def awaitTerminal(timeoutMs: Long): Boolean =
    terminal.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Clean shutdown: no restart is attempted for a user-requested stop. */
  def stop(): Unit = {
    userStopped = true
    // the stop's own termination event may reach the listener only after
    // finish() detached it, so a failure this supervisor healed is cleared
    // here; a terminal failure (budget exhausted) is kept
    if (!isTerminal) lastError = None
    val cur = query
    if (cur != null) cur.stop()
    finish()
  }
}

object QuerySupervisor {
  /** Start `startQuery` under supervision. */
  def supervise(spark: SparkSession, maxRestarts: Int = 3, backoffMs: Long = 1000L)(
      startQuery: () => StreamingQuery): QuerySupervisor = {
    val s = new QuerySupervisor(spark, startQuery, maxRestarts, backoffMs)
    s.launch()
    s
  }
}
