package graft.streaming

import java.sql.{Connection, DriverManager}
import java.util.Properties
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, Semaphore, TimeUnit}

/** Executor-local JDBC connection pool — the Spark-native analog of the
  * reference's per-host connection pool (pool/conn.go; `maxOpenConns`,
  * config/config.go:214-216). Spark executors are long-lived JVMs, so a
  * process-wide pool keyed by (url, props) amortizes connection dialing
  * across micro-batches exactly the way the reference's sinker process
  * holds its pooled conns; per-executor scope mirrors the reference's
  * per-process pools (same posture as [[SinkStats]]).
  *
  * Failure policy matches the reference's reconnect-on-error behavior
  * (output/clickhouse.go:161-194): a connection whose work function
  * throws is closed, never returned to the pool, and the next borrow
  * dials afresh. Who retries depends on the caller: on the streaming
  * path ([[JdbcExactlyOnceSink]]) the throw fails the Spark task and
  * Spark's task retry borrows again; [[RetryingWriter]]'s replica
  * failover runs only where a caller composes it (only specs do today).
  * Idle connections are validity-checked on borrow and re-dialed if
  * stale.
  *
  * Two bounds, mirroring the reference's pool knobs:
  *  - `maxOpenPerTarget` bounds OPEN physical connections per target
  *    (the reference's maxOpenConns): one semaphore permit per open
  *    connection, held while the conn is borrowed OR idle, released only
  *    when the conn is closed. A borrow beyond the bound blocks until a
  *    connection is returned to the idle queue or closed — it never
  *    dials past the cap, so a burst of parallel foreachBatch tasks
  *    cannot overwhelm a small database-side connection limit.
  *  - `maxIdlePerTarget` bounds how many of those stay parked between
  *    borrows; surplus returns close (and free their open-permit).
  *
  * Both are per-executor: a cluster's aggregate open-conn ceiling is
  * `executors × maxOpenPerTarget`, the same multiplication the reference
  * does per sinker process. Nested borrows on one thread each consume a
  * permit — keep nesting depth below `maxOpenPerTarget`.
  */
object ConnectionPool {

  // Idle cap defaults EQUAL to the writer-task width, not Go
  // database/sql's historical 2: a sink driven by N parallel
  // foreachPartition tasks holds N conns borrowed at once, and an idle
  // cap below N closes the surplus on every return — each task then
  // re-DIALS per batch chunk (TCP + auth per micro-batch against a real
  // target; measured as pool churn on the Derby bench row). Open cap
  // above it leaves headroom for nested borrows. Both remain per-target
  // knobs for databases with tight server-side connection limits.
  @volatile var maxIdlePerTarget: Int = 32
  @volatile var maxOpenPerTarget: Int = 64

  private final class Entry(idleCap: Int, openCap: Int) {
    val idle = new ArrayBlockingQueue[Connection](math.max(1, idleCap))
    val open = new Semaphore(math.max(1, openCap))
  }

  private val pools = new ConcurrentHashMap[String, Entry]()

  private def key(url: String, props: Properties): String = {
    import scala.jdk.CollectionConverters._
    val sorted = props.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(";")
    s"$url|$sorted"
  }

  private def isUsable(c: Connection): Boolean =
    try !c.isClosed && c.isValid(1)
    catch { case _: Throwable => false }

  private def closeQuietly(c: Connection): Unit =
    try c.close() catch { case _: Throwable => () }

  /** Close a conn and free its open-permit. */
  private def retire(e: Entry, c: Connection): Unit = {
    closeQuietly(c)
    e.open.release()
  }

  /** Borrow an idle conn or dial a new one, never exceeding the open cap:
    * blocks (polling the idle queue) when the cap is reached until some
    * borrower returns or retires a connection. */
  private def borrow(e: Entry, url: String, props: Properties): Connection = {
    while (true) {
      val idle = e.idle.poll()
      if (idle != null) {
        if (isUsable(idle)) return idle
        retire(e, idle) // stale idle conn: close, freeing its permit
      } else if (e.open.tryAcquire()) {
        try return DriverManager.getConnection(url, props)
        catch { case t: Throwable => e.open.release(); throw t }
      } else {
        // at the open cap with nothing idle: wait for a return/retire
        val waited = e.idle.poll(50, TimeUnit.MILLISECONDS)
        if (waited != null) {
          if (isUsable(waited)) return waited
          retire(e, waited)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Run `f` with a pooled (or freshly dialed) connection. The conn is
    * returned to the pool only on success; on any throw it is closed and
    * the exception propagates to the caller (see the class doc for who
    * retries). */
  def withConnection[T](url: String, props: Properties)(f: Connection => T): T = {
    val e = pools.computeIfAbsent(key(url, props),
      _ => new Entry(maxIdlePerTarget, maxOpenPerTarget))
    val conn = borrow(e, url, props)
    try {
      val out = f(conn)
      if (!e.idle.offer(conn)) retire(e, conn) // idle cap full → surplus closes
      out
    } catch {
      case t: Throwable =>
        retire(e, conn) // suspect after an error — never re-pooled
        throw t
    }
  }

  /** Close and drop every idle pooled connection (tests / shutdown). */
  def drain(): Unit = {
    import scala.jdk.CollectionConverters._
    pools.values().asScala.foreach { e =>
      var c = e.idle.poll()
      while (c != null) { retire(e, c); c = e.idle.poll() }
    }
    pools.clear()
  }
}
