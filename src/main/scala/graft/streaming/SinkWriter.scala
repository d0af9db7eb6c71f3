package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}

/** Sink machinery (SURVEY §2.5): bulk insert with bad-row quarantine
  * (output/clickhouse_util.go:45-87) and retry + replica failover
  * (output/clickhouse.go:161-194, pool/conn.go:75-126).
  *
  * The orchestration logic is target-agnostic so it can be pinned by
  * tests without a database; [[JdbcInsertTarget]] is the real JDBC
  * implementation of the same trait.
  *
  * [[QuarantineWriter]] and [[RetryingWriter]] are not on the streaming
  * path: [[JdbcExactlyOnceSink]] calls [[JdbcInsertTarget.replaceSlice]]
  * directly, so a task running it never quarantines a bad row or
  * rotates replicas — a failing slice fails the Spark task, and Spark's
  * task retry replaces the slice. Only specs call the two writers today,
  * so [[SinkStats]]' `FlushMsgsErrorTotal` and `ClickHouseReconnectTotal`
  * stay 0 on a streaming task. [[JdbcInsertTarget]]'s `insertBatch` and
  * `insertRow` are reached only through [[QuarantineWriter]], so only
  * specs reach them too.
  */
trait InsertTarget {
  /** Insert a whole batch transactionally; throw on failure. */
  def insertBatch(rows: Seq[Row]): Unit
  /** Insert one row; throw on failure (quarantine probe). */
  def insertRow(row: Row): Unit
}

/** Connection-level failure: the target is unreachable, not the data.
  * Quarantine must not swallow these — they trigger the retry/failover
  * path instead (the reference rotates replicas only on connection-class
  * errors 242/319/1000, output/clickhouse.go:48,161-194). */
final class SinkUnavailableException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** Process-wide sink counters named after the reference's Prometheus
  * metrics (statistics/statistics.go:93-120): `FlushMsgsErrorTotal`
  * (rows [[QuarantineWriter]] quarantined) and `ClickHouseReconnectTotal`
  * (replica rotations by [[RetryingWriter]]); neither writer runs under
  * [[JdbcExactlyOnceSink]], so both stay 0 there. Per-JVM scope — in local mode that is the whole engine;
  * on a cluster each executor's counters feed its metrics sink the way
  * each sinker process feeds its own pushgateway. */
object SinkStats {
  private val counters =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  def add(name: String, n: Long): Unit =
    counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.LongAdder).add(n)

  def get(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def snapshot: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  def reset(): Unit = counters.clear()
}

/** One write attempt with bad-row quarantine: try the whole batch; on
  * failure, probe row-by-row, collect the failing rows, and re-insert
  * everything else. Returns the quarantined rows (counted as parse
  * errors by the reference, clickhouse_util.go:82-87).
  */
object QuarantineWriter {
  def write(target: InsertTarget, rows: Seq[Row]): Seq[Row] = {
    try {
      target.insertBatch(rows)
      Seq.empty
    } catch {
      case e: SinkUnavailableException => throw e // failover, not data
      case _: Exception =>
        val bad = Seq.newBuilder[Row]
        rows.foreach { r =>
          try target.insertRow(r)
          catch {
            case e: SinkUnavailableException => throw e
            case _: Exception => bad += r
          }
        }
        // rollback semantics: per-row probes above double as the re-insert
        val quarantined = bad.result()
        SinkStats.add("FlushMsgsErrorTotal", quarantined.size.toLong)
        quarantined
    }
  }
}

/** Replica failover state (pool/conn.go:75-126): rotate to the next
  * replica on connection-level failure, with a version guard so concurrent
  * writers don't thunder through the whole list. */
final class ReplicaRing(n: Int) {
  require(n > 0)
  @volatile private var current = 0
  @volatile private var version = 0

  // synchronized with nextGoodReplica: two separate volatile reads could
  // interleave with a rotation and pair the OLD replica with the NEW
  // version, defeating the guard (the stale writer would rotate again
  // past the healthy replica)
  def get: (Int, Int) = synchronized { (current, version) }

  /** Advance only if the caller saw the current version (version-guarded
    * reconnect, pool/conn.go:98-112). Returns the replica to use next. */
  def nextGoodReplica(seenVersion: Int): Int = synchronized {
    if (seenVersion == version) {
      current = (current + 1) % n
      version += 1
    }
    current
  }
}

/** Retry loop over replicas: `retryTimes <= 0` means retry forever
  * (output/clickhouse.go:161-194; the reference sleeps 10s between
  * attempts — configurable here so tests run instantly). */
object RetryingWriter {
  def write(
      targets: IndexedSeq[InsertTarget],
      ring: ReplicaRing,
      rows: Seq[Row],
      retryTimes: Int = 3,
      sleepMs: Long = 0L): Seq[Row] = {
    var attempt = 0
    while (true) {
      val (replica, version) = ring.get
      try {
        return QuarantineWriter.write(targets(replica), rows)
      } catch {
        case e: Exception =>
          attempt += 1
          if (retryTimes > 0 && attempt >= retryTimes) throw e
          ring.nextGoodReplica(version)
          SinkStats.add("ClickHouseReconnectTotal", 1L)
          if (sleepMs > 0) Thread.sleep(sleepMs)
      }
    }
    Nil // unreachable
  }
}

/** Real JDBC bulk target: prepared multi-row INSERT per batch. Schema
  * discovery via JDBC metadata (clickhouse_util.go:95-121's analog) and
  * `ALTER TABLE` DDL execution for schema evolution live here too.
  */
final class JdbcInsertTarget(
    url: String,
    table: String,
    columns: Seq[String],
    props: java.util.Properties) extends InsertTarget {

  // pooled per executor JVM — see ConnectionPool (reference: pool/conn.go).
  // Connection-class failures are mapped to SinkUnavailableException so
  // the quarantine layer (which treats exceptions as DATA errors) never
  // swallows an outage: failing to BORROW a connection is unavailability
  // by definition, and in-use SQLException subtypes that signal a dead
  // connection (non-transient/transient-connection, recoverable,
  // timeout) are the JDBC analog of the reference's connection-class
  // codes 242/319/1000 (output/clickhouse.go:48).
  private def withConn[T](f: java.sql.Connection => T): T = {
    var borrowed = false
    try ConnectionPool.withConnection(url, props) { c => borrowed = true; f(c) }
    catch {
      case e: SinkUnavailableException => throw e
      case e: Exception if !borrowed =>
        throw new SinkUnavailableException(s"cannot obtain connection to $url", e)
      case e: java.sql.SQLNonTransientConnectionException =>
        throw new SinkUnavailableException(s"connection lost: ${e.getMessage}", e)
      case e: java.sql.SQLTransientConnectionException =>
        throw new SinkUnavailableException(s"connection lost: ${e.getMessage}", e)
      case e: java.sql.SQLRecoverableException =>
        throw new SinkUnavailableException(s"connection lost: ${e.getMessage}", e)
      case e: java.sql.SQLTimeoutException =>
        throw new SinkUnavailableException(s"sink timeout: ${e.getMessage}", e)
    }
  }

  private val insertSql =
    s"INSERT INTO $table (${columns.mkString(", ")}) VALUES (${columns.map(_ => "?").mkString(", ")})"

  private def bind(st: java.sql.PreparedStatement, row: Row): Unit = {
    var i = 0
    while (i < columns.length) {
      st.setObject(i + 1, row.get(i))
      i += 1
    }
  }

  // Statement shape is the plain one-row-per-batch-entry prepared batch
  // DELIBERATELY (r20 A/B on the bench's Derby row, 200k rows × 2 passes):
  // a multi-row VALUES rewrite (the MySQL rewriteBatchedStatements trick,
  // 100 rows/statement) measured 3.30-3.68 s vs 3.01 s for this form —
  // Derby plans a row-value-constructor list like a UNION. The row's
  // ceiling is the target's write concurrency, not our statement count:
  // raw-JDBC floor on this host = 114k rows/s at ONE writer degrading to
  // 60k at 32 (lock-manager contention; the reference's own
  // defaultMaxOpenConns is 1, config.go:173) — cap writers via
  // ConnectionPool.maxOpenPerTarget per deployment when the target is a
  // contention-bound row store.
  override def insertBatch(rows: Seq[Row]): Unit = withConn { conn =>
    conn.setAutoCommit(false)
    val st = conn.prepareStatement(insertSql)
    try {
      rows.foreach { r => bind(st, r); st.addBatch() }
      st.executeBatch()
      conn.commit()
    } catch {
      case e: Exception => conn.rollback(); throw e
    } finally {
      st.close()
      // restore session state before the conn re-pools: insertRow and
      // executeDdl rely on autoCommit=true — without this reset their
      // writes on a recycled conn would sit uncommitted and be silently
      // rolled back by a later borrower's rollback() or close
      conn.setAutoCommit(true)
    }
  }

  override def insertRow(row: Row): Unit = withConn { conn =>
    val st = conn.prepareStatement(insertSql)
    try { bind(st, row); st.executeUpdate() } finally st.close()
  }

  /** Exactly-once slice replacement: transactionally DELETE the
    * `(batch_id, part_id)` slice and re-INSERT it. The two provenance
    * columns pin each row to the micro-batch and task partition that
    * produced it, so BOTH failure modes of the at-least-once path heal
    * themselves: a micro-batch replayed after a crash-before-checkpoint
    * re-runs every partition and each partition replaces its own slice,
    * and a retried TASK (Spark re-runs failed tasks within a batch)
    * replaces only its slice without touching sibling partitions. This
    * is the JDBC analog of [[IdempotentParquetSink]]'s per-batch
    * overwrite and of the reference's ReplacingMergeTree keying
    * (docs/dev/design.md:6-13) — dedup keyed on write provenance, done
    * at write time instead of merge time. At scale the DELETE is an
    * index probe on (batch_id, part_id), not a table scan — the DDL
    * helper creates that index with the table.
    */
  def replaceSlice(
      rows: Seq[Row], batchId: Long, partId: Int,
      batchCol: String = "batch_id", partCol: String = "part_id"): Unit =
    withConn { conn =>
      conn.setAutoCommit(false)
      val del = conn.prepareStatement(
        s"DELETE FROM $table WHERE $batchCol = ? AND $partCol = ?")
      val allCols = columns ++ Seq(batchCol, partCol)
      val ins = conn.prepareStatement(
        s"INSERT INTO $table (${allCols.mkString(", ")}) VALUES (${allCols.map(_ => "?").mkString(", ")})")
      try {
        del.setLong(1, batchId); del.setInt(2, partId); del.executeUpdate()
        rows.foreach { r =>
          bind(ins, r)
          ins.setLong(columns.length + 1, batchId)
          ins.setInt(columns.length + 2, partId)
          ins.addBatch()
        }
        ins.executeBatch()
        conn.commit()
      } catch {
        // rollback restores the PREVIOUS slice: a slice is never half-new
        case e: Exception => conn.rollback(); throw e
      } finally {
        del.close(); ins.close()
        conn.setAutoCommit(true)
      }
    }

  /** Discover target columns (name → ClickHouse-ish type string) via JDBC
    * metadata — the `system.columns` analog. */
  def discoverSchema(): Seq[(String, String)] = withConn { conn =>
    val rs = conn.getMetaData.getColumns(null, null, table, null)
    val out = Seq.newBuilder[(String, String)]
    while (rs.next()) out += ((rs.getString("COLUMN_NAME"), rs.getString("TYPE_NAME")))
    out.result()
  }

  def executeDdl(sql: String): Unit = withConn { conn =>
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }
}

/** Batch sink abstraction used by the streaming task runner's
  * `foreachBatch` — parquet for tests/lakes, JDBC for databases. */
trait BatchSink extends Serializable {
  def write(batch: DataFrame, batchId: Long): Unit
}

final class ParquetSink(path: String) extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("append").parquet(path)
}

/** Replay-idempotent parquet sink: each micro-batch lands in its own
  * `batch_id=<id>` partition directory with overwrite, so a batch
  * re-delivered after a crash replaces itself instead of duplicating —
  * the parquet-side analog of the reference's effectively-once
  * ReplacingMergeTree keying (docs/dev/design.md:6-13). */
final class IdempotentParquetSink(path: String) extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
}

/** Exactly-once JDBC sink: every partition of every micro-batch lands
  * via [[JdbcInsertTarget.replaceSlice]], so replays (batch OR task
  * level) replace rather than append — `foreachBatch` + this sink is
  * effectively-once end to end without any post-hoc merge. The target
  * table needs the two provenance columns and, for probe-cost deletes
  * at scale, an index on them ([[JdbcExactlyOnceSink.ddlSuffix]]).
  * Connection state stays executor-local: the sink object is a small
  * serializable recipe, the pool lives per executor JVM.
  *
  * It calls `replaceSlice` directly, without [[QuarantineWriter]] or
  * [[RetryingWriter]]: a poison row or an unreachable target fails the
  * whole slice and its task, nothing is quarantined, no replica is
  * rotated, and the [[SinkStats]] counters are not touched. Recovery is
  * Spark's task retry (and, past its limit, a failed query restarted
  * from the checkpoint), which replays the slice. */
final class JdbcExactlyOnceSink(
    url: String, table: String, columns: Seq[String],
    propsMap: Map[String, String] = Map.empty) extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val (u, t, cols, pm) = (url, table, columns, propsMap) // don't capture `this`
    batch.selectExpr(cols: _*).foreachPartition {
      (it: Iterator[Row]) =>
        val props = new java.util.Properties()
        pm.foreach { case (k, v) => props.setProperty(k, v) }
        val target = new JdbcInsertTarget(u, t, cols, props)
        target.replaceSlice(it.toSeq, batchId,
          org.apache.spark.TaskContext.getPartitionId())
    }
  }
}

object JdbcExactlyOnceSink {
  /** Provenance columns + index the target table must carry. */
  def ddlSuffix(table: String): Seq[String] = Seq(
    s"ALTER TABLE $table ADD COLUMN batch_id BIGINT",
    s"ALTER TABLE $table ADD COLUMN part_id INT",
    s"CREATE INDEX ${table}_slice_idx ON $table (batch_id, part_id)")
}

/** Default batch→shard routing (SURVEY §2.4 B3, output/clickhouse.go:167):
  * `shard = batchId % numShards` — deterministic batch identity keeps
  * replays landing on the same endpoint. */
final class BatchRoutedSink(delegates: IndexedSeq[BatchSink]) extends BatchSink {
  require(delegates.nonEmpty)
  override def write(batch: DataFrame, batchId: Long): Unit =
    delegates((batchId % delegates.size).toInt).write(batch, batchId)
}
