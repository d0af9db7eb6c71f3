package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.schema.{ColumnSpec, CType}
import graft.sources.DetectType

/** Dynamic-schema task orchestration (task/task.go:300-377,
  * output/clickhouse.go:369-460): run the fixed pipeline; after each
  * drained pass, scan the source for keys beyond the current schema; if
  * any, emit `ALTER TABLE ADD COLUMN IF NOT EXISTS` DDL through the
  * sink's DDL hook, extend the column specs, and restart the query so the
  * projection picks the new columns up — the reference's
  * stop → alter → re-init → resume cycle, with Spark's checkpoint
  * replacing the offset bookkeeping (no data loss across the restart).
  */
object DynamicTask {

  /** DDL execution hook — JDBC in production
    * ([[JdbcInsertTarget.executeDdl]]), collected in tests. */
  trait DdlExecutor { def execute(sql: String): Unit }

  final case class Result(cfg: TaskConfig, evolvedKeys: Seq[(String, CType)])

  /** One evolution step over a batch source frame: detect new keys,
    * apply DDL, return the extended config. Used per micro-batch by the
    * runner below and directly by backfills. */
  def evolve(
      cfg: TaskConfig,
      messages: DataFrame,
      ddl: DdlExecutor): Result = {
    val known = cfg.columns.map(_.sourceName).toSet
    val newKeys = SchemaEvolution.scanNewKeys(
      messages, "value", "offset", known, cfg.whiteList, cfg.blackList,
      cfg.parser.timeZone)
    if (newKeys.isEmpty) return Result(cfg, Seq.empty)
    val stmts = SchemaEvolution.alterDdl(
      cfg.tableName, cfg.columns.size, cfg.maxDims, newKeys)
    stmts.foreach(ddl.execute)
    val added = newKeys.take(stmts.size).map { case (k, t) =>
      // evolved columns arrive as Nullable scalars / non-null arrays
      // (output/clickhouse.go:388-430)
      ColumnSpec(k, t, nullable = !t.name.endsWith("Array"), k)
    }
    Result(cfg.copy(columns = cfg.columns ++ added), newKeys)
  }

  /** Signals that a micro-batch carried keys beyond the current schema:
    * the DDL has ALREADY been executed, the batch has NOT been written
    * or committed, and the query must restart with [[result]]'s evolved
    * config so the batch replays under the new projection —
    * task/task.go:364-377's stop → alter → re-init, where aborting the
    * trigger before the offset commit is the "stop". */
  final class SchemaEvolved(val result: Result) extends RuntimeException(
    s"schema evolved by ${result.evolvedKeys.size} column(s): " +
      "restart required")

  /** One streaming leg of the dynamic-schema task: each micro-batch is
    * scanned for new keys BEFORE projection. A batch with none is
    * projected and written; a batch with new keys fires the ALTER DDL
    * and aborts the trigger via [[SchemaEvolved]] WITHOUT committing,
    * so Spark's checkpoint replays it after restart — the reference's
    * restart contract with the offset bookkeeping replaced by the
    * checkpoint. CRASH WINDOW: a process killed between the ALTER and
    * the restart loses only in-memory state; the DDL is
    * `ADD COLUMN IF NOT EXISTS` (idempotent on re-fire) and the
    * uncommitted batch replays from the checkpoint, so recovery may
    * restart from ANY config ≤ the evolved one — even cfg0 — and
    * re-converge without loss or duplication (DynamicTaskSpec pins the
    * replay-after-ALTER-crash path against an idempotent sink). */
  def runStreaming(
      cfg: TaskConfig,
      source: DataFrame,
      sink: BatchSink,
      ddl: DdlExecutor,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery =
    TaskRunner.start(cfg, source, checkpointDir, availableNow) {
      (batch: DataFrame, batchId: Long) =>
        val r = evolve(cfg, batch, ddl)
        if (r.evolvedKeys.nonEmpty) throw new SchemaEvolved(r)
        sink.write(TaskRunner.build(cfg)(batch), batchId)
    }

  /** Walk a terminated query's cause chain for the [[SchemaEvolved]]
    * signal (Spark wraps foreachBatch user exceptions). */
  private def evolvedIn(e: Throwable): Option[SchemaEvolved] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case se: SchemaEvolved => se }

  /** The full dynamic-schema streaming task: run, and on each
    * [[SchemaEvolved]] termination restart from the SAME checkpoint
    * with the evolved config (the aborted batch replays under the new
    * projection). Any other failure propagates. Returns the final
    * config; `maxRestarts` bounds the cycle count the way `maxDims`
    * bounds schema growth. */
  def runDynamic(
      cfg0: TaskConfig,
      mkSource: () => DataFrame,
      sink: BatchSink,
      ddl: DdlExecutor,
      checkpointDir: String,
      maxRestarts: Int = 8): TaskConfig = {
    var cfg = cfg0
    var restarts = 0
    while (restarts <= maxRestarts) {
      val q = runStreaming(cfg, mkSource(), sink, ddl, checkpointDir)
      try { q.awaitTermination(); return cfg }
      catch {
        case e: StreamingQueryException =>
          evolvedIn(e) match {
            case Some(se) => cfg = se.result.cfg; restarts += 1
            case None => throw e
          }
      }
    }
    throw new IllegalStateException(
      s"dynamic task did not converge within $maxRestarts restarts")
  }

  /** Drain-evolve-restart loop for a replayable batch backfill: repeats
    * until a pass adds no columns, then runs the final projection. At
    * most `maxRounds` evolution cycles (schema growth is bounded by
    * maxDims anyway). */
  def backfill(
      spark: SparkSession,
      cfg0: TaskConfig,
      messages: DataFrame,
      sink: BatchSink,
      ddl: DdlExecutor,
      maxRounds: Int = 4): TaskConfig = {
    var cfg = cfg0
    var rounds = 0
    var changed = true
    while (changed && rounds < maxRounds) {
      val r = evolve(cfg, messages, ddl)
      changed = r.cfg.columns.size > cfg.columns.size
      cfg = r.cfg
      rounds += 1
    }
    sink.write(TaskRunner.build(cfg)(messages), 0L)
    cfg
  }
}
