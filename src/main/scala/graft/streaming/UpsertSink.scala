package graft.streaming

import java.sql.{Connection, DriverManager, PreparedStatement}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row}

/** Idempotent upsert sinks — the Spark form of the reference's X1–X3
  * sink family (SURVEY.md §2).
  *
  * The reference's most elaborate code is a 274-line write-ahead sink
  * that buffers rows per checkpoint and publishes on
  * `notifyCheckpointComplete` (sink/SinkDataApiTumbling.java:88–194).
  * Under Structured Streaming that machinery is engine-provided:
  * `foreachBatch` runs under the streaming commit log, replayed batches
  * re-run with the same epochId, and **idempotent upsert keyed on the
  * window key makes replays harmless** — exactly-once to the target
  * without a WAL. The upsert key (key, window_start, window_end)
  * matches the reference's `tumbling_pkey` (reference README.MD:88).
  *
  * Two executing backends:
  *  - [[InMemoryStore]] — a keyed KV map for tests and local demos;
  *  - [[jdbcForeachBatchUpsert]] — a real JDBC writer (executeBatch
  *    from foreachPartition, one transaction per statement batch),
  *    exercised against embedded Derby in JdbcUpsertSpec. Databases
  *    with native upsert run the single-statement [[upsertSql]] text
  *    (the reference's `INSERT … ON CONFLICT` form); the generic path
  *    issues DELETE-keys + INSERT in one transaction, which has the
  *    same converged semantics on any JDBC target.
  */
object UpsertSink {

  /** SQL identifiers are interpolated into statement text, so they must
    * be plain identifiers — anything else (quotes, spaces, semicolons)
    * is rejected rather than spliced (injection guard for
    * config-sourced table/column names). */
  private[streaming] def checkIdent(name: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"illegal SQL identifier: '$name'")
    name
  }

  /** Tiny keyed KV store standing in for the external database in tests
    * and local demos (local mode = executors share the JVM). Thread-safe:
    * partition tasks write concurrently.
    */
  object InMemoryStore {
    private val tables = TrieMap[String, TrieMap[Seq[Any], Seq[Any]]]()
    def upsert(table: String, key: Seq[Any], value: Seq[Any]): Unit =
      tables.getOrElseUpdate(table, TrieMap.empty).put(key, value)
    def snapshot(table: String): Map[Seq[Any], Seq[Any]] =
      tables.getOrElse(table, TrieMap.empty).toMap
    def size(table: String): Int = tables.get(table).map(_.size).getOrElse(0)
    def clear(table: String): Unit = tables.remove(table)
  }

  /** `foreachBatch` body: executor-side, partition-parallel upsert
    * into [[InMemoryStore]] (a later row with the same key wins).
    *
    * Usage:
    * {{{
    * df.writeStream.outputMode("update")
    *   .foreachBatch(UpsertSink.foreachBatchUpsert("tumbling", Seq("key", "window_start", "window_end")) _)
    *   .option("checkpointLocation", dir).start()
    * }}}
    */
  def foreachBatchUpsert(table: String, keyCols: Seq[String])(
      df: DataFrame, epochId: Long): Unit = {
    val cols = df.columns.toSeq
    val keyIdx = keyCols.map(cols.indexOf)
    require(keyIdx.forall(_ >= 0), s"key columns $keyCols not all in $cols")
    df.foreachPartition { rows: Iterator[Row] =>
      rows.foreach(r => InMemoryStore.upsert(table, keyIdx.map(r.get), r.toSeq.map(identity)))
    }
  }

  /** SQL text for databases with native upsert — the reference's
    * `INSERT … ON CONFLICT … DO UPDATE` built by String.format
    * (sink/SinkDataApiSingle.java:56–60), parameterized instead of
    * string-spliced, identifiers validated instead of trusted.
    */
  def upsertSql(table: String, cols: Seq[String], keyCols: Seq[String]): String = {
    (table +: (cols ++ keyCols)).foreach(checkIdent)
    val updates = cols.filterNot(keyCols.contains).map(c => s"$c = EXCLUDED.$c")
    val conflictAction =
      if (updates.isEmpty) "DO NOTHING" // all columns are key columns
      else s"DO UPDATE SET ${updates.mkString(", ")}"
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keyCols.mkString(", ")}) $conflictAction"
  }

  /** Generic-dialect upsert as a DELETE-keys + INSERT pair. Executed in
    * one transaction per statement batch, this converges to the same
    * state as a native upsert on any JDBC database (Derby, for one, has
    * no ON CONFLICT). */
  private[streaming] def deleteSql(table: String, keyCols: Seq[String]): String = {
    (table +: keyCols).foreach(checkIdent)
    s"DELETE FROM $table WHERE ${keyCols.map(k => s"$k = ?").mkString(" AND ")}"
  }

  private[streaming] def insertSql(table: String, cols: Seq[String]): String = {
    (table +: cols).foreach(checkIdent)
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
  }

  /** Rows per JDBC statement batch (one transaction each). */
  private val JdbcBatchRows = 500

  /** The executing JDBC sink: `foreachBatch` body writing through
    * standard `addBatch`/`executeBatch` from `foreachPartition` — the
    * Spark form of the reference's batched Data-API sink
    * (sink/SinkDataApiBatch.java:61–78, `BatchExecuteStatement` of
    * buffered rows per threshold).
    *
    *  - one connection per partition task, opened executor-side (the
    *    url string is the only thing serialized into the closure);
    *  - per batch of `JdbcBatchRows` rows: DELETE all keys, INSERT
    *    all rows, then COMMIT — the delete+insert pair is atomic, so a
    *    replayed epoch (same engine commit-log semantics as
    *    foreachBatchUpsert) rewrites identical rows instead of
    *    duplicating them: exactly-once to the table;
    *  - rows sharing a key within one statement batch collapse to the
    *    last one, which is what a row-by-row upsert leaves behind (the
    *    sliding jobs emit one row per tied peer, all with the same
    *    (key, ts) and the same count).
    *
    * Usage (Derby in-memory for tests; any JDBC url in production):
    * {{{
    * df.writeStream.outputMode("update")
    *   .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(url, "tumbling",
    *     Seq("key", "window_start", "window_end")) _)
    *   .option("checkpointLocation", dir).start()
    * }}}
    */
  def jdbcForeachBatchUpsert(url: String, table: String, keyCols: Seq[String])(
      df: DataFrame, epochId: Long): Unit = {
    val cols = df.columns.toSeq
    val keyIdx = keyCols.map(cols.indexOf)
    require(keyIdx.forall(_ >= 0), s"key columns $keyCols not all in $cols")
    val del = deleteSql(table, keyCols)
    val ins = insertSql(table, cols)
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val conn: Connection = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val delSt: PreparedStatement = conn.prepareStatement(del)
          val insSt: PreparedStatement = conn.prepareStatement(ins)
          try {
            rows.grouped(JdbcBatchRows).foreach { batch =>
              batch.map(r => keyIdx.map(r.get) -> r).toMap.values.foreach { r =>
                keyIdx.zipWithIndex.foreach { case (ki, p) => delSt.setObject(p + 1, r.get(ki)) }
                delSt.addBatch()
                cols.indices.foreach(i => insSt.setObject(i + 1, r.get(i)))
                insSt.addBatch()
              }
              delSt.executeBatch()
              insSt.executeBatch()
              conn.commit()
            }
          } finally {
            delSt.close()
            insSt.close()
          }
        } catch {
          case t: Throwable => try conn.rollback() finally (); throw t
        } finally conn.close()
      }
    }
  }
}
