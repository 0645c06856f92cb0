package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Abstract key-value table client — the typed seam for the
  * reference's DynamoDB `batch_write_item` PUT loop
  * (/root/reference/__main__.py:8-24: one RequestItems call per
  * 20-item batch, each item the full document plus an `ID` attribute
  * copied from the id field). A real store (DynamoDB, an HBase/
  * Cassandra table, a REST upsert endpoint) implements `putBatch`;
  * the engine never sees the wire.
  *
  * One client is constructed PER PARTITION on the executor (the
  * factory crosses the closure boundary, the client never does), so
  * implementations may hold sockets/credentials freely.
  */
trait KvClient {

  /** Write a batch of items; each item is a full PUT (overwrite) of
    * its `ID` key. Returns the UNPROCESSED suffix — items the store
    * throttled or rejected transiently — which the sink retries with
    * backoff (DynamoDB's UnprocessedItems contract; the reference
    * ignores that field, a silent-loss bug we do not reproduce).
    */
  def putBatch(items: Seq[Map[String, String]]): Seq[Map[String, String]]

  def close(): Unit = ()
}

/** Distributed KV upsert sink: the `foreachPartition` grouped-batch
  * shape that replaces the reference's serial driver-side loop at
  * scale. Every executor streams its partition through a local
  * client in batches of [[batchSize]] — no collect, no per-item
  * round-trips, and the batch buffer is the only per-task state
  * (constant memory regardless of partition size).
  *
  * KV PUTs are last-write-wins by ARRIVAL, and arrival order across
  * distributed tasks is nondeterministic — so the sink first reduces
  * the frame to one newest row per key ([[LwwSink.reduce]], the same
  * reduce the batch and streaming parquet sinks merge with). After the
  * reduce each key is written exactly once, which also makes re-runs
  * idempotent.
  */
object KvSink {

  /** Reference batch size (__main__.py:62 flushes at 20). */
  val defaultBatchSize = 20

  val maxRetries = 3

  /** Upsert `df` into the KV table behind `clientFor`.
    *
    * @param idField   key column; copied into an extra `ID` attribute
    *                  exactly like the reference item shape
    * @param ts        version column — larger wins the pre-reduce
    * @param tieBreak  deterministic tie-break for equal ts
    * @param clientFor per-partition client factory (Serializable so
    *                  it ships in the task closure)
    */
  def upsert(df: DataFrame, idField: String, ts: String, tieBreak: String,
    clientFor: KvClientFactory, batchSize: Int = defaultBatchSize): Unit = {
    val deduped = LwwSink.reduce(df, Seq(idField), col(ts), col(tieBreak))
    val cols = deduped.columns
    deduped.foreachPartition { rows: Iterator[Row] =>
      val client = clientFor()
      try {
        rows.grouped(batchSize).foreach { group =>
          var batch = group.map(itemOf(cols, idField, _))
          var attempt = 0
          while (batch.nonEmpty) {
            if (attempt > maxRetries)
              sys.error(s"${batch.size} items unprocessed after " +
                s"$maxRetries retries")
            if (attempt > 0) Thread.sleep(backoffMs(attempt))
            batch = client.putBatch(batch).toList
            attempt += 1
          }
        }
      } finally client.close()
    }
  }

  /** Exponential backoff, capped (50ms, 100ms, 200ms, ...). */
  def backoffMs(attempt: Int): Long =
    math.min(50L << (attempt - 1), 1000L)

  /** Row → item map: every non-null column stringified, plus `ID`
    * copied from the id field (reference item shape,
    * __main__.py:16-19). Nulls are omitted — a KV PUT replaces the
    * whole item, so an absent attribute IS the null representation —
    * EXCEPT the id field: a KV item cannot have a null key, and
    * failing with the cause beats a bare key-not-found four retries
    * deep in an executor.
    */
  private[sinks] def itemOf(cols: Array[String], idField: String,
    row: Row): Map[String, String] = {
    val base = cols.iterator.zipWithIndex.collect {
      case (c, i) if !row.isNullAt(i) => c -> row.get(i).toString
    }.toMap
    base.get(idField) match {
      case Some(id) => base + ("ID" -> id)
      case None => sys.error(
        s"KV upsert row has null id field '$idField' — KV keys cannot " +
          "be null; filter or repair upstream")
    }
  }
}

/** Serializable factory — the thing the closure captures. */
trait KvClientFactory extends Serializable {
  def apply(): KvClient
}
