package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** Exactly-once `foreachBatch` for sinks WITHOUT built-in transactionality
  * (JDBC, key-value stores, external APIs).
  *
  * Structured Streaming's own file/Kafka sinks are already exactly-once via
  * the sink commit log (CheckpointRecoverySpec exercises that path); but
  * `foreachBatch` bodies run with at-least-once semantics — after a failure
  * between the body and the checkpoint commit, the SAME (batchId, data) is
  * re-executed on restart. The standard fix is the idempotence ledger this
  * helper implements: a durable marker per committed batch id, written
  * AFTER the body succeeds, checked BEFORE the body runs. Re-delivery of a
  * committed batch becomes a no-op; a crash mid-body leaves no marker, so
  * the retry re-runs the body (the body itself must therefore be
  * idempotent per batch — e.g. an overwrite-by-batch-id write, a keyed
  * upsert — which is exactly the contract `foreachBatch` sinks need anyway).
  *
  * The ledger lives on the same fault-tolerant storage as the checkpoint
  * (any Hadoop-API filesystem) and is written through the session's
  * checkpoint file manager, like the checkpoint itself. One tiny file per
  * batch, O(1) lookup by name; Spark runs `foreachBatch` bodies serially per
  * query, so there is no concurrent-marker race within a query.
  */
object IdempotentForeachBatch {

  /** Wrap a batch body with the committed-batch ledger at `ledgerDir`.
    * Usage: `stream.writeStream.foreachBatch(IdempotentForeachBatch.once(dir)(body))`.
    */
  def once(ledgerDir: String)(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      val spark = df.sparkSession
      val dir = new Path(ledgerDir)
      val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
      val marker = new Path(dir, f"committed-$batchId%020d")
      if (!fm.exists(marker)) {
        body(df, batchId)
        fm.mkdirs(dir)
        fm.createAtomic(marker, overwriteIfPossible = false).close()
      }
  }
}
