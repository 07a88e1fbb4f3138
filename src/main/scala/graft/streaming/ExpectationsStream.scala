package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize
import graft.operators.Expectations

/** Continuous data-quality gating — [[graft.operators.Expectations]] run
  * per micro-batch: every batch's `(check, violations, pass)` report
  * lands under its own `_batch_id` partition (dynamic overwrite — replay
  * REPLACES, the [[StreamSink]] discipline), so the report stream is an
  * auditable history of every batch's contract, including the
  * baseline-relative drift checks (a `Materialized` baseline is a static
  * relation, legal inside `foreachBatch`; a `Slice` baseline is a slice
  * of the micro-batch itself).
  *
  * With `gate = true` a red batch THROWS inside `foreachBatch` and fails
  * the streaming query — the stream-native `requirePass`: offsets for
  * the failing batch are never committed, so a restart REPLAYS it (and
  * re-gates it) rather than skipping bad data past the contract. The
  * report is written BEFORE the gate fires — the audit trail survives
  * the stop, which is the point of having one.
  */
object ExpectationsStream {

  /** One micro-batch: evaluate, land the report, then gate. Exposed for
    * direct replay testing. */
  def applyBatch(batch: DataFrame, batchId: Long,
                 checks: Seq[Expectations.Check], reportPath: String,
                 gate: Boolean): Unit = {
    // one evaluation feeds both the sink and the gate
    val report = Materialize.pin(Expectations.run(batch, checks))
    StreamSink.writeBatch(report, batchId, reportPath)
    if (gate) Expectations.requirePass(report)
  }

  def run(stream: DataFrame, checks: Seq[Expectations.Check],
          reportPath: String, checkpointDir: String,
          gate: Boolean = true): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, checks, reportPath, gate)
      }
      .start()
}
