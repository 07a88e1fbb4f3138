package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.ChangeFeed
import graft.sources.StatsIndex

/** Continuous change-data-feed delivery for a VERSIONED table
  * ([[graft.operators.Upsert.mergeIntoVersioned]]): follow the index
  * generations as they commit and deliver each hop's change rows
  * ([[ChangeFeed.between]] — keyed insert/update/delete with
  * before/after values) downstream exactly once.
  *
  * The generation manifest IS the changelog — no extra write-path
  * bookkeeping, no log-shipping: a hop between two committed
  * generations is immutable and recomputable forever (until vacuum
  * retention), so delivery needs only a CURSOR — the last generation
  * whose hop has been handed off — persisted as a tiny file and
  * advanced after each handler returns. Crash between handler and
  * cursor advance ⇒ the hop re-delivers (at-least-once); [[drainTo]]
  * lands each hop under its `_from_gen=N` partition with dynamic
  * overwrite (the [[StreamSink]] discipline keyed by generation instead
  * of batch id), so a replay rewrites exactly its own partition and the
  * OUTPUT is exactly-once.
  *
  * Deployment shape: run [[drain]]/[[drainTo]] on a schedule or from a
  * post-merge hook. Each call costs ∝ the changed slices of the new
  * hops (the [[ChangeFeed]] partition-manifest diff), never the table. */
object ChangeFeedStream {

  /** The delivered-through generation, if a cursor has been written.
    * The cursor is a DIRECTORY of `gen-N` marker files and the cursor
    * value is the max — advancing writes the new marker BEFORE deleting
    * old ones, so no crash point can lose the cursor (a delete+rename
    * or overwrite scheme has a window where the cursor is absent and a
    * restarted follower would re-pin to latest, silently skipping
    * hops); stale markers only make the max redundant, never wrong. */
  def readCursor(spark: SparkSession, cursorPath: String): Option[Long] = {
    val p = new Path(cursorPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("gen-").toLong).toOption)
      .reduceOption(_ max _)
  }

  private def writeCursor(spark: SparkSession, cursorPath: String,
                          gen: Long): Unit = {
    val p = new Path(cursorPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    fs.create(new Path(p, s"gen-$gen"), true).close() // the advance
    // best-effort sweep of superseded markers — failure is harmless
    fs.listStatus(p).foreach { st =>
      scala.util.Try(st.getPath.getName.stripPrefix("gen-").toLong)
        .toOption.filter(_ < gen)
        .foreach(_ => scala.util.Try(fs.delete(st.getPath, false)))
    }
  }

  /** Deliver every hop committed since the cursor, oldest first:
    * `process(fromGen, toGen, changes)` per consecutive complete
    * generation pair, cursor advanced AFTER each handler returns — so a
    * crash mid-drain re-delivers only the unacknowledged hop. A first
    * call with no cursor delivers nothing and registers the LATEST
    * generation (a follower starts from "now"); pass `startAt` to begin
    * from an explicit retained generation instead. Returns the number
    * of hops delivered. */
  def drain(spark: SparkSession, tablePath: String, indexRoot: String,
            keys: Seq[String], partitionCol: String, cursorPath: String,
            startAt: Option[Long] = None)
           (process: (Long, Long, DataFrame) => Unit): Int =
    drainCols(spark, tablePath, indexRoot, keys, Seq(partitionCol),
      cursorPath, startAt)(process)

  /** [[drain]] for a MULTI-LEVEL partition layout (the
    * `(order_date, _batch_id)` landing grain) — hops diff on partition
    * value TUPLES ([[ChangeFeed.betweenCols]]). */
  def drainCols(spark: SparkSession, tablePath: String, indexRoot: String,
                keys: Seq[String], partitionCols: Seq[String],
                cursorPath: String, startAt: Option[Long] = None)
               (process: (Long, Long, DataFrame) => Unit): Int = {
    val gens = StatsIndex.generations(spark, indexRoot)
    if (gens.isEmpty) return 0
    val cursor = readCursor(spark, cursorPath).orElse(startAt) match {
      case Some(c) =>
        require(gens.contains(c),
          s"changefeed cursor $c names a generation no longer retained " +
            s"under $indexRoot (retained: ${gens.mkString(", ")}) — the " +
            "follower fell behind vacuum retention and hops are LOST; " +
            "reseed with startAt from a retained generation")
        c
      case None =>
        writeCursor(spark, cursorPath, gens.last)
        return 0
    }
    val pending = gens.filter(_ > cursor)
    var from = cursor
    var delivered = 0
    pending.foreach { to =>
      process(from, to, ChangeFeed.betweenCols(spark, tablePath, indexRoot,
        from, to, keys, partitionCols))
      writeCursor(spark, cursorPath, to)
      from = to
      delivered += 1
    }
    delivered
  }

  /** [[drain]] composed with [[ChangeFeed.applyChanges]]: follow a
    * versioned table and MATERIALIZE it into a downstream table — the
    * replication loop (lakehouse → serving copy, cross-region replica,
    * a differently-partitioned projection). Each hop applies as an
    * idempotent keyed merge + deletes, so the at-least-once delivery
    * (crash between apply and cursor advance re-delivers the hop)
    * still converges the downstream exactly. Bootstrap: seed the
    * downstream with `ChangeFeed.asOf(<start>)` once, then follow with
    * `startAt = Some(<start>)` — a cursor-less first call would pin
    * "now" and the base state would never flow. Returns hops applied. */
  def replicateTo(spark: SparkSession, tablePath: String, indexRoot: String,
                  keys: Seq[String], partitionCol: String,
                  cursorPath: String, downstreamPath: String,
                  startAt: Option[Long] = None,
                  downstreamStatsPath: Option[String] = None): Int =
    drain(spark, tablePath, indexRoot, keys, partitionCol, cursorPath,
        startAt) { (_, _, changes) =>
      ChangeFeed.applyChanges(changes, downstreamPath, keys, partitionCol,
        downstreamStatsPath)
    }

  /** [[drain]] landed as parquet: each hop's change rows under
    * `_from_gen=N/` with dynamic partition overwrite — replays rewrite
    * exactly their own partition, so downstream readers see each hop
    * once no matter how many times delivery crashes. */
  def drainTo(spark: SparkSession, tablePath: String, indexRoot: String,
              keys: Seq[String], partitionCol: String, cursorPath: String,
              outPath: String, startAt: Option[Long] = None): Int =
    drain(spark, tablePath, indexRoot, keys, partitionCol, cursorPath,
        startAt) { (from, _, changes) =>
      import org.apache.spark.sql.functions.lit
      graft.sources.RawLayer.appendPartitioned(
        changes.withColumn("_from_gen", lit(from)), outPath, Seq("_from_gen"))
    }
}
