package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Upsert

/** Versioned stats generations ([[StatsIndex.saveGeneration]] /
  * [[Upsert.mergeIntoVersioned]] / [[IndexedScan.readIndexedVersioned]]):
  * the publish-window reader race of the in-place flow must be gone — a
  * reader pinned to generation N reads OLD data consistently through and
  * after a concurrent merge, commit is the atomic generation flip, and
  * vacuum closes the retention loop. */
class VersionedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame) = df
    .select(col("order_id").cast("long"), col("day").cast("string"),
      col("amount").cast("double"))
    .as[(Long, String, Double)].collect().toSet

  private val base = Set(
    (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
    (3L, "2024-01-02", 30.0), (4L, "2024-01-03", 40.0))

  test("bootstrap, snapshot-isolated reader through a concurrent merge, atomic flip, vacuum retention") {
    val root = Files.createTempDirectory("graft-videx").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")

    // bootstrap: first merge lands generation 1
    val g1 = Upsert.mergeIntoVersioned(path,
      base.toSeq.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    assert(g1 == 1L)
    assert(rows(IndexedScan.readIndexedVersioned(spark, path, idx)) == base)

    // a reader constructed NOW pins generation 1 (stats collected at
    // construction) — it must survive everything below unchanged
    val pinned = IndexedScan.readIndexedVersioned(spark, path, idx)

    // THE MID-MERGE WINDOW: new files landed in the live dirs, the
    // generation not yet flipped. Emulate by dropping a foreign file
    // into a partition dir — indistinguishable from step 3 of the merge.
    Seq((99L, 999.0)).toDF("order_id", "amount").coalesce(1)
      .write.mode("append").parquet(s"$path/day=2024-01-01")
    val midMerge = IndexedScan.readIndexedVersioned(spark, path, idx)
    assert(rows(midMerge) == base,
      "mid-window reader must see exactly generation 1 — no crash, no phantom rows")
    assert(rows(pinned) == base)

    // the real merge: update key 2, insert key 5, DELETE key 4 (empties
    // its partition) — commits generation 2
    val g2 = Upsert.mergeIntoVersioned(path,
      Seq((2L, "2024-01-01", 99.0), (5L, "2024-01-04", 50.0))
        .toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx,
      deletes = Some(Seq((4L, "2024-01-03")).toDF("order_id", "day")))
    assert(g2 == 2L)
    val want2 = Set(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 99.0),
      (3L, "2024-01-02", 30.0), (5L, "2024-01-04", 50.0))
    assert(rows(IndexedScan.readIndexedVersioned(spark, path, idx)) == want2,
      "post-commit reader must see exactly generation 2")

    // the generation-1 reader STILL reads the OLD snapshot consistently:
    // its files were never deleted, only de-manifested (the verdict r17
    // item 3 contract — no require-crash, no torn read)
    assert(rows(pinned) == base,
      "pinned reader lost snapshot isolation across the merge")

    // plain directory readers see multiple generations — the documented
    // trade; the manifest is the table
    assert(spark.read.parquet(path).count() > want2.size,
      "fixture sanity: old-generation files still on disk")

    // vacuum against the LATEST generation reaps the de-manifested files
    // (replaced/emptied/mid-window stray) once past grace
    val reaped = StatsIndex.vacuum(spark, path,
      StatsIndex.loadLatest(spark, idx), graceMs = 0L)
    assert(reaped.nonEmpty)
    assert(rows(IndexedScan.readIndexedVersioned(spark, path, idx)) == want2,
      "vacuum touched a manifested file")
    assert(rows(spark.read.parquet(path)
      .select("order_id", "day", "amount")) == want2,
      "after vacuum the directory holds exactly the live generation")

    // generation retention: keep the newest only, gen 1 dir reaped
    val gone = StatsIndex.vacuumGenerations(spark, idx, keep = 1)
    assert(gone.size == 1 && gone.head.contains("_v=1"))
    assert(StatsIndex.generations(spark, idx) == Seq(2L))
    assert(rows(IndexedScan.readIndexedVersioned(spark, path, idx)) == want2)
  }

  test("a non-empty unindexed table is refused; adoption via saveGeneration(build) then merges version cleanly") {
    val root = Files.createTempDirectory("graft-videx-adopt").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    base.toSeq.toDF("order_id", "day", "amount")
      .write.partitionBy("day").parquet(path)
    assertThrows[IllegalArgumentException] {
      Upsert.mergeIntoVersioned(path,
        Seq((9L, "2024-01-01", 1.0)).toDF("order_id", "day", "amount"),
        Seq("order_id"), "day", idx)
    }
    // adopt, then merge
    assert(StatsIndex.saveGeneration(
      StatsIndex.build(spark, path), idx) == 1L)
    Upsert.mergeIntoVersioned(path,
      Seq((9L, "2024-01-01", 1.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    assert(rows(IndexedScan.readIndexedVersioned(spark, path, idx)) ==
      base + ((9L, "2024-01-01", 1.0)))
  }

  test("crashed generation write: incomplete _v dir is invisible to readers and reapable past grace") {
    val root = Files.createTempDirectory("graft-videx-crash").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    Upsert.mergeIntoVersioned(path,
      base.toSeq.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    // a crashed writer's half generation: parquet bytes, no _SUCCESS
    val g2dir = s"$idx/_v=2"
    StatsIndex.loadLatest(spark, idx).write.parquet(g2dir)
    new java.io.File(s"$g2dir/_SUCCESS").delete()
    assert(StatsIndex.generations(spark, idx) == Seq(1L),
      "incomplete generation must not be listed")
    assert(rows(IndexedScan.readIndexedVersioned(spark, path, idx)) == base)
    // and the NEXT writer does not collide with the carcass... it skips
    // past it (numbering from the max complete + dir probe)
    val reaped = StatsIndex.vacuumGenerations(spark, idx, keep = 1, graceMs = 0L)
    assert(reaped.exists(_.contains("_v=2")), s"carcass not reaped: $reaped")
    val g = Upsert.mergeIntoVersioned(path,
      Seq((7L, "2024-01-02", 7.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    assert(g == 2L)
    assert(rows(IndexedScan.readIndexedVersioned(spark, path, idx)) ==
      base + ((7L, "2024-01-02", 7.0)))
  }

  test("two-level partition layout (date × batch) versions end-to-end: merge, snapshot reads, tuple-pruned CDF, untouched bytes") {
    val root = Files.createTempDirectory("graft-videx2").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    def df(rows: (Long, String, Long, Double)*) =
      rows.toSeq.toDF("order_id", "day", "batch", "amount")
    // gen1: two dates × two batches — the reference's landing grain
    val g1 = Upsert.mergeIntoVersionedCols(path,
      df((1L, "d1", 0L, 10.0), (2L, "d1", 1L, 20.0),
         (3L, "d2", 0L, 30.0), (4L, "d2", 1L, 40.0)),
      Seq("order_id"), Seq("day", "batch"), idx)
    assert(g1 == 1L)
    assert(StatsIndex.generationPartitionCols(spark, idx, g1)
      .contains(Seq("day", "batch")))

    // gen2 touches exactly ONE (day, batch) tuple: update key 2,
    // delete key... none; plus a brand-new tuple (d3, 0)
    val preBytes = StatsIndex.load(spark, s"$idx/_v=$g1")
      .select("file").distinct().as[String].collect()
      .filter(_.contains("/day=d2/")).sorted.toSeq
    val g2 = Upsert.mergeIntoVersionedCols(path,
      df((2L, "d1", 1L, 99.0), (9L, "d3", 0L, 90.0)),
      Seq("order_id"), Seq("day", "batch"), idx)

    def all(gen: Long) = IndexedScan
      .readIndexedGeneration(spark, path, idx, gen)
      .select(col("order_id").cast("long"), col("day"), col("batch"),
        col("amount").cast("double"))
      .as[(Long, String, String, Double)].collect().toSet
    assert(all(g1) == Set((1L, "d1", "0", 10.0), (2L, "d1", "1", 20.0),
      (3L, "d2", "0", 30.0), (4L, "d2", "1", 40.0)))
    assert(all(g2) == Set((1L, "d1", "0", 10.0), (2L, "d1", "1", 99.0),
      (3L, "d2", "0", 30.0), (4L, "d2", "1", 40.0), (9L, "d3", "0", 90.0)))

    // untouched tuples' manifest rows survive VERBATIM (same files)
    val postBytes = StatsIndex.load(spark, s"$idx/_v=$g2")
      .select("file").distinct().as[String].collect()
      .filter(_.contains("/day=d2/")).sorted.toSeq
    assert(postBytes == preBytes)

    // CDF over the tuple layout: only (d1,1) and (d3,0) changed
    val sa = StatsIndex.load(spark, s"$idx/_v=$g1")
    val sb = StatsIndex.load(spark, s"$idx/_v=$g2")
    assert(graft.operators.ChangeFeed.touchedSlices(
      sa, sb, Seq("day", "batch")).touched ==
      Seq(Seq("d1", "1"), Seq("d3", "0")))
    val feed = graft.operators.ChangeFeed.betweenCols(spark, path, idx,
        g1, g2, Seq("order_id"), Seq("day", "batch"))
      .select(col("op"), col("order_id").cast("long"))
      .as[(String, Long)].collect().toSet
    assert(feed == Set(("update", 2L), ("insert", 9L)))

    // a delete that empties one tuple: its rows leave the manifest,
    // nothing else moves
    val g3 = Upsert.mergeIntoVersionedCols(path,
      df().where(lit(false)), Seq("order_id"), Seq("day", "batch"), idx,
      deletes = Some(df((3L, "d2", 0L, 0.0)).select("order_id", "day", "batch")))
    assert(all(g3) == all(g2) - ((3L, "d2", "0", 30.0)))
    val feed23 = graft.operators.ChangeFeed.betweenCols(spark, path, idx,
        g2, g3, Seq("order_id"), Seq("day", "batch"))
      .select(col("op"), col("order_id").cast("long"))
      .as[(String, Long)].collect().toSet
    assert(feed23 == Set(("delete", 3L)))
  }

  test("optimistic concurrency: a stale-base commit aborts instead of losing the racer's update; stale claims park then reap") {
    val root = Files.createTempDirectory("graft-videx-occ").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val g1 = Upsert.mergeIntoVersioned(path,
      Seq((1L, "d1", 10.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    val g2 = Upsert.mergeIntoVersioned(path,
      Seq((2L, "d2", 20.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx) // the racer that won
    // a writer whose manifest was DERIVED FROM g1 must abort — its
    // commit would silently drop g2's rows from the lineage
    val stale = StatsIndex.load(spark, s"$idx/_v=$g1").localCheckpoint()
    intercept[StatsIndex.ConcurrentWriteException] {
      StatsIndex.saveGeneration(stale, idx, expectedBase = Some(g1))
    }
    assert(StatsIndex.generations(spark, idx) == Seq(g1, g2),
      "the aborted commit must publish nothing")

    // a CRASHED same-base racer's claim parks the slot: the next commit
    // sees the gap and aborts rather than jumping past unfinished work
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(idx, s"_claim_v=${g2 + 1}"),
      false).close()
    intercept[StatsIndex.ConcurrentWriteException] {
      StatsIndex.saveGeneration(stale, idx, expectedBase = Some(g2))
    }
    // vacuum reaps the stale claim (no complete _v behind it) — but ONLY
    // when the claim floor is explicitly waived (claimGraceMs defaults
    // to 10 min precisely so a retention pass can never pull a LIVE
    // writer's claim; ADVICE r19): with the default floor the claim
    // survives and the commit still aborts
    StatsIndex.vacuumGenerations(spark, idx, keep = 2, graceMs = 0L)
    intercept[StatsIndex.ConcurrentWriteException] {
      StatsIndex.saveGeneration(stale, idx, expectedBase = Some(g2))
    }
    StatsIndex.vacuumGenerations(spark, idx, keep = 2, graceMs = 0L,
      claimGraceMs = 0L)
    val g3 = StatsIndex.saveGeneration(stale, idx, expectedBase = Some(g2))
    assert(g3 == g2 + 1)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(idx)).exists(
      _.getPath.getName.startsWith("_claim_v=")),
      "a successful commit must release its claim")
    // and merges keep working on top
    val g4 = Upsert.mergeIntoVersioned(path,
      Seq((3L, "d3", 30.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    assert(g4 == g3 + 1)
  }

  test("claimed-slot metadata writes are EXCLUSIVE: a carcass sidecar aborts the commit, orphan reaping clears it (ADVICE r19 TOCTOU tail)") {
    val root = Files.createTempDirectory("graft-videx-toctou").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val g1 = Upsert.mergeIntoVersioned(path,
      Seq((1L, "d1", 10.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    // a crashed writer's orphan: slot 2's schema sidecar exists, but no
    // `_v=2` and no claim (its claim was already reaped). Pre-R20 the
    // next OCC commit would silently OVERWRITE it — if the slot had in
    // fact been committed by a racer in the claim window, readers of
    // that generation would resolve the WRONG schema. Now the exclusive
    // create fails loudly and nothing publishes.
    val orphan = new org.apache.hadoop.fs.Path(idx, s"_schema_v=${g1 + 1}.json")
    val out = fs.create(orphan, false)
    out.write("{}".getBytes); out.close()
    val manifest = StatsIndex.loadLatest(spark, idx).localCheckpoint()
    intercept[StatsIndex.ConcurrentWriteException] {
      StatsIndex.saveGeneration(manifest, idx,
        dataSchema = Some(manifest.schema), expectedBase = Some(g1))
    }
    assert(StatsIndex.generations(spark, idx) == Seq(g1),
      "the aborted commit must publish nothing")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(idx)).exists(
      _.getPath.getName.startsWith("_claim_v=")),
      "the aborted commit must release its claim")
    // vacuum's orphan-metadata sweep clears the carcass (claim floor
    // waived — no writer is live here), after which the commit lands
    StatsIndex.vacuumGenerations(spark, idx, keep = 2, graceMs = 0L,
      claimGraceMs = 0L)
    assert(!fs.exists(orphan), "orphan sidecar must be reaped")
    val g2 = StatsIndex.saveGeneration(manifest, idx,
      dataSchema = Some(manifest.schema), expectedBase = Some(g1))
    assert(g2 == g1 + 1)
  }

  test("a claim whose generation COMPLETED is inert litter and reaps past plain grace") {
    val root = Files.createTempDirectory("graft-videx-litter").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val g1 = Upsert.mergeIntoVersioned(path,
      Seq((1L, "d1", 10.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    // emulate a writer that crashed between its `_v=N` commit and the
    // finally-block claim delete: the claim survives, the slot is taken
    fs.create(new org.apache.hadoop.fs.Path(idx, s"_claim_v=$g1"),
      false).close()
    // plain grace reaps it even under the DEFAULT claim floor — the
    // committed directory already occupies the slot, nothing can race
    StatsIndex.vacuumGenerations(spark, idx, keep = 2, graceMs = 0L)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(idx)).exists(
      _.getPath.getName.startsWith("_claim_v=")),
      "completed-generation claim litter must reap past plain grace")
    // and the table still works
    assert(StatsIndex.generations(spark, idx) == Seq(g1))
  }

  test("optimistic claims refuse filesystems without atomic exclusive create") {
    assert(StatsIndex.claimSchemeSupported("hdfs"))
    assert(StatsIndex.claimSchemeSupported("viewfs"))
    assert(StatsIndex.claimSchemeSupported("file"))
    assert(!StatsIndex.claimSchemeSupported("s3a"),
      "bare S3A check-then-create is NOT an atomic claim")
    assert(!StatsIndex.claimSchemeSupported("gs"))
    assert(!StatsIndex.claimSchemeSupported("wasb"))
    // deliberate extension for stores fronted by a coordination layer
    sys.props("graft.claim.extraSchemes") = "s3a, dbfs"
    try {
      assert(StatsIndex.claimSchemeSupported("s3a"))
      assert(StatsIndex.claimSchemeSupported("dbfs"))
      assert(!StatsIndex.claimSchemeSupported("gs"))
    } finally sys.props -= "graft.claim.extraSchemes"
  }

  test("retryingCommit: racing versioned merges BOTH land — the loser re-derives against the winner's generation") {
    val root = Files.createTempDirectory("graft-videx-retry").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val g1 = Upsert.mergeIntoVersioned(path,
      base.toSeq.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    // deterministic race: writer B's first attempt is interleaved with
    // writer A committing from the same base — B's stale commit aborts
    // (the fence), and the helper's retry re-runs B's WHOLE
    // read-derive-commit, which re-reads the latest generation at entry
    // and so re-derives on top of A. Both land; nothing lost.
    val staleB = StatsIndex.load(spark, s"$idx/_v=$g1").localCheckpoint()
    var attempts = 0
    Upsert.retryingCommit(attempts = 3, backoffMs = 0L) { () =>
      attempts += 1
      if (attempts == 1) {
        // racer A wins the slot mid-flight...
        Upsert.mergeIntoVersioned(path,
          Seq((100L, "2024-01-01", 1.0)).toDF("order_id", "day", "amount"),
          Seq("order_id"), "day", idx): Unit
        // ...so B's commit, derived from g1, is stale and must abort
        StatsIndex.saveGeneration(staleB, idx, expectedBase = Some(g1))
      } else
        // the retry IS the re-derivation: merge re-reads the new latest
        Upsert.mergeIntoVersioned(path,
          Seq((200L, "2024-01-01", 2.0)).toDF("order_id", "day", "amount"),
          Seq("order_id"), "day", idx)
    }: Unit
    assert(attempts == 2, "exactly one conflict, one successful retry")
    val got = rows(IndexedScan.readIndexedVersioned(spark, path, idx))
    assert(got == base + ((100L, "2024-01-01", 1.0)) + ((200L, "2024-01-01", 2.0)),
      s"both racers' updates must survive, got $got")
    // an exhausted retry budget surfaces the conflict instead of looping
    intercept[StatsIndex.ConcurrentWriteException] {
      Upsert.retryingCommit(attempts = 1) { () =>
        throw new StatsIndex.ConcurrentWriteException("synthetic")
      }
    }
  }
}
