package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.{ChangeFeed, Compaction, SnapshotDiff, Upsert}
import graft.sources.{IndexedScan, StatsIndex}

/** Deployment-shape stress for the versioned lakehouse stack (#42k-#42o):
  * a 2M-row fact across 400 day partitions, maintained by
  * `mergeIntoVersioned` — measures the quantities that matter at scale:
  * one-day merge cost vs the bootstrap, CDF cost ∝ changed slice vs a
  * full-table diff, snapshot isolation under load, compaction as a
  * generation commit, and cursor-follower delivery. */
object StressVersioned {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"${(System.nanoTime() - t0) / 1e9}%7.1fs  $name")
      r
    }
    val root = java.nio.file.Files.createTempDirectory("graft-sv").toString
    val (path, idx) = (s"$root/fact", s"$root/fact/_stats_v")

    // 2M rows, 400 days, 5k rows/day; day-clustered so the bootstrap
    // write lands ~1 file per partition (the compacted steady state)
    val fact = Materialize.pinNow(spark.range(2000000L).select(
        col("id").as("order_id"),
        concat(lit("d"), lpad((col("id") % 400).cast("string"), 3, "0"))
          .as("day"),
        (col("id") % 997).cast("double").as("amount"))
      .repartition(col("day")))

    val g1 = time("bootstrap merge: 2M rows -> 400 partitions, gen 1") {
      Upsert.mergeIntoVersioned(path, fact, Seq("order_id"), "day", idx)
    }
    val filesG1 = StatsIndex.load(spark, s"$idx/_v=$g1")
      .select("file").distinct().count()
    println(s"   manifest files: $filesG1")

    // the steady-state write: one day's 5k-row delta
    val oneDay = Materialize.pinNow(fact.where(col("day") === "d007")
      .withColumn("amount", col("amount") + 1.0))
    val g2 = time("one-day merge: 5k rows, 1 of 400 partitions") {
      Upsert.mergeIntoVersioned(path, oneDay, Seq("order_id"), "day", idx)
    }

    // CDF cost ∝ changed slice: the hop reads ONE partition's files on
    // each side; the naive alternative diffs both full snapshots
    val cdfRows = time("ChangeFeed.between(g1, g2) — manifest-pruned diff") {
      ChangeFeed.between(spark, path, idx, g1, g2,
        Seq("order_id"), "day").count()
    }
    val fullRows = time("full-table SnapshotDiff of the same two snapshots") {
      SnapshotDiff.diff(
        ChangeFeed.asOf(spark, path, idx, g1),
        ChangeFeed.asOf(spark, path, idx, g2), Seq("order_id")).count()
    }
    assert(cdfRows == fullRows && cdfRows == 5000L,
      s"pruned ($cdfRows) != full ($fullRows) != 5000")
    val sa = StatsIndex.load(spark, s"$idx/_v=$g1")
    val sb = StatsIndex.load(spark, s"$idx/_v=$g2")
    println("   changed partitions: " +
      ChangeFeed.touchedSlices(sa, sb, Seq("day")).touched.size + " of 400; " +
      s"identical change rows: $cdfRows")

    // snapshot isolation at scale: the pre-merge snapshot still answers
    time("asOf(g1) full count under the post-merge manifest") {
      val n = ChangeFeed.asOf(spark, path, idx, g1).count()
      assert(n == 2000000L, s"old snapshot lost rows: $n")
    }

    // NOTE: point merges do not fragment a versioned table — every
    // touched partition is wholly rewritten (and AQE coalesces the tiny
    // write), so the merge path self-compacts. Fragmentation comes from
    // WIDE ingest writes (many tasks per partition dir): model it with
    // a 100k-row single-day bootstrap shuffled across 16 tasks.
    val (fpath, fidx) = (s"$root/frag", s"$root/frag/_stats_v")
    Upsert.mergeIntoVersioned(fpath,
      spark.range(100000L).select(col("id").as("order_id"),
        lit("d000").as("day"), (col("id") % 97).cast("double").as("amount"))
        .repartition(16),
      Seq("order_id"), "day", fidx)
    val before = StatsIndex.loadLatest(spark, fidx)
      .select("file").distinct().count()
    val gc = time(s"compactVersioned: 100k-row partition at $before manifest files") {
      Compaction.compactVersioned(spark, fpath, fidx,
        targetBytes = 1L << 30, minFiles = 2)
    }
    val after = StatsIndex.loadLatest(spark, fidx)
      .select("file").distinct().count()
    println(s"   files $before -> $after (gen ${gc.get}); CDF over the " +
      "compaction hop: " + ChangeFeed.between(spark, fpath, fidx,
        gc.get - 1, gc.get, Seq("order_id"), "day").count() + " rows")

    // R19: the APPEND-ONLY hop — a brand-new partition, the commonest
    // daily-ingest change. Before R19 this fell back to a full-table
    // diff (both 2M-row snapshots); now the from-slice is a schemed
    // empty relation and the hop reads one partition's files
    val newDay = Materialize.pinNow(spark.range(5000L).select(
        (col("id") + 10000000L).as("order_id"), lit("d400").as("day"),
        (col("id") % 997).cast("double").as("amount"))
      .coalesce(1))
    val gA = time("append-only merge: brand-new partition d400") {
      Upsert.mergeIntoVersioned(path, newDay, Seq("order_id"), "day", idx)
    }
    val appendRows = time("ChangeFeed.between over the append-only hop " +
        "(was a full-table diff before R19)") {
      ChangeFeed.between(spark, path, idx, gA - 1, gA,
        Seq("order_id"), "day").count()
    }
    assert(appendRows == 5000L, s"append hop: $appendRows rows")

    // R19: bloom point-merge — ONE partition whose 16 files all span the
    // full key range (min/max useless); the bloom split rewrites only
    // the files that hold the probed keys, the rest SURVIVE the manifest
    val (bpath, bidx) = (s"$root/bloomy", s"$root/bloomy/_stats_v")
    Upsert.mergeIntoVersionedCols(bpath,
      spark.range(1000000L).select(col("id").as("order_id"),
        lit("d000").as("day"), (col("id") % 97).cast("double").as("amount"))
        .repartition(16),
      Seq("order_id"), Seq("day"), bidx, bloomColumns = Seq("order_id"))
    val bFiles0 = StatsIndex.loadLatest(spark, bidx)
      .select("file").distinct().as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    val gB = time("bloom point-merge: 3 keys into 1M rows / 16 scattered files") {
      Upsert.mergeIntoVersionedCols(bpath,
        spark.createDataFrame(Seq((5L, "d000", 9.9), (500000L, "d000", 9.9),
          (999999L, "d000", 9.9))).toDF("order_id", "day", "amount"),
        Seq("order_id"), Seq("day"), bidx, bloomColumns = Seq("order_id"))
    }
    val bFiles1 = StatsIndex.load(spark, s"$bidx/_v=$gB")
      .select("file").distinct().as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    println(s"   files surviving unrewritten: ${(bFiles0 intersect bFiles1).size}" +
      s" of ${bFiles0.size} (merge rewrote ${(bFiles0 diff bFiles1).size})")

    // R19: two-level (day × batch) landing grain — the reference's own
    // layout versions like any other
    val (mpath, midx) = (s"$root/multi", s"$root/multi/_stats_v")
    time("two-level bootstrap: 200k rows over 40 days x 4 batches") {
      Upsert.mergeIntoVersionedCols(mpath,
        spark.range(200000L).select(col("id").as("order_id"),
          concat(lit("d"), (col("id") % 40).cast("string")).as("day"),
          (col("id") % 4).as("batch"),
          (col("id") % 97).cast("double").as("amount"))
          .repartition(col("day"), col("batch")),
        Seq("order_id"), Seq("day", "batch"), midx)
    }
    // (d6, 2) — a REACHABLE tuple: 40 ≡ 0 (mod 4), so id%40 pins id%4
    // (day d7 only ever lands batch 3; the empty-landing guard rightly
    // refuses an empty replace)
    val gM = time("one-tuple replace: (d6, 2) re-landed") {
      Upsert.replacePartitionsVersioned(mpath,
        spark.range(200000L).select(col("id").as("order_id"),
          concat(lit("d"), (col("id") % 40).cast("string")).as("day"),
          (col("id") % 4).as("batch"),
          (col("id") % 97 + 1).cast("double").as("amount"))
          .where(col("day") === "d6" && col("batch") === 2),
        Seq("day", "batch"), midx)
    }
    println("   changed tuples: " + ChangeFeed.betweenCols(spark, mpath, midx,
      gM - 1, gM, Seq("order_id"), Seq("day", "batch")).count() + " change rows")

    // follower delivery: two more one-day merges, then drain both hops
    Seq("d020", "d021").foreach { d =>
      Upsert.mergeIntoVersioned(path,
        fact.where(col("day") === d)
          .withColumn("amount", col("amount") + 1.0),
        Seq("order_id"), "day", idx)
    }
    val delivered = time("ChangeFeedStream.drainTo: 2 pending one-day hops") {
      graft.streaming.ChangeFeedStream.drainTo(spark, path, idx,
        Seq("order_id"), "day", s"$root/cursor", s"$root/feed",
        startAt = Some(g2))
    }
    println(s"   hops delivered: $delivered; feed rows: " +
      Tables.read(spark, s"$root/feed").count())

    // -----------------------------------------------------------------
    // `big`: the 10x datapoint — 20M rows / 400 days, the slope check
    // behind the 100x extrapolation (SCALING.md §versioned). Every cost
    // that should be O(delta) is ASSERTED to touch only the delta's
    // files, so a slope regression fails loudly instead of just reading
    // slower.
    // -----------------------------------------------------------------
    if (args.contains("big")) {
      val (bigPath, bigIdx) = (s"$root/big", s"$root/big/_stats_v")
      val bigFact = Materialize.pinNow(spark.range(20000000L).select(
          col("id").as("order_id"),
          concat(lit("d"), lpad((col("id") % 400).cast("string"), 3, "0"))
            .as("day"),
          (col("id") % 997).cast("double").as("amount"))
        .repartition(col("day")))
      val bg1 = time("BIG bootstrap merge: 20M rows -> 400 partitions") {
        Upsert.mergeIntoVersioned(bigPath, bigFact, Seq("order_id"), "day", bigIdx)
      }
      val bman1 = Materialize.pinNow(StatsIndex.load(spark, s"${bigIdx}/_v=$bg1"))
      val bFiles = bman1.select("file").distinct().count()
      println(s"   manifest files: $bFiles")

      val bDelta = Materialize.pinNow(bigFact.where(col("day") === "d007")
        .withColumn("amount", col("amount") + 1.0))
      val bg2 = time("BIG one-day merge: 50k rows, 1 of 400 partitions") {
        Upsert.mergeIntoVersioned(bigPath, bDelta, Seq("order_id"), "day", bigIdx)
      }
      val bman2 = Materialize.pinNow(StatsIndex.load(spark, s"${bigIdx}/_v=$bg2"))

      // scan-metric assertion: the hop's two restricted slices together
      // name exactly the changed day's files — never the table
      val touched = ChangeFeed.touchedSlices(bman1, bman2, Seq("day")).touched
      assert(touched == Seq(Seq("d007")), s"touched: $touched")
      val fromFiles = StatsIndex.partitionFiles(bman1, "day", Seq("d007")).size
      val toFiles = StatsIndex.partitionFiles(bman2, "day", Seq("d007")).size
      val dayFiles = math.max(1L, bFiles / 400)
      assert(fromFiles <= 4 * dayFiles && toFiles <= 4 * dayFiles,
        s"CDF slice not delta-sized: from=$fromFiles to=$toFiles " +
          s"(~$dayFiles files/day)")
      val bCdf = time(s"BIG CDF hop (reads $fromFiles+$toFiles of $bFiles files)") {
        ChangeFeed.between(spark, bigPath, bigIdx, bg1, bg2,
          Seq("order_id"), "day").count()
      }
      assert(bCdf == 50000L, s"big hop rows: $bCdf")

      time("BIG asOf(gen 1) full count under the post-merge manifest") {
        val n = ChangeFeed.asOf(spark, bigPath, bigIdx, bg1).count()
        assert(n == 20000000L, s"old snapshot lost rows: $n")
      }

      // replica chain at 10x — the documented follower lifecycle: SEED
      // the downstream with asOf(firstGen), then follow from startAt;
      // the delta hop applies through the at-least-once consumer
      time("BIG replica seed: asOf(gen 1) written downstream") {
        ChangeFeed.asOf(spark, bigPath, bigIdx, bg1)
          .write.partitionBy("day").parquet(s"$root/big-replica")
      }
      val nRep = time("BIG replicateTo: one-day hop applied downstream") {
        graft.streaming.ChangeFeedStream.replicateTo(spark, bigPath, bigIdx,
          Seq("order_id"), "day", s"$root/big-cursor", s"$root/big-replica",
          startAt = Some(bg1))
      }
      time(s"BIG replica verification after $nRep hops") {
        val rep = Tables.read(spark, s"$root/big-replica")
        assert(rep.count() == 20000000L, "replica row count")
        val repSum = rep.agg(sum("amount")).head().getDouble(0)
        val liveSum = ChangeFeed.asOf(spark, bigPath, bigIdx, bg2)
          .agg(sum("amount")).head().getDouble(0)
        assert(repSum == liveSum, s"replica drifted: $repSum vs $liveSum")
      }
    }
    spark.stop()
  }
}
