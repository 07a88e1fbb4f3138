package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.ZOrder

/** [[IndexedScan]]: the stats/bloom index consulted by the scan's own
  * `listFiles` — any Catalyst-pushed predicate must prune files
  * automatically, results must equal the plain-read equivalent on every
  * shape (the pruning is invisible to semantics), and everything the
  * index can't PROVE disjoint must stay scanned. */
class IndexedScanSpec extends SparkSpec {
  import spark.implicits._

  /** Executed-plan file count of `df`'s (single) file scan — descends
    * into AQE's materialized query stages, whose plans are fields, not
    * children, and so invisible to a plain `collect`. */
  private def scanFiles(df: DataFrame): Long = {
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    val found = scans(df.queryExecution.executedPlan)
    assert(found.size == 1, s"expected one file scan, got ${found.size}")
    found.head.metrics("numFiles").value
  }

  test("range predicate over a z-ordered table prunes files through the scan; results == plain read") {
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select("event_id", "user_id", "value")
    val root = Files.createTempDirectory("graft-iscan-z").toString
    ZOrder.writeClustered(ev, Seq("user_id", "value"), s"$root/z", nFiles = 16)
    val stats = StatsIndex.build(spark, s"$root/z")

    val qs = ev.selectExpr("CAST(user_id AS DOUBLE) AS u", "value")
      .stat.approxQuantile(Array("u", "value"), Array(0.2, 0.35, 0.1, 0.3), 0.001)
    val pred = col("user_id").between(qs(0)(0).toLong, qs(0)(1).toLong) &&
      col("value").between(qs(1)(2), qs(1)(3))

    val indexed = IndexedScan.readIndexedFrom(spark, s"$root/z", stats).where(pred)
    val nScanned = scanFiles(indexed)
    assert(nScanned * 2 <= 16, s"scan opened $nScanned of 16 files — index not consulted")
    info(s"scanned $nScanned of 16 files")

    val got = indexed.select("event_id").as[Long].collect().sorted.toSeq
    val want = spark.read.parquet(s"$root/z").where(pred)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(want.nonEmpty && got == want)
  }

  test("filter pushed through a projection+aggregate still prunes; unsupported conjuncts are ignored not wrong") {
    val root = Files.createTempDirectory("graft-iscan-agg").toString
    val df = spark.range(4000).select(col("id"),
      (col("id") % 7).cast("double").as("v"))
    // deterministic 500-row files (repartitionByRange samples, so its
    // boundaries jitter and the first 1/4 can straddle a third file)
    (0 until 8).foreach { b =>
      df.where(col("id") >= b * 500 && col("id") < (b + 1) * 500)
        .coalesce(1).write.mode("append").parquet(s"$root/t")
    }
    val stats = StatsIndex.build(spark, s"$root/t")

    // the filter sits above a select and an agg sits above it all —
    // Catalyst must still push (id <= 999) into the scan's dataFilters;
    // the pmod conjunct is untranslatable and must change nothing
    val indexed = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .select((col("id") * 2).as("id2"), col("id"), col("v"))
      .where(col("id") <= 999 && pmod(col("id"), lit(2)) === 0)
      .agg(sum("id2").as("s"), count(lit(1)).as("n"))
    val nScanned = scanFiles(indexed)
    assert(nScanned == 2, s"scanned $nScanned of 8 files for the first 1/4 of the id range")
    val row = indexed.collect().head
    assert(row.getLong(1) == 500 && row.getLong(0) == (0L until 1000 by 2).map(_ * 2).sum)
  }

  test("scattered key: min/max prunes nothing, the bloom index prunes to ~1 file; absent key scans zero files") {
    val root = Files.createTempDirectory("graft-iscan-bloom").toString
    // round-robin ids: every file spans [0, 40000) — range-hopeless
    spark.range(40000).select(col("id"), (col("id") % 1000).as("v"))
      .repartition(8).write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")
    val blooms = StatsIndex.buildBlooms(spark, s"$root/t", Seq("id"),
      expectedItemsPerFile = 10000)

    val noBloom = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("id") === 12345L)
    assert(scanFiles(noBloom) == 8, "min/max should be useless on a scattered key")

    val withBloom = IndexedScan.readIndexedFrom(spark, s"$root/t", stats, Some(blooms))
      .where(col("id") === 12345L)
    val n = scanFiles(withBloom)
    assert(n <= 2, s"bloom should isolate the key's file, scanned $n of 8")
    assert(withBloom.select("v").as[Long].collect().toSeq == Seq(12345L % 1000))

    // an absent key: zero surviving files IS the answer — empty result,
    // correct schema, no error
    val absent = IndexedScan.readIndexedFrom(spark, s"$root/t", stats, Some(blooms))
      .where(col("id") === 999999L)
    assert(absent.collect().isEmpty)
    assert(absent.columns.toSeq == Seq("id", "v"))

    // IN probes batch through the same bloom path
    val in = IndexedScan.readIndexedFrom(spark, s"$root/t", stats, Some(blooms))
      .where(col("id").isin(7L, 12345L, 39999L))
    val inFiles = scanFiles(in)
    assert(inFiles <= 4, s"3-key IN should touch ≤3(+fp) files, scanned $inFiles")
    assert(in.select("id").as[Long].collect().sorted.toSeq == Seq(7L, 12345L, 39999L))
  }

  test("dfpJoin: a small dim's keys prune fact files through the blooms; result == plain join") {
    val root = Files.createTempDirectory("graft-iscan-dfp").toString
    // scattered keys again: every file spans the whole id range, so only
    // the dim-key bloom probe can prune anything
    spark.range(40000).select(col("id"), (col("id") % 1000).as("v"))
      .repartition(8).write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")
    val blooms = StatsIndex.buildBlooms(spark, s"$root/t", Seq("id"),
      expectedItemsPerFile = 10000)
    val fact = IndexedScan.readIndexedFrom(spark, s"$root/t", stats, Some(blooms))
    val dim = Seq[(java.lang.Long, String)]((77L, "x"), (31007L, "y"), (null, "z"))
      .toDF("id", "tag").where(col("tag").isNotNull) // keep the null-key row

    val joined = IndexedScan.dfpJoin(fact, "id", dim, "id")
    val n = scanFiles(joined)
    assert(n <= 3, s"2 live dim keys should isolate their files, scanned $n of 8")
    val want = spark.read.parquet(s"$root/t")
      .join(dim, Seq("id")).select("id", "v", "tag")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val got = joined.select("id", "v", "tag")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(want.length == 2 && got.toSeq == want.toSeq)

    // left_semi keeps only fact columns; keeps pruning
    val semi = IndexedScan.dfpJoin(fact, "id", dim, "id", joinType = "left_semi")
    assert(semi.columns.toSeq == Seq("id", "v"))
    assert(semi.select("id").as[Long].collect().sorted.toSeq == Seq(77L, 31007L))

    // over the key cap: plain (unpruned) join, same answer
    val wide = IndexedScan.dfpJoin(fact, "id", dim, "id", maxKeys = 1)
    assert(scanFiles(wide) == 8, "over-cap must fall back to the plain join")
    assert(wide.count() == 2)

    // an all-null / empty dim key set joins to nothing, scanning nothing
    val emptyDim = dim.where(col("id").isNull)
    assert(IndexedScan.dfpJoin(fact, "id", emptyDim, "id").count() == 0)

    // outer joins are rejected: the injected filter would drop rows
    assertThrows[IllegalArgumentException] {
      IndexedScan.dfpJoin(fact, "id", dim, "id", joinType = "left_outer")
    }
  }

  test("hive-partitioned table: partition predicates prune directories from path values alone") {
    val root = Files.createTempDirectory("graft-iscan-part").toString
    spark.range(1200).select(col("id"),
        concat(lit("d"), (col("id") % 3).cast("string")).as("day"),
        (col("id") % 100).cast("double").as("v"))
      .repartition(2).write.partitionBy("day").parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")
    val total = stats.select("file").distinct().count()

    val one = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("day") === "d1")
    val n = scanFiles(one)
    assert(n * 3 <= total + 2, s"partition prune failed: $n of $total files")
    val got = one.select("id").as[Long].collect().sorted.toSeq
    assert(got.nonEmpty && got == (0L until 1200L).filter(_ % 3 == 1))

    // partition + data predicate compose; partition col reads back as string
    val mixed = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("day").isin("d0", "d2") && col("id") > 1100)
    val rows = mixed.select("id", "day").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      (1101L until 1200L).filter(i => i % 3 == 0 || i % 3 == 2))
    assert(rows.forall(r => r.getString(1) == s"d${r.getLong(0) % 3}"))
  }

  test("conservatism: unindexed columns, bloom-uncovered files, and nulls never lose rows") {
    val root = Files.createTempDirectory("graft-iscan-cons").toString
    spark.range(1000).select(col("id"),
        when(col("id") % 10 === 0, col("id").cast("double")).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$root/t")
    // index ONLY id: a predicate on v must not prune (no stats rows for v)
    val stats = StatsIndex.build(spark, s"$root/t", columns = Seq("id"))
    val onV = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("v") > 100.0)
    assert(scanFiles(onV) == 4, "a column with no stats rows must never prune")
    assert(onV.count() ==
      spark.read.parquet(s"$root/t").where(col("v") > 100.0).count())

    // bloom relation covering only SOME files: uncovered files are
    // unknown and must survive an equality probe that misses their bloom
    val blooms = StatsIndex.buildBlooms(spark, s"$root/t", Seq("id"),
      expectedItemsPerFile = 1000)
    val covered = blooms.where(
      abs(hash(col("file"))) % 2 === 0).localCheckpoint()
    val half = IndexedScan.readIndexedFrom(spark, s"$root/t", stats, Some(covered))
      .where(col("id") === 999L)
    assert(half.select("id").as[Long].collect().toSeq == Seq(999L))

    // IS NULL / IS NOT NULL translate to null-count pruning, never wrong
    val isNullDf = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("v").isNull)
    assert(isNullDf.count() == 900)
    val notNullDf = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("v").isNotNull && col("id") < 50)
    assert(notNullDf.count() == 5)
  }

  test("ORC table: the indexed scan prunes and reads through the OrcFileFormat path") {
    val root = Files.createTempDirectory("graft-iscan-orc").toString
    val df = spark.range(2000).select(col("id"),
      (col("id") % 5).cast("double").as("v"))
    (0 until 4).foreach { b =>
      df.where(col("id") >= b * 500 && col("id") < (b + 1) * 500)
        .coalesce(1).write.mode("append").orc(s"$root/t")
    }
    val stats = StatsIndex.build(spark, s"$root/t")
    // <= 499, not < 500: strict bounds collapse to inclusive (by
    // design), which would conservatively keep the min=500 neighbor
    val indexed = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("id") <= 499)
    assert(scanFiles(indexed) == 1, "one of four ORC files")
    assert(indexed.count() == 500)
    assert(indexed.agg(sum("id")).head().getLong(0) == (0L until 500L).sum)
  }

  test("lifecycle: mergeInto maintains both indexes, the indexed scan reads the new generation, vacuum reaps strays") {
    val root = Files.createTempDirectory("graft-iscan-life").toString
    val (path, idx, bl) = (s"$root/t", s"$root/idx", s"$root/bloom")
    val base = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
      (3L, "2024-01-02", 30.0), (4L, "2024-01-02", 40.0))
      .toDF("order_id", "day", "amount")
    graft.operators.Upsert.mergeInto(path, base, Seq("order_id"), "day",
      statsIndexPath = Some(idx), bloomsPath = Some(bl),
      bloomColumns = Seq("order_id"), bloomItemsPerFile = 1000L)

    def indexed = IndexedScan.readIndexed(spark, path, idx, Some(bl))
    assert(indexed.where(col("order_id") === 2L)
      .select("amount").as[Double].collect().toSeq == Seq(20.0))

    // merge: update key 2, insert key 5 — the index must follow the
    // republished generation and the indexed scan must see ONLY it
    val updates = Seq((2L, "2024-01-01", 99.0), (5L, "2024-01-03", 50.0))
      .toDF("order_id", "day", "amount")
    graft.operators.Upsert.mergeInto(path, updates, Seq("order_id"), "day",
      statsIndexPath = Some(idx), bloomsPath = Some(bl),
      bloomColumns = Seq("order_id"), bloomItemsPerFile = 1000L)
    assert(indexed.where(col("order_id") === 2L)
      .select("amount").as[Double].collect().toSeq == Seq(99.0))
    assert(indexed.where(col("order_id") === 5L).count() == 1)
    assert(indexed.count() == 5)
    // partition pruning still live on the post-merge snapshot
    val day3 = indexed.where(col("day") === "2024-01-03")
    assert(scanFiles(day3) == 1 && day3.count() == 1)

    // a bypassing write is INVISIBLE to the indexed scan (the manifest
    // IS the table), then vacuum removes it physically
    Seq((666L, 666.0)).toDF("order_id", "amount").write.mode("overwrite")
      .parquet(s"$path/day=2024-01-03/stray")
    // (a nested dir keeps the stray out of the merge's own partitions)
    val strays = StatsIndex.vacuum(spark, path,
      StatsIndex.load(spark, idx), graceMs = 0L)
    assert(strays.size == 1 && strays.head.contains("stray"))
    assert(indexed.count() == 5)
  }

  test("decimal + milli-timestamp layouts: stats rescale to Spark's literal units — sound AND effective") {
    val root = Files.createTempDirectory("graft-iscan-dec").toString
    // decimal(10,2) → INT64-backed UNSCALED parquet stats (123.45 stored
    // as 12345); decimal(24,3) → FLBA-backed. Un-rescaled stats would
    // prove false disjointness vs Spark's SCALED literals and silently
    // drop matching rows (ADVICE r17)
    val df = spark.range(1000).select(col("id"),
      expr("CAST(CAST(id AS DECIMAL(10,2)) / 4 AS DECIMAL(10,2))").as("d"),
      expr("CAST(CAST(id AS DECIMAL(24,3)) * 1000 AS DECIMAL(24,3))").as("big"))
    (0 until 4).foreach { b =>
      df.where(col("id") >= b * 250 && col("id") < (b + 1) * 250)
        .coalesce(1).write.mode("append").parquet(s"$root/t")
    }
    val stats = StatsIndex.build(spark, s"$root/t")
    val indexed = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
    val plain = spark.read.parquet(s"$root/t")

    // d ∈ [0, 249.75] in 62.5-wide file bands; ≤150.00 needs files 0-2.
    // The unscaled bug would read min_num=6250.0 for file 0 and prune it.
    val p1 = col("d") <= lit(new java.math.BigDecimal("150.00"))
    assert(indexed.where(p1).count() == plain.where(p1).count())
    assert(plain.where(p1).count() == 601)
    assert(scanFiles(indexed.where(p1)) == 3,
      "scaled INT64-decimal stats should prune the top file")

    val p2 = col("big") >= lit(new java.math.BigDecimal("700000.000"))
    assert(indexed.where(p2).count() == plain.where(p2).count())
    assert(scanFiles(indexed.where(p2)) == 2,
      "scaled FLBA-decimal stats should prune the bottom half")

    // TIMESTAMP_MILLIS (a foreign-writer unit): stats are millis on
    // disk, Spark literals micros — the index must rescale, not mis-prune
    val tsRoot = s"$root/ts"
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      val tdf = spark.range(400).select(col("id"),
        expr("timestamp_seconds(1700000000 + id * 60)").as("ts"))
      (0 until 4).foreach { b =>
        tdf.where(col("id") >= b * 100 && col("id") < (b + 1) * 100)
          .coalesce(1).write.mode("append").parquet(tsRoot)
      }
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val tstats = StatsIndex.build(spark, tsRoot)
    val tIndexed = IndexedScan.readIndexedFrom(spark, tsRoot, tstats)
    val cut = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + 99 * 60))
    val tp = col("ts") <= lit(cut)
    assert(tIndexed.where(tp).count() == 100)
    assert(scanFiles(tIndexed.where(tp)) == 1,
      "millis-stats rescaled to micros should isolate the first file")
  }

  test("property: randomized predicates over randomized layouts — indexed scan never loses a row") {
    // the soundness contract of the whole translation layer: whatever
    // listFiles prunes, results == the plain read under every supported
    // (and some unsupported) conjunct shape. Seeded: failures replay.
    val rnd = new scala.util.Random(20260815L)
    val root = Files.createTempDirectory("graft-iscan-prop").toString
    (0 until 3).foreach { t =>
      val n = 2000 + rnd.nextInt(2000)
      val df = spark.range(n).select(col("id"),
        (col("id") * 37 % 1000).as("k"),
        when(col("id") % 11 === 0, lit(null))
          .otherwise(sin(col("id")) * 500).as("v"),
        concat(lit("s"), ((col("id") * 13) % 97).cast("string")).as("s"),
        expr("CAST(CAST(id AS DECIMAL(12,2)) / 8 AS DECIMAL(12,2))").as("dec"))
      val layout = rnd.nextInt(3) match {
        case 0 => df.repartition(6)                       // scattered
        case 1 => df.repartitionByRange(6, col("k"))      // clustered on k
        case 2 => df.repartitionByRange(6, col("id"))     // clustered on id
      }
      layout.write.parquet(s"$root/t$t")
      val stats = StatsIndex.build(spark, s"$root/t$t")
      val blooms = StatsIndex.buildBlooms(spark, s"$root/t$t",
        Seq("k"), expectedItemsPerFile = 2000)
      val indexed = IndexedScan.readIndexedFrom(spark, s"$root/t$t",
        stats, Some(blooms))
      val plain = spark.read.parquet(s"$root/t$t")

      def randPred(): org.apache.spark.sql.Column = rnd.nextInt(12) match {
        case 0 => col("id") <= rnd.nextInt(n)
        case 1 => col("id") > rnd.nextInt(n)
        case 2 => col("k") === rnd.nextInt(1100).toLong
        case 3 => col("k").isin((0 until 1 + rnd.nextInt(4))
          .map(_ => rnd.nextInt(1100).toLong): _*)
        case 4 => col("v") >= -600.0 + rnd.nextDouble() * 1200
        case 5 => col("v").isNull
        case 6 => col("v").isNotNull
        case 7 => col("s") >= s"s${rnd.nextInt(97)}"
        case 8 => col("s") === s"s${rnd.nextInt(120)}"
        case 9 => pmod(col("id"), lit(2 + rnd.nextInt(5))) === 0 // untranslatable
        case 10 => col("dec") <= lit(new java.math.BigDecimal(
          s"${rnd.nextInt(n / 8)}.${10 + rnd.nextInt(90)}"))
        case 11 => col("dec") === lit(new java.math.BigDecimal(
          s"${rnd.nextInt(n / 8)}.25"))
      }
      (0 until 25).foreach { _ =>
        val pred = (0 until 1 + rnd.nextInt(3)).map(_ => randPred())
          .reduce(_ && _)
        val got = indexed.where(pred).select("id").as[Long]
          .collect().sorted.toSeq
        val want = plain.where(pred).select("id").as[Long]
          .collect().sorted.toSeq
        assert(got == want, s"lost rows under $pred on layout t$t")
      }
    }
  }

  test("string bounds prune in binary order; joins broadcast the indexed side like any scan") {
    val root = Files.createTempDirectory("graft-iscan-str").toString
    val df = (0 until 400)
      .map(i => (i.toLong, f"key_${i / 100}%02d_$i%04d"))
      .toDF("id", "k")
    df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")

    val strPred = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .where(col("k") >= "key_02" && col("k") < "key_03")
    val n = scanFiles(strPred)
    assert(n <= 2, s"string range covers one prefix family, scanned $n of 4")
    assert(strPred.count() == 100)

    // the indexed relation behaves like any DataFrame under a join
    val dim = Seq((150L, "x"), (250L, "y")).toDF("id", "tag")
    val joined = IndexedScan.readIndexedFrom(spark, s"$root/t", stats)
      .join(broadcast(dim), "id")
    assert(joined.count() == 2)
  }

  test("a NULL partition reads back as NULL through the index, row for row with spark.read") {
    val root = Files.createTempDirectory("graft-iscan-null").toString
    val (path, idx) = (s"$root/t", s"$root/idx")
    Seq((1L, "a"), (2L, null), (3L, "b"), (4L, null)).toDF("id", "k")
      .write.partitionBy("k").parquet(path)
    StatsIndex.save(StatsIndex.build(spark, path), idx)
    val indexed = IndexedScan.readIndexed(spark, path, idx)
    val plain = spark.read.parquet(path)
    def rows(df: DataFrame) = df.select(col("id"), col("k"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(indexed) == rows(plain))
    assert(rows(plain).count(_._2 == null) == 2)
    assert(indexed.where(col("k").isNull).count() ==
      plain.where(col("k").isNull).count())
  }
}
