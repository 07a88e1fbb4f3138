package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.obs.Obs
import graft.operators.ZOrder

/** [[StatsIndex]]: footer-derived per-file stats must prune files a
  * range predicate provably cannot match — never a file it might — and
  * the incremental [[StatsIndex.update]] must append only new files'
  * rows. */
class StatsIndexSpec extends SparkSpec {
  import spark.implicits._

  test("box predicate over a z-ordered table: pruned read == full filter, most files dropped") {
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select("event_id", "user_id", "value")
    val root = Files.createTempDirectory("graft-statsidx").toString
    ZOrder.writeClustered(ev, Seq("user_id", "value"), s"$root/z", nFiles = 16)

    val stats = StatsIndex.build(spark, s"$root/z")
    val nFiles = stats.select("file").distinct().count()
    assert(nFiles == 16, s"expected 16 indexed files, got $nFiles")
    // every (file, column) pair present, numeric bounds populated
    assert(stats.count() == 16 * 3)
    assert(stats.where(col("min_num").isNull).count() == 0)

    // probe box from the data's own quantiles (~3% selectivity)
    val qs = ev.selectExpr("CAST(user_id AS DOUBLE) AS u", "value")
      .stat.approxQuantile(Array("u", "value"), Array(0.2, 0.35, 0.1, 0.3), 0.001)
    val ranges = Map("user_id" -> (qs(0)(0), qs(0)(1)),
      "value" -> (qs(1)(2), qs(1)(3)))

    val surviving = StatsIndex.pruneFiles(stats, ranges)
    assert(surviving.nonEmpty && surviving.size * 2 <= 16,
      s"index pruned too little: ${surviving.size} of 16 files survive")
    info(s"surviving files: ${surviving.size} of 16")

    val pred = col("user_id").between(qs(0)(0), qs(0)(1)) &&
      col("value").between(qs(1)(2), qs(1)(3))
    val full = spark.read.parquet(s"$root/z").where(pred)
      .select("event_id").as[Long].collect().sorted.toSeq
    val pruned = StatsIndex.prunedRead(spark, stats, ranges).where(pred)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(full.nonEmpty && pruned == full,
      "pruned read lost or fabricated matching rows")
  }

  test("string range pruning; unknown predicate columns never prune") {
    val root = Files.createTempDirectory("graft-statsidx-str").toString
    val df = (0 until 400)
      .map(i => (i.toLong, f"key_${i / 100}%02d_$i%04d", i.toDouble))
      .toDF("id", "k", "v")
    // range-cluster on k so each file covers one key_NN prefix family
    df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t", columns = Seq("k"))
    assert(stats.count() == 4 && stats.where(col("min_str").isNull).count() == 0)

    val hit = StatsIndex.pruneFiles(stats,
      numRanges = Map.empty, strRanges = Map("k" -> ("key_02_", "key_02_~")))
    assert(hit.size == 1, s"expected 1 surviving file, got ${hit.size}")
    val rows = StatsIndex.prunedRead(spark, stats,
        numRanges = Map.empty, strRanges = Map("k" -> ("key_02_", "key_02_~")))
      .where(col("k") >= "key_02_" && col("k") <= "key_02_~")
    assert(rows.count() == 100)

    // a predicate on a column the index has no rows for keeps everything
    val unknown = StatsIndex.pruneFiles(stats, Map("v" -> (0.0, 1.0)))
    assert(unknown.size == 4, "unknown-column predicate must not prune")
  }

  test("all-null files are excluded for range predicates; mixed-null kept") {
    val root = Files.createTempDirectory("graft-statsidx-null").toString
    Seq[(Long, Option[Double])]((1L, None), (2L, None)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$root/t/a")
    Seq[(Long, Option[Double])]((3L, Some(5.0)), (4L, None)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$root/t/b")
    val stats = StatsIndex.build(spark, s"$root/t", columns = Seq("v"))
    val surviving = StatsIndex.pruneFiles(stats, Map("v" -> (0.0, 10.0)))
    assert(surviving.size == 1 && surviving.head.contains("/b/"),
      s"all-null file should prune, mixed-null survive: $surviving")
  }

  test("update appends only new files' stats; existing rows untouched") {
    val root = Files.createTempDirectory("graft-statsidx-upd").toString
    val t = s"$root/t"
    val idx = s"$root/idx"
    (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .coalesce(2).write.parquet(t)
    assert(StatsIndex.update(spark, t, idx, Seq("id")) == 2L)
    val first = StatsIndex.load(spark, idx).as[StatsIndex.FileColStats]
      .collect().toSet
    // second update with nothing new: no-op
    assert(StatsIndex.update(spark, t, idx, Seq("id")) == 0L)
    assert(StatsIndex.load(spark, idx).as[StatsIndex.FileColStats]
      .collect().toSet == first)
    // append a file; only it is indexed, old rows identical
    (100 until 150).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(t)
    assert(StatsIndex.update(spark, t, idx, Seq("id")) == 1L)
    val after = StatsIndex.load(spark, idx).as[StatsIndex.FileColStats]
      .collect().toSet
    assert(first.subsetOf(after) && after.size == first.size + 1)
    // and the updated index prunes correctly across old + new files
    val hot = StatsIndex.pruneFiles(after.toSeq.toDF(), Map("id" -> (120.0, 130.0)))
    assert(hot.size == 1, s"expected only the appended file: $hot")
  }

  test("property: pruning is SOUND on randomized data and boxes — never loses a matching row") {
    // adversarial value mix: negatives, huge longs (double-rounding
    // territory), NaN-free doubles across magnitudes, nulls
    val rng = new scala.util.Random(1234L)
    val rows = (0 until 4000).map { i =>
      val x =
        if (i % 13 == 0) Long.MinValue / 2 + rng.nextInt(1000)
        else if (i % 7 == 0) (1L << 60) + rng.nextInt(1000)
        else rng.nextLong() % 100000L
      val y: java.lang.Double =
        if (i % 11 == 0) null
        else rng.nextGaussian() * math.pow(10, rng.nextInt(6))
      (x, y)
    }
    val root = Files.createTempDirectory("graft-statsidx-prop").toString
    rows.toDF("x", "y").repartitionByRange(8, col("x"))
      .sortWithinPartitions("x")
      .write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")

    for (trial <- 0 until 12) {
      val (a, b) = (rng.nextLong() % 100000L, rng.nextLong() % 100000L)
      val (xLo, xHi) = (math.min(a, b).toDouble, math.max(a, b).toDouble)
      val (c, d) = (rng.nextGaussian() * 1000, rng.nextGaussian() * 1000)
      val (yLo, yHi) = (math.min(c, d), math.max(c, d))
      val ranges = Map("x" -> (xLo, xHi), "y" -> (yLo, yHi))
      val pred = col("x").between(xLo, xHi) && col("y").between(yLo, yHi)
      val full = spark.read.parquet(s"$root/t").where(pred)
        .select("x").as[Long].collect().sorted.toSeq
      val surviving = StatsIndex.pruneFiles(stats, ranges)
      val pruned =
        if (surviving.isEmpty) Seq.empty[Long]
        else spark.read.parquet(surviving: _*).where(pred)
          .select("x").as[Long].collect().sorted.toSeq
      assert(pruned == full,
        s"trial $trial: pruned read lost rows (box x=[$xLo,$xHi] y=[$yLo,$yHi])")
    }
  }

  test("suppressed writer stats: bounds withheld, file always kept (conservative contract)") {
    val root = Files.createTempDirectory("graft-statsidx-nostats").toString
    // a writer that records NO stats for v (parquet.column.statistics
    // writer property) — the older/foreign-writer case: the column HAS
    // rows, so partial or fabricated bounds could prove a false disjoint
    (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .coalesce(1).write
      .option("parquet.column.statistics.enabled#v", "false")
      .parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")
    val vRow = stats.where(col("column") === "v")
      .as[StatsIndex.FileColStats].collect()
    assert(vRow.length == 1)
    assert(vRow.head.min_num.isEmpty && vRow.head.max_num.isEmpty,
      s"bounds must be withheld when the writer recorded no stats: ${vRow.head}")
    // a v-range that matches nothing still cannot prune the file —
    // while the id column (with stats) still can
    assert(StatsIndex.pruneFiles(stats, Map("v" -> (1e9, 2e9))).size == 1)
    assert(StatsIndex.pruneFiles(stats, Map("id" -> (1e9, 2e9))).isEmpty)
  }

  test("updateFiles indexes a pre-listed delta, idempotently") {
    val root = Files.createTempDirectory("graft-statsidx-delta").toString
    val t = s"$root/t"
    val idx = s"$root/idx"
    (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      .coalesce(2).write.parquet(t)
    val files = StatsIndex.listDataFiles(spark, t)
    assert(files.size == 2)
    // feed one file as the publish delta, then both: the second call
    // indexes only the remaining one, the third is a no-op
    assert(StatsIndex.updateFiles(spark, files.take(1), idx, Seq("id")) == 1L)
    assert(StatsIndex.updateFiles(spark, files, idx, Seq("id")) == 1L)
    assert(StatsIndex.updateFiles(spark, files, idx, Seq("id")) == 0L)
    assert(StatsIndex.load(spark, idx).select("file").distinct().count() == 2)
  }

  test("writeRaw publish feeds its own file delta to the stats index") {
    val root = Files.createTempDirectory("graft-statsidx-raw").toString
    val out = s"$root/raw"
    val idx = s"$root/idx"
    val csv = s"$root/in.csv"
    val cols = Seq(CsvIngest.ColumnSpec("id", "INTEGER"),
      CsvIngest.ColumnSpec("v", "FLOAT"))
    java.nio.file.Files.write(java.nio.file.Paths.get(csv),
      "1,10.0\n2,20.0\n3,30.0\n".getBytes("UTF-8"))
    CsvIngest.load(spark, csv, cols, ingestionDate = "2024-03-01")
      .writeRaw(out, statsIndexPath = Some(idx))
    val stats = StatsIndex.load(spark, idx)
    // every published parquet file is indexed, none of the machinery dirs
    val indexed = stats.select("file").distinct().as[String].collect()
    assert(indexed.nonEmpty && indexed.forall(f =>
      f.contains("ingestion_date=2024-03-01") && f.endsWith(".parquet")))
    assert(indexed.toSet == StatsIndex.listDataFiles(spark, out).toSet)
    // a second day's publish appends only its own delta
    val csv2 = s"$root/in2.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(csv2),
      "4,40.0\n".getBytes("UTF-8"))
    CsvIngest.load(spark, csv2, cols, ingestionDate = "2024-03-02")
      .writeRaw(out, statsIndexPath = Some(idx))
    assert(StatsIndex.load(spark, idx).select("file").distinct().count() ==
      StatsIndex.listDataFiles(spark, out).size)
    // SAME-date re-ingest: publish REPLACES the partition dir (new random
    // part-file names, old files trashed) — the index must drop the stale
    // rows, not keep them alongside the fresh ones. With stale rows, the
    // index-fed read path (partitionFiles/prunedRead/mergeInto) would ask
    // for deleted files and die with PATH_NOT_FOUND.
    val csv3 = s"$root/in3.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(csv3),
      "id,v\n5,50.0\n6,60.0\n".getBytes("UTF-8"))
    CsvIngest.load(spark, csv3, cols, ingestionDate = "2024-03-01")
      .writeRaw(out, statsIndexPath = Some(idx))
    val after = StatsIndex.load(spark, idx).select("file").distinct()
      .as[String].collect().toSet
    val onDisk = StatsIndex.listDataFiles(spark, out).toSet
    assert(after == onDisk,
      s"index/table drift after same-date re-publish: stale=${after -- onDisk}")
    // and the index-fed partition listing serves readable files only
    val listed = StatsIndex.partitionFiles(
      StatsIndex.load(spark, idx), "ingestion_date", Seq("2024-03-01"))
    assert(listed.nonEmpty)
    val reread = spark.read.parquet(listed: _*)
    assert(reread.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 11L)
  }

  test("writeRaw publish reconciles the bloom index: bootstrap, delta, same-date replace") {
    val root = Files.createTempDirectory("graft-statsidx-rawbl").toString
    val (out, idx, bl) = (s"$root/raw", s"$root/idx", s"$root/blooms")
    val cols = Seq(CsvIngest.ColumnSpec("id", "INTEGER"),
      CsvIngest.ColumnSpec("v", "FLOAT"))
    def ingest(csvName: String, body: String, date: String): Unit = {
      val csv = s"$root/$csvName"
      java.nio.file.Files.write(java.nio.file.Paths.get(csv),
        body.getBytes("UTF-8"))
      CsvIngest.load(spark, csv, cols, ingestionDate = date)
        .writeRaw(out, statsIndexPath = Some(idx),
          bloomsPath = Some(bl), bloomColumns = Seq("id"))
    }
    def bloomFiles() = StatsIndex.loadBlooms(spark, bl)
      .select("file").distinct().as[String].collect().toSet
    // first publish BOOTSTRAPS the index (no manual buildBlooms step)
    ingest("in.csv", "id,v\n1,10.0\n2,20.0\n", "2024-03-01")
    assert(bloomFiles() == StatsIndex.listDataFiles(spark, out).toSet)
    // second day: incremental update covers exactly the current file set
    ingest("in2.csv", "id,v\n4,40.0\n", "2024-03-02")
    assert(bloomFiles() == StatsIndex.listDataFiles(spark, out).toSet)
    // same-date re-ingest REPLACES its partition's files: stale bloom rows
    // must drop with them (a stale row would feed prunedReadPoint a
    // deleted file → PATH_NOT_FOUND)
    ingest("in3.csv", "id,v\n5,50.0\n6,60.0\n", "2024-03-01")
    assert(bloomFiles() == StatsIndex.listDataFiles(spark, out).toSet,
      "bloom index lags the table after a same-date re-publish")
    // and the combined point-lookup path serves the fresh data
    val got = StatsIndex.prunedReadPoint(spark, StatsIndex.load(spark, idx),
      StatsIndex.loadBlooms(spark, bl), Map.empty, Map("id" -> 5L))
    assert(got.where(col("id") === 5).count() == 1L)
    // a genuinely absent key is a CORRECT query whose answer is zero
    // rows: total prune returns an empty, correctly-schemed frame
    val absent = StatsIndex.prunedReadPoint(spark, StatsIndex.load(spark, idx),
      StatsIndex.loadBlooms(spark, bl), Map.empty, Map("id" -> 999999L))
    assert(absent.schema == got.schema, "empty result must keep the table schema")
    assert(absent.count() == 0L)
  }

  test("total prune is a zero-row answer, not an error (range and point paths)") {
    val root = Files.createTempDirectory("graft-statsidx-empty").toString
    val df = (0L until 100L).map(i => (i, i.toDouble)).toDF("id", "v")
    df.coalesce(2).write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")
    val full = spark.read.parquet(s"$root/t")

    // range path: predicate outside every file's bounds
    val none = StatsIndex.prunedRead(spark, stats, Map("id" -> (5000.0, 6000.0)))
    assert(none.schema == full.schema && none.count() == 0L)

    // point path with blooms: value no filter has seen
    val bl = s"$root/blooms"
    StatsIndex.saveBlooms(StatsIndex.buildBlooms(spark, s"$root/t", Seq("id")), bl)
    val blooms = StatsIndex.loadBlooms(spark, bl)
    val nothing = StatsIndex.prunedReadPoint(spark, stats, blooms,
      Map.empty, Map("id" -> -1L))
    assert(nothing.schema == full.schema && nothing.count() == 0L)

    // empty frame composes downstream like any other DataFrame
    assert(nothing.where(col("v") > 0).join(full, Seq("id")).count() == 0L)
  }

  test("ORC table: footer stats index, prune, and pruned read (source_format=ORC surface)") {
    val root = Files.createTempDirectory("graft-statsidx-orc").toString
    val t = s"$root/t"
    // two ORC files with disjoint id ranges and distinct string prefixes
    (0L until 100L).map(i => (i, f"aa_$i%04d", i.toDouble, None: Option[Long]))
      .toDF("id", "k", "v", "dead")
      .coalesce(1).write.orc(t)
    (1000L until 1100L).map(i => (i, f"zz_$i%04d", i.toDouble, None: Option[Long]))
      .toDF("id", "k", "v", "dead")
      .coalesce(1).write.mode("append").orc(t)

    val stats = StatsIndex.build(spark, t)
    val files = stats.select("file").distinct().as[String].collect()
    assert(files.length == 2 && files.forall(_.endsWith(".orc")))
    // numeric + string bounds populated; the all-null column is provably
    // all-null (exact null counts from the ORC value count)
    assert(stats.where(col("column") === "id" && col("min_num").isNull)
      .count() == 0)
    assert(stats.where(col("column") === "k" && col("min_str").isNull)
      .count() == 0)
    assert(stats.where(col("column") === "dead")
      .as[StatsIndex.FileColStats].collect()
      .forall(s => s.null_count == s.rows))

    // numeric prune: the id range [1000, 1100] rules out the aa file
    val idHit = StatsIndex.pruneFiles(stats, Map("id" -> (1000.0, 1100.0)))
    assert(idHit.size == 1, s"expected 1 surviving file, got $idHit")
    // string prune: k < "b" rules out the zz file
    val strHit = StatsIndex.pruneFiles(stats, Map.empty,
      Map("k" -> ("a", "b")))
    assert(strHit.size == 1 && strHit != idHit)
    // all-null column: any range on `dead` excludes everything
    assert(StatsIndex.pruneFiles(stats, Map("dead" -> (0.0, 9.9))).isEmpty)

    // pruned read goes through the ORC reader and returns the real rows
    val got = StatsIndex.prunedRead(spark, stats, Map("id" -> (1000.0, 1100.0)))
      .where(col("id") >= 1000L).select("id").as[Long].collect().sorted
    assert(got.toSeq == (1000L until 1100L))
  }

  test("ORC string stats: supplementary-plane endpoints withhold bounds (UTF-16/UTF-8 order)") {
    val root = Files.createTempDirectory("graft-statsidx-orc-emoji").toString
    // Java (UTF-16) max of {"", emoji} is "" — an UNDER-bound
    // in Spark's UTF-8 order, where the 4-byte emoji sorts above; using it
    // could prune a file that matches. The index must withhold the bounds.
    Seq((1L, "x"), (2L, "😀x"))
      .toDF("id", "k").coalesce(1).write.orc(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t", columns = Seq("k"))
    val row = stats.as[StatsIndex.FileColStats].collect().head
    assert(row.min_str.isEmpty && row.max_str.isEmpty,
      s"unsafe UTF-16 string bounds emitted: $row")
    // and with no bounds, no string range can prune the file
    assert(StatsIndex.pruneFiles(stats, Map.empty,
      Map("k" -> ("", "￿"))).size == 1)
  }

  test("INT64 bounds are ulp-widened: a >2^53 long never fabricates disjointness") {
    val root = Files.createTempDirectory("graft-statsidx-big").toString
    val big = (1L << 60) + 3L // rounds when cast to double
    Seq(big).toDF("id").coalesce(1).write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")
    // probe exactly at the true value: the file must survive
    val surviving = StatsIndex.pruneFiles(stats,
      Map("id" -> (big.toDouble, big.toDouble)))
    assert(surviving.size == 1, "ulp widening failed: true value pruned away")
  }

  // ------------------------------------------------------------------
  // Per-file Bloom membership index
  // ------------------------------------------------------------------

  /** 8 files of SCATTERED high-cardinality keys: every file spans nearly
    * the full id range, so min/max can never prune a point lookup — the
    * regime the bloom index exists for. */
  private def scatteredTable(root: String): Unit = {
    val rnd = new scala.util.Random(7)
    // ids 0..7999 dealt round-robin-ish to 8 files → every file's range
    // is [~0, ~7999] but each holds only 1000 distinct ids
    val deal = rnd.shuffle((0L until 8000L).toVector)
    (0 until 8).foreach { f =>
      deal.slice(f * 1000, (f + 1) * 1000)
        .map(i => (i, s"key-$i"))
        .toDF("id", "k")
        .coalesce(1).write.mode("append").parquet(s"$root/t")
    }
  }

  test("bloom prune: sound on every present value, effective on scattered keys min/max cannot prune") {
    val root = Files.createTempDirectory("graft-bloomidx").toString
    scatteredTable(root)
    val stats = StatsIndex.build(spark, s"$root/t")
    val blooms = StatsIndex.buildBlooms(spark, s"$root/t", Seq("id", "k"),
      expectedItemsPerFile = 1000, fpp = 0.01)
    assert(blooms.count() == 16) // 8 files × 2 columns

    // min/max is USELESS here: every file survives a point range probe
    assert(StatsIndex.pruneFiles(stats, Map("id" -> (4242.0, 4242.0)))
      .size == 8)

    // soundness: for a sample of PRESENT values, the owning file always
    // survives and the pruned read returns exactly the matching rows
    val full = spark.read.parquet(s"$root/t")
    val rnd = new scala.util.Random(11)
    (0 until 20).map(_ => rnd.nextLong(8000L)).foreach { id =>
      val survivors = StatsIndex.pruneFilesBloom(blooms,
        Map.empty, Map("id" -> id))
      val owning = full.withColumn("_f", input_file_name())
        .where(col("id") === id).select("_f").distinct()
        .as[String].collect()
        .map(f => new org.apache.hadoop.fs.Path(f).toString).toSet
      assert(owning.subsetOf(survivors.toSet),
        s"bloom pruned a file containing id=$id")
      val got = StatsIndex.prunedReadPoint(spark, stats, blooms,
          Map.empty, Map("id" -> id))
        .where(col("id") === id).count()
      assert(got == 1L, s"point read lost id=$id")
    }
    // effectiveness: a present id's survivor set is far below 8 files
    // (absent-from-file probes fail at fpp≈1%)
    val sizes = (0 until 20).map(_ => rnd.nextLong(8000L)).map { id =>
      StatsIndex.pruneFilesBloom(blooms, Map.empty, Map("id" -> id)).size
    }
    assert(sizes.sum <= 20 * 2,
      s"bloom prune ineffective: avg survivors ${sizes.sum / 20.0} of 8")
    // string column probes agree with the long column's verdicts
    val sSurv = StatsIndex.pruneFilesBloom(blooms, Map("k" -> "key-4242"))
    val lSurv = StatsIndex.pruneFilesBloom(blooms, Map.empty,
      Map("id" -> 4242L))
    assert(sSurv.toSet.intersect(lSurv.toSet).nonEmpty)
    // conjunction: consistent pair prunes at least as hard as either
    val both = StatsIndex.pruneFilesBloom(blooms,
      Map("k" -> "key-4242"), Map("id" -> 4242L))
    assert(both.toSet.subsetOf(sSurv.toSet) && both.toSet.subsetOf(lSurv.toSet))
  }

  test("bloom prune: unknown predicate column keeps every file; no predicate = all files") {
    val root = Files.createTempDirectory("graft-bloomidx-unk").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .coalesce(1).write.parquet(s"$root/t")
    val blooms = StatsIndex.buildBlooms(spark, s"$root/t", Seq("id"))
    assert(StatsIndex.pruneFilesBloom(blooms,
      Map("nope" -> "x"), Map("also_nope" -> 5L)).size == 1)
    assert(StatsIndex.pruneFilesBloom(blooms, Map.empty).size == 1)
  }

  test("updateBlooms indexes only new files; existing rows byte-identical") {
    val root = Files.createTempDirectory("graft-bloomidx-upd").toString
    Seq((1L, "a")).toDF("id", "k").coalesce(1).write.parquet(s"$root/t")
    val bPath = s"$root/blooms"
    StatsIndex.saveBlooms(
      StatsIndex.buildBlooms(spark, s"$root/t", Seq("id")), bPath)
    val before = StatsIndex.loadBlooms(spark, bPath)
      .as[StatsIndex.FileBloom].collect()
      .map(b => b.file -> b.bloom.toSeq).toMap
    Seq((2L, "b")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(s"$root/t")
    val after = StatsIndex.updateBlooms(spark, s"$root/t", bPath, Seq("id"))
      .as[StatsIndex.FileBloom].collect()
    assert(after.length == 2)
    before.foreach { case (f, bytes) =>
      assert(after.find(_.file == f).get.bloom.toSeq == bytes,
        "existing bloom row changed on update")
    }
    // the new file's value is findable, the old file prunes for it
    val surv = StatsIndex.pruneFilesBloom(
      StatsIndex.loadBlooms(spark, bPath), Map.empty, Map("id" -> 2L))
    assert(surv.size == 1 && !before.contains(surv.head))
  }

  test("updateBlooms reconciles a republished table: stale file rows dropped, survivors readable") {
    val root = Files.createTempDirectory("graft-bloomidx-repub").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .coalesce(1).write.parquet(s"$root/t")
    val bPath = s"$root/blooms"
    StatsIndex.saveBlooms(
      StatsIndex.buildBlooms(spark, s"$root/t", Seq("id")), bPath)
    // republish the whole table: new random part-file names, old gone
    Seq((2L, "b"), (3L, "c")).toDF("id", "k")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/t")
    val after = StatsIndex.updateBlooms(spark, s"$root/t", bPath, Seq("id"))
    val current = StatsIndex.listDataFiles(spark, s"$root/t").toSet
    assert(after.select("file").distinct().as[String].collect().toSet
      == current, "index names files that are not the table's")
    // a survivor list after the republish reads without PATH_NOT_FOUND
    val surv = StatsIndex.pruneFilesBloom(
      StatsIndex.loadBlooms(spark, bPath), Map.empty, Map("id" -> 3L))
    assert(surv.nonEmpty)
    assert(spark.read.parquet(surv: _*).where(col("id") === 3L).count() == 1)
  }

  test("prunedReadPoint: a file the bloom index has not seen is kept (unknown never prunes)") {
    val root = Files.createTempDirectory("graft-bloomidx-gap").toString
    // file 1 spans [1,3] so min/max CANNOT prune a probe for 2
    Seq((1L, "a"), (3L, "c")).toDF("id", "k")
      .coalesce(1).write.parquet(s"$root/t")
    val bPath = s"$root/blooms"
    StatsIndex.saveBlooms(
      StatsIndex.buildBlooms(spark, s"$root/t", Seq("id")), bPath)
    // a later landing reaches the stats index (the writeRaw auto-path)
    // BEFORE updateBlooms runs — the bloom relation has no row for it
    Seq((2L, "b")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")
    val blooms = StatsIndex.loadBlooms(spark, bPath)
    // id=2 lives ONLY in the bloom-uncovered file; the covered file's
    // bloom proves 2 absent — intersecting blindly would prune EVERYTHING
    val got = StatsIndex.prunedReadPoint(spark, stats, blooms,
      Map.empty, Map("id" -> 2L))
    assert(got.where(col("id") === 2L).count() == 1L,
      "bloom-uncovered file was pruned — false negative")
    // the covered file still prunes: only the uncovered file is scanned
    assert(got.count() == 1L,
      "bloom stopped pruning the covered file it can prove absent")
  }

  test("vacuum reaps only unindexed data files past the grace window; empty index refuses") {
    val root = Files.createTempDirectory("graft-vacuum").toString
    spark.range(100).select(col("id"), (col("id") % 10).as("v"))
      .repartition(4).write.parquet(s"$root/t")
    val stats = StatsIndex.build(spark, s"$root/t")

    // a bypassing write lands two files the index never saw
    spark.range(100, 120).select(col("id"), (col("id") % 10).as("v"))
      .repartition(2).write.mode("append").parquet(s"$root/t")
    val before = StatsIndex.listDataFiles(spark, s"$root/t")
    assert(before.size == 6)

    // young files survive any sane grace
    assert(StatsIndex.vacuum(spark, s"$root/t", stats,
      graceMs = 3600L * 1000).isEmpty)
    // dry run names the two strays, deletes nothing
    val dry = StatsIndex.vacuum(spark, s"$root/t", stats,
      graceMs = 0L, dryRun = true)
    assert(dry.size == 2 &&
      StatsIndex.listDataFiles(spark, s"$root/t").size == 6)
    // real vacuum: strays gone, indexed generation intact and readable
    val gone = StatsIndex.vacuum(spark, s"$root/t", stats, graceMs = 0L)
    assert(gone == dry)
    val left = StatsIndex.listDataFiles(spark, s"$root/t")
    assert(left.size == 4)
    assert(spark.read.parquet(s"$root/t").count() == 100)
    // idempotent; and an empty manifest must refuse to run at all
    assert(StatsIndex.vacuum(spark, s"$root/t", stats, graceMs = 0L).isEmpty)
    assertThrows[IllegalArgumentException] {
      StatsIndex.vacuum(spark, s"$root/t", stats.limit(0), graceMs = 0L)
    }
  }

  test("bloom build rejects non-equality-typed columns loudly; SQL registration round-trips") {
    val root = Files.createTempDirectory("graft-bloomidx-typ").toString
    Seq((1L, 0.5, "x")).toDF("id", "v", "k")
      .coalesce(1).write.parquet(s"$root/t")
    val e = intercept[IllegalArgumentException] {
      StatsIndex.buildBlooms(spark, s"$root/t", Seq("v"))
    }
    assert(e.getMessage.contains("equality membership"))
    // SQL surface: graft_bloom_build bytes are a readable filter
    spark.read.parquet(s"$root/t").createOrReplaceTempView("bloom_t")
    val bytes = spark.sql(
      "SELECT graft_bloom_build(k, 100, 0.01) FROM bloom_t")
      .collect().head.getAs[Array[Byte]](0)
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    assert(bf.mightContainString("x") && !bf.mightContainString("absent"))
  }

  test("vacuum sweeps partition directories it emptied; live and root dirs stay") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vac-dir").toString
    val t = s"$root/t"
    Seq((1L, "d1"), (2L, "d2")).toDF("id", "day")
      .write.partitionBy("day").parquet(t)
    // index ONLY day=d1's files: day=d2 is unindexed garbage by the
    // manifest discipline, so vacuum reaps its files AND its now-dead dir
    val stats = StatsIndex.build(spark, t)
      .where(org.apache.spark.sql.functions.col("file").contains("/day=d1/"))
    val reaped = StatsIndex.vacuum(spark, t, stats, graceMs = 0L)
    assert(reaped.nonEmpty && reaped.forall(_.contains("/day=d2/")))
    val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/day=d2")),
      "emptied partition dir must be swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$t/day=d1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(t)),
      "live partition and table root must stay")
  }

  test("restrictToPartitions: past the width threshold keep and drop plan a join, no segment-test chain; rows == the narrow form") {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
    // two-level synthetic manifest named by Spark's own writer function:
    // a NULL (default partition) and Hive-escaped values included
    def value(i: Int): String =
      if (i == 0) null else if (i % 7 == 0) s"a:$i" else f"v$i%03d"
    val n = StatsIndex.wideTupleThreshold + 16
    val parts = for (i <- 0 until n; b <- Seq("0", "1")) yield (value(i), b)
    def file(t: (String, String)) = "file:/t/" +
      getPartitionPathString("d", t._1) + "/" +
      getPartitionPathString("b", t._2) + "/f.parquet"
    val manifest = parts.map(file).toDF("file")
    val tuples = (0 until StatsIndex.wideTupleThreshold + 6)
      .map(i => Seq(value(i), "0"))
    val under = tuples.map(t => file((t(0), t(1)))).toSet
    def files(df: org.apache.spark.sql.DataFrame) =
      df.select("file").as[String].collect().toSet
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString

    val chunks = tuples.grouped(StatsIndex.wideTupleThreshold).toSeq
    assert(chunks.size == 2)
    for ((keep, join) <- Seq(true -> "Join LeftSemi", false -> "Join LeftAnti")) {
      val wide = StatsIndex.restrictToPartitions(manifest, Seq("d", "b"),
        tuples, keep)
      assert(plan(wide).contains(join), s"keep=$keep: no $join:\n${plan(wide)}")
      assert(!plan(wide).contains("StartsWith(") &&
        !plan(wide).contains("Contains("), s"keep=$keep: ${plan(wide)}")
      // the narrow form, chunk by chunk under the threshold, on the
      // same manifest: union of keeps, successive drops
      val narrow =
        if (keep) chunks.map(c => StatsIndex.restrictToPartitions(manifest,
          Seq("d", "b"), c, keep = true)).reduce(_.unionByName(_))
        else chunks.foldLeft(manifest)((m, c) =>
          StatsIndex.restrictToPartitions(m, Seq("d", "b"), c, keep = false))
      assert(!plan(narrow).contains("Join"))
      val want = if (keep) under else parts.map(file).toSet -- under
      assert(files(wide) == want)
      assert(files(narrow) == want)
    }
  }

  test("replacePartitions wider than the tuple threshold keeps survivors through the anti-join; index == a fresh build") {
    val root = Files.createTempDirectory("graft-statsidx-wide").toString
    val (path, idx) = (s"$root/t", s"$root/idx")
    val n = StatsIndex.wideTupleThreshold + 10
    val wide = StatsIndex.wideTupleThreshold + 6
    (0 until n).map(i => (i.toLong, f"p$i%03d")).toDF("id", "p")
      .repartition(1).write.partitionBy("p").parquet(path)
    StatsIndex.save(StatsIndex.build(spark, path), idx)
    // re-land the first `wide` partitions under fresh file names
    (0 until wide).map(i => (1000L + i, f"p$i%03d")).toDF("id", "p")
      .repartition(1).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p").parquet(path)
    val (_, work) = Obs.measure(spark)(StatsIndex.replacePartitions(spark,
      idx, (0 until wide).map(i => f"$path/p=p$i%03d")))
    val plans = work.executions.map(_.plan)
    assert(plans.exists(_.contains("LeftAnti")),
      s"no anti-join survivor plan among:\n${plans.mkString("\n")}")
    assert(!plans.exists(_.contains("StartsWith")))
    def statRows(df: org.apache.spark.sql.DataFrame) =
      df.select("file", "column", "rows", "min_num", "max_num")
        .collect().map(_.toString).toSet
    assert(statRows(StatsIndex.load(spark, idx)) ==
      statRows(StatsIndex.build(spark, path)))
    assert(IndexedScan.readIndexed(spark, path, idx)
      .select(col("id"), col("p")).as[(Long, String)].collect().toSet ==
      ((0 until wide).map(i => (1000L + i, f"p$i%03d")) ++
        (wide until n).map(i => (i.toLong, f"p$i%03d"))).toSet)
  }
}
