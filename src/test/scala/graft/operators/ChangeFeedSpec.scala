package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.obs.Obs
import graft.sources.StatsIndex

/** Time travel + change data feed over the versioned manifest
  * ([[ChangeFeed]]): `asOf` pins any retained generation, `between`
  * emits the keyed SnapshotDiff of two generations restricted to the
  * partitions whose file manifests changed — and that restriction must
  * be REAL (untouched partitions' files never enter the read) without
  * ever changing the answer. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame) = df
    .select(col("order_id").cast("long"), col("day").cast("string"),
      col("amount").cast("double"))
    .as[(Long, String, Double)].collect().toSet

  private val base = Seq(
    (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
    (3L, "2024-01-02", 30.0), (4L, "2024-01-03", 40.0))

  test("asOf reads each generation; between emits exactly the change rows of the hop") {
    val root = Files.createTempDirectory("graft-cf").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val g1 = Upsert.mergeIntoVersioned(path,
      base.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    // gen2: update key 2, insert key 5 (new partition), delete key 4
    // (empties its partition)
    val g2 = Upsert.mergeIntoVersioned(path,
      Seq((2L, "2024-01-01", 99.0), (5L, "2024-01-04", 50.0))
        .toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx,
      deletes = Some(Seq((4L, "2024-01-03")).toDF("order_id", "day")))

    assert(rows(ChangeFeed.asOf(spark, path, idx, g1)) == base.toSet)
    assert(rows(ChangeFeed.asOf(spark, path, idx, g2)) == Set(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 99.0),
      (3L, "2024-01-02", 30.0), (5L, "2024-01-04", 50.0)))

    // pruning is real: only the merged/inserted/emptied partitions'
    // file sets changed — day=2024-01-02 never enters the hop
    val sa = StatsIndex.load(spark, s"$idx/_v=$g1")
    val sb = StatsIndex.load(spark, s"$idx/_v=$g2")
    assert(ChangeFeed.touchedSlices(sa, sb, Seq("day")).touched.map(_.head) ==
      Seq("2024-01-01", "2024-01-03", "2024-01-04"))

    val feed = ChangeFeed.between(spark, path, idx, g1, g2,
        Seq("order_id"), "day")
      .select(col("op"), col("order_id").cast("long"),
        col("b_amount").cast("double"), col("a_amount").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(feed == Set(
      ("update", 2L, 20.0, 99.0),
      ("insert", 5L, null, 50.0),
      ("delete", 4L, 40.0, null)))

    // a rewrite that lands IDENTICAL values still flips a generation
    // (files are new) but must feed ZERO change rows
    val g3 = Upsert.mergeIntoVersioned(path,
      Seq((1L, "2024-01-01", 10.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    assert(g3 == g2 + 1)
    assert(ChangeFeed.between(spark, path, idx, g2, g3,
      Seq("order_id"), "day").isEmpty)

    // column projection: payload restricted to the named columns
    val projected = ChangeFeed.between(spark, path, idx, g1, g2,
      Seq("order_id"), "day", columns = Seq("amount"))
    assert(projected.columns.toSeq ==
      Seq("op", "order_id", "b_day", "a_day", "b_amount", "a_amount"))

    // vacuum against the latest generation reaps replaced files → a
    // pinned old generation becomes unreadable by construction; asOf
    // must then throw rather than silently return partial data
    StatsIndex.vacuum(spark, path,
      StatsIndex.loadLatest(spark, s"$idx"), graceMs = 0L)
    val e = intercept[Exception](
      ChangeFeed.asOf(spark, path, idx, g1).collect())
    assert(e != null)
  }

  test("append-only hop diffs only the new partition — the from side reads ZERO files") {
    val root = Files.createTempDirectory("graft-cf-app").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val g1 = Upsert.mergeIntoVersioned(path,
      base.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    // the daily-ingest hop: one brand-new partition, nothing else touched
    val g2 = Upsert.mergeIntoVersioned(path,
      Seq((7L, "2024-01-07", 70.0), (8L, "2024-01-07", 80.0))
        .toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)

    val sa = StatsIndex.load(spark, s"$idx/_v=$g1")
    val sb = StatsIndex.load(spark, s"$idx/_v=$g2")
    val slices = ChangeFeed.touchedSlices(sa, sb, Seq("day"))
    val touched = slices.touched
    assert(touched == Seq(Seq("2024-01-07")))
    // the restricted from-slice is FILE-EMPTY: the hop must not fall back
    // to the full manifests
    assert(slices.from.isEmpty)
    assert(StatsIndex.restrictToPartitions(sa, Seq("day"), touched, keep = true)
      .select("file").isEmpty)

    // behavioral proof that no fallback reads the untouched partitions:
    // delete every pre-hop data file from disk — a full-manifest read
    // (the old fallback) would crash on the missing files; the
    // slice-restricted diff never opens them
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    sa.select("file").collect().map(_.getString(0)).foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    val feed = ChangeFeed.between(spark, path, idx, g1, g2,
        Seq("order_id"), "day")
      .select(col("op"), col("order_id").cast("long"),
        col("a_amount").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(feed == Set(("insert", 7L, 70.0), ("insert", 8L, 80.0)))
  }

  test("a delete-all merge commits a file-empty generation that stays readable and CDC-traversable") {
    val root = Files.createTempDirectory("graft-cf-empty").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val two = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0))
    val g1 = Upsert.mergeIntoVersioned(path,
      two.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    import org.apache.spark.sql.functions.lit
    val g2 = Upsert.mergeIntoVersioned(path,
      two.toDF("order_id", "day", "amount").where(lit(false)),
      Seq("order_id"), "day", idx,
      deletes = Some(two.toDF("order_id", "day", "amount")
        .select("order_id", "day")))

    // the empty generation answers as the empty relation under the
    // recorded schema (+ partition column), not an error
    val empty = ChangeFeed.asOf(spark, path, idx, g2)
    assert(empty.columns.toSeq == Seq("order_id", "amount", "day"))
    assert(empty.isEmpty)

    // hop INTO the empty generation: every row a delete
    val intoIt = ChangeFeed.between(spark, path, idx, g1, g2,
        Seq("order_id"), "day")
      .select(col("op"), col("order_id").cast("long"))
      .as[(String, Long)].collect().toSet
    assert(intoIt == Set(("delete", 1L), ("delete", 2L)))

    // hop OUT of it: re-inserts read as inserts — a follower never wedges
    val g3 = Upsert.mergeIntoVersioned(path,
      Seq((9L, "2024-01-09", 90.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    val outOf = ChangeFeed.between(spark, path, idx, g2, g3,
        Seq("order_id"), "day")
      .select(col("op"), col("order_id").cast("long"))
      .as[(String, Long)].collect().toSet
    assert(outOf == Set(("insert", 9L)))
  }

  /** A synthetic manifest: one stats row per named file. */
  private def stats(files: String*): DataFrame = files.toSeq
    .map(StatsIndex.FileColStats(_, 1L, "x", "INT64", None, None, None, None, 0L))
    .toDF()

  test("changedPartitionValues extracts multi-level tuples, quoted-metachar columns, and escaped values") {
    val a = stats(
      "file:/t/d=2024-01-01/b.id=1/f1.parquet",
      "file:/t/d=2024-01-02/b.id=1/f2.parquet")
    val b = stats(
      "file:/t/d=2024-01-01/b.id=1/f1.parquet", // shared: untouched
      "file:/t/d=2024-01-02/b.id=1/f2b.parquet", // replaced
      "file:/t/d=2024-01-03/b.id=2/f3.parquet") // new
    // `b.id` contains a regex metachar — Pattern.quote keeps it literal
    assert(ChangeFeed.touchedSlices(a, b, Seq("d", "b.id")).touched ==
      Seq(Seq("2024-01-02", "1"), Seq("2024-01-03", "2")))
    // Hive-escaped partition values unescape on the way out
    val esc = stats("file:/t/k=a%3Ab/f.parquet")
    assert(ChangeFeed.touchedSlices(esc, stats(), Seq("k")).touched ==
      Seq(Seq("a:b")))
  }

  test("wrong partition columns fail LOUDLY instead of returning an empty feed (ADVICE r19)") {
    // a changed file whose path carries none of the claimed partition
    // columns → the hop's slice construction throws (silently dropping it
    // would let a CDC follower apply nothing and advance its cursor)
    val a = stats("file:/t/day=d1/f1.parquet")
    val b = stats("file:/t/day=d1/f1.parquet", "file:/t/day=d2/f2.parquet")
    intercept[IllegalStateException] {
      ChangeFeed.touchedSlices(a, b, Seq("not_a_col"))
    }
    // and end-to-end: partitionCols passed in the WRONG NESTING ORDER —
    // extraction parses (per-column regexes are order-independent) but
    // the nested-segment restriction matches nothing; pre-R20 this
    // returned an EMPTY feed, now it throws
    val root = Files.createTempDirectory("graft-cf-loud").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    def df(rows: (Long, String, Long, Double)*) =
      rows.toSeq.toDF("order_id", "day", "batch", "amount")
    val g1 = Upsert.mergeIntoVersionedCols(path,
      df((1L, "d1", 0L, 10.0), (2L, "d2", 0L, 20.0)),
      Seq("order_id"), Seq("day", "batch"), idx)
    val g2 = Upsert.mergeIntoVersionedCols(path,
      df((1L, "d1", 0L, 99.0)), Seq("order_id"), Seq("day", "batch"), idx)
    val boom = intercept[IllegalStateException] {
      ChangeFeed.betweenCols(spark, path, idx, g1, g2,
        Seq("order_id"), Seq("batch", "day")).count()
    }
    assert(boom.getMessage.contains("nesting order"))
    // the correctly-ordered call still answers
    val ok = ChangeFeed.betweenCols(spark, path, idx, g1, g2,
        Seq("order_id"), Seq("day", "batch"))
      .select(col("op"), col("order_id").cast("long"))
      .as[(String, Long)].collect().toSet
    assert(ok == Set(("update", 1L)))
  }

  test("betweenCols construction runs exactly ONE Spark job (fused manifest diff + restriction + slice collect)") {
    val root = Files.createTempDirectory("graft-cf-jobs").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val g1 = Upsert.mergeIntoVersioned(path,
      base.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    val g2 = Upsert.mergeIntoVersioned(path,
      Seq((2L, "2024-01-01", 99.0)).toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    // count driver ACTIONS (root SQL executions), not scheduler jobs —
    // AQE legitimately splits one query into several stage-jobs
    val (feed, work) = Obs.measure(spark)(ChangeFeed.between(spark, path, idx,
      g1, g2, Seq("order_id"), "day"))
    val constructionJobs = work.executions.size
    // the fused pass is the ONLY action the hop construction may run —
    // a regression back to per-step actions (tuple collect, emptiness
    // probe, per-side index collects) shows up as extra jobs here
    assert(constructionJobs == 1,
      s"betweenCols construction ran $constructionJobs SQL executions, expected 1")
    // and the feed itself still answers (executed lazily by the caller)
    assert(feed.where(col("op") === "update").count() == 1)
  }

  test("wide hop (1000+ touched partitions): restriction is a broadcast tuple join, never an N-term OR; answers unchanged") {
    import spark.implicits._
    // plan-shape guarantee first, on synthetic manifests (cheap): past
    // the threshold the restricted slice's plan must carry a join and
    // ZERO Contains tests
    val manyFiles = (0 until 1200).map(i => s"file:/t/day=d$i/f$i.parquet")
    val manifest = manyFiles.toDF("file")
    val touched = (0 until 1100).map(i => Seq(s"d$i"))
    val restricted = StatsIndex.restrictToPartitions(manifest, Seq("day"),
      touched, keep = true)
    val plan = restricted.queryExecution.analyzed.toString
    assert(!plan.contains("Contains("),
      s"wide restriction still compiles Contains tests:\n${plan.take(2000)}")
    assert(plan.contains("Join LeftSemi"),
      s"wide restriction is not a semi-join:\n${plan.take(2000)}")
    assert(restricted.count() == 1100)
    // the small-hop path is unchanged (pure filter, no join)
    val narrow = StatsIndex.restrictToPartitions(manifest, Seq("day"),
      Seq(Seq("d1"), Seq("d2")), keep = true)
    assert(!narrow.queryExecution.analyzed.toString.contains("Join"))
    assert(narrow.count() == 2)

    // then end-to-end over a REAL versioned table whose hop touches
    // every one of 1000+ partitions (the full-rewrite shape): merge,
    // survivor filter, slice read, and CDF all cross the threshold
    val root = Files.createTempDirectory("graft-cf-wide").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val n = 1100
    val g1rows = (0 until n).map(i => (i.toLong, f"d$i%04d", i.toDouble))
    val g1 = Upsert.mergeIntoVersioned(path,
      g1rows.toDF("order_id", "day", "amount"), Seq("order_id"), "day", idx)
    // touch EVERY partition: bump every amount
    val g2 = Upsert.mergeIntoVersioned(path,
      g1rows.map { case (id, d, a) => (id, d, a + 0.5) }
        .toDF("order_id", "day", "amount"),
      Seq("order_id"), "day", idx)
    val feed = ChangeFeed.between(spark, path, idx, g1, g2,
      Seq("order_id"), "day")
    assert(feed.where(col("op") === "update").count() == n)
    assert(feed.where(col("op") =!= "update").count() == 0)
    // and the snapshot reads stay exact on both rims of the hop
    assert(ChangeFeed.asOf(spark, path, idx, g1)
      .agg(sum("amount")).as[Double].head() ==
      g1rows.map(_._3).sum)
    assert(ChangeFeed.asOf(spark, path, idx, g2)
      .agg(sum("amount")).as[Double].head() ==
      g1rows.map(_._3 + 0.5).sum)
  }
}
