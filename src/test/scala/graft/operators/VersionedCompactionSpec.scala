package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.obs.Obs
import graft.sources.{IndexedScan, StatsIndex}

/** Compaction as a generation commit ([[Compaction.compactVersioned]]):
  * fewer manifest files, identical rows, EMPTY change feed across the
  * compaction hop, snapshot isolation for pre-compaction readers, and
  * schema-evolution debt paid down physically. */
class VersionedCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def manifestFiles(idx: String, gen: Long, part: String): Seq[String] =
    StatsIndex.load(spark, s"$idx/_v=$gen")
      .select("file").distinct().as[String].collect().toSeq
      .filter(_.contains(s"/day=$part/"))

  test("compactVersioned: fewer files, same rows, empty CDF hop, old snapshot intact") {
    val root = Files.createTempDirectory("graft-vcomp").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    // a fragmented partition: the merge's staged write is repartitioned
    // wide, so day=d1 lands as many small files in the manifest
    val rows = (0L until 24L).map(i => (i, if (i % 3 == 0) "d2" else "d1", i * 1.5))
    val g1 = Upsert.mergeIntoVersioned(path,
      rows.toDF("order_id", "day", "amount").repartition(8),
      Seq("order_id"), "day", idx)
    val before = manifestFiles(idx, g1, "d1")
    assert(before.size >= 4, s"fixture wants fragmentation, got ${before.size} files")
    val preRead = IndexedScan.readIndexedVersioned(spark, path, idx)
      .select("order_id", "day", "amount")
      .as[(Long, String, Double)].collect().toSet

    val g2 = Compaction.compactVersioned(spark, path, idx,
      targetBytes = 1L << 30, minFiles = 2)
    assert(g2.contains(g1 + 1))
    // manifest: d1 collapsed to one file, rows identical
    assert(manifestFiles(idx, g2.get, "d1").size == 1)
    val postRead = IndexedScan.readIndexedVersioned(spark, path, idx)
      .select("order_id", "day", "amount")
      .as[(Long, String, Double)].collect().toSet
    assert(postRead == preRead, "compaction must never change rows")

    // the invariant: a compaction hop feeds ZERO change rows
    assert(ChangeFeed.between(spark, path, idx, g1, g2.get,
      Seq("order_id"), "day").isEmpty)

    // a reader pinned pre-compaction still reads the small files
    assert(ChangeFeed.asOf(spark, path, idx, g1)
      .select("order_id", "day", "amount")
      .as[(Long, String, Double)].collect().toSet == preRead)

    // re-run converges to a no-op
    assert(Compaction.compactVersioned(spark, path, idx,
      targetBytes = 1L << 30, minFiles = 2).isEmpty)
  }

  test("compaction pays down schema-evolution debt: rewritten files carry the added column physically") {
    val root = Files.createTempDirectory("graft-vcomp2").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    Upsert.mergeIntoVersioned(path,
      (0L until 8L).map(i => (i, "d1", i * 1.0))
        .toDF("order_id", "day", "amount").repartition(4),
      Seq("order_id"), "day", idx)
    // evolve: add `note` via a second partition so d1's files stay old
    Upsert.mergeIntoVersioned(path,
      Seq((100L, "d2", 1.0, "x")).toDF("order_id", "day", "amount", "note"),
      Seq("order_id"), "day", idx)
    val g3 = Compaction.compactVersioned(spark, path, idx,
      targetBytes = 1L << 30, minFiles = 2)
    assert(g3.nonEmpty)
    val d1File = manifestFiles(idx, g3.get, "d1")
    assert(d1File.size == 1)
    // the compacted FILE itself (read raw, no recorded schema) now has
    // the evolved column — null-filled physically, debt retired
    val raw = spark.read.parquet(d1File.head)
    assert(raw.columns.contains("note"))
    assert(raw.where(col("note").isNotNull).count() == 0)
    val all = IndexedScan.readIndexedVersioned(spark, path, idx)
    assert(all.count() == 9 &&
      all.where(col("note") === "x").count() == 1)
  }

  test("a compaction wider than the tuple threshold keeps survivors through the anti-join; rows unchanged") {
    val root = Files.createTempDirectory("graft-vcomp-wide").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    val n = StatsIndex.wideTupleThreshold + 6
    // 8 rows per day hashed over 4 write tasks: every day lands fragmented
    val rows = (0 until 8 * n).map(i => (i.toLong, f"d${i % n}%03d", i * 1.5))
    val g1 = Upsert.mergeIntoVersioned(path,
      rows.toDF("order_id", "day", "amount").repartition(4, col("order_id")),
      Seq("order_id"), "day", idx)
    val perDay = StatsIndex.load(spark, s"$idx/_v=$g1")
      .select("file").distinct().as[String].collect().toSeq
      .groupBy(_.split('/').find(_.startsWith("day=")))
    assert(perDay.size == n && perDay.values.forall(_.size >= 2),
      s"fixture wants every day fragmented: ${perDay.view.mapValues(_.size).toMap}")
    def read() = IndexedScan.readIndexedVersioned(spark, path, idx)
      .select("order_id", "day", "amount")
      .as[(Long, String, Double)].collect().toSet
    assert(read() == rows.toSet)

    val (g2, work) = Obs.measure(spark)(Compaction.compactVersioned(spark,
      path, idx, targetBytes = 1L << 30, minFiles = 2))
    val plans = work.executions.map(_.plan)
    assert(g2.contains(g1 + 1))
    assert(plans.exists(_.contains("LeftAnti")),
      s"no anti-join survivor plan among:\n${plans.mkString("\n")}")
    assert(!plans.exists(_.contains("StartsWith")))
    assert(read() == rows.toSet, "compaction must never change rows")
    assert(StatsIndex.load(spark, s"$idx/_v=${g2.get}")
      .select("file").distinct().count() == n)
  }

  /** A versioned table of `day=a` as 8 small files (bad layout) and
    * `day=b` as 1 file (already good). */
  private def fragmented(name: String): (String, String) = {
    val root = Files.createTempDirectory(name).toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    Upsert.mergeIntoVersioned(path,
      (1 to 800).map(i => (i.toLong, "a")).toDF("id", "day").repartition(8),
      Seq("id"), "day", idx)
    Upsert.mergeIntoVersioned(path,
      (1 to 100).map(i => (i.toLong + 1000, "b")).toDF("id", "day").coalesce(1),
      Seq("id"), "day", idx)
    assert(manifestFiles(idx, 2, "a").size == 8 &&
      manifestFiles(idx, 2, "b").size == 1)
    (path, idx)
  }

  private def latest(idx: String): Long = StatsIndex.generations(spark, idx).last

  private def bytesOf(files: Seq[String]): Long = files.map { f =>
    val p = new org.apache.hadoop.fs.Path(f)
    p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
  }.sum

  test("untouched partition stays verbatim") {
    val (path, idx) = fragmented("graft-vcomp-untouched")
    def rows() = IndexedScan.readIndexedVersioned(spark, path, idx)
      .select("id", "day").as[(Long, String)].collect().sorted.toSeq
    def bRows(gen: Long) = StatsIndex.load(spark, s"$idx/_v=$gen")
      .where(col("file").contains("/day=b/")).collect().map(_.toString).sorted.toSeq
    def onDisk(files: Seq[String]) = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
    val before = rows()
    val bFiles = manifestFiles(idx, 2, "b")
    val bDisk = onDisk(bFiles)

    val g3 = Compaction.compactVersioned(spark, path, idx, targetBytes = 1L << 20)
    assert(g3.contains(3L))
    assert(manifestFiles(idx, 3, "a").size == 1)
    // the good partition was never read, never written: its manifest
    // rows and its file on disk are exactly the previous generation's
    assert(bRows(3) == bRows(2))
    assert(manifestFiles(idx, 3, "b") == bFiles && onDisk(bFiles) == bDisk)
    assert(rows() == before, "compaction must never change rows")
    // idempotent, and no staging residue
    assert(Compaction.compactVersioned(spark, path, idx,
      targetBytes = 1L << 20).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .exists(_.getPath.getName.startsWith("_staging")))
  }

  test("byte targets and the minFiles floor") {
    val (path, idx) = fragmented("graft-vcomp-bytes")
    val bytes = bytesOf(manifestFiles(idx, 2, "a"))
    // a target of bytes/2 (+1 for rounding) wants 2 files
    assert(Compaction.compactVersioned(spark, path, idx,
      targetBytes = bytes / 2 + 1).contains(3L))
    assert(manifestFiles(idx, 3, "a").size == 2)
    assert(manifestFiles(idx, 3, "b").size == 1)
    // minFiles floor: 2 files over a 1-file target, but under the
    // default minFiles = 4 — not churned
    assert(Compaction.compactVersioned(spark, path, idx,
      targetBytes = 1L << 20).isEmpty)
    assert(latest(idx) == 3L && manifestFiles(idx, 3, "a").size == 2)
  }

  test("zorderBy bounds a 2-D predicate's scan") {
    val root = Files.createTempDirectory("graft-vcomp-z").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    // one bad-layout partition of 8k rows over two independent dims
    val seeded = new scala.util.Random(7)
    Upsert.mergeIntoVersioned(path, (1 to 8000).map { i =>
        (i.toLong, seeded.nextInt(1000).toLong, seeded.nextDouble() * 500, "a")
      }.toDF("id", "uid", "score", "day").repartition(16),
      Seq("id"), "day", idx)
    def ids() = IndexedScan.readIndexedVersioned(spark, path, idx)
      .select("id").as[Long].collect().sorted.toSeq
    val before = ids()
    val files = manifestFiles(idx, 1, "a")
    assert(files.size == 16)

    // compact 16 bad files into 8 z-ordered ones; the skipping assertion
    // below is absolute (fraction of ROWS materialized), so it measures
    // clustering, not merely fewer files
    val g2 = Compaction.compactVersioned(spark, path, idx,
      targetBytes = bytesOf(files) / 8 + 1, zorderBy = Seq("uid", "score"))
    assert(g2.contains(2L))
    assert(ids() == before, "z-ordered compaction changed the data")

    val compacted = manifestFiles(idx, 2, "a")
    assert(compacted.size == 8)
    val q = spark.read.parquet(compacted: _*)
      .where(col("uid").between(100L, 220L) && col("score").between(50.0, 140.0))
    q.collect()
    val rows = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.metrics("numOutputRows").value
    val total = 8000L
    assert(rows * 2 <= total,
      s"z-ordered compaction skipped too little: scanned $rows of $total")
  }

  test("compaction keeps the bloom relation") {
    val root = Files.createTempDirectory("graft-vcomp-bloom").toString
    val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
    // ONE partition, 8 files of SCATTERED ids — min/max pruning useless
    val keys = Seq("order_id", "item_id")
    Upsert.mergeIntoVersionedCols(path,
      (0L until 800L).map(i => (i, 1L, "2024-01-01", i * 1.0))
        .toDF("order_id", "item_id", "day", "amount").repartition(8),
      keys, Seq("day"), idx, bloomColumns = Seq("order_id"))
    // a second, single-file partition the compaction leaves alone: its
    // bloom rows must carry over
    val g2 = Upsert.mergeIntoVersionedCols(path,
      Seq((900L, 1L, "2024-01-02", 90.0))
        .toDF("order_id", "item_id", "day", "amount"),
      keys, Seq("day"), idx, bloomColumns = Seq("order_id"))
    val day1 = StatsIndex.load(spark, s"$idx/_v=$g2")
      .select("file").distinct().as[String].collect().toSeq
      .filter(_.contains("/day=2024-01-01/"))
    assert(day1.size == 8, s"fixture: want 8 files, got ${day1.size}")

    // 8 scattered files -> 4 coalesced ones, each still spanning the
    // whole key range
    val g3 = Compaction.compactVersioned(spark, path, idx,
      targetBytes = bytesOf(day1) / 4 + 1)
    assert(g3.contains(g2 + 1))
    val g3Files = StatsIndex.load(spark, s"$idx/_v=${g3.get}")
      .select("file").distinct().as[String].collect().toSet
    assert(g3Files.size == 5)
    val blooms = StatsIndex.generationBlooms(spark, idx, g3.get)
    assert(blooms.isDefined, "compaction dropped the bloom relation")
    assert(blooms.get.select("file").distinct().as[String].collect().toSet
      == g3Files, "bloom relation does not cover the manifest")

    // a point read probes the blooms: ≤ 3 of the 5 manifest files open
    val probe = IndexedScan.readIndexedVersioned(spark, path, idx)
      .where(col("order_id") === 13L)
    assert(probe.select(col("amount").cast("double")).as[Double]
      .collect().toSeq == Seq(13.0))
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    val nFiles = scans(probe.queryExecution.executedPlan)
      .head.metrics("numFiles").value
    assert(nFiles <= 3, s"bloom probe ineffective after compaction: $nFiles files scanned")
  }
}
