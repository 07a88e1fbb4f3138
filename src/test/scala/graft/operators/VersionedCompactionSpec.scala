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

    val g2 = Compaction.compactVersioned(spark, path, idx, "day",
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
    assert(Compaction.compactVersioned(spark, path, idx, "day",
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
    val g3 = Compaction.compactVersioned(spark, path, idx, "day",
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
      path, idx, "day", targetBytes = 1L << 30, minFiles = 2))
    val plans = work.executions.map(_.plan)
    assert(g2.contains(g1 + 1))
    assert(plans.exists(_.contains("LeftAnti")),
      s"no anti-join survivor plan among:\n${plans.mkString("\n")}")
    assert(!plans.exists(_.contains("StartsWith")))
    assert(read() == rows.toSet, "compaction must never change rows")
    assert(StatsIndex.load(spark, s"$idx/_v=${g2.get}")
      .select("file").distinct().count() == n)
  }
}
