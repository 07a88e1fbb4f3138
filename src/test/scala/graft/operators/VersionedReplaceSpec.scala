package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{IndexedScan, StatsIndex}

/** [[Upsert.replacePartitionsVersioned]]: the frame is evaluated once
  * (by the staged write, which also names the touched partitions), the
  * guards that fire after that write still publish nothing, and every
  * partition-value shape — Hive-escaped strings, two levels, wide
  * commits, TIMESTAMP and DECIMAL columns — replaces exactly its own
  * slices. TIMESTAMP and DECIMAL are covered for
  * [[Upsert.mergeIntoVersioned]] too: both writers must name a
  * partition directory exactly as Spark's writer does. */
class VersionedReplaceSpec extends SparkSpec {
  import spark.implicits._

  private def table(prefix: String): (String, String) = {
    val root = Files.createTempDirectory(prefix).toString
    (s"$root/t", s"$root/t/_stats_gens")
  }

  private def readBack(path: String, idx: String): DataFrame =
    IndexedScan.readIndexedVersioned(spark, path, idx)

  private def rows(df: DataFrame, cols: String*): Set[Seq[String]] =
    df.select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(r => cols.indices.map(r.getString)).toSet

  private def stagingDirs(path: String): Seq[String] = {
    val dir = new java.io.File(path)
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("_staging_"))
  }

  test("the frame is evaluated once: the staged write is its only run") {
    val (path, idx) = table("graft-repl-once")
    Upsert.replacePartitionsVersioned(path,
      Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "v"),
      Seq("day"), idx)
    val evaluated = spark.sparkContext.longAccumulator("replace-rows")
    val passThrough = udf { (d: String) => evaluated.add(1L); d }
    val frame = Seq((3L, "d2", 3.0), (4L, "d2", 4.0), (5L, "d3", 5.0))
      .toDF("id", "day", "v")
      .withColumn("day", passThrough(col("day")))
    Upsert.replacePartitionsVersioned(path, frame, Seq("day"), idx)
    assert(evaluated.value == 3L,
      s"the frame's 3 rows were evaluated ${evaluated.value} times")
    assert(rows(readBack(path, idx), "id", "day") == Set(
      Seq("1", "d1"), Seq("3", "d2"), Seq("4", "d2"), Seq("5", "d3")))
  }

  // (partition column, SQL type, the written value as text, a second
  // value). Collected back, the first values print as
  // `2024-01-01 10:00:00.0` and `0E-8` — not the directory names Spark
  // writes for them
  private val typedPartitions = Seq(
    ("ts", "timestamp", "2024-01-01 10:00:00", "2024-01-02 00:30:15"),
    ("amt", "decimal(20,8)", "0.00000000", "1.50000000"))

  typedPartitions.foreach { case (pc, typed, hot, cold) =>
    def frame(vals: Seq[(Long, String, Double)]): DataFrame =
      vals.toDF("id", pc, "v").withColumn(pc, col(pc).cast(typed))

    test(s"$typed partition column: a repeated replace replaces its own slice") {
      val (path, idx) = table(s"graft-repl-$pc")
      Upsert.replacePartitionsVersioned(path,
        frame(Seq((1L, hot, 1.0), (2L, hot, 1.0), (9L, cold, 1.0))), Seq(pc), idx)
      Upsert.replacePartitionsVersioned(path,
        frame(Seq((3L, hot, 2.0), (4L, hot, 2.0))), Seq(pc), idx)
      val back = readBack(path, idx).select(col("id")).as[Long]
        .collect().sorted.toSeq
      assert(back == Seq(3L, 4L, 9L),
        s"the second replace kept the old slice: $back")
    }

    test(s"$typed partition column: a repeated versioned merge keeps one version per key") {
      val (path, idx) = table(s"graft-merge-$pc")
      def batch(v: Double) = frame(Seq((1L, hot, v), (2L, hot, v)))
      Upsert.mergeIntoVersioned(path, batch(1.0), Seq("id"), pc, idx)
      Upsert.mergeIntoVersioned(path, batch(2.0), Seq("id"), pc, idx)
      Upsert.mergeIntoVersioned(path, batch(3.0), Seq("id"), pc, idx)
      val back = rows(readBack(path, idx), "id", "v")
      assert(back == Set(Seq("1", "3.0"), Seq("2", "3.0")),
        s"merges kept stale versions: $back")
      // the slice stays in ONE directory, named as the writer names it
      val dirs = new java.io.File(path).listFiles().map(_.getName)
        .filter(_.startsWith(s"$pc=")).toSeq
      assert(dirs.size == 1, s"partition directories: $dirs")
    }
  }

  test("an empty frame raises, publishes no generation and leaves no staging directory") {
    val (path, idx) = table("graft-repl-empty")
    val empty = Seq.empty[(Long, String)].toDF("id", "day")
    val boot = intercept[IllegalArgumentException] {
      Upsert.replacePartitionsVersioned(path, empty, Seq("day"), idx)
    }
    assert(boot.getMessage.contains("replacePartitionsVersioned: empty frame"))
    assert(StatsIndex.generations(spark, idx).isEmpty)
    assert(stagingDirs(path).isEmpty)
    val g1 = Upsert.replacePartitionsVersioned(path,
      Seq((1L, "d1")).toDF("id", "day"), Seq("day"), idx)
    val e = intercept[IllegalArgumentException] {
      Upsert.replacePartitionsVersioned(path, empty, Seq("day"), idx)
    }
    assert(e.getMessage.contains("replacePartitionsVersioned: empty frame"))
    assert(StatsIndex.generations(spark, idx) == Seq(g1))
    assert(stagingDirs(path).isEmpty)
    assert(rows(readBack(path, idx), "id", "day") == Set(Seq("1", "d1")))
  }

  test("a NULL partition value raises and publishes nothing") {
    val (path, idx) = table("graft-repl-null")
    val g1 = Upsert.replacePartitionsVersioned(path,
      Seq((1L, "d1")).toDF("id", "day"), Seq("day"), idx)
    val withNull = Seq((2L, Option("d1")), (3L, Option.empty[String]))
      .toDF("id", "day")
    val e = intercept[IllegalArgumentException] {
      Upsert.replacePartitionsVersioned(path, withNull, Seq("day"), idx)
    }
    assert(e.getMessage.contains("replacePartitionsVersioned: NULL partition value in day"))
    assert(StatsIndex.generations(spark, idx) == Seq(g1))
    assert(stagingDirs(path).isEmpty)
    assert(rows(readBack(path, idx), "id", "day") == Set(Seq("1", "d1")))
  }

  test("a Hive-escaped string value replaces exactly its own slice") {
    val (path, idx) = table("graft-repl-esc")
    val odd = "a:b c%d"
    Upsert.replacePartitionsVersioned(path,
      Seq((1L, odd), (2L, odd), (3L, "plain"), (4L, "a")).toDF("id", "p"),
      Seq("p"), idx)
    Upsert.replacePartitionsVersioned(path,
      Seq((5L, odd)).toDF("id", "p"), Seq("p"), idx)
    assert(rows(readBack(path, idx), "id", "p") ==
      Set(Seq("5", odd), Seq("3", "plain"), Seq("4", "a")))
  }

  test("a two-level replace replaces exactly its own slices") {
    val (path, idx) = table("graft-repl-2l")
    Upsert.replacePartitionsVersioned(path,
      Seq((1L, "d1", "b1"), (2L, "d1", "b2"), (3L, "d2", "b1"), (4L, "d2", "b2"))
        .toDF("id", "day", "batch"), Seq("day", "batch"), idx)
    // replaces (d1,b2) and (d2,b1) only; (d1,b1) and (d2,b2) survive
    Upsert.replacePartitionsVersioned(path,
      Seq((5L, "d1", "b2"), (6L, "d2", "b1"), (7L, "d2", "b1"))
        .toDF("id", "day", "batch"), Seq("day", "batch"), idx)
    assert(rows(readBack(path, idx), "id", "day", "batch") == Set(
      Seq("1", "d1", "b1"), Seq("5", "d1", "b2"),
      Seq("6", "d2", "b1"), Seq("7", "d2", "b1"), Seq("4", "d2", "b2")))
  }

  test("a replace wider than the tuple threshold takes the anti-join survivor path exactly") {
    val (path, idx) = table("graft-repl-wide")
    val wide = StatsIndex.wideTupleThreshold + 6
    val all = wide + 4
    Upsert.replacePartitionsVersioned(path,
      (0 until all).map(i => (i.toLong, f"p$i%03d")).toDF("id", "p")
        .repartition(1), Seq("p"), idx)
    // replace the first `wide` partitions; the last 4 must survive
    Upsert.replacePartitionsVersioned(path,
      (0 until wide).map(i => (1000L + i, f"p$i%03d")).toDF("id", "p")
        .repartition(1), Seq("p"), idx)
    val want = (0 until wide).map(i => Seq((1000 + i).toString, f"p$i%03d")) ++
      (wide until all).map(i => Seq(i.toString, f"p$i%03d"))
    assert(rows(readBack(path, idx), "id", "p") == want.toSet)
  }
}
