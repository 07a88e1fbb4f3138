package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}

import graft.obs.Obs

/** [[Tables.read]] resolves the schema from one footer on the driver:
  * no Spark job, and the same relation `spark.read.parquet` builds. */
class TablesReadSpec extends SparkSpec {

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-read-$tag").toString

  private def jobsOf(f: => DataFrame): Int = Obs.measure(spark)(f)._2.jobs.size

  /** A two-level partitioned layer: a NULL partition, TIMESTAMP and
    * DECIMAL partition values, `_SUCCESS`, and a hidden `_stats_gens`
    * directory holding parquet of another schema. */
  private lazy val layer: String = {
    val dir = tmp("layer") + "/t"
    spark.range(12).select(
      col("id"), (col("id") * 1.5).as("v"),
      when(col("id") % 4 === 0, lit(null))
        .otherwise(concat(lit("2024-01-0"), (col("id") % 3 + 1).cast("string"),
          lit(" 10:30:00"))).as("ts"),
      when(col("id") % 2 === 0, lit("123456789012345678901234"))
        .otherwise(lit("7")).as("amount"))
      .write.partitionBy("ts", "amount").parquet(dir)
    spark.range(3).select(col("id").as("file"), lit("x").as("column"))
      .write.parquet(s"$dir/_stats_gens/_v=1")
    assert(new java.io.File(s"$dir/_SUCCESS").exists)
    dir
  }

  private def sameRead(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.collect().toSeq.map(_.toString).sorted ==
      want.collect().toSeq.map(_.toString).sorted)
  }

  test("Tables.load of a gate table and a read of a partitioned layer run no Spark job") {
    assert(jobsOf(Tables.load(spark, sf001, "orders")) == 0)
    assert(jobsOf(Tables.load(spark, sf001, "events")) == 0)
    layer
    assert(jobsOf(Tables.read(spark, layer)) == 0)
  }

  test("the schema equals spark.read.parquet's for every sf0.001 gate table") {
    Tables.names.foreach { n =>
      val p = s"$sf001/$n.parquet"
      assert(Tables.read(spark, p).schema == spark.read.parquet(p).schema, n)
      assert(Tables.schemaOf(spark, p) == spark.read.parquet(p).schema, n)
    }
  }

  test("the schema equals spark.read.parquet's for INT64 nanosecond timestamps") {
    val file = tmp("nanos") + "/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sessionState.newHadoopConf()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new Path(file)).withConf(conf)
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach(i =>
      w.write(groups.newGroup().append("event_id", i)
        .append("ts", 1700000000000000000L + i)))
    finally w.close()
    // Tables.load sets this read flag for `events`; without it neither
    // path can convert the column
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sameRead(Tables.read(spark, file), spark.read.parquet(file))
    assert(Tables.read(spark, file).schema("ts").dataType == LongType)
  }

  test("a partitioned layer reads as spark.read.parquet reads it") {
    val want = spark.read.parquet(layer)
    assert(want.schema.fieldNames.toSeq == Seq("id", "v", "ts", "amount"))
    assert(want.schema("ts").dataType == TimestampType)
    assert(want.schema("amount").dataType.isInstanceOf[DecimalType])
    assert(want.where(col("ts").isNull).count() == 3)
    sameRead(Tables.read(spark, layer), want)
    // some partitions under a base path, and several unpartitioned roots
    val parts = Seq(s"$layer/ts=__HIVE_DEFAULT_PARTITION__", s"$layer/ts=2024-01-02 10%3A30%3A00")
    sameRead(Tables.readUnder(spark, layer, parts),
      spark.read.option("basePath", layer).parquet(parts: _*))
    val roots = Seq("a", "b").map { r =>
      val d = tmp(r); spark.range(4).write.parquet(s"$d/t"); s"$d/t" }
    sameRead(Tables.read(spark, roots: _*), spark.read.parquet(roots: _*))
  }

  test("a missing path and an empty directory fail with spark.read.parquet's error") {
    def sameError(p: String): Unit = {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.read(spark, p))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
    sameError(tmp("missing") + "/nothing-here")
    sameError(tmp("empty"))
  }
}
