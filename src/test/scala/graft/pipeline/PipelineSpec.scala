package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, to_date}

import graft.SparkSpec
import graft.obs.Obs

class PipelineSpec extends SparkSpec {

  test("Dag: topological order, retry, skip downstream of failure") {
    val log = scala.collection.mutable.ArrayBuffer[String]()
    var attempts = 0
    val tasks = Seq(
      Dag.Task("a")(() => log += "a"),
      Dag.Task("b", deps = Seq("a"), retries = 2)(() => {
        attempts += 1
        if (attempts < 3) throw new RuntimeException("flaky")
        log += "b"
      }),
      Dag.Task("c", deps = Seq("b"))(() => log += "c"),
      Dag.Task("d", deps = Seq("a"))(() => throw new RuntimeException("boom")),
      Dag.Task("e", deps = Seq("d"))(() => log += "e"))
    val report = Dag.run(tasks)
    assert(log.toSeq == Seq("a", "b", "c")) // flaky b retried to success; e skipped
    assert(report.statuses("b") == Dag.Success && attempts == 3)
    assert(report.statuses("d").isInstanceOf[Dag.Failed])
    assert(report.statuses("e") == Dag.Skipped)
    assert(!report.succeeded)
  }

  test("Dag: cycle detection") {
    val tasks = Seq(
      Dag.Task("x", deps = Seq("y"))(() => ()),
      Dag.Task("y", deps = Seq("x"))(() => ()))
    intercept[IllegalStateException](Dag.run(tasks))
  }

  test("Dag.backfill runs per logical date in order") {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val reports = Dag.backfill(Seq("2024-01-01", "2024-01-02")) { ds =>
      Seq(Dag.Task(s"load")(() => seen += ds))
    }
    assert(seen.toSeq == Seq("2024-01-01", "2024-01-02"))
    assert(reports.values.forall(_.succeeded))
  }

  test("Dag callbacks fire per task outcome") {
    val events = scala.collection.mutable.ArrayBuffer[String]()
    val cb = Dag.Callbacks(
      onSuccess = id => events += s"ok:$id",
      onFailure = (id, e) => events += s"fail:$id:${e.getMessage}")
    Dag.run(Seq(
      Dag.Task("good")(() => ()),
      Dag.Task("bad")(() => throw new RuntimeException("boom"))), cb)
    assert(events.toSet == Set("ok:good", "fail:bad:boom"))
  }

  test("config-driven domain: CSV inbox -> raw layer -> transform, with backfill") {
    import graft.pipeline.DomainConfig._
    import graft.sources.CsvIngest.ColumnSpec
    import org.apache.spark.sql.functions._

    val inbox = Files.createTempDirectory("graft-inbox")
    val wh = Files.createTempDirectory("graft-domain-wh").toString
    for (ds <- Seq("20240301", "20240302")) {
      val d = inbox.resolve(s"clicks/$ds")
      Files.createDirectories(d)
      Files.write(d.resolve(s"clicks_$ds.csv"),
        s"click_id,n\nc${ds}a,1\nc${ds}b,2".getBytes)
    }
    val domain = Domain("ads",
      raw = Seq(RawTable("clicks", Seq(ColumnSpec("click_id", "STRING"), ColumnSpec("n", "INTEGER")))),
      transforms = Seq(Transform("core.click_counts", Nil) { s =>
        s.read.parquet(s"$wh/raw/clicks")
          .groupBy("ingestion_date").agg(sum("n").as("total"))
      }))
    val reports = PipelineBuilder.backfill(spark, domain, inbox.toString, wh,
      Seq("2024-03-01", "2024-03-02"))
    assert(reports.values.forall(_.succeeded), s"$reports")
    val counts = spark.read.parquet(s"$wh/core/click_counts")
      .orderBy("ingestion_date").collect()
    assert(counts.map(_.getLong(1)).toSeq == Seq(3L, 3L))
    // re-run one day: raw partition replaced, not duplicated
    Dag.run(PipelineBuilder.tasks(spark, domain, inbox.toString, wh, "2024-03-02"))
    assert(spark.read.parquet(s"$wh/raw/clicks").count() == 4)
  }

  test("config source_format routes a raw table through the JSON-lines loader") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-fmt-cfg")
    val yf = dir.resolve("logs_config.yaml")
    // corpus default CSV; the events table overrides per-table
    Files.writeString(yf,
      """sources:
        |  gcs:
        |    bucket: "b"
        |    file_format: "CSV"
        |tables:
        |  events:
        |    source:
        |      type: "gcs"
        |      path: "logs/events/*.json"
        |      format: "NEWLINE_DELIMITED_JSON"
        |    schema:
        |      - name: "event_id"
        |        type: "STRING"
        |      - name: "n"
        |        type: "INTEGER"
        |  clicks:
        |    source:
        |      type: "gcs"
        |      path: "logs/clicks/*.csv"
        |    schema:
        |      - name: "click_id"
        |        type: "STRING"
        |""".stripMargin)
    val domain = DomainConfigFile.toDomain(DomainConfigFile.load(yf), Map.empty)
    assert(domain.raw.map(rt => rt.name -> rt.sourceFormat).toMap ==
      Map("events" -> "NEWLINE_DELIMITED_JSON", "clicks" -> "CSV"))

    // and the ingest task really parses JSON lines end-to-end
    val inbox = Files.createTempDirectory("graft-json-inbox")
    val wh = Files.createTempDirectory("graft-json-wh").toString
    val d = inbox.resolve("events/20240301")
    Files.createDirectories(d)
    Files.write(d.resolve("events_20240301.json"),
      "{\"event_id\": \"e1\", \"n\": 5}\n{\"event_id\": \"e2\", \"n\": 7}\n".getBytes)
    val jsonOnly = domain.copy(raw = domain.raw.filter(_.name == "events"))
    val report = Dag.run(PipelineBuilder.tasks(spark, jsonOnly, inbox.toString, wh, "2024-03-01"))
    assert(report.succeeded, s"$report")
    val landed = spark.read.parquet(s"$wh/raw/events")
    assert(landed.count() == 2)
    assert(landed.select("n").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 7L))
  }

  test("config-routed AVRO raw table ingests end-to-end through the DAG") {
    val yf = Files.createTempFile("graft-avro-domain", ".yaml")
    Files.write(yf, """domain: "telemetry"
        |tables:
        |  beacons:
        |    type: "raw"
        |    source:
        |      type: "gcs"
        |      path: "logs/beacons/*.avro"
        |      format: "AVRO"
        |    schema:
        |      - name: "beacon_id"
        |        type: "STRING"
        |      - name: "n"
        |        type: "INTEGER"
        |""".stripMargin.getBytes)
    val domain = DomainConfigFile.toDomain(DomainConfigFile.load(yf), Map.empty)
    assert(domain.raw.map(rt => rt.name -> rt.sourceFormat).toMap ==
      Map("beacons" -> "AVRO"))
    assert(domain.raw.head.extension == "avro")

    val inbox = Files.createTempDirectory("graft-avro-inbox")
    val wh = Files.createTempDirectory("graft-avro-wh").toString
    val d = inbox.resolve("beacons/20240301")
    Files.createDirectories(d)
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"b","fields":[
        |{"name":"beacon_id","type":"string"},{"name":"n","type":"long"}]}"""
        .stripMargin)
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, d.resolve("beacons_20240301.avro").toFile)
    Seq("b1" -> 5L, "b2" -> 7L).foreach { case (id, n) =>
      val r = new GenericData.Record(schema)
      r.put("beacon_id", id); r.put("n", n)
      w.append(r)
    }
    w.close()
    val report = Dag.run(PipelineBuilder.tasks(spark, domain, inbox.toString, wh, "2024-03-01"))
    assert(report.succeeded, s"$report")
    val landed = spark.read.parquet(s"$wh/raw/beacons")
    assert(landed.count() == 2)
    assert(landed.select("n").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 7L))
  }

  val salesLikeYaml: String =
    """# Ads domain configuration
      |project_id: "some-project"
      |raw_dataset: "raw_ads"
      |
      |default:
      |  location: "EU"
      |  partition_field: "date"
      |
      |sources:
      |  gcs:
      |    bucket: "ads-raw-bucket"
      |    file_format: "CSV"
      |
      |tables:
      |  clicks:
      |    source:
      |      type: "gcs"
      |      path: "ads/clicks/*.csv"
      |    schema:
      |      - name: "click_id"
      |        type: "STRING"
      |      - name: "n"
      |        type: "INTEGER"
      |  dim_campaigns:
      |    type: "dimension"
      |    scd_type: 2
      |    source_table: "generated" # no raw feed
      |  click_counts:
      |    type: "datamart"
      |    dependencies:
      |      - "raw.ads.clicks"
      |""".stripMargin

  test("DomainConfigFile parses the reference YAML grammar + get_table_config semantics") {
    val f = Files.createTempFile("ads_config", ".yaml")
    Files.writeString(f, salesLikeYaml)
    val cfg = DomainConfigFile.load(f)
    assert(cfg.domain == "ads_config" || cfg.domain.startsWith("ads_config")) // tempfile suffix
    assert(cfg.config.str("project_id").contains("some-project"))
    assert(cfg.config.map("default").flatMap(_.str("location")).contains("EU"))
    assert(cfg.config.map("sources").flatMap(_.map("gcs")).flatMap(_.str("bucket"))
      .contains("ads-raw-bucket"))
    val clicks = cfg.tableConfig("clicks")
    assert(clicks.kind == "raw" && clicks.sourcePath.contains("ads/clicks/*.csv"))
    assert(clicks.schema.map(c => (c.name, c.colType)) ==
      Seq(("click_id", "STRING"), ("n", "INTEGER")))
    val dim = cfg.tableConfig("dim_campaigns")
    assert(dim.kind == "dimension" && dim.scdType.contains(2) &&
      dim.sourceTable.contains("generated")) // comment stripped after quoted value
    assert(cfg.tableConfig("click_counts").dependencies == Seq("raw.ads.clicks"))
    intercept[NoSuchElementException](cfg.tableConfig("nope"))
  }

  test("Yaml: quoted colon-scalars stay scalars; apostrophes don't open quotes") {
    val m = Yaml.parse(
      """owner: o'brien  # comment stripped
        |notes:
        |  - "note: keep this"
        |  - plain
        |""".stripMargin)
    assert(m.str("owner").contains("o'brien"))
    assert(m.seq("notes").collect { case Yaml.YStr(s) => s } ==
      Vector("note: keep this", "plain"))
  }

  test("JSON config parses to the identical domain file as YAML") {
    val json =
      """{"project_id": "some-project",
        | "tables": {
        |   "clicks": {"source": {"type": "gcs", "path": "ads/clicks/*.csv"},
        |              "schema": [{"name": "click_id", "type": "STRING"},
        |                         {"name": "n", "type": "INTEGER"}]},
        |   "dim_campaigns": {"type": "dimension", "scd_type": 2,
        |                     "source_table": "generated"},
        |   "click_counts": {"type": "datamart",
        |                    "dependencies": ["raw.ads.clicks"]}}}""".stripMargin
    val dir = Files.createTempDirectory("graft-json-cfg")
    val jf = dir.resolve("ads_config.json")
    Files.writeString(jf, json)
    val yf = dir.resolve("ads2_config.yaml")
    Files.writeString(yf, salesLikeYaml)
    val fromJson = DomainConfigFile.load(jf)
    val fromYaml = DomainConfigFile.load(yf)
    assert(fromJson.domain == "ads")
    assert(fromJson.tables == fromYaml.tables) // identical typed view
    assert(fromJson.config.str("project_id").contains("some-project"))
  }

  test("JSON null reads as an absent key, matching YAML omission") {
    val dir = Files.createTempDirectory("graft-null-cfg")
    val jf = dir.resolve("ads_config.json")
    // scd_type/max_bad_records null must behave like keys never written,
    // not become "" and die later as a bare NumberFormatException
    Files.writeString(jf,
      """{"tables": {"dim_x": {"type": "dimension", "scd_type": null,
        |                      "max_bad_records": null,
        |                      "source_table": "generated"}}}""".stripMargin)
    val entry = DomainConfigFile.load(jf).tableConfig("dim_x")
    assert(entry.scdType.isEmpty && entry.maxBadRecords == 0)
    val bad = dir.resolve("bad_config.json")
    Files.writeString(bad,
      """{"tables": {"f": {"type": "datamart", "dependencies": ["a", null]}}}""")
    val e = intercept[IllegalArgumentException](DomainConfigFile.load(bad))
    assert(e.getMessage.contains("null array element"))
  }

  test("duplicate config keys are rejected identically in YAML and JSON") {
    intercept[IllegalArgumentException](
      Yaml.parse("tables:\n  a:\n    type: \"datamart\"\n  a:\n    type: \"fact\"\n"))
    val dir = Files.createTempDirectory("graft-dup-cfg")
    val jf = dir.resolve("dup_config.json")
    Files.writeString(jf, """{"tables": {"a": {"type": "datamart"}, "a": {"type": "fact"}}}""")
    intercept[Exception](DomainConfigFile.load(jf)) // jackson strict duplicates
  }

  test("toDomain rejects ambiguous table entries up front") {
    import graft.sources.CsvIngest.ColumnSpec
    val f = Files.createTempFile("ads_config", ".yaml")
    Files.writeString(f, salesLikeYaml)
    val cfg = DomainConfigFile.load(f)
    // transform-typed table with a schema: would silently become raw ingest
    val withSchema = cfg.copy(tables = cfg.tables.map(t =>
      if (t.name == "dim_campaigns") t.copy(schema = Seq(ColumnSpec("x", "STRING"))) else t))
    val e1 = intercept[IllegalArgumentException](
      DomainConfigFile.toDomain(withSchema, Map.empty))
    assert(e1.getMessage.contains("must not declare a schema"))
    // raw table without a schema: would only fail at task runtime
    val noSchema = cfg.copy(tables = cfg.tables.map(t =>
      if (t.name == "clicks") t.copy(schema = Nil) else t))
    val e2 = intercept[IllegalArgumentException](
      DomainConfigFile.toDomain(noSchema, Map.empty))
    assert(e2.getMessage.contains("raw table without a schema"))
  }

  test("config-file domain builds the same DAG as the hand-built one and runs") {
    import graft.pipeline.DomainConfig._
    import graft.sources.CsvIngest.ColumnSpec
    import org.apache.spark.sql.functions._

    val inbox = Files.createTempDirectory("graft-cfg-inbox")
    val wh = Files.createTempDirectory("graft-cfg-wh").toString
    val ds = "20240401"
    val d = inbox.resolve(s"clicks/$ds")
    Files.createDirectories(d)
    Files.write(d.resolve(s"clicks_$ds.csv"), "click_id,n\nca,1\ncb,2".getBytes)

    def countBuild(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$wh/raw/clicks").groupBy("ingestion_date").agg(sum("n").as("total"))
    val handBuilt = Domain("ads",
      raw = Seq(RawTable("clicks",
        Seq(ColumnSpec("click_id", "STRING"), ColumnSpec("n", "INTEGER")))),
      transforms = Seq(Transform("datamart.click_counts", Seq("raw.clicks"))(countBuild)))

    val f = Files.createTempFile("ads_config", ".yaml")
    Files.writeString(f, salesLikeYaml)
    val cfg = DomainConfigFile.load(f)
    // drop the builder-less generated dimension for the runnable comparison
    val loaded = DomainConfigFile.toDomain(
      cfg.copy(tables = cfg.tables.filter(_.name != "dim_campaigns")),
      Map("datamart.click_counts" -> countBuild _))

    def shape(dom: Domain) = PipelineBuilder.tasks(spark, dom, inbox.toString, wh, "2024-04-01")
      .map(t => (t.id, t.deps.toList))
    assert(shape(loaded) == shape(handBuilt))

    // unknown transform fails fast at assembly, not at runtime
    val err = intercept[IllegalArgumentException](
      DomainConfigFile.toDomain(cfg.copy(tables = cfg.tables.filter(_.name != "dim_campaigns")),
        Map.empty))
    assert(err.getMessage.contains("datamart.click_counts"))

    val report = Dag.run(PipelineBuilder.tasks(spark, loaded, inbox.toString, wh, "2024-04-01"))
    assert(report.succeeded, s"$report")
    assert(spark.read.parquet(s"$wh/datamart/click_counts").collect()
      .map(_.getLong(1)).toSeq == Seq(3L))
  }

  test("SQL-file transforms: reference layout + {{param}} substitution") {
    val sqlDir = Files.createTempDirectory("graft-sql")
    // reference layout: sql/datamart/<domain>/<table>.sql
    val dmDir = sqlDir.resolve("datamart/ads")
    Files.createDirectories(dmDir)
    Files.writeString(dmDir.resolve("click_counts.sql"),
      """SELECT ingestion_date, sum(n) AS total
        |FROM parquet.`{{warehouse}}/raw/clicks`
        |GROUP BY ingestion_date""".stripMargin)

    assert(SqlTransforms.sqlPath(sqlDir, "core", Some("dim"), "dim_x").toString
      .endsWith("core/dim/dim_x.sql"))
    intercept[IllegalArgumentException](
      SqlTransforms.sqlPath(sqlDir, "lake", None, "t"))

    val inbox = Files.createTempDirectory("graft-sql-inbox")
    val wh = Files.createTempDirectory("graft-sql-wh").toString
    val ds = "20240501"
    val d = inbox.resolve(s"clicks/$ds")
    Files.createDirectories(d)
    Files.write(d.resolve(s"clicks_$ds.csv"), "click_id,n\nca,4\ncb,5".getBytes)

    val f = Files.createTempDirectory("graft-sql-cfg").resolve("ads_config.yaml")
    Files.writeString(f, salesLikeYaml)
    val cfg = DomainConfigFile.load(f)
    assert(cfg.domain == "ads") // {domain}_config.yaml convention
    // no Scala builder registry at all: click_counts resolves to its SQL file
    val domain = DomainConfigFile.toDomain(
      cfg.copy(tables = cfg.tables.filter(_.name != "dim_campaigns")),
      builds = Map.empty, sqlDir = Some(sqlDir),
      sqlParams = Map("warehouse" -> wh))
    val report = Dag.run(PipelineBuilder.tasks(spark, domain, inbox.toString, wh, "2024-05-01"))
    assert(report.succeeded, s"$report")
    assert(spark.read.parquet(s"$wh/datamart/click_counts").collect()
      .map(_.getLong(1)).toSeq == Seq(9L))
  }

  test("StarPipeline end-to-end at sf0.001, idempotent re-run") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val r1 = StarPipeline.run(spark, sf001, wh)
    assert(r1.succeeded, s"pipeline failed: ${r1.statuses}")
    val ss1 = spark.read.parquet(s"$wh/datamart/sales_summary")
    val n1 = ss1.count()
    assert(n1 > 0)
    assert(spark.read.parquet(s"$wh/core/fact_orders").count() == 6000)
    // re-run → identical layer (idempotency)
    val r2 = StarPipeline.run(spark, sf001, wh)
    assert(r2.succeeded)
    assert(spark.read.parquet(s"$wh/datamart/sales_summary").count() == n1)
  }

  test("StarPipeline incremental daily backfill == batch outputs; retried day idempotent") {
    import spark.implicits._
    import graft.operators.{Datamart, DatamartIncr, FactBuild}
    val wh = Files.createTempDirectory("graft-wh-incr").toString
    val orders = graft.Tables.load(spark, sf001, "orders")
    val days = orders.select(to_date(col("o_orderdate")).cast("string").as("d"))
      .distinct().orderBy("d").limit(3).as[String].collect().toSeq
    assert(days.length == 3)

    val backfill = Dag.backfill(days)(d =>
      StarPipeline.incrementalTasks(spark, sf001, wh, d))
    assert(backfill.values.forall(_.succeeded), s"$backfill")

    // expected: the batch operators over the fact restricted to those days
    val dimC = spark.read.parquet(s"$wh/core/dim_customers")
    val dimP = spark.read.parquet(s"$wh/core/dim_parts")
    val dates = spark.read.parquet(s"$wh/core/dim_dates")
    val factSlice = FactBuild.factOrders(
      orders.where(to_date(col("o_orderdate")).cast("string").isin(days: _*)),
      graft.Tables.load(spark, sf001, "lineitem"), dimC, dimP)

    def ssRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("date").cast("string"), col("product_category"),
        col("total_sales"), col("total_orders"), col("total_quantity"))
      .as[(String, String, Double, Long, Double)].collect().toSet
    val wantSS = ssRows(Datamart.salesSummary(factSlice, dimP, dates))
    val ssGens = s"$wh/datamart/sales_summary/_stats_gens"
    assert(ssRows(DatamartIncr.readSalesSummaryVersioned(spark,
      s"$wh/datamart/sales_summary", ssGens)) == wantSS)

    def caRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("customer_id"), col("total_orders"),
        col("total_lifetime_value"), col("days_since_last_order"),
        col("customer_segment"))
      .as[(Long, Long, Double, Int, String)].collect().toSet
    // the reference anchors analysis at the EXECUTION date, not data max
    val wantCA = caRows(Datamart.customerAnalytics(factSlice, dimC, days.last))
    assert(caRows(spark.read.parquet(s"$wh/datamart/customer_analytics"))
      == wantCA)

    // fact is date-partitioned with exactly the three backfilled days
    val parts = spark.read.parquet(s"$wh/core/fact_orders")
      .select(col("order_date").cast("string")).distinct()
      .as[String].collect().toSet
    assert(parts == days.toSet)

    // the day loop commits the fact as VERSIONED manifest generations
    // (one per day), and its summary/state tasks read the fact THROUGH
    // the newest one — a date-filtered read must open only that day's
    // files
    val factGens = s"$wh/core/fact_orders/_stats_gens"
    assert(graft.sources.StatsIndex.generations(spark, factGens).size == 3,
      "incremental day loop must commit one fact generation per day")
    val totalFactFiles =
      spark.read.parquet(s"$wh/core/fact_orders").inputFiles.length
    val oneDay = graft.sources.IndexedScan
      .readIndexedVersioned(spark, s"$wh/core/fact_orders", factGens)
      .where(col("order_date") === days.head)
    oneDay.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val dayScan = scans(oneDay.queryExecution.executedPlan)
    assert(dayScan.size == 1)
    val nDayFiles = dayScan.head.metrics("numFiles").value
    assert(nDayFiles < totalFactFiles,
      s"date-filtered fact read scanned $nDayFiles of $totalFactFiles files")
    assert(oneDay.count() ==
      spark.read.parquet(s"$wh/core/fact_orders")
        .where(col("order_date").cast("string") === days.head).count())

    // the day build prunes BOTH fact-join sides: the day's order keys
    // broadcast as a LEFT SEMI filter on lineitem, so other days' lines
    // never reach the join shuffle (the 100 TB posture; full-scan joins
    // of lineitem would dominate the per-day cost)
    val dayPlan = StarPipeline.dayFact(spark, sf001, wh, days.head)
      .queryExecution.executedPlan.toString
    assert(dayPlan.contains("LeftSemi") &&
        dayPlan.replaceAll("\\s+", " ").matches("(?s).*Broadcast[A-Za-z]*Join [^\\n]*LeftSemi.*"),
      s"day fact build's lineitem side is not broadcast-semi-pruned:\n$dayPlan")

    // Airflow-retry the MIDDLE day: every output identical afterwards —
    // the state landing replaced its own _run_date partition instead of
    // double-counting
    val stateN = spark.read.parquet(s"$wh/datamart/customer_state").count()
    // pin a reader across the retry: the republish must not disturb it
    val pinned = DatamartIncr.readSalesSummaryVersioned(spark,
      s"$wh/datamart/sales_summary", ssGens)
    val rerun = StarPipeline.runDay(spark, sf001, wh, days(1))
    assert(rerun.succeeded)
    assert(spark.read.parquet(s"$wh/datamart/customer_state").count() == stateN)
    assert(ssRows(pinned) == wantSS,
      "reader pinned before the day-retry was disturbed by the republish")
    assert(ssRows(DatamartIncr.readSalesSummaryVersioned(spark,
      s"$wh/datamart/sales_summary", ssGens)) == wantSS)
    // analytics re-derives with the RETRIED day's anchor; re-anchor to
    // the last day for comparison by rerunning its analytics task alone
    val relast = StarPipeline.runDay(spark, sf001, wh, days.last)
    assert(relast.succeeded)
    assert(caRows(spark.read.parquet(s"$wh/datamart/customer_analytics"))
      == wantCA)
  }

  test("StarPipeline.runDay stays within its Spark-jobs ceiling") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh-jobs").toString
    val days = graft.Tables.load(spark, sf001, "orders")
      .select(to_date(col("o_orderdate")).cast("string").as("d"))
      .distinct().orderBy("d").limit(2).as[String].collect().toSeq
    // day 1 builds the dimensions and the first generations; day 2 is
    // the steady-state day: every versioned write has a base generation
    assert(StarPipeline.runDay(spark, sf001, wh, days.head).succeeded)
    val (report, work) =
      Obs.measure(spark)(StarPipeline.runDay(spark, sf001, wh, days(1)))
    val jobs = work.jobs.size
    assert(report.succeeded, s"${report.statuses}")
    // each versioned partition replace (fact, sales_summary) evaluates its
    // frame once, by the staged write; a second pass over the frame (an
    // up-front distinct-collect of the partition values) shows up here
    assert(jobs <= RunDayJobsCeiling,
      s"one runDay ran $jobs Spark jobs, ceiling $RunDayJobsCeiling")
  }

  private val RunDayJobsCeiling = 27
}
