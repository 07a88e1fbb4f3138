package starbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Datamart, DatamartIncr, FactBuild}
import graft.pipeline.{Dag, StarPipeline}
import graft.queries.Fixtures
import graft.sources.StatsIndex

/** The JVM side of the benchmark: warms one workload up, runs its timed
  * window in one closed loop (one client; the next op starts when the
  * previous one returns), and writes what it saw to a JSON record that
  * `run.py` turns into metrics.
  *
  * Arguments (all required, `--name value`):
  *   workload   star_rebuild | daily_backfill | query_mix
  *   data       directory with the input tables
  *   work       scratch directory for warehouses, fixtures, outputs
  *   ops        op slots in the timed window (a whole number of query passes)
  *   trace      1 to record spans (alternate ops are traced; the rest give
  *              the untraced baseline for the tracing overhead)
  *   seed       orders the query passes
  *   warm       warm-up ops (rebuilds, days or query passes) before the window
  *   days       comma-separated execution dates (daily_backfill)
  *   queries    comma-separated gate query names (query_mix)
  *   star       the star/analyst half of `queries`; the rest is curation
  *   out        where to write the record
  *
  * With `--train 1`, `workload` is a comma-separated list and each one only
  * runs its warm-up: the build uses this to record which classes the
  * benchmark loads, for the JVM's class-data-sharing archive.
  */
object Main {

  final case class Op(id: Int, kind: String, group: String, start: Double,
                      end: Double, ok: Boolean, traced: Boolean,
                      error: String, extra: Map[String, Any] = Map.empty) {
    def withExtra(kv: (String, Any)*): Op = copy(extra = extra ++ kv)
    def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "group" -> group,
      "start" -> start, "end" -> end, "ok" -> ok, "traced" -> traced,
      "error" -> error) ++ extra
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val nOps = opt("ops").toInt
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val warm = opt("warm").toInt

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = Trace.nowMs()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Trace.nowMs() - t0) / 1000

    val trace = if (traced) Some(new Trace(spark)) else None
    val rec = mutable.LinkedHashMap[String, Any]()
    rec("env") = Map(
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load1" -> osBean.getSystemLoadAverage,
      "class_sharing" -> System.getProperty("java.vm.info").contains("sharing"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")).toSeq)
    rec("session_s") = sessionS

    def make(name: String): Workload = name match {
      case "star_rebuild" => new Rebuild(spark, data, work)
      case "daily_backfill" => new Backfill(spark, data, work, opt("days").split(",").toSeq)
      case "query_mix" => new QueryMix(spark, data, work, opt("queries").split(",").toSeq,
        opt("star").split(",").toSet, seed)
      case other => sys.error(s"unknown workload $other")
    }
    if (opt.get("train").contains("1")) {
      workload.split(",").foreach(n => make(n).setup(warm))
      Fixtures.clear()
      spark.stop()
      return
    }
    val w = make(workload)

    // set-up: fixtures and warm-up ops; the window starts from a fresh
    // warehouse
    val setupStart = Trace.nowMs()
    w.setup(warm)
    rec("warmup_s") = (Trace.nowMs() - setupStart) / 1000

    // the timed window: a fixed number of op slots, so that every run
    // measures its ops at the same JIT age
    val ops = mutable.ArrayBuffer[Op]()
    val winStart = Trace.nowMs()
    rec("setup_s") = (winStart - jvmStart) / 1000
    rec("setup_cpu_s") = osBean.getProcessCpuTime / 1e9
    for (slot <- 0 until nOps) {
      // traced runs alternate traced and untraced ops of the same kind,
      // so the untraced ones are the tracing-overhead baseline
      val order = if (trace.isEmpty) Seq(None) else if (slot % 2 == 0) Seq(trace, None) else Seq(None, trace)
      order.foreach { t =>
        val before = if (t.isDefined) w.files() else Map.empty[String, Long]
        val o = w.op(ops.size, slot, t)
        ops += (if (t.isEmpty) o else {
          val after = w.files()
          val written = after.filter { case (f, n) => !before.get(f).contains(n) }
          o.withExtra("files_written" -> written.size, "bytes_written" -> written.values.sum)
        })
      }
    }
    val winEnd = Trace.nowMs()
    rec("window_s") = (winEnd - winStart) / 1000
    rec("ops") = ops.map(_.toMap).toSeq
    rec("storage") = w.storage()

    // output checks, outside the timed region
    rec("check") = w.check(ops.toSeq)
    trace.foreach { t =>
      t.drain()
      rec("spans") = t.spans.asScala.map(_.toMap).toSeq
      rec("plans") = t.plans.asScala.toSeq
    }
    rec("peak_rss_kb") = vmHwmKb()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(opt("out")).toFile, rec.toMap)
    Fixtures.clear()
    spark.stop()
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(-1L)

  def listFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum

  /** The schedstat files of the JIT compiler threads. run.py fixes their
    * number (-XX:-UseDynamicNumberOfCompilerThreads), so the set found on
    * first use stays complete. */
  private lazy val compilerThreads: Seq[Path] = {
    val s = Files.list(Paths.get("/proc/self/task"))
    try s.iterator.asScala.toSeq.filter { t =>
      val name = Files.readString(t.resolve("comm"))
      name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler")
    }.map(_.resolve("schedstat"))
    finally s.close()
  }

  /** CPU nanoseconds the JIT compiler threads have run. */
  private def jitCpuNs(): Long =
    compilerThreads.map(p => Files.readString(p).trim.split(" ")(0).toLong).sum

  /** Time `f` as one op; a throw or a `false` result fails the op. Besides
    * wall time, records the CPU time the JVM process spent during the op
    * minus what its JIT compiler threads spent: the driver, Spark's task
    * and pool threads and the GC threads count; the compiler, whose work
    * depends on when it chooses to compile rather than on the op, does
    * not and is recorded apart. Time a hypervisor steals is not in it, nor
    * is time the op spends waiting. Also records the JVM's GC time
    * (pauses and concurrent collection) during the op. */
  def timeOp(id: Int, kind: String, group: String, t: Option[Trace])
            (f: => Boolean): Op = {
    val jit0 = jitCpuNs()
    val cpu0 = osBean.getProcessCpuTime
    val gc0 = gcMs()
    val start = Trace.nowMs()
    val (ok, err) =
      try {
        val r = within(t, "op", kind)(f)
        (r, if (r) "" else "op reported failure")
      } catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val end = Trace.nowMs()
    val cpu = osBean.getProcessCpuTime - cpu0
    val jit = jitCpuNs() - jit0
    Op(id, kind, group, start, end, ok, t.isDefined, err.take(300),
      Map("cpu_s" -> (cpu - jit) / 1e9, "jit_s" -> jit / 1e9, "gc_s" -> (gcMs() - gc0) / 1000.0))
  }

  /** Run `f` inside a benchmark span when tracing. */
  def within[T](t: Option[Trace], kind: String, name: String)(f: => T): T =
    t match {
      case Some(tr) => tr.span(kind, name)(f)
      case None => f
    }

  /** The DAG's tasks, each re-wrapped in a timing span under the same id
    * and deps when tracing. */
  def traced(tasks: Seq[Dag.Task], t: Option[Trace]): Seq[Dag.Task] = t match {
    case None => tasks
    case Some(tr) => tasks.map(k =>
      Dag.Task(k.id, k.deps, k.retries, k.retryDelay)(() => tr.span("task", k.id)(k.run())))
  }
}

trait Workload {
  def setup(warm: Int): Unit
  def op(id: Int, slot: Int, t: Option[Trace]): Main.Op
  /** Files under the directory the current op writes to, path -> size. */
  def files(): Map[String, Long] = Map.empty
  def storage(): Map[String, Any] = Map.empty
  def check(ops: Seq[Main.Op]): Map[String, Any]
}

/** One op = one full star build (the six-task DAG) into a fresh warehouse. */
final class Rebuild(spark: SparkSession, data: String, work: Path) extends Workload {
  import Main._
  private def wh(name: String) = work.resolve(name)

  private var last = -1

  def setup(warm: Int): Unit = (1 to warm).foreach { i =>
    val p = wh(s"setup-$i")
    require(Dag.run(StarPipeline.tasks(spark, data, p.toString)).succeeded,
      "set-up rebuild failed")
    deleteTree(p)
  }

  override def files(): Map[String, Long] = Main.listFiles(wh(s"wh-$last"))

  def op(id: Int, slot: Int, t: Option[Trace]): Op = {
    val p = wh(s"wh-$id")
    last = id
    timeOp(id, "rebuild", "pipeline", t) {
      Dag.run(traced(StarPipeline.tasks(spark, data, p.toString), t)).succeeded
    }.withExtra("warehouse" -> p.toString)
  }

  /** The warehouse tables are compared with DuckDB by run.py: hand it the
    * oracle SQL of the matching gate queries. */
  def check(ops: Seq[Op]): Map[String, Any] =
    Map("oracle" -> Seq("fact_orders", "sales_summary", "customer_analytics")
      .map(n => n -> SparkEntry.oracleSql(n)).toMap)
}

/** One op = one execution date of the incremental daily DAG; the window's
  * dates are consecutive and land in one fresh warehouse. */
final class Backfill(spark: SparkSession, data: String, work: Path, days: Seq[String])
    extends Workload {
  import Main._
  private val wh = work.resolve("warehouse")
  private val done = mutable.ArrayBuffer[String]()

  def setup(warm: Int): Unit = {
    val p = work.resolve("setup")
    days.take(warm).foreach(d =>
      require(StarPipeline.runDay(spark, data, p.toString, d).succeeded,
        s"set-up day $d failed"))
    deleteTree(p)
  }

  def op(id: Int, slot: Int, t: Option[Trace]): Op = {
    val day = days(id)
    done += day
    timeOp(id, "day", "pipeline", t) {
      Dag.run(traced(StarPipeline.incrementalTasks(spark, data, wh.toString, day), t)).succeeded
    }.withExtra("day" -> day)
  }

  override def files(): Map[String, Long] = Main.listFiles(wh)

  override def storage(): Map[String, Any] = Map(
    "fact_generations" -> StatsIndex.generations(spark, s"$wh/core/fact_orders/_stats_gens").size,
    "summary_generations" ->
      StatsIndex.generations(spark, s"$wh/datamart/sales_summary/_stats_gens").size)

  /** The window's datamarts must equal the batch operators over the same
    * dates, and the fact must hold one generation per day. */
  def check(ops: Seq[Op]): Map[String, Any] = {
    import spark.implicits._
    val ds = done.toSeq
    val orders = graft.Tables.load(spark, data, "orders")
    val dimC = spark.read.parquet(s"$wh/core/dim_customers")
    val dimP = spark.read.parquet(s"$wh/core/dim_parts")
    val dates = spark.read.parquet(s"$wh/core/dim_dates")
    val factSlice = FactBuild.factOrders(
      orders.where(to_date(col("o_orderdate")).cast("string").isin(ds: _*)),
      graft.Tables.load(spark, data, "lineitem"), dimC, dimP)
    def ssRows(df: DataFrame) = df
      .select(col("date").cast("string"), col("product_category"),
        col("total_sales"), col("total_orders"), col("total_quantity"))
      .as[(String, String, Double, Long, Double)].collect().toSet
    def caRows(df: DataFrame) = df
      .select(col("customer_id"), col("total_orders"),
        col("total_lifetime_value"), col("days_since_last_order"),
        col("customer_segment"))
      .as[(Long, Long, Double, Int, String)].collect().toSet
    val problems = mutable.ArrayBuffer[String]()
    val ss = ssRows(DatamartIncr.readSalesSummaryVersioned(spark,
      s"$wh/datamart/sales_summary", s"$wh/datamart/sales_summary/_stats_gens"))
    if (ss != ssRows(Datamart.salesSummary(factSlice, dimP, dates)))
      problems += "sales_summary differs from the batch operator over the window"
    if (caRows(spark.read.parquet(s"$wh/datamart/customer_analytics")) !=
        caRows(Datamart.customerAnalytics(factSlice, dimC, ds.last)))
      problems += "customer_analytics differs from the batch operator over the window"
    val gens = StatsIndex.generations(spark, s"$wh/core/fact_orders/_stats_gens").size
    if (gens != ds.size) problems += s"fact has $gens generations for ${ds.size} days"
    Map("problems" -> problems.toSeq, "days" -> ds)
  }
}

/** One op = one gate query: build its DataFrame, then materialize the full
  * result through the `noop` sink (no column pruning, nothing written).
  * Each pass runs every query once, in an order shuffled by the seed; the
  * window holds whole passes so every query weighs the same. */
final class QueryMix(spark: SparkSession, data: String, work: Path,
                     names: Seq[String], star: Set[String], seed: Long) extends Workload {
  import Main._
  private val fns = names.map(n => n -> SparkEntry.queries(n))
  private val checkDir = work.resolve("check")
  private def pass(p: Int) = new Random(seed * 1000003L + p).shuffle(fns)
  private var passNo = 0
  private var current = pass(0)

  /** Warm-up passes, run exactly as the window's ops. The fixtures the
    * queries build on first use stay for the window, as they would in a
    * serving session. */
  def setup(warm: Int): Unit =
    (1 to warm).foreach { _ =>
      fns.foreach { case (_, fn) =>
        fn(spark, data).write.format("noop").mode("overwrite").save()
        Fixtures.reapTransients(spark)
      }
    }

  def op(id: Int, slot: Int, t: Option[Trace]): Op = {
    if (slot / fns.size != passNo) { passNo = slot / fns.size; current = pass(passNo) }
    val (name, fn) = current(slot % fns.size)
    val group = if (star(name)) "star" else "curation"
    var buildEnd = 0.0
    val o = timeOp(id, name, group, t) {
      val df = within(t, "build", name)(fn(spark, data))
      buildEnd = Trace.nowMs()
      within(t, "exec", name)(df.write.format("noop").mode("overwrite").save())
      true
    }
    Fixtures.reapTransients(spark)
    o.withExtra("build_s" -> (buildEnd - o.start) / 1000, "exec_s" -> (o.end - buildEnd) / 1000)
  }

  /** After the window, on the session the window warmed (same fixtures and
    * caches), build each query once more and write its full result for
    * run.py to compare with the query's oracle SQL in DuckDB. */
  def check(ops: Seq[Op]): Map[String, Any] = {
    fns.foreach { case (n, fn) =>
      fn(spark, data).write.mode("overwrite").parquet(checkDir.resolve(n).toString)
      Fixtures.reapTransients(spark)
    }
    Map("oracle" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap,
      "outputs" -> checkDir.toString)
  }
}
