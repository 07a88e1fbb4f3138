package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: substring filter for fast local iteration on a
    // single query; the driver always passes exactly two args
    val nameFilter: String => Boolean =
      if (args.length > 2) (n => n.contains(args(2))) else (_ => true)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query block hygiene (fixtures are disk-backed; anything
      // still persisted is the finished query's transient garbage)
      graft.queries.Fixtures.reapTransients(spark)
    }
    val json = SparkEntry.oracleSql.filter(kv => nameFilter(kv._1))
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // bounded-lifetime contract (mirrors Bench): drop every session
    // fixture cache and delete its temp dirs — without this each verify
    // run leaked its disk-backed fixtures (fact lattice, ANN indexes,
    // star warehouse) under java.io.tmpdir (ADVICE r20)
    graft.queries.Fixtures.clear()
    spark.stop()
  }
}
