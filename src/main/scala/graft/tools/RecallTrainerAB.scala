package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{Ivf, Pq, Similarity}

/** The coarse-IVF trainer decision, measured (VERDICT r21 #8): probe
  * recall@10 (nProbe=4 of 16 cells) with the coarse quantizer trained by
  * (a) Spark-ML KMeans (kmeans|| init — the shipped path), and
  * (b) the driver-local seeded k-means++ Lloyd ([[Pq.localLloyd]]) over
  * the identical capped sample, at restarts = 1 and 3.
  *
  * Output is committed as dev/recall_trainer_ab.txt so the
  * "Spark-ML-for-recall" decision (Ivf.assign scaladoc) is reproducible.
  */
object RecallTrainerAB {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.VectorOps.unitNorm
    val (k, nCells, nProbe, nQueries, seed) = (10, 16, 4, 8L, 42L)

    def recallOf(e: DataFrame, centers: Array[Array[Double]],
                 exact: Map[Long, Set[Long]]): (Double, Double) = {
      val queries = e.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // assignment + probe with EXPLICIT centers: nearest-center cell for
      // every corpus vector, query probes its nProbe nearest cells, exact
      // rescore, top-k — the Ivf.probe shape, centers injected
      val centerRows = array(centers.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("cell"), array(c.map(lit(_)): _*).as("ctr"))
      }: _*)
      def d2(v: String) = aggregate(
        zip_with(col(v), col("_ctr"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_id")).orderBy(col("_d2").asc, col("cell"))
      def cellsOf(df: DataFrame, id: String, vec: String, keep: Int) = df
        .select(col(id).as("_id"), unitNorm(col(vec)).as("_vn"),
          explode(centerRows).as("cc"))
        .select(col("_id"), col("_vn"), col("cc.cell").as("cell"),
          col("cc.ctr").as("_ctr"))
        .withColumn("_d2", d2("_vn"))
        .withColumn("_r", row_number().over(w))
        .where(col("_r") <= keep)
        .select(col("_id"), col("_vn"), col("cell"))
      val assigned = cellsOf(e, "vec_id", "embedding", 1)
        .withColumnRenamed("_id", "vec_id")
      val qc = cellsOf(queries, "q_id", "q_vec", nProbe)
        .withColumnRenamed("_id", "q_id").withColumnRenamed("_vn", "_qn")
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
      val got = assigned.join(broadcast(qc), Seq("cell"))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", aggregate(
          zip_with(col("_vn"), col("_qn"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x))
        .withColumn("rk", row_number().over(wq))
        .where(col("rk") <= k)
        .select(col("q_id").cast("long"), col("vec_id").cast("long"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recalls = exact.toSeq.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).count(ex).toDouble / k }
      (recalls.sum / recalls.size, recalls.min)
    }

    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val e = Materialize.pinNow(graft.Tables.load(spark, dir, "embeddings"))
      val queries = e.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding",
          "q_id", "q_vec", k)
        .select(col("q_id").cast("long"), col("vec_id").cast("long"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      // (a) the shipped Spark-ML coarse fit
      val ml = Ivf.coarseFit(e, "vec_id", "embedding", nCells, seed)
        .clusterCenters.map(_.toArray)
      // (b) the driver-local trainer over the identical capped sample
      val pts = e.select(unitNorm(col("embedding")).as("_vn"))
        .collect().map(_.getSeq[Double](0).toArray)
      def local(restarts: Int) =
        Pq.localLloyd(pts, nCells, iters = 8, seed, restarts)
          .map(_.map(_.toDouble))
      val results = Seq(
        "spark-ml kmeans||" -> ml,
        "local k-means++ r=1" -> local(1),
        "local k-means++ r=3" -> local(3))
      results.foreach { case (name, centers) =>
        val (mean, min) = recallOf(e, centers, exact)
        println(f"RECALL $sf%-8s $name%-20s mean=$mean%.3f min=$min%.3f " +
          s"cells=${centers.length}")
      }
    }
    spark.stop()
  }
}
