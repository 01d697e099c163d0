package graft.functions

import graft.plans.VecDot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor index: k-means coarse
  * quantizer -> cell assignment -> probe-limited search.
  *
  * The scale story vs hyperplane LSH: centroids adapt to the data
  * distribution, so cells stay balanced where random hyperplanes don't.
  * Training cost is bounded (few Lloyd iterations, centroid matrix is
  * k x dim doubles on the driver — kilobytes); index assignment is a narrow
  * map (k native dot products per row via [[VecDot]]); search touches only
  * `nProbe` cells — at 100 TB, if the table is written
  * `partitionBy("ivf_cell")`, a probe is partition pruning, not a scan.
  *
  * Everything is deterministic: seeding picks the k vectors with the
  * smallest xxhash64(id) (stable under retry), Lloyd updates are exact
  * averages, ties in assignment break toward the lower cell id.
  */
object IVF {

  final case class Model(centroids: Seq[Seq[Double]]) {
    def k: Int = centroids.size
    def dim: Int = centroids.head.size
  }

  /** Squared-L2 cell distances as (distance, cellId) structs; `array_min`
    * over it is argmin with lower-id tie-break (struct ordering). */
  private def cellStructs(vec: Column, model: Model): Column = {
    val selfDot = VecDot(vec, vec)
    array(model.centroids.zipWithIndex.map { case (c, j) =>
      val cArr = array(c.map(lit): _*)
      val cNorm2 = c.map(x => x * x).sum
      struct(
        (selfDot - lit(2.0) * VecDot(vec, cArr) + lit(cNorm2)).as("dist"),
        lit(j).as("cell"))
    }: _*)
  }

  /** Nearest-centroid cell id for each vector. */
  def assign(vec: Column, model: Model): Column =
    array_min(cellStructs(vec, model)).getField("cell")

  /** Train the coarse quantizer: deterministic seeding + `iters` Lloyd
    * iterations (assignment is a narrow map; the update is one shuffle of
    * (cell, dim) pairs — k*dim aggregates, tiny). */
  def train(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int = 2): Model = {
    // element type may be float (raw embeddings) or double (residuals)
    val seeds = df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toSeq).toSeq
    var model = Model(seeds)
    for (_ <- 0 until iters) {
      val assigned = df.select(col(vecCol).as("v"),
        assign(col(vecCol), model).as("cell"))
      val updated = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x").cast("double")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // empty cells keep their previous centroid
      model = Model(model.centroids.zipWithIndex.map { case (c, j) =>
        updated.getOrElse(j, c)
      })
    }
    model
  }

  /** Land the corpus WITH its cell assignment, `partitionBy("ivf_cell")` —
    * the 100 TB layout this file's scale story promises: each cell is a
    * directory, so a probe-limited search is partition PRUNING (zero IO for
    * unprobed cells), not a filter over a full scan. */
  def writeIndexed(df: DataFrame, vecCol: String, idCol: String, model: Model,
      path: String): Unit =
    df.withColumn("ivf_cell", assign(col(vecCol), model))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("ivf_cell")
      .parquet(path)

  /** APPEND a new vector batch into an existing [[writeIndexed]] layout —
    * the incremental-ingest path for the vector index (the analogue of
    * [[Dedup.writeBandIndex]]'s append in the streaming near-dup gate): new
    * vectors are assigned to cells by the SAME frozen coarse quantizer and
    * land as new files inside their cell directories. Nothing existing is
    * rewritten, unprobed cells stay untouched, and a probe search over the
    * layout sees old and new vectors identically — which is why production
    * IVF systems freeze the quantizer and re-train offline only when drift
    * accumulates. Compose with [[graft.sources.Layout.compact]] when the
    * accumulated small appended files warrant it. */
  def appendIndexed(df: DataFrame, vecCol: String, idCol: String,
      model: Model, path: String): Unit =
    df.withColumn("ivf_cell", assign(col(vecCol), model))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("ivf_cell")
      .parquet(path)

  /** Probe search over a [[writeIndexed]] layout: the cell predicate
    * resolves against the partition column, so the scan's PartitionFilters
    * excludes whole cell directories before any file IO (asserted by
    * PlanSpec-style test). Ranking matches [[search]] exactly. */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String, idCol: String, model: Model, query: Seq[Float],
      topK: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(model, query, nProbe)
    val qArr = array(query.map(v => lit(v)): _*)
    graft.sources.Tables.parquet(spark, path)
      .filter(col("ivf_cell").isin(probes: _*))
      .select(col(idCol), Similarity.cosine(col(vecCol), qArr).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(topK)
  }

  /** Per-vector prototypicality: the assigned cell and the squared-L2
    * distance to its centroid. Far-from-centroid vectors are the cluster's
    * outliers — the SemDeDup-style pruning signal (drop the noise tail) and
    * the drift monitor for a frozen quantizer (rising mean distance means
    * the coarse quantizer no longer fits the data and it is time for the
    * offline re-train). Narrow map — k native dot products per row, no
    * shuffle; the distance reuses the same argmin structs [[assign]]
    * builds, so assignment and distance cannot disagree. */
  def outlierScores(df: DataFrame, vecCol: String, idCol: String,
      model: Model): DataFrame = {
    val best = array_min(cellStructs(col(vecCol), model))
    df.select(col(idCol), best.getField("cell").as("ivf_cell"),
      best.getField("dist").as("dist2"))
  }

  /** The query's `nProbe` nearest cells (squared-L2 to centroids, ties to
    * the lower cell id). */
  def probeCells(model: Model, query: Seq[Float], nProbe: Int): Seq[Int] = {
    val q = query.map(_.toDouble)
    def dist2(c: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.size) { val d = q(i) - c(i); s += d * d; i += 1 }
      s
    }
    model.centroids.zipWithIndex
      .map { case (c, j) => (dist2(c), j) }.sorted.take(nProbe).map(_._2)
  }

  /** Probe-limited ANN: rank the query's `nProbe` nearest cells, search only
    * vectors assigned there, exact cosine ranking within. With nProbe = k
    * this degrades gracefully to exact brute force (pinned by test). */
  def search(df: DataFrame, vecCol: String, idCol: String, model: Model,
      query: Seq[Float], topK: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(model, query, nProbe)
    val qArr = array(query.map(v => lit(v)): _*)
    df.withColumn("ivf_cell", assign(col(vecCol), model))
      .filter(col("ivf_cell").isin(probes: _*))
      .select(col(idCol), Similarity.cosine(col(vecCol), qArr).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(topK)
  }
}
