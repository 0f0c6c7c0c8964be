package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN, the 100 TB shape:
  *
  *   build  — the k-means coarse quantizer is fit on a bounded SEEDED
  *            SAMPLE (never the full corpus), then the corpus is assigned,
  *            quantized once, and written as parquet PARTITIONED BY
  *            cluster_id. Hive-style partitioning — not hash bucketing —
  *            is the Spark-native inverted file: each cluster is a
  *            directory, so a literal cluster filter prunes at the
  *            directory level and unprobed cells are never read. (bucketBy
  *            hashes ids into buckets and a cluster_id filter would not
  *            skip bucket files on read.)
  *   probe  — each query ranks the broadcast centroid table (tiny), the
  *            nProbe chosen cell ids are collected as bounded metadata and
  *            applied as a LITERAL partition filter, and the exact
  *            integer-grid cosine + top-k window runs over only
  *            ~nProbe/nClusters of the data. PartitionFilters pruning is
  *            asserted in SimilaritySpec.
  */
object Ivf {

  /** Handle to a built index: the partitioned layout + the (tiny)
    * centroid table kept as driver metadata.
    */
  case class IvfIndex(path: String, centroids: Seq[(Int, Seq[Double])], nClusters: Int)

  /** Fit the quantizer on ≤ maxTrainRows sampled rows (seeded driver
    * Lloyd's — the sample is bounded by contract, and the distributed
    * MLlib fit used through round 5 cost ~1.2 s of job overhead for a
    * sample whose local fit is milliseconds), assign + quantize the
    * full corpus in one pass, write it partitioned by cluster_id.
    */
  def buildIndex(corpus: DataFrame, idCol: String, embCol: String, nClusters: Int,
      path: String, seed: Long = 42L, maxTrainRows: Long = 10000L): IvfIndex = {
    val train = Similarity.boundedTrainSample(corpus, embCol, maxTrainRows, seed)
    val centers = Pq.kmeansSub(train, nClusters, seed)
    val assigned = Similarity.withQuantized(corpus, embCol)
      .withColumn("cluster_id", Similarity.nearestCell(col(embCol), centers))
      .select(col(idCol).as("corpus_id"), col("qvec").as("c_qvec"),
        col("qnorm").as("c_qnorm"), col("cluster_id"))
    graft.sources.Sources.writePartitioned(assigned, path, Seq("cluster_id"))
    IvfIndex(path,
      centers.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq,
      nClusters)
  }

  /** (query_id, cluster_id, q_qvec, q_qnorm) for each query's nProbe
    * nearest centroids — queries × centroids is tiny by contract.
    */
  private def probeClusters(index: IvfIndex, queries: DataFrame, idCol: String,
      embCol: String, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = index.centroids.toDF("cluster_id", "centroid")
    Similarity.withQuantized(queries, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
        col("qvec").as("q_qvec"), col("qnorm").as("q_qnorm"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist2", aggregate(
        zip_with(col("q_emb"), col("centroid"), (x, y) => {
          val dxy = x.cast("double") - y
          dxy * dxy
        }),
        lit(0.0), (acc, v) => acc + v))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("cluster_id"))))
      .filter(col("probe_rank") <= nProbe)
      .select("query_id", "q_qvec", "q_qnorm", "cluster_id")
  }

  /** Top-k over only the probed cells: literal partition filter → directory
    * pruning → broadcast the probed query set over the pruned scan.
    */
  def probeIndex(index: IvfIndex, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val probed = probeClusters(index, queries, idCol, embCol, nProbe)
    // bounded metadata: |queries| · nProbe cell ids become the literal
    // pruning predicate (a join key would defeat partition pruning)
    val cells = probed.select("cluster_id").distinct().collect().map(_.get(0))
    val inv = spark.read.parquet(index.path)
      .filter(col("cluster_id").isin(cells: _*))
    val scored = inv.join(broadcast(probed), "cluster_id")
      .select(col("query_id"), col("corpus_id"),
        Similarity.cosineQ(col("q_qvec"), col("c_qvec"),
          col("q_qnorm"), col("c_qnorm")).as("cosine"))
    // two-phase rank: probed-cell volume per query never funnels one task
    Similarity.topKPerQuery(scored, "cosine", k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** One-shot build + probe (sim_ivf_topk). The index lands in a
    * [[graft.TempDirs]] dir that lives until JVM exit: the returned frame
    * scans it lazily (see IvfPq.ivfPqTopK).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, nClusters: Int, nProbe: Int): DataFrame = {
    val dir = graft.TempDirs.create("ivf_index_").toString
    val index = buildIndex(corpus, idCol, embCol, nClusters, dir)
    probeIndex(index, queries, idCol, embCol, k, nProbe)
  }
}
