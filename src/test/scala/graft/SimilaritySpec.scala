package graft

import graft.similarity.{Ivf, IvfPq, Pq, Similarity}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queries = emb.filter(col("vec_id") < 10)
  private lazy val corpus = emb.filter(col("vec_id") >= 10)

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  private lazy val brute = topSets(
    Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 5))

  test("brute top-k returns k ranked neighbors per query") {
    val res = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 5)
    assert(res.count() === 50)
    val ranks = res.groupBy("query_id").agg(max("rank")).collect()
    assert(ranks.forall(_.getLong(1) === 5L))
  }

  // The synthetic embeddings are (measured) near-isotropic random vectors
  // — same-label mean cosine 0.02 — so ANN recall can't beat the fraction
  // of the corpus probed. These tests assert recall consistent with
  // coverage (operator correctness), not data-dependent cluster luck.

  test("lsh top-k achieves coverage-consistent recall vs brute force") {
    // 6 bits, hamming<=1 multiprobe: 7/64 ≈ 11% of the corpus probed
    val lsh = topSets(Similarity.lshTopK(queries, corpus, "vec_id", "embedding", 5))
    val recall = brute.keys.map { q =>
      val got = lsh.getOrElse(q, Set.empty)
      (brute(q) & got).size.toDouble / brute(q).size
    }.sum / brute.size
    info(f"LSH recall@5 = $recall%.2f (coverage ~0.11)")
    assert(recall >= 0.05, f"recall $recall%.2f below coverage floor")
  }

  test("ivf top-k achieves coverage-consistent recall vs brute force") {
    // 8 clusters, nProbe=4. K-means on isotropic data yields uneven
    // clusters (measured sizes 1..112/490), so actual coverage of the 4
    // nearest centroids is ~25%, not nProbe/nClusters — recall tracks it.
    val ivf = topSets(Ivf.ivfTopK(queries, corpus, "vec_id", "embedding",
      k = 5, nClusters = 8, nProbe = 4))
    val recall = brute.keys.map { q =>
      val got = ivf.getOrElse(q, Set.empty)
      (brute(q) & got).size.toDouble / brute(q).size
    }.sum / brute.size
    info(f"IVF recall@5 = $recall%.2f")
    assert(recall >= 0.1, f"recall $recall%.2f below coverage floor")
  }

  test("ivf probe scans only the probed cluster partitions (directory pruning)") {
    val dir = TempDirs.create("ivf_spec_").toString
    val index = Ivf.buildIndex(corpus, "vec_id", "embedding", nClusters = 8, path = dir)
    val res = Ivf.probeIndex(index, queries, "vec_id", "embedding", k = 5, nProbe = 2)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster_id"),
      s"probe is not partition-pruned:\n$plan")
    assert(res.count() > 0)
    // the layout really is one directory per cell
    val cells = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cluster_id="))
    assert(cells.length === 8, cells.mkString(","))
  }

  test("ivf results carry exact cosines from the probed subset") {
    val bruteAll = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 490)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Ivf.ivfTopK(queries, corpus, "vec_id", "embedding",
      k = 5, nClusters = 8, nProbe = 4).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteAll(key) === r.getDouble(2), s"cosine mismatch for $key")
    }
  }

  test("lsh results are a subset of the exact ranking with exact cosines") {
    val bruteAll = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 490)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(queries, corpus, "vec_id", "embedding", 5).collect()
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteAll.contains(key), s"LSH returned unknown pair $key")
      assert(bruteAll(key) === r.getDouble(2), s"cosine mismatch for $key")
    }
  }

  test("pq top-k recall beats blind candidate coverage and is deterministic") {
    // ADC over 4·k candidates from PQ codes: with near-isotropic vectors
    // the quantization is coarse, but candidate selection is informed, so
    // recall must beat the blind-coverage floor (20/490 ≈ 4%) clearly
    val run1 = Pq.pqTopK(queries, corpus, "vec_id", "embedding", k = 5)
    val pq = topSets(run1)
    val recall = brute.keys.map { q =>
      (brute(q) & pq.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }.sum / brute.size
    info(f"PQ recall@5 = $recall%.2f (blind coverage would be ~0.04)")
    assert(recall >= 0.1, f"recall $recall%.2f below floor")
    // deterministic: seeded codebooks + lowest-index tie-breaks
    val run2 = Pq.pqTopK(queries, corpus, "vec_id", "embedding", k = 5)
    assert(run1.collect().map(_.toSeq).toSeq === run2.collect().map(_.toSeq).toSeq)
  }

  test("pq re-ranked results carry exact cosines") {
    val bruteAll = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 490)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Pq.pqTopK(queries, corpus, "vec_id", "embedding", k = 5).collect()
    assert(pq.nonEmpty)
    pq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteAll(key) === r.getDouble(2), s"cosine mismatch for $key")
    }
  }

  test("pq codes compress to m small ints per vector") {
    graft.functions.GraftFunctions.register(spark)
    val norm = Similarity.withQuantized(corpus, "embedding")
      .withColumn("nvec", transform(col("qvec"),
        x => x.cast("double") / sqrt(col("qnorm").cast("double"))))
    // a degenerate 1-centroid codebook: every code must be 0, length m
    val books = Seq.fill(8 * 1 * 8)(0.0)
    val codes = norm.select(
        call_function("graft_pq_encode", col("nvec"), typedLit(books), lit(8)).as("c"))
      .collect().map(_.getSeq[Long](0))
    assert(codes.forall(c => c.length == 8 && c.forall(_ == 0L)))
  }

  test("ivf-pq probes pruned cells, re-ranks exactly, stays deterministic") {
    val bruteAll = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 490)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dir = TempDirs.create("ivfpq_spec_").toString
    val index = IvfPq.buildIndex(corpus, "vec_id", "embedding",
      nClusters = 8, m = 8, ksub = 16, path = dir)
    val res = IvfPq.probeIndex(index, queries, "vec_id", "embedding", k = 5, nProbe = 4)
    // directory pruning reaches the scan
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster_id"),
      s"IVF-PQ probe is not partition-pruned:\n$plan")
    val rows = res.collect()
    assert(rows.nonEmpty)
    // re-ranked scores are the exact cosines
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteAll(key) === r.getDouble(2), s"cosine mismatch for $key")
    }
    // recall within the probed cells is bounded by IVF coverage; assert
    // the same coverage-consistent floor as plain IVF
    val got = rows.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recall = brute.keys.map { q =>
      (brute(q) & got.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }.sum / brute.size
    info(f"IVF-PQ recall@5 = $recall%.2f")
    assert(recall >= 0.1, f"recall $recall%.2f below floor")
    // deterministic probe over the same index
    val res2 = IvfPq.probeIndex(index, queries, "vec_id", "embedding", k = 5, nProbe = 4)
    assert(rows.map(_.toSeq).toSeq === res2.collect().map(_.toSeq).toSeq)
  }

  test("self-similarity is exactly 1.0") {
    val q = Similarity.withQuantized(emb.limit(3), "embedding")
    val c = q.select(col("vec_id"),
      Similarity.cosineQ(col("qvec"), col("qvec"), col("qnorm"), col("qnorm")).as("cos"))
    assert(c.collect().forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }

  test("emb_knn_classify: majority vote reconciles with the 10-NN neighbor labels") {
    val preds = SparkEntry.queries("emb_knn_classify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSeq
    assert(preds.length === 10)
    assert(preds.forall { case (_, _, votes) => votes >= 1L && votes <= 10L })
    // recompute one query's vote from the brute top-k surface
    val q = emb.filter(col("vec_id") < 10)
    val c = emb.filter(col("vec_id") >= 10)
    val nbrs = Similarity.bruteTopK(q, c, "vec_id", "embedding", k = 10)
      .filter(col("query_id") === preds.head._1)
      .join(emb.select(col("vec_id").as("corpus_id"), col("label")), "corpus_id")
      .collect().map(_.getAs[Int]("label"))
    val counts = nbrs.groupBy(identity).view.mapValues(_.length).toMap
    val best = counts.toSeq.sortBy { case (l, n) => (-n, l) }.head
    assert(preds.head._2 === best._1 && preds.head._3 === best._2.toLong)
  }

  test("emb_label_purity: cosines bounded, a planted opposite vector is flagged") {
    import spark.implicits._
    val out = SparkEntry.queries("emb_label_purity")(spark, sf).collect()
    assert(out.length === emb.count())
    assert(out.forall(r => r.getDouble(2) >= -1.0 - 1e-12 && r.getDouble(2) <= 1.0 + 1e-12))
    assert(out.forall(r => r.getBoolean(3) === (r.getDouble(2) < 0.1)))
    // isotropic corpus: most members sit near their label centroid's
    // hemisphere — the mean cosine must be positive
    val mean = out.map(_.getDouble(2)).sum / out.length
    assert(mean > 0.0, f"mean centroid cosine $mean%.4f")
  }

  test("sim_recall_eval: brute anchors at exactly 1.0, others in [0,1]") {
    val byMethod = SparkEntry.queries("sim_recall_eval")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byMethod.keySet === Set("brute", "lsh", "ivf", "pq", "ivfpq"))
    assert(byMethod("brute")._2 === 1.0, "brute force is its own truth")
    byMethod.values.foreach { case (nq, rec) =>
      assert(nq > 0 && rec >= 0.0 && rec <= 1.0)
    }
  }
  test("emb_quantize: int8 residuals respect the half-step bound per dimension") {
    val rows = SparkEntry.queries("emb_quantize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.length === 64)
    rows.foreach { case (pos, n, scale, maxErr, mse, nZero) =>
      assert(n > 0 && scale > 0.0)
      // symmetric round-half-away: |127q - c*s| <= s/2, so the error in
      // value units is at most scale/254 (plus fp headroom)
      assert(maxErr <= scale / 254.0 * (1.0 + 1e-12), s"pos $pos maxErr $maxErr vs ${scale / 254.0}")
      assert(mse >= 0.0 && mse <= maxErr * maxErr * (1.0 + 1e-12), s"pos $pos mse")
      assert(nZero >= 0 && nZero <= n)
    }
  }
  test("sim_truncate_eval: full-width anchors at 1.0, budgets bounded") {
    val rows = SparkEntry.queries("sim_truncate_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSet === Set(16L, 32L, 64L))
    val byDim = rows.map(r => r._1 -> r._3).toMap
    assert(byDim(64L) === 1.0, "the 64-dim prefix IS the full vector")
    rows.foreach { case (_, nq, rec) =>
      assert(nq > 0 && rec >= 0.0 && rec <= 1.0)
    }
    val again = SparkEntry.queries("sim_truncate_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.sameElements(again), "deterministic")
  }
  test("sim_ivf_sweep: recall monotone in nprobe, exhaustive probe anchors at 1.0") {
    val rows = SparkEntry.queries("sim_ivf_sweep")(spark, sf).orderBy("nprobe")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L, 16L))
    val recalls = rows.map(_._3)
    recalls.foreach(rc => assert(rc >= 0.0 && rc <= 1.0))
    // probe sets are nested, so recall cannot decrease
    assert(recalls.sameElements(recalls.sorted), s"non-monotone: ${recalls.toSeq}")
    // nprobe = nClusters probes every cell: exhaustive = brute = 1.0
    assert(recalls.last === 1.0)
    // every probe is collected inside the builder, so its index is gone
    val pid = ProcessHandle.current().pid()
    val left = TempDirs.root.toFile.list().filter(_.startsWith(s"ivf_sweep_pid${pid}_"))
    assert(left.isEmpty, s"sim_ivf_sweep left ${left.mkString(", ")}")
  }

  test("two concurrent ivfPqTopK consumers both finish, each on its own index") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val prefix = s"ivfpq_index_pid${ProcessHandle.current().pid()}_"
    def indexDirs = TempDirs.root.toFile.list().filter(_.startsWith(prefix)).toSet
    val before = indexDirs
    val results = Seq.fill(2)(Future {
      IvfPq.ivfPqTopK(queries, corpus, "vec_id", "embedding",
        k = 5, nClusters = 8, nProbe = 4).collect().map(_.toSeq).toSet
    }).map(Await.result(_, 10.minutes))
    assert(results.head.nonEmpty)
    assert(results.head === results.last, "same inputs, same top-k")
    // the lazy frames may still be re-scanned, so both dirs stay until exit
    assert((indexDirs -- before).size === 2)
  }
}
