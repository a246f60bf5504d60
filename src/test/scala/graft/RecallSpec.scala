package graft

import org.scalatest.funsuite.AnyFunSuite

/** Recall FLOORS for the six approximate tiers (d4, d9, e2, e4, e7, e8):
  * every config runs at its gate settings on the sf0.01 testdata and must
  * stay above a pinned floor against its exact twin — the quality
  * regression gate the rows-only correctness checks cannot provide (an
  * approximate tier whose recall collapses still returns the right ROW
  * COUNT; only this spec makes that break `sbt test`).
  *
  * All tiers are fully seeded (hash-ordered centroid seeds, seeded
  * hyperplanes, deterministic Lloyd), so recall on fixed testdata is a
  * deterministic number, not a distribution — floors sit a few points
  * under the measured value to absorb testdata regeneration, not noise.
  * Measured at sf0.01: d4 1.000, d9 1.000, e2 0.950
  * (bits=8, tables=8, full H1+H2), e4 0.952 / e10 0.950 (nProbe=8 —
  * the round-12 coverage sweep moved the whole IVF family's query-side
  * knob 6→8 at flat wall), e7 0.998
  * (rerank=8), e8 0.948 (nProbe=8, rerank=8 — the round-12 coverage
  * sweep lifted nProbe 6→8: 0.868→0.948 here, 0.874→0.926 at sf0.1,
  * flat wall; E8CoverageProbe).
  */
class RecallSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.01"

  // each gate runs once; exact twins are shared across pairs (e1 anchors
  // both e7 and e8) — memoize the key sets like Bench's recall rider
  private val memo = scala.collection.mutable.Map[String, Set[String]]()
  private def keySet(name: String, keys: Seq[String]): Set[String] =
    memo.getOrElseUpdate(name,
      SparkEntry.queries(name)(spark, sfDir)
        .select(keys.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.mkString("|")).toSet)

  private def recall(approx: String, exact: String, keys: Seq[String]): Double = {
    val e = keySet(exact, keys)
    assert(e.nonEmpty, s"exact twin $exact returned no rows")
    (keySet(approx, keys) & e).size.toDouble / e.size
  }

  private val annKeys = Seq("query_id", "neighbor_id")
  private val pairKeys = Seq("doc_a", "doc_b")

  test("d4 embedding near-dup recall >= 0.90 vs d6 exact") {
    assert(recall("d4_embedding_near_dups", "d6_embedding_dups_exact", pairKeys) >= 0.90)
  }
  test("d9 semantic dedup recall >= 0.90 vs d6 exact") {
    assert(recall("d9_semantic_dedup", "d6_embedding_dups_exact", pairKeys) >= 0.90)
  }
  test("d17 auto-width semantic dedup recall >= 0.90 vs d6 exact") {
    // nAssign = -1: the measured-width scale default (round 16). The 1×
    // floor guards the calibration code path; the decay-at-scale guard
    // is ScaleRecallSpec (the knob only engages above the 1× anchor).
    assert(recall("d17_semantic_dedup_auto", "d6_embedding_dups_exact", pairKeys) >= 0.90)
  }
  test("e2 LSH top-k recall >= 0.90 vs e6 exact") {
    // floor lifted 0.85 → 0.90 (round 16, VERDICT r15 #7): measured 0.950
    // at sf0.01 / 0.96 at sf0.1 / 0.998 at 10× — the old slack could hide
    // a real banding regression; 0.90 matches the other ANN tiers
    assert(recall("e2_ann_lsh_topk", "e6_ann_lsh_exact", annKeys) >= 0.90)
  }
  test("e4 IVF top-k recall >= 0.90 vs e5 exact") {
    assert(recall("e4_ann_ivf_topk", "e5_ann_ivf_exact", annKeys) >= 0.90)
  }
  test("e7 PQ+rerank top-k recall >= 0.95 vs e1 brute force") {
    assert(recall("e7_ann_pq_topk", "e1_ann_bruteforce_topk", annKeys) >= 0.95)
  }
  test("e8 IVF-PQ+rerank top-k recall >= 0.90 vs e1 brute force") {
    assert(recall("e8_ann_ivfpq_topk", "e1_ann_bruteforce_topk", annKeys) >= 0.90)
  }
  test("e10 IVF-SQ8 top-k recall >= 0.90 vs e1 brute force") {
    // composed tier ≈ e4 coverage × e9 quality, no rerank
    assert(recall("e10_ann_ivfsq8_topk", "e1_ann_bruteforce_topk", annKeys) >= 0.90)
  }
  test("e9 SQ8 top-k recall >= 0.95 vs e1 brute force") {
    // pure SQ8 (no rerank): 8-bit per-dim quantization should barely
    // perturb top-10 ordering on this corpus
    assert(recall("e9_ann_sq8_topk", "e1_ann_bruteforce_topk", annKeys) >= 0.95)
  }
  test("mutual-kNN IVF tier recall >= 0.85 vs exact on clustered geometry") {
    // The round-11 verdict's one weak-at-scale item: on the driver's
    // near-ISOTROPIC corpus no sublinear mutual-kNN tier wins (recorded
    // honestly in SCALING.md) — but that is the corpus, not the operator.
    // On planted-cluster geometry (the real-embedding corpus class,
    // graft.tools.PlantedCorpus — fully deterministic, so this recall is
    // a constant): measured 0.899 here (n=2k) and 0.988 at n=10k where
    // the tier runs at 0.17× the exact wall (SCALING.md "Round 12 — …
    // mutual-kNN on clustered geometry"). Floor a few points under the
    // n=2k value.
    val emb = graft.tools.PlantedCorpus.generate(spark, n = 2000, dim = 64, clusters = 8)
      .localCheckpoint(true)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.functions.Similarity.mutualKnnGraph(emb, k = 10))
    assert(exact.nonEmpty)
    val ivf = pairs(graft.functions.Similarity.mutualKnnGraphIvf(
      emb, k = 10, nCentroids = 16, nProbe = 2, nAssign = 1))
    assert((ivf & exact).size.toDouble / exact.size >= 0.85)
  }
  test("e17 gate config recall >= 0.90 vs the e18 exact anchor") {
    // The DRIVER-FACING gate pair (round 13): e17/e18 run on the shared
    // planted-corpus parquet (n=2000, 10 clusters — GateQueries
    // .plantedEmbeddings; 16 clusters saturated recall at 1.000, and a
    // rider pinned at 1.00 can't witness quality drift), nCentroids=16,
    // nProbe=2, nAssign=1. Fully deterministic; measured 0.964 at the
    // gate config, floor a few points under. The clusters=8 test above
    // pins the library op; this one pins the exact artifact the bench
    // recall rider reports.
    assert(recall("e17_mutual_knn_ivf", "e18_mutual_knn_planted_exact",
      Seq("a", "b")) >= 0.90)
  }
  test("e15 projected+rerank top-k recall >= 0.85 vs e1 brute force") {
    // JL 64→32 prefilter only has to land true neighbors in the top-200
    // shortlist; the exact re-rank fixes the ordering. Measured 0.924 at
    // sf0.01 (ProjectedRecallProbe sweep).
    assert(recall("e15_ann_projected_topk", "e1_ann_bruteforce_topk", annKeys) >= 0.85)
  }
}
