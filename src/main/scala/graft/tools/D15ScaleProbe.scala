package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference-side scaling probe for d15's `semanticDecontam` in its
  * LSH-bucketed scale configuration (adaptive bits/tables, full H1 +
  * auto-H2) — OPTIMIZATION_r21 "Not yet optimized" #1: the cross-corpus
  * tier shares cosineDuplicates' per-table broadcast-join union, and its
  * broadcast side is the REFERENCE corpus. Decontamination references
  * are usually broadcast-scale by construction (eval/benchmark sets),
  * but dedup-against-another-corpus style references are not — once the
  * reference outgrows the planner's broadcast threshold EVERY one of the
  * nTables branches degrades to a shuffle join whose a-side exchange
  * carries the probe-exploded corpus VECTOR payload (the exact d4 cliff
  * class, D4ScaleProbe round 21). This probe measures that transition on
  * the reference axis: corpus FIXED at 10× (20,000 vectors — the axis d4
  * already probed), reference scaled 1×/10×/100× as DISJOINT
  * signed-permutation copies (cross-copy cosines at the random baseline,
  * so true contamination pairs scale ×k — the clean denominator).
  *
  * The adaptive config is sized from the CORPUS side (10 bits / auto-H2
  * tables at 20k vectors) and therefore CONSTANT across the reference
  * points: what changes is only which side of the planner threshold the
  * reference lands on (1×: ~0.6 MB broadcast; 10×: ~6 MB broadcast;
  * 100×: ~55 MB — past the 10 MB default, the cliff point).
  * Pass-2 of each point is the steady reading (ProbeHarness protocol).
  * One-off diagnostic, not a gate; results land in SCALING.md.
  * Usage: runMain graft.tools.D15ScaleProbe [refFactors…] (default 1 10 100);
  * `plan` instead of factors prints the formatted plan of the adaptive
  * call under a forced 1 KB broadcast threshold (the plans/r21 capture).
  */
object D15ScaleProbe {
  def main(args: Array[String]): Unit = {
    val planMode = args.contains("plan")
    val factors =
      if (planMode) Seq(1)
      else if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 100)
    // SPARK_GRAFT_CONF can force a guarded tier (e.g.
    // spark.graft.lsh.broadcastBudgetBytes=0 for the composite-key tier)
    val spark = graft.SparkEntry.session("d15-scale-probe")
    graft.functions.expressions.GraftFunctions.init(spark)
    val h = new ProbeHarness(spark, "d15-scale")
    val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = 64

    // copy-c signed permutation: deterministic per copy, orthogonal
    // (the D4ScaleProbe construction — within-copy cosines preserved,
    // cross-copy pairs at the |cos| ~ 1/sqrt(64) random baseline)
    def signedPerm(c: Int): Column = {
      val rnd = new scala.util.Random(104729L + c)
      val perm = rnd.shuffle((0 until dim).toVector)
      val sign = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      array((0 until dim).map(i =>
        (col("embedding")(perm(i)) * lit(sign(i))).cast("float")): _*)
    }

    def copies(k: Int, idOff: Long, tagDir: String): DataFrame = {
      val path = s"/tmp/graft_d15scale/${tagDir}_$k"
      if (!new java.io.File(path, "_SUCCESS").exists) {
        (0 until k).map { c =>
          val e0 = base.withColumn("vec_id",
            col("vec_id") + lit(idOff + c * 10000000L))
          if (c == 0 && idOff == 0L) e0
          else e0.withColumn("embedding", signedPerm(c + (idOff / 1000000000L).toInt * 131))
        }.reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    // corpus fixed at 10x (copy 0 unpermuted = the sf0.1 corpus itself);
    // reference copies draw from a different permutation family (idOff
    // keys the seed) so corpus-vs-reference hits stay at the planted +
    // random-tail rate rather than trivially matching copy-for-copy
    val corpus = copies(10, 0L, "corpus")
    corpus.queryExecution.toRdd.count() // warm the scan

    def run(kRef: Int): Unit = {
      val ref = copies(kRef, 5000000000L, "ref")
      ref.queryExecution.toRdd.count() // warm the scan
      println(s"==== d15 adaptive corpus 10x vs ref ${kRef}x (${2000L * kRef} refs) ====")
      for (pass <- 1 to 2) {
        h.timed(s"d15 adaptive ref ${kRef}x pass $pass") {
          graft.functions.Similarity.semanticDecontam(
            corpus, ref, threshold = 0.35, dim = dim, bits = -1,
            tables = -1, probes = -1, probes2 = -1).count()
        }
      }
    }

    if (planMode) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val ref = copies(1, 5000000000L, "ref")
      val df = graft.functions.Similarity.semanticDecontam(
        corpus, ref, threshold = 0.35, dim = dim, bits = -1,
        tables = -1, probes = -1, probes2 = -1)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    } else factors.foreach(run)
    spark.stop()
  }
}
