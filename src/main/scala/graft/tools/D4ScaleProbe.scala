package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Three-point (1×/10×/100×) scaling probe for d4's `cosineDuplicates`
  * in its gate configuration (adaptive bits/tables, full H1 + auto-H2
  * probing) — VERDICT r20 #1: the per-table broadcast-join union is the
  * measured-fastest shape at gate scale, but past the broadcast
  * threshold every one of its nTables branches degrades to a shuffle
  * join that moves the probe-exploded VECTOR payload instead of
  * broadcasting it once — the d14 probe measured this transition class
  * at 34× when it bites. This probe either demonstrates the cliff (→
  * the stats-guarded metadata-candidate switch lands) or records the
  * probe-backed negative.
  *
  * Two corpus constructions from sf0.1's 2,000 vectors (the
  * DedupScaleProbe discipline):
  *
  *  - DISJOINT: copy c applies a copy-specific SIGNED PERMUTATION of
  *    the coordinates (an orthogonal map — within-copy cosines are
  *    preserved up to FP reassociation, so per-copy duplicate structure
  *    rides along exactly ×k), and cross-copy pairs land at the
  *    near-orthogonal random baseline (|cos| ~ 1/√64 ≈ 0.125 ≪ 0.35).
  *    True pairs scale ×k — the clean denominator for the join-shape
  *    question.
  *
  *  - CLONE: the emb10x perturbation (±0.005·sin) — every cross-copy
  *    pair of the same base vector is a true near-dup, output ×k².
  *    Measured at ≤10× only (the output itself is quadratic by
  *    construction; at 100× the true pair count ~50M dominates any
  *    join-shape signal).
  *
  * The adaptive config re-sizes itself per point (1×: 6 bits/8 tables;
  * 10×: 10 bits/16 tables + H2; 100×: 13 bits/44 tables + H2), so the
  * probe measures the SHIPPED scale contract, not a frozen 1× config.
  * Pass-2 of each point is the steady reading (ProbeHarness protocol).
  * One-off diagnostic, not a gate; results land in SCALING.md.
  * Usage: runMain graft.tools.D4ScaleProbe [factors…] (default 1 10 100)
  */
object D4ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factors = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10, 100)
    // SPARK_GRAFT_CONF passthrough (round 22, the PlanDump mechanism):
    // lets a probe run force a guarded tier (e.g.
    // spark.graft.lsh.broadcastBudgetBytes=0 for the composite-key tier)
    // without recompiling — diagnostic only
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = extraConf.foldLeft(SparkSession.builder().master("local[32]")
      .appName("d4-scale-probe")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.expressions.GraftFunctions.init(spark)
    val h = new ProbeHarness(spark, "d4-scale")
    val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = 64

    // copy-c signed permutation: deterministic per copy, orthogonal
    def signedPerm(c: Int): Column = {
      val rnd = new scala.util.Random(104729L + c)
      val perm = rnd.shuffle((0 until dim).toVector)
      val sign = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      array((0 until dim).map(i =>
        (col("embedding")(perm(i)) * lit(sign(i))).cast("float")): _*)
    }

    def copies(k: Int, disjoint: Boolean): DataFrame = {
      val path = s"/tmp/graft_d4scale/${if (disjoint) "disjoint" else "clone"}_$k"
      if (!new java.io.File(path, "_SUCCESS").exists) {
        (0 until k).map { c =>
          val e0 = base.withColumn("vec_id", col("vec_id") + lit(c * 10000000L))
          if (c == 0) e0
          else if (disjoint) e0.withColumn("embedding", signedPerm(c))
          else e0.withColumn("embedding", expr(
            s"transform(embedding, (x, i) -> cast(x + 0.005d * sin(vec_id * (i + 1) + $c) as float))"))
        }.reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    def run(k: Int, disjoint: Boolean): Unit = {
      val tag = if (disjoint) "disjoint" else "clone"
      val d = copies(k, disjoint)
      d.queryExecution.toRdd.count() // warm the scan
      println(s"==== d4 adaptive $tag ${k}x (${2000L * k} vectors) ====")
      for (pass <- 1 to 2) {
        h.timed(s"d4 adaptive $tag ${k}x pass $pass") {
          graft.functions.Similarity.cosineDuplicates(
            d, threshold = 0.35, dim = dim, bits = -1, tables = -1,
            probes = -1, probes2 = -1).count()
        }
      }
    }

    for (k <- factors) run(k, disjoint = true)
    for (k <- factors.filter(f => f > 1 && f <= 10)) run(k, disjoint = false)
    spark.stop()
  }
}
