package graft.tools

import org.apache.spark.sql.functions._

/** Measure the BFS-family crossover (round 16, VERDICT r15 #3): the
  * a1/a2/a5 gates carried the largest honest 10× wall ratios (a2 15.9×,
  * a1 13.0×), and two plan families exist for their reachability /
  * shortest-hops core:
  *  - PREGEL (shipped): GraphX with activeDirection=Out — per-superstep
  *    triplet scans limited to the frontier, but each superstep
  *    re-walks the full partition set and the toGraphX conversion is a
  *    fixed per-graph cost (memoized; warmed before timing here).
  *  - DATAFRAME FRONTIER: one join per hop against the edge relation,
  *    per-round localCheckpoint (the flat-plan discipline), anti-join
  *    against the reached set.
  * Both run at 1× (sf0.1) and 10× (/tmp/graft_sf1_full — build with
  * ScaleTestData first) on the a1/a2 instance (NextOrder chain from
  * customer 1's first order), REPEAT=2 so pass 2 is the steady reading;
  * wall + shuffle witness per ProbeHarness. Row-set agreement between
  * the paths is asserted per scale. Results land in SCALING.md.
  * One-off diagnostic, not a gate. */
object BfsCrossoverProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session("bfs-crossover-probe")
    val h = new ProbeHarness(spark, "bfsx")
    import graft.analytics.GraphAnalytics

    def suite(tag: String, dir: String): Unit = {
      val g = graft.gate.GateQueries.graph(spark, dir)
      g.edges.count() // gate-graph warm (the bench protocol)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val first = spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("o_custkey") === 1 && col("rn") === 1)
        .select((col("o_orderkey") + 10000000L).cast("long")).head().getLong(0)
      val label = graft.gate.GateQueries.NextOrder
      val chain = g.copy(edges = g.edges.filter(col("label") === label))
      // warm the memoized GraphX conversion so pregel times the ROUNDS
      // (the probe question), mirroring how the bench warm phase would
      GraphAnalytics.reachableFromPregel(g, Seq(first), Some(label)).count()
      for (pass <- 1 to 2) {
        h.timed(s"$tag pregel_reach pass $pass")(
          GraphAnalytics.reachableFromPregel(g, Seq(first), Some(label)).count())
        h.timed(s"$tag df_reach pass $pass")(
          GraphAnalytics.reachableFromFrontier(g, Seq(first), Some(label)).count())
        h.timed(s"$tag pregel_hops pass $pass")(
          GraphAnalytics.shortestPathsPregel(chain, first).count())
        h.timed(s"$tag df_hops pass $pass")(
          GraphAnalytics.shortestPathsFrontier(chain, first).count())
      }
      // row-set agreement: the two plan families must compute the same op
      val pr = GraphAnalytics.reachableFromPregel(g, Seq(first), Some(label))
        .collect().map(_.getLong(0)).toSet
      val dr = GraphAnalytics.reachableFromFrontier(g, Seq(first), Some(label))
        .collect().map(_.getLong(0)).toSet
      require(pr == dr, s"$tag: reach disagreement pregel=${pr.size} df=${dr.size}")
      val ph = GraphAnalytics.shortestPathsPregel(chain, first)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dh = GraphAnalytics.shortestPathsFrontier(chain, first)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      require(ph == dh, s"$tag: hops disagreement pregel=${ph.size} df=${dh.size}")
      println(s"[bfsx] $tag agreement OK: reach=${pr.size} hops=${ph.size}")
    }

    // midpoint suites (round 17, VERDICT r16 #6): the 5e5 dispatch dial
    // was the geometric midpoint of a 10× bracket (1.4e5 / 1.4e6); a
    // measurement either side of it bounds the true inversion within 2×.
    // Built by subsetting the 10× replica to its first k copies (orders
    // keys are offset k·640 000 per copy — see ScaleTestData), giving
    // ~k·1.4e5 NextOrder edges; only orders/lineitem are needed by the
    // gate-graph builder.
    def midDir(copies: Int): String = {
      val out = s"/tmp/graft_mid${copies}x"
      if (!new java.io.File(s"$out/orders.parquet/_SUCCESS").exists) {
        val cut = copies * 640000L
        spark.read.parquet("/tmp/graft_sf1_full/orders.parquet")
          .filter(col("o_orderkey") < cut)
          .write.mode("overwrite").parquet(s"$out/orders.parquet")
        spark.read.parquet("/tmp/graft_sf1_full/lineitem.parquet")
          .filter(col("l_orderkey") < cut)
          .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      }
      out
    }

    val which = if (args.isEmpty) Seq("1x", "3.5x-", "3.5x+", "10x")
      else args.toSeq
    if (which.contains("1x")) suite("1x", "/root/testdata/sf0.1")
    if (which.contains("3.5x-")) suite("3.5x-(3copies~4.2e5)", midDir(3))
    if (which.contains("3.5x+")) suite("3.5x+(4copies~5.6e5)", midDir(4))
    if (which.contains("10x")) suite("10x", "/tmp/graft_sf1_full")
    spark.stop()
  }
}
