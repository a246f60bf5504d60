package graft

import graft.functions.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-pipeline operators: dedup (exact/MinHash/SimHash/Jaccard), similarity
  * search (brute force + LSH), text analysis. Ground truths are constructed
  * corpora with known duplicates/clusters.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def docsDF(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
  val nearDup = base.replace("warm", "cold") // one token differs
  val unrelated = "completely different content about distributed query engines and columnar storage formats for analytics"

  lazy val corpus = docsDF(
    1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated,
    5L -> "short text", 6L -> "short text")

  /** A test-local copy of the per-table union the fused LSH core
    * replaced: one bucket join per table over (vec_id, embedding), the
    * union scored by the same arithmetic, deduped across tables, and for
    * top-k cut by the rank window. The core's rows must equal these. */
  private object PerTableUnion {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    private def planes(dim: Int, bits: Int, table: Int): Seq[Seq[Double]] = {
      val rnd = new scala.util.Random(42L + table * 7919) // Similarity's seed-42 planes
      Seq.fill(bits)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    }
    private def sig(v: Column, p: Seq[Seq[Double]]): Column =
      if (p.isEmpty) lit(0L)
      else call_function("graft_lsh_sig", v, array(p.flatten.map(lit): _*), lit(p.size))
    private def probesOf(v: Column, p: Seq[Seq[Double]], p1: Int, p2: Int): Column =
      if (p.isEmpty) array(lit(0L))
      else call_function("graft_lsh_probes", v, array(p.flatten.map(lit): _*), lit(p.size),
        lit(p1), lit(p2))
    private def side(df: DataFrame, id: String, v: String, n: String): DataFrame = {
      graft.functions.expressions.GraftFunctions.init(df.sparkSession)
      df.filter(call_function("graft_finite_norm", col("embedding")))
        .select(col("vec_id").as(id), col("embedding").as(v),
          Similarity.l2Norm(col("embedding")).as(n))
    }
    private def union(a: DataFrame, av: String, b: DataFrame, bv: String, dim: Int, bits: Int,
        tables: Int, p1: Int, p2: Int): DataFrame = (0 until tables).map { t =>
      val p = planes(dim, bits, t)
      a.withColumn("bucket", explode(probesOf(col(av), p, p1, p2)))
        .join(b.withColumn("bucket", sig(col(bv), p)), "bucket").drop("bucket")
    }.reduce(_ unionByName _)

    def topK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int, bits: Int, tables: Int,
        probes: Int, probes2: Int): DataFrame = {
      val scored0 = union(side(queries, "query_id", "qv", "qn"), "qv",
          side(corpus, "neighbor_id", "cv", "cn"), "cv", dim, bits, tables, probes, probes2)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
      val scored = if (tables == 1) scored0 else scored0.dropDuplicates("query_id", "neighbor_id")
      val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    }

    /** cosineDuplicates (cross = false) or semanticDecontam (cross =
      * true) at a resolved configuration. */
    def pairs(probeRel: DataFrame, build: DataFrame, cross: Boolean, aId: String, bId: String,
        threshold: Double, dim: Int, bits: Int, tables: Int, p1: Int, p2: Int): DataFrame = {
      val probed = p1 > 0 || p2 > 0
      val raw = union(side(probeRel, aId, "av", "an"), "av", side(build, bId, "bv", "bn"), "bv",
        dim, bits, tables, p1, p2)
      val members =
        if (cross) raw
        else if (!probed) raw.filter(col(aId) < col(bId))
        else raw.filter(col(aId) =!= col(bId)).select(least(col(aId), col(bId)).as(aId),
          greatest(col(aId), col(bId)).as(bId), col("av"), col("an"), col("bv"), col("bn"))
      val c = Similarity.dot(col("av"), col("bv")) / (col("an") * col("bn"))
      val scored = members.withColumn("cosine", c).filter(col("cosine") >= threshold)
        .select(col(aId), col(bId),
          (if (cross) round(col("cosine"), 6) else col("cosine")).as("cosine"))
      if (tables == 1 && !probed) scored else scored.dropDuplicates(aId, bId)
    }
  }

  /** `n` 64-d FLOAT vectors (ids 0..n-1) around 25 Gaussian centers. */
  private def clusteredCorpus(n: Int, seed: Long): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(25)(Array.fill(64)(rnd.nextGaussian()))
    (0 until n).map { i =>
      (i.toLong, centers(i % 25).map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** The adaptive bit width `bits = -1` resolves to for `df`'s usable rows. */
  private def adaptiveBits(df: org.apache.spark.sql.DataFrame): Int = {
    graft.functions.expressions.GraftFunctions.init(spark)
    val n = df.filter(call_function("graft_finite_norm", col("embedding"))).count()
    math.max(2, math.ceil(math.log(math.max(n, 128L) / 32.0) / math.log(2.0)).toInt)
  }

  test("graft_minhash: native signature ≡ relational minHashSignatures, bit for bit") {
    import spark.implicits._
    // edge shapes: empty text (one empty shingle), shorter-than-k (one
    // clipped shingle), ascii, unicode incl. case folding + combining marks
    val docs = Seq(
      (0L, ""), (1L, "ab"), (2L, "abcde"), (3L, "the quick brown fox"),
      (4L, "ÄÖÜßéàç ünïcødé string"), (5L, "AAAAAAAAAA"),
      (6L, "mixed CASE With Ünicode ΣΙΓΜΑ and digits 12345"),
      (7L, "é combining acute over there"),
      // \u0130 (LATIN CAPITAL I WITH DOT) lowercases to TWO chars \u2014 position
      // bounds must follow the ORIGINAL length like the relational
      // sequence(0, len(text)-k)
      (8L, "\u0130stanbul \u0130\u0130"), (9L, "\u0130ab"),
      // null text: BOTH forms must drop the doc (explicit isNotNull filter;
      // without it the relational charShingles yields one NULL shingle \u2014
      // greatest(length(NULL)-k, 0) = 0 \u2014 making all null docs mutual dups)
      (10L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rel = Dedup.minHashSignatures(docs, numHashes = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val nat = Dedup.minHashSignaturesNative(docs, numHashes = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(nat === rel)
    assert(!nat.contains(10L), "null-text docs must be dropped, not null-signed")
    // and the native form is a narrow projection: no exchange, no aggregate
    val plan = Dedup.minHashSignaturesNative(docs, numHashes = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"native signatures should not shuffle/aggregate:\n$plan")
    // graft_shingle_hashes: same parity contract vs the lambda chain
    graft.functions.expressions.GraftFunctions.init(spark)
    val relSh = docs.select(col("doc_id"),
        sort_array(transform(Dedup.charShingles(col("text"), 5), s => xxhash64(s))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val natSh = docs.select(col("doc_id"),
        call_function("graft_shingle_hashes", col("text"), lit(5)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(natSh === relSh)
    // graft_ngram_hashes: parity vs transform(wordNgrams) incl. the
    // split-kept-empty-token corners (leading/trailing whitespace)
    val docs2 = docs.unionByName(Seq(
      (100L, "  leading and trailing  "), (101L, "one"),
      (102L, "a b a b a b")).toDF("doc_id", "text"))
    val relNg = docs2.select(col("doc_id"),
        transform(Dedup.wordNgrams(col("text"), 2), g => xxhash64(g)).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val natNg = docs2.select(col("doc_id"),
        call_function("graft_ngram_hashes", col("text"), lit(2)).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(natNg === relNg)
  }

  test("graft_simhash: native signature ≡ relational simHash, bit for bit, no shuffle") {
    import spark.implicits._
    val docs = Seq(
      (0L, ""), (1L, "  leading and trailing  "), (2L, "one"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "ÄÖÜßéàç ünïcødé string"), (5L, "AAAAAAAAAA aaaa AAAA"),
      (6L, "mixed CASE With Ünicode ΣΙΓΜΑ and digits 12345"),
      (7L, "İstanbul İİ"),
      (8L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rel = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nat = Dedup.simHashNative(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat === rel)
    assert(!nat.contains(8L), "null-text docs dropped on both paths")
    val plan = Dedup.simHashNative(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"native simhash should not shuffle/aggregate:\n$plan")
  }

  test("graft_top_gram_fracs: native repetition features ≡ relational, bit for bit, no shuffle") {
    import spark.implicits._
    val docs = Seq(
      (0L, ""), (1L, "   "), (2L, "\tword"), (3L, "a a a b"),
      (4L, "x y x y x y"), (5L, "one two three four five"),
      (6L, "ab c abc abc"), // separator-ambiguity corner: "ab","c" bigram vs literal
      (7L, "CASE Case case ÜNI üni"),
      (8L, "line1\nline1\nline2\n\npara2\n\npara2"),
      (9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.get(3), r.get(4), r.get(5))).toMap
    val nat = rows(TextAnalysis.repetitionFeatures(docs))
    val rel = rows(TextAnalysis.repetitionFeaturesRelational(docs))
    assert(nat === rel)
    // and the native path is one narrow projection: no exchange, no agg
    val plan = TextAnalysis.repetitionFeatures(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"native repetition features should not shuffle/aggregate:\n$plan")
  }

  test("exact dedup groups identical texts and keeps min id") {
    val d = Dedup.exact(corpus).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(d === Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 2L)))
    val drops = Dedup.exactDuplicates(corpus).collect().map(_.getLong(0)).toSet
    assert(drops === Set(2L, 6L))
  }

  test("duplicateClusters: transitive pairs become one family with a min-id keeper") {
    import spark.implicits._
    // chain 1~2, 2~3 (transitive family) + isolated pair 10~11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val c = Dedup.duplicateClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(c === Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("simHashMd5: positive 60-bit signatures, equal for identical docs, near for near-dups") {
    val sigs = Dedup.simHashMd5(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.values.forall(_ >= 0L)) // 60 bits → no sign-bit surprises anywhere
    assert(sigs(1L) === sigs(2L))       // identical docs, identical signature
    val near = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val far = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(near < far, s"near=$near far=$far")
  }

  test("findContamination: substring probes hit their sources and clones only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the secret benchmark answer is fourty two indeed"),
      (2L, "an unrelated clean training document"),
      (3L, "copy: the secret benchmark answer is fourty two!")).toDF("doc_id", "text")
    val probes = Seq((100L, "benchmark answer is fourty two")).toDF("probe_id", "probe")
    val hits = graft.functions.TextAnalysis.findContamination(docs, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits === Set((1L, 100L), (3L, 100L)))
    // probe list is broadcast: no shuffle of the corpus side
    val plan = graft.functions.TextAnalysis.findContamination(docs, probes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"))
  }

  test("sampleByHash: deterministic, disjoint complement, ~fraction sized") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    def sample(f: Double) = ids.filter(
      graft.functions.TextAnalysis.sampleByHash(col("id"), f))
      .collect().map(_.getLong(0)).toSet
    val s25a = sample(0.25); val s25b = sample(0.25)
    assert(s25a === s25b) // reproducible across runs
    assert(math.abs(s25a.size - 500) < 100) // ~25% of 2000
    assert(sample(1.0).size === 2000)
    assert(sample(0.9999999999).size === 2000) // threshold clamps at 0xffffffff
    assert(sample(0.0).isEmpty)
    // monotone: a smaller fraction is a subset of a larger one
    assert(sample(0.1).subsetOf(s25a))
  }

  test("interleaveSources: 2:1 weights realize the ratio in every prefix") {
    import spark.implicits._
    val docs = (Seq.tabulate(6)(i => ("a", i.toLong)) ++ Seq.tabulate(3)(i => ("b", 100L + i)))
      .toDF("source", "doc_id")
    val mixed = graft.functions.TextAnalysis
      .interleaveSources(docs, Map("a" -> 2, "b" -> 1), scale = 2)
      .orderBy("mix_key", "shard", "doc_id").collect()
      .map(r => r.getString(0))
    assert(mixed.length === 9)
    assert(mixed.take(3).count(_ == "a") === 2) // 2:1 in every prefix
    assert(mixed.take(6).count(_ == "a") === 4)
    assert(mixed.take(9).count(_ == "a") === 6)
  }

  test("c4Filters: line and page rules match the hand computation") {
    val docs = docsDF(
      // 3 kept lines (terminal punct, >=3 words), one dropped fragment
      1L -> "the first good sentence here.\nno terminal punct fragment\nis this a question?\nyes it truly is!",
      // javascript line dropped; only 1 kept sentence -> page fails at minSentences=2
      2L -> "please enable javascript to view.\nanother good line here.",
      // lorem ipsum page: lines keepable but page flagged
      3L -> "lorem ipsum dolor sit amet.\nsome other fine sentence.",
      // brace page: code heuristic
      4L -> "function f() { return 1; }\na perfectly good sentence.",
      // too-few words per line
      5L -> "short one.\ntiny line.",
      6L -> null)
    val out = graft.functions.TextAnalysis.c4Filters(docs, minSentences = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 4 && out(1L).getLong(2) === 3)   // lines, kept
    assert(out(1L).getLong(3) === 3 && out(1L).getBoolean(6))      // sentences, keep
    assert(out(1L).getString(7) ===
      "the first good sentence here.\nis this a question?\nyes it truly is!")
    assert(out(2L).getLong(2) === 1 && !out(2L).getBoolean(6))     // js line dropped
    assert(out(3L).getBoolean(4) && !out(3L).getBoolean(6))        // lorem flag
    assert(out(4L).getBoolean(5) && !out(4L).getBoolean(6))        // brace flag
    assert(out(5L).getLong(2) === 0 && !out(5L).getBoolean(6))     // min words
    assert(out(6L).getLong(1) === 0 && !out(6L).getBoolean(6)
      && out(6L).isNullAt(7))                                      // null contract
  }

  test("bpeMerges: hand-computed merge sequence, tie rule, early stop") {
    // low×3, lower×2, newest×1 — the Sennrich toy corpus shape
    val docs = docsDF(1L -> "low low low", 2L -> "lower lower", 3L -> "newest")
    val out = graft.functions.TextAnalysis.bpeMerges(docs, nMerges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "l", "o", 5L),     // (l,o)=(o,w)=5 tie → lexicographic
      (2L, "lo", "w", 5L),    // fused symbol re-pairs
      (3L, "e", "r", 2L),     // (low,e)=(e,r)=2 tie → "e" < "low"
      (4L, "low", "er", 2L),  // merged units compose
      (5L, "e", "s", 1L)))    // all-1 tail: smallest (x, y)
    // single-char words have no pairs: learning stops with an empty table
    val none = graft.functions.TextAnalysis.bpeMerges(docsDF(1L -> "a b"), nMerges = 3)
    assert(none.count() === 0L)
  }

  test("bpeTokenCounts: learned merges shrink counts; empty merges = char count") {
    val docs = docsDF(1L -> "low low low", 2L -> "lower lower", 3L -> "newest")
    val merges = graft.functions.TextAnalysis.bpeMerges(docs, nMerges = 5)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val out = graft.functions.TextAnalysis.bpeTokenCounts(docs, merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // after 5 merges (see the bpeMerges test): low → [low] (1 symbol),
    // lower → [low, er] → merge 4 (low,er) fuses to [lower] (1);
    // newest replay: n,e,w,e,s,t; only (e,s) applies → n,e,w,[es],t (5)
    assert(out(1L) === ((3L, 3L)))   // 3 words × 1 symbol
    assert(out(2L) === ((2L, 2L)))   // 2 words × 1 symbol
    assert(out(3L) === ((1L, 5L)))
    // no merges learned/applied → plain character counts
    val chars = graft.functions.TextAnalysis.bpeTokenCounts(docs, Seq.empty)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(chars === Map(1L -> 9L, 2L -> 10L, 3L -> 6L))
  }

  test("collocations: hand-computed PMI, minCount floor") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // tokens a,b,a,b,a,c (N_t=6: a=3 b=2 c=1); bigrams (a,b)x2 (b,a) (a,c) (N_p=4)
    val docs = docsDF(1L -> "a b a b", 2L -> "a c")
    val out = graft.functions.TextAnalysis.collocations(docs, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size === 3)
    assert(out(("a", "b")) === ((2L, r6(math.log(3.0)))))    // (2/4)/((3/6)(2/6))
    assert(out(("b", "a")) === ((1L, r6(math.log(1.5)))))    // (1/4)/((2/6)(3/6))
    assert(out(("a", "c")) === ((1L, r6(math.log(3.0)))))    // (1/4)/((3/6)(1/6))
    // the count floor drops singletons
    val floored = graft.functions.TextAnalysis.collocations(docs, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(floored === Set(("a", "b")))
  }

  test("gopherFilters: per-rule features and verdicts match the hand computation") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val docs = docsDF(
      // clean doc: 12 words, all alphabetic, stop hits {the, and, of} = 3
      1L -> "the quick brown fox and the lazy dog speak of nothing important",
      // bullet-heavy: 2 of 2 lines bulleted
      2L -> "- the first of the bullet points here\n- and the second one too",
      // ellipsis-heavy + symbol spam: '...' counted as symbol AND line-ender
      3L -> "the trailing thought of mine goes on and on...\n# # # #",
      // stopword-free: zero of the required eight
      4L -> "big data scan merge sort join group window filter batch",
      5L -> null)
    val out = graft.functions.TextAnalysis.gopherFilters(docs, minWords = 5,
        maxBulletFrac = 0.5, maxEllipsisFrac = 0.3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 12 words, 52 chars across words, ratios clean, keeps
    assert(out(1L).getLong(1) === 12L)
    assert(out(1L).getDouble(2) === r6(52.0 / 12))   // mean word len
    assert(out(1L).getDouble(3) === 0.0)             // symbol ratio
    assert(out(1L).getDouble(4) === 1.0)             // alpha frac
    assert(out(1L).getLong(7) === 3L && out(1L).getBoolean(8))
    // doc 2: both lines bulleted -> 1.0 > 0.5, rejected; '-' words not alphabetic
    assert(out(2L).getDouble(5) === 1.0 && !out(2L).getBoolean(8))
    assert(out(2L).getDouble(4) === r6(12.0 / 14))   // two '-' words of 14
    // doc 3: 1 of 2 lines ends '...' -> 0.5 > 0.3; 4 '#' + 1 '...' over 13 words
    assert(out(3L).getDouble(6) === 0.5)
    assert(out(3L).getDouble(3) === r6(5.0 / 13))
    assert(!out(3L).getBoolean(8))
    // doc 4: zero required stopwords -> stop rule rejects
    assert(out(4L).getLong(7) === 0L && !out(4L).getBoolean(8))
    // null contract
    assert(out(5L).getLong(1) === 0L && out(5L).getDouble(2) === 0.0
      && !out(5L).getBoolean(8))
  }

  test("corpusEntropy: hand-computed H per source, degenerate single-token source") {
    val docs = Seq(
      ("A", "x x y y"),          // uniform over 2: H = ln 2, norm 1
      ("B", "z z z"),            // single token: H = 0, norm 0 (v = 1)
      ("C", "a b c d"),          // uniform over 4: H = ln 4, norm 1
      ("D", "w w w p")           // p(w)=3/4, p(p)=1/4
    ).toDF("source", "text")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val out = graft.functions.TextAnalysis.corpusEntropy(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("A") === ((4L, 2L, r6(math.log(2)), 1.0)))
    assert(out("B") === ((3L, 1L, 0.0, 0.0)))
    assert(out("C") === ((4L, 4L, r6(math.log(4)), 1.0)))
    val hD = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(out("D")._3 === r6(hD) && out("D")._4 === r6(hD / math.log(2)))
  }

  test("heavyHitters: sketch tier equals exact tier on a skewed large-vocab corpus") {
    // 3 true heavy tokens over a 3000-singleton tail — vocab (3003) far
    // exceeds the MG counter budget (k = ceil(2/phi) = 200), so pass 1
    // must genuinely evict; the presence guarantee + exact recount must
    // still reproduce the exact tier bit-for-bit
    val words = new scala.util.Random(42).shuffle(
      (Seq.fill(300)("alpha") ++ Seq.fill(150)("beta") ++ Seq.fill(60)("gamma")
        ++ (0 until 3000).map(i => s"tail$i")).toVector)
    val docs = words.grouped(50).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
    val phi = 0.01 // threshold 35.1 of 3510 tokens: alpha/beta/gamma only
    val exact = TextAnalysis.heavyHitters(docs, phi)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.map(_._1) === Set("alpha", "beta", "gamma"))
    assert(exact.find(_._1 == "alpha").get._2 === 300L)
    val sketch = TextAnalysis.heavyHittersSketch(docs, phi)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sketch === exact)
    // a generous explicit sketchSize also reproduces it; null/empty docs ignored
    val sketch2 = TextAnalysis.heavyHittersSketch(
        docs.unionAll(docsDF(9999L -> null, 9998L -> "   ")), phi, sketchSize = 500)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sketch2 === exact)
  }

  test("packSequences: start-offset chunking per shard, integer exact") {
    import spark.implicits._
    val docs = Seq(
      ("a", 1L, "w w w w"),      // 4 tokens, offsets 0..3  → chunk 0
      ("a", 2L, "w w w"),        // 3 tokens, offsets 4..6  → chunk 0
      ("a", 3L, "w w w w w"),    // 5 tokens, start 7       → chunk 0 (7 div 10)
      ("a", 4L, "w w"),          // start 12                → chunk 1
      ("b", 9L, "w")             // separate shard restarts → chunk 0
    ).toDF("source", "doc_id", "text")
    val packed = graft.functions.TextAnalysis.packSequences(docs, 10,
      graft.functions.TextAnalysis.tokenCountWs(col("text")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    assert(packed === Set(
      ("a", 1L, 0L, 0L), ("a", 2L, 0L, 4L), ("a", 3L, 0L, 7L),
      ("a", 4L, 1L, 2L), ("b", 9L, 0L, 0L)))
  }

  test("ngram jaccard: hand-computed value") {
    val d = docsDF(1L -> "a b c d", 2L -> "a b c e")
    val rows = Dedup.ngramJaccardPairs(d, 2, 0.0).collect()
    assert(rows.length === 1)
    assert(rows.head.getDouble(2) === 0.5) // {ab,bc} of {ab,bc,cd,ce}
  }

  test("crossDocNgramStats: per-doc duplicated-gram counts, hand-computed") {
    // bigrams: doc 10 {a_b, b_c, c_d}, doc 11 {a_b, b_x, x_y} (A B lowers
    // to a b), doc 12 {zz_ww} unique, doc 13 one token -> no row, doc 14
    // repeats c d -> distinct grams {c_d, d_c}, c_d shared with doc 10
    val d = Seq(
      (10L, "a b c d"), (11L, "A B x y"), (12L, "zz ww"),
      (13L, "solo"), (14L, "c d c d")).toDF("doc_id", "text")
    val out = Dedup.crossDocNgramStats(d, n = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set(10L, 11L, 12L, 14L)) // <n tokens -> absent
    assert(out(10L) === ((3L, 2L, 0.666667))) // a_b (doc 11), c_d (doc 14)
    assert(out(11L) === ((3L, 1L, 0.333333)))
    assert(out(12L) === ((1L, 0L, 0.0)))
    assert(out(14L) === ((2L, 1L, 0.5))) // within-doc repeat counted once
  }

  test("dropDuplicatedNgrams: covered tokens removed, case kept, every row present") {
    // the DuckDB-prototyped fixture: docs 10/11 share the 5-gram
    // "quick brown fox jumps over" (case-insensitive); 12 unique; 13
    // too short for any gram; 14 null text
    val d = Seq(
      (10L, "The quick brown fox jumps over the lazy dog today"),
      (11L, "a quick brown fox jumps over me and you my friend"),
      (12L, "totally unique text with no shared spans at all here"),
      (13L, "short doc"), (14L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.dropDuplicatedNgrams(d, n = 5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set(10L, 11L, 12L, 13L, 14L)) // no row lost
    assert(out(10L) === (("The the lazy dog today", 10L, 5L))) // original case out
    assert(out(11L) === (("a me and you my friend", 11L, 5L)))
    assert(out(12L) === (("totally unique text with no shared spans at all here", 10L, 0L)))
    assert(out(13L) === (("short doc", 2L, 0L)))  // < n tokens: kept verbatim
    assert(out(14L) === (("", 0L, 0L)))           // null text: empty rewrite
    // overlapping dup spans union their covered positions (one gram at
    // pos 0 and one at pos 2 cover 0..6 of the 8-token doc)
    val d2 = Seq((1L, "p q r s t u v w"), (2L, "p q r s t"), (3L, "r s t u v"))
      .toDF("doc_id", "text")
    val out2 = Dedup.dropDuplicatedNgrams(d2, n = 5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(1L) === "w")
    assert(out2(2L) === "" && out2(3L) === "")
  }

  test("report/removal coherence: d10 zero-dup docs survive d11 verbatim (modulo whitespace)") {
    // the two ops share gram identity, so a doc the REPORT calls clean
    // (n_dup_ngrams = 0) must be untouched by the REMOVAL, and every
    // doc the report flags must lose at least one token
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stats = Dedup.crossDocNgramStats(docs, n = 5)
      .select(col("doc_id"), col("n_dup_ngrams")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removed = Dedup.dropDuplicatedNgrams(docs, n = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val flagged = stats.filter(_._2 > 0).keySet
    val touched = removed.filter(_._2 > 0).keySet
    assert(touched === flagged, s"removal touched ${touched.diff(flagged)} unflagged / " +
      s"missed ${flagged.diff(touched)} flagged docs")
    assert(flagged.nonEmpty, "fixture corpus must contain duplicated spans")
  }

  test("prefix filtering is exact: t=0.4 equals unfiltered join cut at 0.4") {
    // at threshold 0 the prefix is the whole doc → plain postings join
    val full = Dedup.ngramJaccardPairs(corpus, 2, 0.0)
      .filter(col("jaccard") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = Dedup.ngramJaccardPairs(corpus, 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full === pruned && pruned.nonEmpty)
  }

  test("minhash LSH finds near-dups, not unrelated docs") {
    val dups = Dedup.minHashDuplicates(corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 2L))) // exact copies
    assert(dups.contains((1L, 3L)) && dups.contains((2L, 3L))) // near dup
    assert(!dups.exists { case (a, b) => a == 4L || b == 4L }) // unrelated
  }

  test("minhash candidates superset check vs exact jaccard >= 0.8") {
    val cands = Dedup.minHashCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(corpus, 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cands)) // 16 bands x 4 rows: j=0.8 pair missed w.p. ~(1-0.41)^16 < 1e-3
  }

  test("simhash: deterministic, near-dups close in hamming, unrelated far") {
    val sigs = Dedup.simHash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sigs2 = Dedup.simHash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs === sigs2)
    assert(sigs(1L) === sigs(2L)) // identical text → identical signature
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val dups = Dedup.simHashDuplicates(corpus, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 2L)))
    assert(!dups.exists { case (a, b) => a == 4L || b == 4L })
  }

  // ---- similarity over a clustered synthetic embedding set ----------------
  val dim = 16
  lazy val clustered = {
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(5)(Array.fill(dim)(rnd.nextGaussian()))
    (0 until 50).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("ngramContainmentPairs: a quote inside a long doc scores ~1 one way, low the other") {
    // doc 2 = a 6-token excerpt of doc 1 (40 tokens): containment of 2 in
    // 1 is 1.0 (every trigram of 2 appears in 1) while 1-in-2 and the
    // Jaccard are both small — the asymmetric class d3 cannot flag
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (10 to 15).map(i => s"w$i").mkString(" ")
    val docs = docsDF(1L -> long, 2L -> quote, 3L -> "completely different words here")
    val out = Dedup.ngramContainmentPairs(docs, n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet === Set((2L, 1L)))        // only the contained direction
    assert(out((2L, 1L)) === 1.0)
    // the symmetric tier misses it at any threshold above its tiny jaccard
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3).count()
    assert(jac === 0L)
    // and below the bar both directions appear, with the asymmetry visible
    val both = Dedup.ngramContainmentPairs(docs, n = 3, threshold = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(both((2L, 1L)) === 1.0 && both((1L, 2L)) < 0.2)
  }

  test("pqTopK: every-vector-a-codeword degenerates to brute force; recall rises with codes") {
    // nCodes >= n makes every vector its own codeword: reconstruction is
    // exact, so ADC scoring equals the exact dot and pqTopK must equal
    // bruteForceTopK EXACTLY (the full-probe-IVF verification identity,
    // applied to PQ)
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exactPq = Similarity.pqTopK(clustered, clustered, 3,
        nSub = 1, nCodes = 64, lloydIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(exactPq === brute)
    // coarse codebooks on clustered data: within-cluster noise (0.05σ)
    // quantizes away, so exact-rank recall is NOT the right bar (ADC
    // ties inside a cluster are id-ranked) — the PQ guarantee here is
    // CLUSTER-level: every ADC top-3 neighbor shares the query's cluster
    val coarse = Similarity.pqTopK(clustered, clustered, 3,
        nSub = 4, nCodes = 8, lloydIters = 2).collect()
    assert(coarse.length === 50 * 3)
    assert(coarse.forall(r => r.getLong(0) % 5 === r.getLong(1) % 5),
      "a top-3 ADC neighbor crossed clusters")
    // encoding is deterministic and one (sub, code) pair per (vector, sub)
    val books = Similarity.pqCodebooks(clustered, nSub = 4, nCodes = 8)
    val codes = Similarity.pqEncode(clustered, books)
    assert(codes.count() === 50L * 4)
    assert(codes.groupBy("id", "sub").count().filter(col("count") > 1).isEmpty)
    val codes2 = Similarity.pqEncode(clustered, books)
    assert(codes.except(codes2).isEmpty && codes2.except(codes).isEmpty)
    // dim not divisible into subspaces fails fast
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(clustered, nSub = 5, nCodes = 8)
    }
  }

  test("sq8TopK: rerank over the whole corpus equals brute force; pure SQ8 stays in-cluster") {
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // rerank·k >= |corpus| re-scores every candidate exactly — the SQ8
    // ordering only has to ADMIT candidates, so the tier must equal
    // brute force EXACTLY (the rerank identity pqTopK pins)
    val full = Similarity.sq8TopK(clustered, clustered, 3, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full === brute)
    // pure SQ8 (no rerank): 8-bit per-dim error is ~0.2% of the corpus
    // range — top-3 neighbors never cross the well-separated clusters
    val pure = Similarity.sq8TopK(clustered, clustered, 3).collect()
    assert(pure.length === 50 * 3)
    assert(pure.forall(r => r.getLong(0) % 5 === r.getLong(1) % 5),
      "an SQ8 top-3 neighbor crossed clusters")
    // deterministic: two runs produce identical rows
    val pure2 = Similarity.sq8TopK(clustered, clustered, 3).collect()
    assert(pure.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      === pure2.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet)
    // a constant dimension (scale 0) must decode to its min, not NaN:
    // append a constant-padded copy of the corpus and re-run
    val padded = clustered.select(col("vec_id"),
      concat(col("embedding"), array(lit(1.0f))).as("embedding"))
    val paddedTop = Similarity.sq8TopK(padded, padded, 3).collect()
    assert(paddedTop.length === 50 * 3 && paddedTop.forall(!_.getDouble(2).isNaN))
    // ragged vectors raise instead of zip-truncating into wrong scores
    val ragged = clustered.unionAll(Seq((999L, Seq.fill(dim / 2)(0.5f)))
      .toDF("vec_id", "embedding"))
    val ex = intercept[Exception] {
      Similarity.sq8TopK(ragged, ragged, 3).count()
    }
    assert(ex.getMessage.contains("SQ8") || ex.getCause != null)
  }

  test("ivfSq8TopK: full probe matches the exhaustive SQ8 tier; rerank recovers brute force") {
    // full probe removes the IVF approximation → identical row set to
    // the exhaustive SQ8 scan (same model, same scoring body)
    val sq8 = Similarity.sq8TopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val fullProbe = Similarity.ivfSq8TopK(clustered, clustered, 3,
        nCentroids = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(fullProbe === sq8)
    // + rerank over everything → brute force exactly, also under soft
    // assignment (duplicates deduped, never double-ranked)
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    for (na <- Seq(1, 3)) {
      val rr = Similarity.ivfSq8TopK(clustered, clustered, 3,
          nCentroids = 4, nProbe = 4, nAssign = na, rerank = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(rr === brute, s"rerank parity failed at nAssign=$na")
    }
    // the pruned tier keeps candidates inside the query's cluster
    val pruned = Similarity.ivfSq8TopK(clustered, clustered, 3,
      nCentroids = 5, nProbe = 2, nAssign = 2, lloydIters = 2).collect()
    assert(pruned.forall(r => r.getLong(0) % 5 === r.getLong(1) % 5),
      "an IVF-SQ8 top-3 neighbor crossed clusters")
  }

  test("ivfPqTopK: full probe + exact codebook degenerates to brute force; soft dedup never double-counts") {
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // full probe (nProbe = nCentroids) removes the IVF approximation;
    // nCodes >= n removes the PQ approximation — together ≡ brute force
    val exact = Similarity.ivfPqTopK(clustered, clustered, 3,
        nCentroids = 4, nProbe = 4, nSub = 1, nCodes = 64, lloydIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(exact === brute)
    // soft assignment (nAssign > 1) must dedup shared-centroid code rows,
    // not sum them twice: full probe + exact codes stays ≡ brute force
    val soft = Similarity.ivfPqTopK(clustered, clustered, 3,
        nCentroids = 4, nProbe = 4, nSub = 1, nCodes = 64, lloydIters = 1,
        nAssign = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(soft === brute)
    // the pruned+coded tier keeps candidates inside the query's cluster
    val pruned = Similarity.ivfPqTopK(clustered, clustered, 3,
        nCentroids = 5, nProbe = 2, nSub = 4, nCodes = 8, lloydIters = 2,
        nAssign = 2).collect()
    assert(pruned.forall(r => r.getLong(0) % 5 === r.getLong(1) % 5),
      "an IVF-PQ top-3 neighbor crossed clusters")
    // RESIDUAL encoding: when every HOME residual is its own codeword
    // (codebooks train on the full home-residual table, so nCodes must
    // cover n·nAssign rows), adc = q·c + q·(v−c) = q·v exactly — full
    // probe ≡ brute force again, at nAssign 1 and 3
    for ((na, nc) <- Seq((1, 64), (3, 256))) {
      val rexact = Similarity.ivfPqTopK(clustered, clustered, 3,
          nCentroids = 4, nProbe = 4, nSub = 1, nCodes = nc, lloydIters = 1,
          nAssign = na, residual = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(rexact === brute, s"residual parity failed at nAssign=$na")
    }
  }

  test("Sigma-df^2 budget guard: clone corpus trips it, banded route does not") {
    // 40 clones: every gram's df = 40, so the postings self-join is
    // Sigma df^2 = |grams|·1600 rows from 40 docs — the clone-corpus
    // blowup the guard exists for. Pair work here is ~21k join rows;
    // with a 10k budget the estimate must fail FAST (before the join).
    val clones = docsDF((1L to 40L).map(i => i -> base): _*)
    val ex = intercept[IllegalStateException] {
      Dedup.ngramJaccardPairs(clones, n = 3, threshold = 0.8, pairBudget = 10000)
    }
    assert(ex.getMessage.contains("ngramJaccardPairsBanded"))
    intercept[IllegalStateException] {
      Dedup.ngramContainmentPairs(clones, n = 3, threshold = 0.8, pairBudget = 10000)
    }
    // the recommended route handles the same corpus within budget-free
    // linear stages and finds all 40·39/2 clone pairs at jaccard 1.0 —
    // UNCAPPED by default: every band bucket holds the whole 40-clone
    // family, and a default cap below that would have dropped every
    // bucket and returned zero pairs on exactly the corpus the guard
    // steers here
    val banded = Dedup.ngramJaccardPairsBanded(clones, n = 3, threshold = 0.8)
    assert(banded.count() === 40L * 39 / 2)
    assert(banded.filter(col("jaccard") < 1.0).isEmpty)
    // the opt-in skew valve drops capped families ENTIRELY (the
    // documented truncation contract — families, not samples)
    assert(Dedup.ngramJaccardPairsBanded(clones, n = 3, threshold = 0.8,
      maxBucketSize = 10).count() === 0L)
    // pairBudget <= 0 disables the guard explicitly
    assert(Dedup.ngramJaccardPairs(clones, n = 3, threshold = 0.8,
      pairBudget = 0).count() === 40L * 39 / 2)
  }

  test("banded n-gram route ≡ exact postings tier on sf0.01 at the d3 config") {
    // the equality pin behind the guard's recommendation: at
    // (bands=64, rows=1) the banding miss probability for a
    // threshold-0.3 pair is (1-0.3)^64 ≈ 1e-10, so on real data the
    // banded tier must reproduce the exact tier's pair set AND values
    // bit-for-bit (same gram identity, same df cap, exact verify)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = keyed(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3))
    val banded = keyed(Dedup.ngramJaccardPairsBanded(docs, n = 3, threshold = 0.3,
      maxBucketSize = 100000))
    assert(exact.nonEmpty)
    assert(banded === exact)
  }

  test("rerank: full-corpus shortlist restores brute-force ranking over coarse codes") {
    // rerank·k >= corpus: the ADC shortlist covers EVERY candidate, so
    // the exact re-rank pass must reproduce brute force exactly — even
    // over codebooks too coarse to rank anything (nSub=4, nCodes=8 on
    // 50 vectors). This pins that the re-rank scores with the TRUE dot
    // (ids joined back to full vectors), not the ADC approximation.
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val rr = Similarity.pqTopK(clustered, clustered, 3,
        nSub = 4, nCodes = 8, lloydIters = 2, rerank = 17)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rr === brute) // cosines equal too: re-rank emits EXACT scores
    // same identity through the IVF-PQ composition at full probe
    val rr8 = Similarity.ivfPqTopK(clustered, clustered, 3,
        nCentroids = 4, nProbe = 4, nSub = 4, nCodes = 8, lloydIters = 2,
        nAssign = 2, rerank = 17)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rr8 === brute)
    // a bounded shortlist still returns exactly k ranked rows per query
    val bounded = Similarity.pqTopK(clustered, clustered, 3,
      nSub = 4, nCodes = 8, lloydIters = 2, rerank = 2).collect()
    assert(bounded.length === 50 * 3)
    assert(bounded.map(_.getInt(3)).groupBy(identity).view.mapValues(_.length).toMap
      === Map(1 -> 50, 2 -> 50, 3 -> 50))
  }

  test("PQ encode path fails loudly on a ragged corpus instead of zip-truncating") {
    // pqCodebooks infers dim from ONE vector; a shorter vector elsewhere
    // must raise in the encode pass, not silently slice to fewer
    // elements and produce plausible-but-wrong codes
    val ragged = Seq(
      (1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.25f)),
      (3L, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      val books = Similarity.pqCodebooks(ragged, nSub = 2, nCodes = 2)
      Similarity.pqEncode(ragged, books).count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).flatMap(c => Option(c.getMessage)).exists(_.contains("graft PQ")),
      s"expected the graft PQ dimension error, got: $ex")
  }

  test("IVF-PQ index rerank: vector store fetch is exact and fail-fast without the store") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // an index WITHOUT the vector store refuses rerank instead of
    // silently skipping the refinement
    val bare = "/tmp/graft_ivfpq_rr_bare"
    Similarity.saveIvfPqIndex(emb, bare, nCentroids = 8, nSub = 4, nCodes = 8)
    val ex = intercept[IllegalStateException] {
      Similarity.ivfPqTopKIndexed(qs, bare, k = 5, nProbe = 8, rerank = 4).count()
    }
    assert(ex.getMessage.contains("storeVectors"))
    // storeVectors + full probe + full-corpus shortlist ≡ brute force,
    // over codebooks far too coarse for ADC alone (the rerankExact
    // identity through the ON-DISK refinement store); soft nAssign=2
    // additionally pins that duplicate vector-store rows (one per home)
    // collapse instead of occupying two ranks
    val dir = "/tmp/graft_ivfpq_rr_test"
    Similarity.saveIvfPqIndex(emb, dir, nCentroids = 8, nSub = 4, nCodes = 8,
      nAssign = 2, storeVectors = true)
    assert(graft.util.MetaFiles.readLong(spark, s"$dir/_vectors") === Some(1L))
    val full = Similarity.ivfPqTopKIndexed(qs, dir, k = 5, nProbe = 8, rerank = 120)
    assert(triples(full) === triples(Similarity.bruteForceTopK(qs, emb, k = 5)))
    // bounded rerank at a partial probe: k rows per query, no duplicates
    val part = Similarity.ivfPqTopKIndexed(qs, dir, k = 5, nProbe = 3, rerank = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(part.length === part.toSet.size)
    assert(part.groupBy(_._1).values.forall(_.length == 5))
    // a REBUILD without storeVectors must INVALIDATE the old store —
    // rerank against stale vectors (wrong homes, missing ids) would be
    // silently wrong, so the marker flips to 0 and the probe refuses
    Similarity.saveIvfPqIndex(emb, dir, nCentroids = 8, nSub = 4, nCodes = 8)
    intercept[IllegalStateException] {
      Similarity.ivfPqTopKIndexed(qs, dir, k = 5, nProbe = 8, rerank = 4).count()
    }
  }

  test("brute-force cosine top-k: neighbors come from the same cluster") {
    val top = Similarity.bruteForceTopK(clustered, clustered, 5)
    val rows = top.collect()
    assert(rows.length === 50 * 5)
    // every top-5 neighbor of vector i shares i's cluster (i % 5)
    assert(rows.forall(r => r.getLong(0) % 5 === r.getLong(1) % 5))
    assert(rows.filter(_.getInt(3) == 1).forall(_.getDouble(2) > 0.9))
  }

  test("LSH top-k agrees with brute force on clustered data") {
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(clustered, clustered, 3, dim, bits = 8, tables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("native LSH sig/probe expressions match an independent scalar reference bit-for-bit") {
    // The fused graft_lsh_sig / graft_lsh_probes expressions (round 19)
    // replace the composed ndot-per-plane + sort_array/transform pipeline;
    // the contract is BIT-identical bucket lists (candidate sets — and so
    // every recall/sidecar measurement — must not drift). Reference is a
    // plain-Scala replica of the documented semantics: ascending-index
    // dot accumulation, >= 0 sign rule, (|m|, i) margin order, H2 pairs
    // from the max(probes, 2) window ordered by (mm, bucket).
    graft.functions.expressions.GraftFunctions.init(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val embDim = 64 // the embeddings table's width — full-width planes
    val seed = 42L; val bits = 10; val table = 1
    val rnd = new scala.util.Random(seed + table * 7919) // hyperplanes(dim, bits, table, seed)
    val planes = Seq.fill(bits)(Seq.fill(embDim)(rnd.nextDouble() * 2 - 1))
    def refBuckets(v: Seq[Float], probes: Int, probes2: Int): Seq[Long] = {
      val dots = planes.map { p =>
        var s = 0.0; var j = 0
        while (j < math.min(v.size, p.size)) { s += v(j).toDouble * p(j); j += 1 }
        s
      }
      val base = dots.zipWithIndex.map { case (d, i) => if (d >= 0) 1L << i else 0L }
        .reduce(_ | _)
      if (probes <= 0 && probes2 <= 0) Seq(base)
      else {
        val sorted = dots.map(math.abs).zipWithIndex.sortBy { case (m, i) => (m, i) }
        val f1 = if (probes <= 0) Nil
          else sorted.take(math.min(probes, bits)).map { case (_, i) => base ^ (1L << i) }
        val f2 = if (probes2 <= 0) Nil
          else {
            val win = sorted.take(math.min(math.max(probes, 2), bits))
            val pairs = for { a <- win.indices; b <- a + 1 until win.size } yield
              (win(a)._1 + win(b)._1, base ^ (1L << win(a)._2) ^ (1L << win(b)._2))
            pairs.sortBy(identity).take(probes2).map(_._2)
          }
        Seq(base) ++ f1 ++ f2
      }
    }
    val flat = org.apache.spark.sql.functions.array(planes.flatten.map(lit): _*)
    val rows = emb.limit(60).select(col("vec_id"),
        org.apache.spark.sql.functions.call_function("graft_lsh_sig",
          col("embedding"), flat, lit(bits)).as("sig"),
        org.apache.spark.sql.functions.call_function("graft_lsh_probes",
          col("embedding"), flat, lit(bits), lit(0), lit(0)).as("p00"),
        org.apache.spark.sql.functions.call_function("graft_lsh_probes",
          col("embedding"), flat, lit(bits), lit(3), lit(0)).as("p30"),
        org.apache.spark.sql.functions.call_function("graft_lsh_probes",
          col("embedding"), flat, lit(bits), lit(10), lit(45)).as("pFull"),
        org.apache.spark.sql.functions.call_function("graft_lsh_probes",
          col("embedding"), flat, lit(bits), lit(0), lit(5)).as("p05"),
        col("embedding")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](6)
      assert(r.getLong(1) === refBuckets(v, 0, 0).head, s"sig mismatch vec ${r.getLong(0)}")
      assert(r.getSeq[Long](2) === refBuckets(v, 0, 0), s"p(0,0) mismatch vec ${r.getLong(0)}")
      assert(r.getSeq[Long](3) === refBuckets(v, 3, 0), s"p(3,0) mismatch vec ${r.getLong(0)}")
      assert(r.getSeq[Long](4) === refBuckets(v, 10, 45), s"p(10,45) mismatch vec ${r.getLong(0)}")
      assert(r.getSeq[Long](5) === refBuckets(v, 0, 5), s"p(0,5) mismatch vec ${r.getLong(0)}")
    }
  }

  test("multi-probe LSH: recall never drops, exact config unaffected, pairs stay deduped") {
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fine buckets (few candidates) → probing must not LOWER recall
    def recallAt(probes: Int): Double = {
      val got = Similarity.lshTopK(clustered, clustered, 3, dim, bits = 12, tables = 2,
          probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val r0 = recallAt(0); val r12 = recallAt(12)
    assert(r12 >= r0, s"probing lowered recall: $r0 -> $r12")
    assert(r12 > 0.5, s"full Hamming-1 probing should recover most neighbors here, got $r12")
    // Hamming-2 probing only ever widens coverage further
    val r2bit = {
      val got = Similarity.lshTopK(clustered, clustered, 3, dim, bits = 12, tables = 2,
          probes = 12, probes2 = 45)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    assert(r2bit >= r12, s"2-bit probing lowered recall: $r12 -> $r2bit")
    // probed results carry no duplicate (query, neighbor) rows — weight-
    // 0/1/2 flips of distinct bit sets are distinct buckets per table
    val probed = Similarity.lshTopK(clustered, clustered, 3, dim, bits = 12, tables = 2,
      probes = 12, probes2 = 45).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(probed.length === probed.toSet.size)
    // degenerate-exact config (bits = 0): probes have nothing to flip —
    // identical to brute force with or without them (the e6 twin's guard)
    val exact = Similarity.lshTopK(clustered, clustered, 3, dim, bits = 0, tables = 1,
      probes = 10, probes2 = 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === brute)
  }

  test("semanticDedup: centroid collapse under soft assignment must not empty the output") {
    // all-identical vectors: both k-means seeds coincide, Lloyd leaves a
    // SINGLE centroid, and a soft-assignment pass with no unassigned
    // centroid left used to filter every vector out of the aggregate —
    // silently returning zero pairs (and an empty saveIvfIndex corpus)
    val same = (1L to 6L).map(i => (i, Seq.fill(dim)(0.5f))).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticDedup(same, threshold = 0.9, nClusters = 2, nAssign = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size === 15, s"expected all C(6,2) pairs, got ${pairs.size}")
    // and the kept cluster_id is deterministic (min over shared clusters)
    val cids = Similarity.semanticDedup(same, threshold = 0.9, nClusters = 2, nAssign = 2)
      .select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(cids.size === 1)
  }

  test("semanticDedup: nClusters=1 equals exhaustive; cluster-local pairs stay true-cluster") {
    val exhaustive = Similarity.cosineDuplicates(clustered, threshold = 0.98, dim = dim,
        exhaustive = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // degenerate config: one cluster = the exact pair set (SemDeDup's
    // machinery — assignment, self-join, threshold — verified end-to-end)
    val one = Similarity.semanticDedup(clustered, threshold = 0.98, nClusters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one === exhaustive && exhaustive.nonEmpty)
    // real config: pairs are a subset of exhaustive (cluster boundaries
    // only ever REMOVE pairs), all within a true generator cluster, and
    // k-means-aligned clusters keep most of them on well-separated data
    val sem = Similarity.semanticDedup(clustered, threshold = 0.98, nClusters = 5,
      nAssign = 1) // pin the HARD path — the r17 default is auto (-1)
      .collect()
    val semPairs = sem.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semPairs.subsetOf(exhaustive))
    assert(sem.forall(r => r.getLong(0) % 5 === r.getLong(1) % 5))
    assert(semPairs.size.toDouble / exhaustive.size >= 0.5,
      s"cluster-local recall collapsed: ${semPairs.size}/${exhaustive.size}")
    // maxClusterSize drops a cluster wholesale (the mega-cluster cap)
    val capped = Similarity.semanticDedup(clustered, threshold = 0.98, nClusters = 1,
      maxClusterSize = 10)
    assert(capped.isEmpty)
    // soft assignment (nAssign=2): recovers boundary pairs — a superset
    // of single assignment, a subset of the exact set, deduped, and the
    // nAssign > k cap degenerates to every-cluster membership safely
    val hard = Similarity.semanticDedup(clustered, threshold = 0.98, nClusters = 5,
      nAssign = 1).collect().map(r => (r.getLong(0), r.getLong(1)))
    val soft = Similarity.semanticDedup(clustered, threshold = 0.98, nClusters = 5,
      nAssign = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(soft.length === soft.toSet.size, "soft-assignment pairs must be deduped")
    assert(hard.toSet.subsetOf(soft.toSet), "soft assignment lost single-assignment pairs")
    assert(soft.toSet.subsetOf(exhaustive), "soft assignment can never emit a non-pair")
    val everywhere = Similarity.semanticDedup(clustered, threshold = 0.98, nClusters = 2,
      nAssign = 99).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(everywhere === exhaustive, "nAssign >= k must equal the exhaustive set")
  }

  test("cosineDuplicates finds same-cluster near-identical pairs only") {
    val d = Similarity.cosineDuplicates(clustered, threshold = 0.98, dim = dim, bits = 6, tables = 8)
    val rows = d.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 5 === r.getLong(1) % 5))
    // adaptive bucket sizing (bits <= 0): buckets sized from a count() so
    // per-bucket work stays constant as the corpus grows; small corpus →
    // coarse buckets → full recall here, same pair set
    val auto = Similarity.cosineDuplicates(clustered, threshold = 0.98, dim = dim,
      bits = -1, tables = 8).collect()
    assert(auto.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
    // multi-probe (probes = -1 → full Hamming-1 at the resolved width):
    // only ever ADDS true pairs — a superset of the unprobed set, still a
    // subset of the exhaustive exact set, no duplicate rows
    val exact = Similarity.cosineDuplicates(clustered, threshold = 0.98, dim = dim,
      exhaustive = true).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probedRows = Similarity.cosineDuplicates(clustered, threshold = 0.98, dim = dim,
      bits = 6, tables = 8, probes = -1, probes2 = 10).collect()
    val probedPairs = probedRows.map(r => (r.getLong(0), r.getLong(1)))
    assert(probedPairs.length === probedPairs.toSet.size, "probed pairs must be deduped")
    val base = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.subsetOf(probedPairs.toSet), "probing lost pairs the base config found")
    assert(probedPairs.toSet.subsetOf(exact), "probing can never emit a non-pair")
    assert(probedPairs.forall(p => p._1 < p._2), "canonical a<b ordering preserved")
    // adaptive TABLES (round 15, tables <= 0): below the n=2000 anchor the
    // formula floors at 8, so the small-corpus pair set is identical to
    // the explicit tables=8 config (it only grows tables at scale — the
    // D4ScaleRecallProbe contract)
    val autoT = Similarity.cosineDuplicates(clustered, threshold = 0.98, dim = dim,
      bits = -1, tables = -1).collect()
    assert(autoT.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      auto.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "adaptive tables must floor at 8 below the anchor corpus size")
    // adaptive tables without adaptive bits has no bit-width anchor: reject
    assertThrows[IllegalArgumentException] {
      Similarity.cosineDuplicates(clustered, threshold = 0.98, dim = dim,
        bits = 6, tables = -1)
    }
  }

  test("ivfAssign: one centroid per vector, same-cluster vectors co-assigned") {
    val assigned = Similarity.ivfAssign(clustered, 5)
    assert(assigned.count() === 50)
    assert(assigned.select("centroid_id").distinct().count() <= 5)
  }

  test("native graft_dot expression == lambda dot on float and double arrays") {
    graft.functions.expressions.GraftFunctions.init(spark)
    val f = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    for (df <- Seq(f, d)) {
      val r = df.select(
        call_function("graft_dot", col("a"), col("b")).as("native"),
        Similarity.dot(col("a"), col("b")).as("lambda"),
        call_function("graft_dot", col("a").cast("array<double>"), col("b")).as("mixed")
      ).head()
      assert(math.abs(r.getDouble(0) - 32.0) < 1e-9)
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
      assert(math.abs(r.getDouble(2) - 32.0) < 1e-9)
    }
    // also resolvable from SQL
    f.createOrReplaceTempView("dot_t")
    assert(math.abs(spark.sql("SELECT graft_dot(a, b) FROM dot_t").head().getDouble(0) - 32.0) < 1e-9)
  }

  test("Similarity.dot/l2Norm/cosine follow graft_dot's rule: null elements read 0, common prefix") {
    // no session registration needed: the public forms build the kernel
    // expression directly, so they agree with graft_dot on dirty input
    val df = Seq(
      (Seq(Some(1.0), None, Some(2.0)), Seq(1.0, 1.0, 1.0)),
      (Seq(Some(1.0), Some(2.0)), Seq(1.0, 1.0, 1.0))).toDF("a", "b")
    val r = df.select(Similarity.dot(col("a"), col("b")), Similarity.l2Norm(col("a")),
      Similarity.cosine(col("a"), col("b"))).collect()
    assert(r.map(_.getDouble(0)).toSeq === Seq(3.0, 3.0))
    assert(r.map(_.getDouble(1)).toSeq === Seq(math.sqrt(5.0), math.sqrt(5.0)))
    assert(r.map(_.getDouble(2)).toSeq === Seq.fill(2)(3.0 / (math.sqrt(5.0) * math.sqrt(3.0))))
    graft.functions.expressions.GraftFunctions.init(spark)
    val native = df.select(call_function("graft_dot", col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(native.toSeq === Seq(3.0, 3.0))
  }

  test("ivfTopK: high recall vs brute force when probing most partitions") {
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(clustered, clustered, 3, nCentroids = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("ivfTopK: Lloyd refinement never lowers recall; full probe stays exact at any iters") {
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // headroom config: more centroids than true clusters + narrow probe,
    // so seed placement matters and refinement has something to fix
    def recallAt(iters: Int): Double = {
      val got = Similarity.ivfTopK(clustered, clustered, 3, nCentroids = 8, nProbe = 2,
          lloydIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val r1 = recallAt(1); val r3 = recallAt(3)
    assert(r3 >= r1, s"Lloyd refinement lowered recall: $r1 -> $r3")
    // the e5 identity is iteration-independent: probing every partition is
    // exhaustive regardless of where refinement moved the centroids
    val full = Similarity.ivfTopK(clustered, clustered, 3, nCentroids = 5, nProbe = 5,
        lloydIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute)
  }

  test("ivfTopK: soft corpus assignment is deduped, never lowers recall, exhaustive at nAssign=k") {
    val brute = Similarity.bruteForceTopK(clustered, clustered, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same headroom config as the Lloyd test: narrow probe, surplus centroids
    def at(nAssign: Int) = Similarity.ivfTopK(clustered, clustered, 3,
        nCentroids = 8, nProbe = 2, nAssign = nAssign)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hard = at(1); val soft = at(2)
    assert(soft.length === soft.toSet.size, "soft-assignment top-k must be duplicate-free")
    // candidates(nAssign=2) ⊇ candidates(nAssign=1) and ranking is true
    // cosine, so recall vs brute force is monotone in nAssign
    def recall(s: Set[(Long, Long)]) = (brute intersect s).size.toDouble / brute.size
    assert(recall(soft.toSet) >= recall(hard.toSet),
      s"soft assignment lowered recall: ${recall(hard.toSet)} -> ${recall(soft.toSet)}")
    // every vector in every cluster → ONE probe is already exhaustive
    val every = Similarity.ivfTopK(clustered, clustered, 3, nCentroids = 5, nProbe = 1,
        nAssign = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(every === brute)
  }

  test("embeddings.parquet end-to-end: brute-force top-3 on real table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val top = Similarity.bruteForceTopK(queries, emb, 3)
    assert(top.count() === 15)
    assert(top.agg(max(abs(col("cosine")))).head().getDouble(0) <= 1.0 + 1e-9)
  }

  // ---- text analysis ------------------------------------------------------
  test("token counts") {
    val d = docsDF(1L -> "one two  three", 2L -> "hello, world! 42")
    val r = d.select(col("doc_id"), TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe")).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2))).toMap
    assert(r(1L) === ((3, 3)))
    assert(r(2L) === ((3, 6))) // hello , world ! 4 2
  }

  test("quality features: ranges and monotonicity") {
    val good = ("a" * 0) + "the quick brown fox jumps over the lazy dog and keeps running through fields of golden wheat toward the distant hills"
    val bad = "x x x x x x x x x x"
    val q = TextAnalysis.qualityFeatures(docsDF(1L -> good, 2L -> bad))
      .select("doc_id", "quality_score", "repetition", "stopword_ratio").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getDouble(1) > q(2L).getDouble(1))
    assert(q(2L).getDouble(2) > 0.8) // "x" repeated
  }

  test("langId picks the dominant marker language") {
    val d = docsDF(
      1L -> "the cat and the dog of this house",
      2L -> "der hund und die katze ist nicht hier",
      3L -> "el perro y los gatos es para nada",
      4L -> "zzz qqq www")
    val r = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) === "en"); assert(r(2L) === "de"); assert(r(3L) === "es"); assert(r(4L) === "und")
  }

  // The pipeline-wide null-text contract, one operator at a time. Two
  // classes of behavior, each pinned here and documented in scaladoc:
  //  - DEDUP surfaces (signatures, candidates, exact): null text is DROPPED
  //    — a null doc is never a dedup candidate. The failure mode otherwise
  //    is systemic: all null docs hash/group/fingerprint identically and
  //    read as mutual duplicates (found the hard way in minhash, r4).
  //  - SCALAR analysis columns: null-safe defaults — null counts propagate
  //    (SQL-idiomatic), ratios 0.0, quality_score pinned 0.0, langId 'und',
  //    fingerprints null (NOT a shared sentinel value).
  test("null-text policy sweep: every text operator drops or defaults, never groups") {
    val docs = docsDF(1L -> base, 2L -> base, 3L -> null, 4L -> null)

    // dedup surfaces: null docs dropped entirely
    for ((name, sigs) <- Seq(
        "minHashSignatures" -> Dedup.minHashSignatures(docs, numHashes = 8),
        "minHashSignaturesNative" -> Dedup.minHashSignaturesNative(docs, numHashes = 8),
        "simHash" -> Dedup.simHash(docs),
        "simHashMd5" -> Dedup.simHashMd5(docs))) {
      val ids = sigs.select("id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L), s"$name must drop null-text docs, got $ids")
    }
    val ex = Dedup.exact(docs).collect()
    assert(ex.length === 1 && ex(0).getLong(1) === 1L && ex(0).getLong(2) === 2L,
      "exact: null docs are not copies of each other")
    assert(Dedup.exactDuplicates(docs).select("doc_id").as[Long].collect().toSeq === Seq(2L),
      "exactDuplicates: null docs neither keep nor drop")
    val mhPairs = Dedup.minHashDuplicates(docs, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mhPairs === Set((1L, 2L)), "minhash pairs: 3-4 (both null) must not pair")
    val njPairs = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(njPairs === Set((1L, 2L)), "ngram jaccard: null docs never appear in pairs")

    // scalar analysis columns: null-safe defaults, never a shared value
    val row = docs.filter($"doc_id" === 3L).select(
      TextAnalysis.tokenCountWs($"text").as("ws"),
      TextAnalysis.tokenCountBpe($"text").as("bpe"),
      TextAnalysis.tokenEstimate($"text").as("est"),
      TextAnalysis.langId($"text").as("lang"),
      TextAnalysis.fingerprint($"text").as("fp"),
      TextAnalysis.fingerprintMd5($"text").as("fp_md5"),
      TextAnalysis.fingerprintShingles($"text").as("fp_sh")).collect()(0)
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2), "token counts: null in, null out")
    assert(row.getString(3) === "und", "langId: null text is 'und'")
    assert(row.isNullAt(4) && row.isNullAt(5) && row.isNullAt(6),
      "fingerprints: null, not a sentinel shared by all null docs")
    val qf = TextAnalysis.qualityFeatures(docs).filter($"doc_id" === 3L).collect()(0)
    assert(qf.getAs[Double]("quality_score") === 0.0, "null text must score 0.0")
    assert(qf.isNullAt(qf.fieldIndex("n_tokens")), "null text has null token count")
    // contamination scan: null text can't contain a probe
    val probes = Seq("quick brown").toDF("probe")
    val hits = TextAnalysis.findContamination(docs, probes).select("doc_id").as[Long].collect().toSet
    assert(hits === Set(1L, 2L))
    // n-gram decontamination: null text yields no grams, never hits
    val ngProbes = Seq((1L, base)).toDF("probe_id", "probe")
    val ngHits = TextAnalysis.findContaminationNgrams(docs, ngProbes, n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(ngHits === Set(1L, 2L))
    // repetition features: null counts, 0.0 fractions (same contract as qualityFeatures)
    val rf = TextAnalysis.repetitionFeatures(docs).filter($"doc_id" === 3L).collect()(0)
    assert(rf.isNullAt(rf.fieldIndex("n_lines")), "null text has null line count")
    assert(rf.getAs[Double]("dup_line_frac") === 0.0 && rf.getAs[Double]("dup_para_frac") === 0.0)
    assert(rf.getAs[Double]("top_token_frac") === 0.0 && rf.getAs[Double]("top_bigram_frac") === 0.0)
    // normalization: null in, null out
    val nt = TextAnalysis.normalizeText(docs).filter($"doc_id" === 3L).select("text_norm").collect()(0)
    assert(nt.isNullAt(0), "normalizeText: null in, null out")
    // PII redaction: null counts and null redacted text
    val pr = TextAnalysis.redactPii(docs).filter($"doc_id" === 3L).collect()(0)
    assert(pr.isNullAt(pr.fieldIndex("n_emails")) && pr.isNullAt(pr.fieldIndex("text_redacted")))
  }

  test("normalizeText: NFC composes, whitespace collapses, ASCII untouched") {
    val docs = docsDF(
      1L -> "café  latte",   // e + combining acute, double space
      2L -> "café\tlatte\n",       // precomposed, tab + trailing newline
      3L -> "plain  ascii   text",
      4L -> null.asInstanceOf[String])
    val out = TextAnalysis.normalizeText(docs).select("doc_id", "text_norm")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    // the decomposed and precomposed spellings converge on one byte sequence
    assert(out(1L) === "café latte" && out(2L) === "café latte")
    assert(out(3L) === "plain ascii text")
    assert(out(4L) === null)
    // narrow projection: no exchange anywhere in the normalize plan
    val plan = TextAnalysis.normalizeText(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"normalizeText must not shuffle:\n$plan")
    // graft_nfc alone ≡ java.text.Normalizer NFC (the conformance source)
    graft.functions.expressions.GraftFunctions.init(spark)
    val raw = Seq("Å", "Å", "İstanbul", "", "ascii", "ﬁ ligature ﬁ")
    val got = raw.toDF("s").select(call_function("graft_nfc", col("s"))).as[String].collect()
    assert(got.toSeq === raw.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC)))
  }

  test("repetitionFeatures: Gopher-rule fractions, hand-computed") {
    val docs = docsDF(
      1L -> "a b a b a",            // top token a: 3/5; top bigram a·b: 2/4
      2L -> "x\ny\nx\nz",           // 4 lines, one duplicate instance
      3L -> "p\n\np\n\nq",          // paragraphs p, p, q
      4L -> "unique tokens only here",
      5L -> "",                     // empty text: no tokens, not one "" token
      6L -> "ab c a bc")            // bigrams ab·c, c·a, a·bc — distinct only if separated
    val f = TextAnalysis.repetitionFeatures(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Double]("top_token_frac") === 3.0 / 5)
    assert(f(1L).getAs[Double]("top_bigram_frac") === 2.0 / 4)
    assert(f(2L).getAs[Long]("n_lines") === 4L)
    assert(f(2L).getAs[Double]("dup_line_frac") === 1.0 - 3.0 / 4)
    assert(f(3L).getAs[Long]("n_lines") === 3L) // blank lines don't count
    assert(f(3L).getAs[Double]("dup_para_frac") === 1.0 - 2.0 / 3)
    assert(f(4L).getAs[Double]("top_token_frac") === 0.25)
    assert(f(4L).getAs[Double]("dup_line_frac") === 0.0)
    assert(f(4L).getAs[Double]("dup_para_frac") === 0.0)
    // empty (non-null) text: zero-length tokens are dropped, so both
    // frequency shares are 0.0 — not the 1.0 a lone "" token would give
    assert(f(5L).getAs[Double]("top_token_frac") === 0.0)
    assert(f(5L).getAs[Double]("top_bigram_frac") === 0.0)
    // \u0001-separated bigrams: ab·c and a·bc stay distinct (an empty
    // separator would merge both into "abc" and report 2/3)
    assert(f(6L).getAs[Double]("top_bigram_frac") === 1.0 / 3)
  }

  test("findContaminationNgrams: shared trigrams hit across case/spacing; substring match not required") {
    val docs = docsDF(
      1L -> "the quick brown fox jumps",
      2L -> "look THE  Quick   BROWN cat", // same trigram after lower+split, NOT a substring
      3L -> "completely unrelated words here")
    val probes = Seq((100L, "the quick brown")).toDF("probe_id", "probe")
    val ngramHits = TextAnalysis.findContaminationNgrams(docs, probes, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngramHits === Set((1L, 100L), (2L, 100L)))
    // the verbatim-substring scan misses the reformatted doc 2 — the gap
    // the n-gram rule exists to close
    val substrHits = TextAnalysis.findContamination(docs, probes)
      .select("doc_id").as[Long].collect().toSet
    assert(substrHits === Set(1L))
    // fewer tokens than n ⇒ no grams ⇒ no self-hit
    val shortProbe = Seq((200L, "two words")).toDF("probe_id", "probe")
    assert(TextAnalysis.findContaminationNgrams(docs, shortProbe, n = 3).isEmpty)
  }

  test("corpusTokenStats: totals, vocabulary, hapax fraction per source") {
    val docs = Seq(
      (1L, "a b b", "s1"), (2L, "b c", "s1"),
      (3L, "x x x x", "s2"),
      (4L, null.asInstanceOf[String], "s3"),
      (5L, "", "s4")).toDF("doc_id", "text", "source")
    val st = TextAnalysis.corpusTokenStats(docs).collect().map(r => r.getString(0) -> r).toMap
    // s1: tokens a b b | b c → total 5, vocab {a,b,c}, hapax {a,c}
    assert(st("s1").getAs[Long]("n_docs") === 2L)
    assert(st("s1").getAs[Long]("total_tokens") === 5L)
    assert(st("s1").getAs[Long]("distinct_tokens") === 3L)
    assert(st("s1").getAs[Long]("hapax_tokens") === 2L)
    assert(st("s1").getAs[Double]("hapax_frac") === 2.0 / 5)
    assert(st("s2").getAs[Long]("distinct_tokens") === 1L)
    assert(st("s2").getAs[Long]("hapax_tokens") === 0L)
    // null text: still a document, contributes no tokens, 0.0 ratio
    assert(st("s3").getAs[Long]("n_docs") === 1L)
    assert(st("s3").getAs[Long]("total_tokens") === 0L)
    assert(st("s3").getAs[Double]("hapax_frac") === 0.0)
    // empty text: same — zero-length tokens dropped, no "" in the vocab
    assert(st("s4").getAs[Long]("n_docs") === 1L)
    assert(st("s4").getAs[Long]("total_tokens") === 0L)
    assert(st("s4").getAs[Long]("distinct_tokens") === 0L)
  }

  test("corpusLengthStats: exact interpolated percentiles per source") {
    val docs = Seq(
      (1L, "a" * 10, "s1"), (2L, "b" * 20, "s1"), (3L, "c" * 40, "s1"),
      (4L, null.asInstanceOf[String], "s2"), (5L, "d" * 8, "s2"))
      .toDF("doc_id", "text", "source")
    val st = TextAnalysis.corpusLengthStats(docs).collect().map(r => r.getString(0) -> r).toMap
    assert(st("s1").getAs[Long]("n_docs") === 3L)
    assert(st("s1").getAs[Long]("min_chars") === 10L && st("s1").getAs[Long]("max_chars") === 40L)
    assert(st("s1").getAs[Double]("p50_chars") === 20.0)
    // p90 over [10,20,40]: rank 0.9*(3-1)=1.8 → 20 + 0.8*(40-20) = 36
    assert(st("s1").getAs[Double]("p90_chars") === 36.0)
    // null text ignored by length aggregates, counted as a doc
    assert(st("s2").getAs[Long]("n_docs") === 2L)
    assert(st("s2").getAs[Long]("min_chars") === 8L && st("s2").getAs[Double]("p50_chars") === 8.0)
  }

  test("corpusLengthStats approximate mode: sketch percentiles near exact, rest identical") {
    val docs = Seq.tabulate(200)(i => (i.toLong, "x" * (i + 1), "s1"))
      .toDF("doc_id", "text", "source")
    val exact = TextAnalysis.corpusLengthStats(docs).head()
    val approx = TextAnalysis.corpusLengthStats(docs, approximate = true).head()
    // non-percentile columns are computed identically
    assert(approx.getAs[Long]("n_docs") === exact.getAs[Long]("n_docs"))
    assert(approx.getAs[Long]("min_chars") === exact.getAs[Long]("min_chars"))
    assert(approx.getAs[Long]("max_chars") === exact.getAs[Long]("max_chars"))
    assert(approx.getAs[Double]("mean_chars") === exact.getAs[Double]("mean_chars"))
    // sketch percentiles land within 2% of the exact interpolated values
    assert(math.abs(approx.getAs[Double]("p50_chars") - exact.getAs[Double]("p50_chars"))
      <= 0.02 * exact.getAs[Double]("p50_chars"))
    assert(math.abs(approx.getAs[Double]("p90_chars") - exact.getAs[Double]("p90_chars"))
      <= 0.02 * exact.getAs[Double]("p90_chars"))
  }

  test("redactPii: emails/IPs/phones counted on the original, tagged in the output") {
    val docs = docsDF(
      1L -> "mail me at jane.doe+test@example.co.uk or bob@host.org thanks",
      2L -> "server 10.0.0.1 fell over, failover to 192.168.250.17 now",
      3L -> "call 555-867-5309 or 555.867.5309 (never 12-34-56)",
      4L -> "nothing sensitive here at all",
      5L -> "mixed: a@b.io on 127.0.0.1 dialed 123-456-7890")
    val out = TextAnalysis.redactPii(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") === 2L)
    assert(out(1L).getAs[String]("text_redacted") === "mail me at <EMAIL> or <EMAIL> thanks")
    assert(out(2L).getAs[Long]("n_ipv4s") === 2L)
    assert(out(2L).getAs[String]("text_redacted") ===
      "server <IP> fell over, failover to <IP> now")
    assert(out(3L).getAs[Long]("n_phones") === 2L)
    assert(out(3L).getAs[String]("text_redacted") === "call <PHONE> or <PHONE> (never 12-34-56)")
    assert(out(4L).getAs[Long]("n_emails") === 0L && out(4L).getAs[Long]("n_ipv4s") === 0L &&
      out(4L).getAs[Long]("n_phones") === 0L)
    assert(out(4L).getAs[String]("text_redacted") === "nothing sensitive here at all")
    assert(out(5L).getAs[String]("text_redacted") === "mixed: <EMAIL> on <IP> dialed <PHONE>")
  }

  test("fingerprint: equal for identical, differs for different docs") {
    val d = docsDF(1L -> base, 2L -> base, 3L -> unrelated)
    val f = d.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) === f(2L))
    assert(f(1L) !== f(3L))
  }

  test("dedupAgainst: cross-side near-dups only, same-side dups never pair, nulls dropped") {
    // new batch: 1 ≈ ref 10 (near-dup), 2 = 3 exact same-side dup (must NOT
    // pair — the API reports new×reference only), 4 unrelated, 5 null text
    val newDocs = docsDF(1L -> nearDup, 2L -> base, 3L -> base,
      4L -> unrelated, 5L -> null.asInstanceOf[String])
    val refDocs = docsDF(10L -> base, 11L -> unrelated.replace("formats", "formatz"),
      12L -> null.asInstanceOf[String])
    val out = Dedup.dedupAgainst(newDocs, refDocs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1≈10 (one token differs), 2/3 are verbatim copies of ref 10,
    // 4≈11 (one token differs); no same-side and no null pairs
    assert(out === Set((1L, 10L), (2L, 10L), (3L, 10L), (4L, 11L)))
    // jaccard values must equal the exact shingle jaccard (verify tier)
    val j = Dedup.dedupAgainst(newDocs, refDocs, threshold = 0.8)
      .filter(col("doc_id") === 2L).head().getDouble(2)
    assert(j === 1.0)
  }

  test("IVF index: full-probe indexed search equals brute force; probe scan is partition-pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = "/tmp/graft_ivf_index_test"
    Similarity.saveIvfIndex(emb, dir, nCentroids = 8)
    val qs = emb.filter(col("vec_id") < 10)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // full probe ≡ brute force (the e5 identity, through the on-disk index)
    assert(triples(Similarity.ivfTopKIndexed(qs, dir, k = 5, nProbe = 8))
      === triples(Similarity.bruteForceTopK(qs, emb, k = 5)))
    // partial probe: the corpus scan must carry a dynamic-pruning partition
    // filter — only probed centroid partitions are read
    val part = Similarity.ivfTopKIndexed(qs, dir, k = 5, nProbe = 2)
    part.count()
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"indexed probe scan not partition-pruned:\n$plan")
    // soft-built index: _nassign stamped, probes dedup transparently —
    // the full-probe ≡ brute identity must survive the redundant rows
    val softDir = "/tmp/graft_ivf_index_soft_test"
    Similarity.saveIvfIndex(emb, softDir, nCentroids = 8, nAssign = 2)
    assert(graft.util.MetaFiles.readLong(spark, s"$softDir/_nassign") === Some(2L))
    val softFull = Similarity.ivfTopKIndexed(qs, softDir, k = 5, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(softFull.length === softFull.toSet.size, "soft index leaked duplicate neighbors")
    assert(triples(Similarity.ivfTopKIndexed(qs, softDir, k = 5, nProbe = 8))
      === triples(Similarity.bruteForceTopK(qs, emb, k = 5)))
  }

  test("randomProject: deterministic, JL-orders a far pair above a near pair, null/ragged contracts, no shuffle") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p1 = Similarity.randomProject(emb, outDim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p2 = Similarity.randomProject(emb, outDim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p1 === p2) // seeded determinism
    assert(p1.values.forall(_.length === 16))
    // JL sanity: the projected distance of a FAR original pair exceeds a
    // NEAR one's (pick extremes from the exact pair table so the margin
    // is wide enough that a 4× reduction cannot plausibly flip it)
    val vecs = emb.limit(40).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def d2(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val pairs = vecs.keys.toSeq.combinations(2).map { case Seq(a, b) =>
      (a, b, d2(vecs(a), vecs(b))) }.toSeq
    val near = pairs.minBy(_._3); val far = pairs.maxBy(_._3)
    assert(d2(p1(far._1), p1(far._2)) > d2(p1(near._1), p1(near._2)),
      "projection inverted the extreme distance pair")
    // nulls pass through null; ragged dims fail fast
    import spark.implicits._
    val withNull = Seq((1L, Array(1.0f, 2.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val np = Similarity.randomProject(withNull, outDim = 4)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(np(1L).isDefined && np(2L).isEmpty)
    val ragged = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    intercept[Exception] { Similarity.randomProject(ragged, outDim = 4).collect() }
    // narrow per-row projection: nothing shuffles
    val plan = Similarity.randomProject(emb, outDim = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"randomProject shuffled:\n$plan")
  }

  test("mmrTopK: diversity beats redundancy at the second pick; pure relevance first") {
    import spark.implicits._
    // a and b are EXACT copies (rel ≈ 0.98 each, sim(a,b) = 1), c is
    // orthogonal to them (rel ≈ 0.196, sim to a = 0). Plain top-2 =
    // (a, b); MMR at λ=0.5 scores b at 0.5·(0.98 − 1) < 0 and c at
    // 0.5·(0.196 − 0) > 0 — the near-copy loses to the diverse pick.
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0.0f, 0.0f)
    val corpus = Seq(
      (1L, v(1.0, 0.0)),       // a
      (2L, v(1.0, 0.0)),       // b = a
      (3L, v(0.0, 1.0)),       // c orthogonal
      (100L, v(1.0, 0.2))).toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") === 100L)
    val out = Similarity.mmrTopK(qs, corpus, k = 2, lambda = 0.5, candidates = 3)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(out(1L) === 1L, "first pick must be the pure-relevance argmax")
    assert(out(2L) === 3L, "second pick must be the diverse candidate, not the near-copy")
    // λ=1 degenerates to plain relevance ranking
    val rel = Similarity.mmrTopK(qs, corpus, k = 2, lambda = 1.0, candidates = 3)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(rel === Map(1L -> 1L, 2L -> 2L))
    // fewer candidates than k: emits what exists
    val short = Similarity.mmrTopK(qs, corpus.filter(col("vec_id") <= 1), k = 3,
      lambda = 0.5, candidates = 3)
    assert(short.count() === 1L)
  }

  /** Plain-Scala brute-force MMR over one query's shortlist of
    * (id, rel), in MmrGreedy's documented operation order: every round
    * recomputes each remaining candidate's penalty over the whole
    * selected set; dots are common-prefix, ascending, double-accumulated;
    * argmax ties go to the smaller id under IEEE ==. Returns
    * (id, rank, unrounded score). */
  private def referenceMmr(short: Seq[(Long, Double)], vec: Long => Array[Double],
      k: Int, lambda: Double): Seq[(Long, Long, Double)] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    def norm(id: Long) = math.sqrt(dot(vec(id), vec(id)))
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    for (round <- 1 to math.min(k, short.size)) {
      val scored = short.filterNot(c => picked.exists(_._1 == c._1)).map { case (id, rel) =>
        if (picked.isEmpty) (id, lambda * rel)
        else {
          val pen = picked.map(s => dot(vec(id), vec(s._1)) / (norm(id) * norm(s._1)))
            .foldLeft(Double.NegativeInfinity)((m, x) => if (x > m) x else m)
          (id, lambda * rel - (1.0 - lambda) * pen)
        }
      }
      val best = scored.reduce((x, y) => if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
      picked += ((best._1, round.toLong, best._2))
    }
    picked.toSeq
  }

  test("mmrTopK: fused greedy ≡ a driver-side brute-force MMR, bit for bit") {
    // The whole greedy runs in one MmrGreedy expression over each query's
    // collected shortlist. The reference re-runs MMR in plain Scala over
    // the same shortlist (bruteForceTopK's rel, vectors read as doubles),
    // so every (query_id, neighbor_id, mmr_rank, mmr_score) row must match
    // bit for bit across lambda values, a shortlist smaller than k, and a
    // DOUBLE copy of the corpus (which must plan the fused expression).
    import graft.functions.expressions.MmrGreedy
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val embD = emb.withColumn("embedding", col("embedding").cast("array<double>"))
    val vecs: Map[Long, Array[Float]] = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val vec = (id: Long) => vecs(id).map(_.toDouble)
    val qs = emb.filter(col("vec_id") < 40)
    def rounded(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val shortType = ArrayType(StructType(Seq(StructField("id", LongType),
      StructField("rel", DoubleType), StructField("v", ArrayType(FloatType)),
      StructField("n", DoubleType))))
    def check(corpus: org.apache.spark.sql.DataFrame, k: Int, lambda: Double,
        candidates: Int): Unit = {
      val out = Similarity.mmrTopK(qs, corpus, k, lambda, candidates)
      assert(out.queryExecution.executedPlan.toString.toLowerCase.contains("mmrgreedy"),
        "mmrTopK must take the fused greedy expression")
      val shortlists = Similarity.bruteForceTopK(qs, corpus, candidates).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq }
      val want = shortlists.toSeq.flatMap { case (q, short) =>
        val ref = referenceMmr(short, vec, k, lambda)
        // the expression itself, unrounded, over the same shortlist
        val rows = short.map { case (id, rel) => new GenericInternalRow(Array[Any](id, rel,
          UnsafeArrayData.fromPrimitiveArray(vecs(id)), math.sqrt(vec(id).map(x => x * x)
            .foldLeft(0.0)(_ + _)))) }
        val got = MmrGreedy(BoundReference(0, shortType, nullable = false), k, lambda)
          .eval(InternalRow(new GenericArrayData(rows.toArray[Any]))).asInstanceOf[GenericArrayData]
          .array.map { case r: InternalRow => (r.getLong(0), r.getLong(1), r.getDouble(2)) }.toSeq
        assert(got.map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))) ===
          ref.map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))),
          s"MmrGreedy ≠ reference for query $q")
        ref.map { case (id, rank, score) =>
          (q, id, rank, java.lang.Double.doubleToLongBits(rounded(score))) }
      }.toSet
      assert(want.nonEmpty)
      assert(keyed(out) === want, s"k=$k lambda=$lambda candidates=$candidates")
    }
    check(emb, k = 5, lambda = 0.7, candidates = 20)
    check(emb, k = 5, lambda = 0.5, candidates = 8)
    check(emb.filter(col("vec_id") < 3), k = 5, lambda = 0.7, candidates = 20)
    check(embD, k = 5, lambda = 0.7, candidates = 20)
  }

  test("mmrTopK and cosineDuplicates: bit-equal rows at 1 and 7 shuffle partitions") {
    // The fused greedy reads each query's shortlist from an UNSORTED
    // collect_list, whose order follows the shuffle; the greedy's
    // selections with total tie-breaks must make that order irrelevant.
    // With broadcast joins the shortlist arrives in rank order at any
    // partition count, so the 7-partition run also turns them off: the
    // shortlist join then shuffles and the order changes (a greedy that
    // skips the last shortlist entry fails here). The LSH pair tier
    // likewise must not depend on the partition count or join strategy.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val embD = emb.withColumn("embedding", col("embedding").cast("array<double>"))
    val qs = emb.filter(col("vec_id") < 40)
    def multiset(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(_.toSeq.map { case d: Double => java.lang.Double.doubleToLongBits(d); case x => x })
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
    def runs() = Seq(
      Similarity.mmrTopK(qs, emb, k = 5, lambda = 0.7, candidates = 20),
      Similarity.mmrTopK(qs, embD, k = 5, lambda = 0.7, candidates = 20),
      Similarity.cosineDuplicates(emb, threshold = 0.35, dim = 64,
        bits = -1, tables = -1, probes = -1, probes2 = -1)).map(multiset)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val one = runs()
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val seven = runs()
      for ((a, b) <- one.zip(seven)) assert(a.nonEmpty && a === b)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("lshTopK: fused core ≡ the per-table union + dedup + window, bit for bit, at 1 and 7 partitions") {
    // The core ranks in-kernel; the rows must be the ones the per-table
    // union, its cross-table dedup and the row_number() window gave:
    // bits 8 / tables 8 / probes 1 (perfbench), e2's full H1 + H2 probing
    // and the exhaustive config, FLOAT and DOUBLE corpora, queries 0..39
    // outside the corpus and 40..59 inside it (self-match excluded).
    // Ids 500..539 repeat the vectors of 100..139, so equal cosines tie
    // and the rank falls to the smaller id.
    val base = clusteredCorpus(500, 42)
    val emb = base.unionByName(base.filter(col("vec_id").between(100, 139))
      .withColumn("vec_id", col("vec_id") + 400L))
    val embD = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    def multiset(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)),
        r.getInt(3)))
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
    def runs() = for {
      c <- Seq(emb, embD)
      (bits, tables, p1, p2) <- Seq((8, 8, 1, 0), (8, 8, 8, 28), (0, 1, 0, 0))
    } yield {
      val (qs, corpus) = (c.filter(col("vec_id") < 60), c.filter(col("vec_id") >= 40))
      val got = multiset(Similarity.lshTopK(qs, corpus, k = 10, dim = 64, bits = bits,
        tables = tables, probes = p1, probes2 = p2))
      val want = multiset(PerTableUnion.topK(qs, corpus, 10, 64, bits, tables, p1, p2))
      assert(got.nonEmpty && got === want, s"bits $bits tables $tables probes $p1/$p2")
      got
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val one = runs()
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(runs() === one)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("every top-k tier cuts exact ties like bruteForceTopK (the smaller neighbor_id), bit for bit, at 1 and 7 partitions") {
    // Ids 200..239 repeat the vectors of 0..39, so their cosines tie
    // exactly and only the cut's neighbor_id order can rank them. Each
    // configuration scores every candidate exactly in the end (full
    // probe, rerank·k ≥ |corpus|, a full projected shortlist, the
    // exhaustive LSH table), so each must give bruteForceTopK's rows,
    // cosine bits and ranks included.
    val base = clusteredCorpus(200, 7)
    val emb = base.unionByName(base.filter(col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 200L))
    val qs = emb.filter(col("vec_id") % 10 === 3 || col("vec_id") >= 230)
    val (k, all) = (5, 240 / 5) // rerank·k = |corpus|
    val dir = java.nio.file.Files.createTempDirectory("graft_tie_pin").toString
    def multiset(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)),
        r.getInt(3)))
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
    def runs() = {
      val brute = multiset(Similarity.bruteForceTopK(qs, emb, k))
      val tiers = Seq(
        "ivfTopK" -> Similarity.ivfTopK(qs, emb, k, nCentroids = 8, nProbe = 8, nAssign = 2),
        "ivfTopKIndexed" -> Similarity.ivfTopKIndexed(qs, dir, k, nProbe = 8),
        "sq8TopK" -> Similarity.sq8TopK(qs, emb, k, rerank = all),
        "ivfSq8TopK" -> Similarity.ivfSq8TopK(qs, emb, k, nCentroids = 8, nProbe = 8,
          nAssign = 2, rerank = all),
        "pqTopK" -> Similarity.pqTopK(qs, emb, k, nSub = 8, nCodes = 16, rerank = all),
        "ivfPqTopK" -> Similarity.ivfPqTopK(qs, emb, k, nCentroids = 8, nProbe = 8,
          nSub = 8, nCodes = 16, nAssign = 2, rerank = all),
        "projectedTopK" -> Similarity.projectedTopK(qs, emb, k, outDim = 16, shortlist = 240),
        "lshTopK" -> Similarity.lshTopK(qs, emb, k, dim = 64, bits = 0, tables = 1))
      for ((name, df) <- tiers) assert(multiset(df) === brute, name)
      brute
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Similarity.saveIvfIndex(emb, dir, nCentroids = 8, nAssign = 2)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val one = runs()
      // the corpus has exact ties inside the top-k, and they rank by id
      val byQuery = one.keys.groupBy(_._1).values.map(_.toSeq.sortBy(_._4))
      assert(byQuery.exists(rs => rs.map(_._3).distinct.size < rs.size), "no exact tie to cut")
      for (rs <- byQuery; (a, b) <- rs.zip(rs.tail)) {
        val (ca, cb) = (java.lang.Double.longBitsToDouble(a._3), java.lang.Double.longBitsToDouble(b._3))
        assert(ca > cb || ca == cb && a._2 < b._2, s"rank order broken: $a then $b")
      }
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(runs() === one)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("cosineDuplicates and lshTopK: a repeated call on 1,000 vectors runs at most 4 jobs and compiles nothing") {
    // perfbench's vectors op: a cached 1,000-vector 64-d clustered batch,
    // the default adaptive cosineDuplicates and an 8-bit 8-table probed
    // lshTopK. The fused core is one build-side collect plus the result's
    // job; the per-table union it replaced ran 10–12 jobs per call and
    // recompiled its per-table stages.
    val vecs = clusteredCorpus(1000, 711).cache()
    try {
      assert(vecs.count() === 1000L)
      val qs = vecs.filter(col("vec_id") % 40 === 0)
      val calls = Seq[(String, () => Int)](
        "cosineDuplicates" -> (() => Similarity.cosineDuplicates(vecs, 0.9, 64).collect().length),
        "lshTopK" -> (() => Similarity.lshTopK(qs, vecs, 10, 64, bits = 8, tables = 8,
          probes = 1).collect().length))
      calls.foreach(_._2()) // warm-up: the sizing count, the first compiles
      val profiler = graft.obs.GateProfiler.of(spark)
      for ((name, call) <- calls) {
        val (rows, prof) = profiler.profile(name)(call())
        info(s"$name: $rows rows, ${prof.jobs} jobs, ${prof.codegenCompiles} compiles")
        assert(rows > 0)
        assert(prof.jobs <= 4, s"$name ran ${prof.jobs} Spark jobs")
        assert(prof.codegenCompiles === 0, s"$name compiled ${prof.codegenCompiles} classes")
      }
    } finally vecs.unpersist()
  }

  test("minHashDuplicates: equal rows at 1 and 7 shuffle partitions with broadcast joins off") {
    // The relational tier (forced by a zero budget; the fused tier sorts
    // its blocks on the driver) gathers each band bucket's ids in
    // candidatesFromSigs with an UNSORTED collect_list, whose order
    // follows the shuffle. With broadcast joins off and 7 partitions the
    // lists really arrive in another order; the pair set and its
    // Jaccards must not move.
    val withDups = plantedDocs()
    def multiset() = Dedup.minHashDuplicates(withDups, threshold = 0.7).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.graft.lsh.broadcastBudgetBytes", "0")
      val one = multiset()
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val seven = multiset()
      assert(one.nonEmpty && one === seven)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      spark.conf.unset("spark.graft.lsh.broadcastBudgetBytes")
    }
  }

  /** 400 docs of 40 words from a 300-word vocabulary, every 7th with a
    * copy that has one word changed: perfbench's text batch in shape. */
  private def plantedDocs(): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(5)
    val texts = (0 until 400).map(i => i.toLong -> Seq.fill(40)(s"w${rnd.nextInt(300)}"))
    docsDF((texts.map { case (i, ws) => i -> ws.mkString(" ") } ++
      texts.filter(_._1 % 7 == 0).map { case (i, ws) =>
        (i + 1000L) -> ws.updated(20, "x").mkString(" ") }): _*)
  }

  test("minHashDuplicates: the fused tier ≡ the relational fallback, bit for bit, at 1 and 7 partitions") {
    // The corpus: planted near-dups (1–3 of 40 words changed); a graded
    // family (m of 40 words changed, m = 1..24) whose pairs spread through
    // the threshold and the estimate floor; a boilerplate family of 12
    // equal docs and one of 6 near-equal docs against maxBucketSize 8;
    // null, empty and shorter-than-k texts, two of each kind equal.
    val rnd = new scala.util.Random(17)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(200)}")
    def changed(ws: Seq[String], m: Int) =
      (0 until m).foldLeft(ws)((acc, j) => acc.updated((j * 7) % ws.size, s"x$j"))
    val planted = (0 until 30).flatMap { i =>
      val ws = words(40)
      Seq(ws, changed(ws, 1 + i % 3))
    }
    val graded = { val ws = words(40); ws +: (1 to 24).map(changed(ws, _)) }
    val boiler = Seq.fill(12)("terms of service apply to every page of this site")
    val nearBoiler = (0 until 6).map(i => s"subscribe to our newsletter for weekly updates $i")
    val odd = Seq(null, null, "", "", "abc", "abc", "ab")
    val texts = (planted ++ graded).map(_.mkString(" ")) ++ boiler ++ nearBoiler ++ odd
    val docs = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("doc_id", "text")
    val (threshold, margin, cap) = (0.7, 0.15, 8)
    // the graded family has candidate pairs just under the estimate floor
    val sigs = Dedup.minHashSignaturesNative(docs).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val gradedIds = planted.size until planted.size + graded.size
    val underFloor = for (a <- gradedIds; b <- gradedIds if a < b;
      sa = sigs(a); sb = sigs(b);
      if (0 until 16).exists(band => sa.slice(4 * band, 4 * band + 4) == sb.slice(4 * band, 4 * band + 4));
      est = sa.zip(sb).count(p => p._1 == p._2) / 64.0
      if est < threshold - margin && est >= threshold - margin - 0.1) yield (a, b)
    assert(underFloor.nonEmpty, "no candidate pair just under the estimate floor")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.minHashDuplicates(d, threshold, estimateMargin = margin, maxBucketSize = cap)
    def bits(d: org.apache.spark.sql.DataFrame) = { val out = run(d)
      out.schema -> out.collect().toSeq
        .map(r => (r.get(0), r.get(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .groupBy(identity).map { case (r, rs) => r -> rs.size } }
    def plan(d: org.apache.spark.sql.DataFrame) = run(d).queryExecution.executedPlan.toString.toLowerCase
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val results = for (parts <- Seq("1", "7")) yield {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        if (parts == "7") spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val fused = bits(docs)
        spark.conf.set("spark.graft.lsh.broadcastBudgetBytes", "0")
        val fallback = try bits(docs) finally spark.conf.unset("spark.graft.lsh.broadcastBudgetBytes")
        assert(fused === fallback, s"at $parts partitions") // schemas too
        fused._2
      }
      assert(results.head === results.last)
      val pairs = results.head.keySet.map(r => (r._1.asInstanceOf[Int], r._2.asInstanceOf[Int]))
      assert(pairs.exists { case (a, b) => a < planted.size && b < planted.size })
      assert(pairs.exists { case (a, b) => gradedIds.contains(a) && gradedIds.contains(b) })
      val boilerIds = (planted ++ graded).size until (planted ++ graded).size + boiler.size
      assert(!pairs.exists { case (a, b) => boilerIds.contains(a) }, "capped buckets pair nothing")
      assert(pairs.contains((texts.size - 5, texts.size - 4)) && pairs.contains((texts.size - 3, texts.size - 2)),
        "equal empty and equal short texts are near-duplicates")
      // plan shapes: INT ids take the kernel; STRING or repeated ids, and a
      // zero budget, take the joins
      val fusedPlan = plan(docs)
      assert(fusedPlan.contains("verifybandblock") && !fusedPlan.contains("join"))
      val stringIds = docs.select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val repeated = docs.unionByName(docs.filter(col("doc_id") === 0).withColumn("text", lit("zzz")))
      for (d <- Seq(stringIds, repeated)) {
        val p = plan(d)
        assert(p.contains("join") && !p.contains("verifybandblock"))
      }
      val asInts = run(stringIds).collect()
        .map(r => Set(r.getString(0).toInt, r.getString(1).toInt)).toSet
      assert(asInts === pairs.map { case (a, b) => Set(a, b) })
      // the budget is exact: all rows in one of 4 partitions, so that one
      // outgrows its share and ships in a second pass at a budget of
      // exactly the batch's bytes; one byte less takes the fallback
      val skewed = docs.repartition(4, lit(0))
      val total = docs.filter(col("text").isNotNull)
        .select(size(call_function("graft_shingle_hashes", col("text"), lit(5)))).collect()
        .map(r => 8L * (1 + 64 + 16 + r.getInt(0)) + 20L * 16 + 64L).sum
      try {
        spark.conf.set("spark.graft.lsh.broadcastBudgetBytes", total.toString)
        assert(plan(skewed).contains("verifybandblock"))
        assert(bits(skewed)._2 === results.head)
        spark.conf.set("spark.graft.lsh.broadcastBudgetBytes", (total - 1).toString)
        assert(!plan(skewed).contains("verifybandblock"))
      } finally spark.conf.unset("spark.graft.lsh.broadcastBudgetBytes")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("minHashDuplicates: a repeated call on a cached 400-doc batch runs at most 3 jobs and compiles nothing") {
    // perfbench's text op in shape. The fused tier is one collect job,
    // which also sizes the batch, plus the result's job; the relational
    // funnel it replaced ran 10 jobs per call.
    val docs = plantedDocs().cache()
    try {
      assert(docs.count() === 458L)
      def call() = Dedup.minHashDuplicates(docs, threshold = 0.7).collect().length
      call() // warm-up: the sizing job, the first compiles
      val (rows, prof) = graft.obs.GateProfiler.of(spark).profile("minHashDuplicates")(call())
      info(s"$rows rows, ${prof.jobs} jobs, ${prof.codegenCompiles} compiles")
      assert(rows > 0)
      assert(prof.jobs <= 3, s"ran ${prof.jobs} Spark jobs")
      assert(prof.codegenCompiles === 0, s"compiled ${prof.codegenCompiles} classes")
    } finally docs.unpersist()
  }

  test("minHashDuplicates: the result reads back after the local-checkpoint blocks are gone") {
    // Dropping the blocks of every local-checkpoint RDD stands in for a
    // lost executor: the fused tier's result depends on none.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pairs = Dedup.minHashDuplicates(plantedDocs(), threshold = 0.7)
    def rows() = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val first = rows()
    assert(first.nonEmpty)
    sc.getPersistentRDDs.filter { case (id, rdd) => !before(id) && rdd.isCheckpointed }
      .values.foreach(_.unpersist(blocking = true))
    assert(rows() === first)
  }

  test("semanticDecontam: bucketed tier recalls the exhaustive pair set; removal flow") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 250)
    val ref = emb.filter(col("vec_id") >= 250)
    val exact = Similarity.semanticDecontam(corpus, ref, threshold = 0.3,
        dim = 64, exhaustive = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no cross-corpus near pairs — threshold too high")
    // every pair crosses the split and clears the threshold
    exact.foreach { case (d, r) => assert(d < 250 && r >= 250) }
    // LSH-bucketed tier: a subset of the exact pairs at decent recall
    // LSH-bucketed tier at the d4 recall config (adaptive bits, full
    // Hamming-1 probes): a subset of the exact pairs at decent recall
    val bucketed = Similarity.semanticDecontam(corpus, ref, threshold = 0.3,
        dim = 64, bits = -1, tables = 8, probes = -1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(exact), "bucketed tier emitted a below-threshold pair")
    assert(bucketed.size.toDouble / exact.size >= 0.7,
      s"bucketed recall ${bucketed.size}/${exact.size} collapsed")
    // the removal flow: anti-join leaves no contaminated doc behind
    val cleaned = corpus.join(
      Similarity.semanticDecontam(corpus, ref, threshold = 0.3, dim = 64,
        exhaustive = true).select(col("doc_id").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
    assert(cleaned.count() === corpus.count() - exact.map(_._1).size)
  }

  test("kmeansAssign: separated blobs recover their groups; iters=0 is nearest-seed; null vectors drop") {
    import spark.implicits._
    // two tight blobs far apart: any 2-means run must split them cleanly
    val blobA = (0L to 4L).map(i => (i, Array(10.0f + i * 0.01f, 10.0f, 0.0f, 0.0f)))
    val blobB = (10L to 14L).map(i => (i, Array(-10.0f, -10.0f + i * 0.01f, 0.0f, 0.0f)))
    val emb = (blobA ++ blobB :+ (99L -> null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(emb, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 10) // null vector dropped
    assert(out.filterKeys(_ < 5L).values.toSet.size === 1, "blob A split")
    assert(out.filterKeys(_ >= 10L).values.toSet.size === 1, "blob B split")
    assert(out(0L) !== out(10L), "blobs merged")
    // iters=0: plain nearest-seed assignment — every seed owns itself
    val zero = Similarity.kmeansAssign(emb, k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = zero.values.toSet
    seeds.foreach(s => assert(zero(s) === s, s"seed $s not in its own cluster"))
  }

  test("filtered ANN: full-probe filtered IVF equals filtered brute force, in memory and through the index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    val pred = col("label") % 2 === 0
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = triples(Similarity.bruteForceTopK(qs, emb.filter(pred), k = 5))
    // in-memory: full probe + corpusFilter ≡ brute force on the filtered corpus
    assert(triples(Similarity.ivfTopK(qs, emb, k = 5, nCentroids = 8, nProbe = 8,
      corpusFilter = Some(pred))) === exact)
    // pruned: every returned neighbor satisfies the predicate
    val evenIds = emb.filter(pred).select("vec_id").collect().map(_.getLong(0)).toSet
    val pruned = Similarity.ivfTopK(qs, emb, k = 5, nCentroids = 8, nProbe = 2,
        corpusFilter = Some(pred))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(pruned.subsetOf(evenIds), "pruned filtered search leaked a filtered-out neighbor")
    // through the on-disk index: metadata columns are stored, the
    // predicate prunes the scan, and the full-probe identity holds
    val dir = "/tmp/graft_ivf_filtered_index_test"
    Similarity.saveIvfIndex(emb, dir, nCentroids = 8)
    assert(triples(Similarity.ivfTopKIndexed(qs, dir, k = 5, nProbe = 8,
      corpusFilter = Some(pred))) === exact)
    // the predicate reaches the parquet scan as a pushed filter
    val probe = Similarity.ivfTopKIndexed(qs, dir, k = 5, nProbe = 8,
      corpusFilter = Some(pred))
    val scans = probe.queryExecution.executedPlan.toString
    assert(scans.contains("PushedFilters: [IsNotNull(label)]")
      || scans.contains("label"), s"filter not pushed into the index scan:\n$scans")
  }

  test("IVF-PQ index: exact-codebook full probe equals brute force; probe scan is partition-pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = "/tmp/graft_ivfpq_index_test"
    // nCodes >= corpus: every vector its own codeword → ADC is exact,
    // so full probe through the ON-DISK index must equal brute force
    Similarity.saveIvfPqIndex(emb, dir, nCentroids = 8, nSub = 1, nCodes = 600)
    val qs = emb.filter(col("vec_id") < 10)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(triples(Similarity.ivfPqTopKIndexed(qs, dir, k = 5, nProbe = 8))
      === triples(Similarity.bruteForceTopK(qs, emb, k = 5)))
    // partial probe: the CODE scan must be dynamically partition-pruned
    val part = Similarity.ivfPqTopKIndexed(qs, dir, k = 5, nProbe = 2)
    part.count()
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"indexed ADC probe scan not partition-pruned:\n$plan")
    // soft-built index: stamped, deduped, identity preserved
    val softDir = "/tmp/graft_ivfpq_index_soft_test"
    Similarity.saveIvfPqIndex(emb, softDir, nCentroids = 8, nSub = 1, nCodes = 600,
      nAssign = 2)
    assert(graft.util.MetaFiles.readLong(spark, s"$softDir/_nassign") === Some(2L))
    val softFull = Similarity.ivfPqTopKIndexed(qs, softDir, k = 5, nProbe = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(softFull.length === softFull.toSet.size, "soft PQ index leaked duplicate neighbors")
    assert(triples(Similarity.ivfPqTopKIndexed(qs, softDir, k = 5, nProbe = 8))
      === triples(Similarity.bruteForceTopK(qs, emb, k = 5)))
  }

  test("dedupLines: cross-doc boilerplate lines dropped, within-doc repeats kept") {
    val docs = docsDF(
      1L -> "COOKIE BANNER\nreal content one\nreal content one\nfooter text",
      2L -> "cookie banner\nunique middle line\nfooter text",
      3L -> "another page entirely\nwith its own words",
      4L -> "COOKIE BANNER\nfooter text", // all boilerplate → empty text
      5L -> null.asInstanceOf[String])
    val out = Dedup.dedupLines(docs, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(2), r.get(3))).toMap
    // banner matches case-insensitively across docs 1/2/4; footer across 1/2/4;
    // doc 1's repeated content line stays (1 distinct doc)
    assert(out(1L) === (("real content one\nreal content one", 2L, 2L)))
    assert(out(2L) === (("unique middle line", 1L, 2L)))
    assert(out(3L) === (("another page entirely\nwith its own words", 2L, 0L)))
    assert(out(4L) === (("", 0L, 2L)))
    assert(out(5L) === ((null, null, null)))
  }

  test("dedupLines: blank lines are structure, never swept as boilerplate") {
    // blank lines co-occur in both docs, but paragraph boundaries must
    // survive — only the repeated non-blank footer is boilerplate
    val docs = docsDF(
      1L -> "intro one\n\nbody A\nshared footer",
      2L -> "intro two\n\nbody B\nshared footer")
    val out = Dedup.dedupLines(docs, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(3))).toMap
    assert(out(1L) === (("intro one\n\nbody A", 1L)))
    assert(out(2L) === (("intro two\n\nbody B", 1L)))
  }

  test("dedupLines at paragraph unit: repeated paragraphs dropped, lines inside kept") {
    val docs = docsDF(
      1L -> "unique para one\nline two\n\nSHARED DISCLAIMER\nsecond line",
      2L -> "different para\n\nshared disclaimer\nsecond line")
    val out = Dedup.dedupLines(docs, minDocs = 2, sep = "\n\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the two-LINE disclaimer paragraph matches across docs as one unit
    assert(out(1L) === "unique para one\nline two")
    assert(out(2L) === "different para")
  }

  test("graft_* functions callable through plain spark.sql") {
    graft.functions.expressions.GraftFunctions.init(spark)
    import spark.implicits._
    Seq((1L, "a a b", "abcdef")).toDF("id", "text", "t2")
      .createOrReplaceTempView("sql_fn_probe")
    val r = spark.sql("""
      SELECT graft_simhash(text) AS sh,
             size(graft_minhash(text, 5, 16)) AS mh_len,
             size(graft_shingle_hashes(t2, 5)) AS sh_len,
             size(graft_ngram_hashes(text, 2)) AS ng_len,
             graft_nfc(t2) AS nfc,
             graft_top_gram_fracs(text).top_token_frac AS ttf,
             graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot
      FROM sql_fn_probe""").head()
    assert(r.getAs[Int]("mh_len") === 16)
    assert(r.getAs[Int]("sh_len") === 2) // "abcde", "bcdef"
    assert(r.getAs[Int]("ng_len") === 2) // "aa", "ab"
    assert(r.getAs[String]("nfc") === "abcdef")
    assert(r.getAs[Double]("ttf") === 2.0 / 3)
    assert(r.getAs[Double]("dot") === 11.0)
  }

  test("keepRepresentatives: non-keepers dropped, unclustered docs untouched") {
    val pairs = Dedup.minHashDuplicates(corpus, threshold = 0.8)
    val clusters = Dedup.duplicateClusters(pairs)
    val kept = Dedup.keepRepresentatives(corpus, clusters)
      .collect().map(_.getLong(0)).toSet
    // corpus: 1=2 exact, 3 near-dups 1, 5=6 exact → families {1,2,3},{5,6}
    // keep min ids 1 and 5; 4 is unclustered and passes through
    assert(kept === Set(1L, 4L, 5L))
  }

  test("minHashDuplicates/dedupAgainst leave no cached relations behind") {
    // round-6 advice item: the internal signature/pair materializations
    // must not pin blocks for the session's lifetime. localCheckpoint
    // blocks are ContextCleaner-managed (freed when the result plan is
    // dereferenced); the CacheManager — whose registrations ARE permanent
    // until an explicit unpersist — must end these calls as empty as it
    // began.
    spark.sharedState.cacheManager.clearCache()
    val newDocs = docsDF(1L -> nearDup, 2L -> base)
    val refDocs = docsDF(10L -> base)
    assert(Dedup.minHashDuplicates(newDocs, threshold = 0.8).count() >= 0L)
    assert(Dedup.dedupAgainst(newDocs, refDocs, threshold = 0.8).count() >= 0L)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedup calls registered relations in the CacheManager (session-lifetime leak)")
  }

  test("dedupAgainst ≡ minHashDuplicates restricted to cross-side pairs") {
    // the asymmetric pipeline must agree with the self-join pipeline on a
    // combined corpus where sides are id-disjoint: cross pairs only, same
    // jaccard values
    val newDocs = docsDF(1L -> nearDup, 2L -> base, 4L -> unrelated)
    val refDocs = docsDF(10L -> base, 11L -> unrelated)
    val cross = Dedup.dedupAgainst(newDocs, refDocs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minHashDuplicates(newDocs.unionByName(refDocs), threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a < 10) != (b < 10) } // cross-side only
      .map { case (a, b, j) => if (a < 10) (a, b, j) else (b, a, j) }.toSet
    assert(cross === full)
  }

  test("round-6 ops: empty-side edges produce empty results, not errors") {
    val empty = docsDF()
    // dedup against an empty reference / of an empty batch: no pairs
    assert(Dedup.dedupAgainst(corpus, empty, threshold = 0.8).count() === 0L)
    assert(Dedup.dedupAgainst(empty, corpus, threshold = 0.8).count() === 0L)
    // budget/length/surprisal over an empty corpus: empty outputs
    val docs0 = Seq.empty[(String, Long, String)].toDF("source", "doc_id", "text")
    assert(TextAnalysis.tokenBudgetSample(docs0, 10, lit(1)).count() === 0L)
    assert(TextAnalysis.adaptiveLengthFilter(docs0).count() === 0L)
    assert(TextAnalysis.unigramSurprisal(docs0.drop("source")).count() === 0L)
    // keepRepresentatives with no clusters: corpus passes through whole
    val noClusters = Seq.empty[(Long, Long, Boolean)].toDF("doc_id", "cluster_id", "keep")
    assert(Dedup.keepRepresentatives(corpus, noClusters).count() === corpus.count())
  }

  test("tokenBudgetSample: null-token docs are dropped, not smuggled into the prefix") {
    val docs = Seq(("s1", 1L, "a b"), ("s1", 2L, null.asInstanceOf[String]), ("s1", 3L, "c"))
      .toDF("source", "doc_id", "text")
    // space-count formula: null text → null tokens
    val tokens = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    val kept = TextAnalysis.tokenBudgetSample(docs, 100, tokens)
      .collect().map(_.getLong(1)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("tokenBudgetSample: deterministic md5-order prefix per group") {
    val docs = Seq(
      ("s1", 1L, "a b c"), ("s1", 2L, "d e"), ("s1", 3L, "f g h i"), ("s1", 4L, "j k"),
      ("s2", 5L, "k l m n o p")).toDF("source", "doc_id", "text")
    val tokens = size(split(col("text"), " "))
    val out = TextAnalysis.tokenBudgetSample(docs, 6, tokens)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    // replicate the rule by hand: md5 order within s1, strict prefix cum<=6
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val order = Seq(1L -> 3, 2L -> 2, 3L -> 4, 4L -> 2).sortBy { case (id, _) => md5hex(id.toString) }
    val expected = order.scanLeft(0L -> 0L) { case ((_, cum), (id, n)) => id -> (cum + n) }
      .drop(1).takeWhile(_._2 <= 6).toMap
    assert(out.view.filterKeys(_ != 5L).toMap === expected)
    // s2's single 6-token doc fits its own budget exactly
    assert(out(5L) === 6L)
    // a budget smaller than every doc keeps nothing
    assert(TextAnalysis.tokenBudgetSample(docs, 1, tokens).count() === 0L)
  }

  test("adaptiveLengthFilter: per-group interpolated quantile band, boundaries inclusive") {
    val docs = Seq(
      ("s1", 1L, "a" * 10), ("s1", 2L, "b" * 20), ("s1", 3L, "c" * 30),
      ("s1", 4L, "d" * 40), ("s1", 5L, "e" * 1000), // outlier
      ("s2", 6L, "f" * 5), ("s2", 7L, null.asInstanceOf[String]))
      .toDF("source", "doc_id", "text")
    // s1 p10 over [10,20,30,40,1000]: rank .1*4=.4 → 10+.4*10=14;
    // p90: rank 3.6 → 40+.6*960=616 — the outlier lifts the hi bound but
    // 1000 still falls outside; 10 falls below lo
    val out = TextAnalysis.adaptiveLengthFilter(docs, lo = 0.10, hi = 0.90)
    val kept = out.collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L, 6L)) // null text never kept; single-doc group keeps itself
    val r = out.filter(col("doc_id") === 2L).head()
    assert(r.getDouble(3) === 14.0 && r.getDouble(4) === 616.0)
  }

  test("unigramSurprisal: exact unigram LM on a tiny corpus, token-less docs score 0") {
    val docs = docsDF(1L -> "a a", 2L -> "A b", 3L -> "", 4L -> null.asInstanceOf[String])
    // corpus tokens (lowercased): a a a b → p(a)=3/4, p(b)=1/4
    val out = TextAnalysis.unigramSurprisal(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lnA = -math.log(3.0 / 4); val lnB = -math.log(1.0 / 4)
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    assert(out(1L)._1 === 2L && out(1L)._2 === r6(lnA))
    assert(out(2L)._1 === 2L && out(2L)._2 === r6((lnA + lnB) / 2))
    assert(out(3L) === (0L, 0.0))
    assert(out(4L) === (0L, 0.0))
  }

  test("tfidfTerms: hand-computed smooth-idf weights, topM cut with term tiebreak") {
    // N=4 docs; df: a→2 (docs 1,2 — case-folded), b→1, c→1; doc 3 empty
    val docs = docsDF(1L -> "a a b", 2L -> "A c", 3L -> "",
      4L -> "x y z")
    def w(tf: Long, df: Long) = tf * (math.log(5.0 / (df + 1)) + 1.0)
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    val full = TextAnalysis.tfidfTerms(docs)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(full((1L, "a")) === ((2L, 2L, r6(w(2, 2)))))
    assert(full((1L, "b")) === ((1L, 1L, r6(w(1, 1)))))
    assert(full((2L, "a")) === ((1L, 2L, r6(w(1, 2)))))
    assert(full((2L, "c")) === ((1L, 1L, r6(w(1, 1)))))
    assert(!full.keySet.exists(_._1 == 3L)) // token-less doc: no rows
    // topM=1: doc 1 keeps "a" (w(2,2) ≈ 3.02 > w(1,1) ≈ 1.92); doc 4's
    // three terms tie exactly (same tf, df) → term order keeps "x"
    val top1 = TextAnalysis.tfidfTerms(docs, topM = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top1(1L) === "a" && top1(2L) === "c" && top1(4L) === "x")
  }

  test("bm25Terms: hand-computed Okapi weights with length normalization") {
    // N=3; corpus: doc 1 "a a b" (dl 3), doc 2 "a c" (dl 2), doc 3 "c c c c c" (dl 5)
    // avg_dl = 10/3; df: a→2, b→1, c→2
    val docs = docsDF(1L -> "a a b", 2L -> "a c", 3L -> "c c c c c")
    def w(tf: Long, df: Long, dl: Long) = {
      val idf = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
      val avg = 10.0 / 3
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg))
    }
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    val out = TextAnalysis.bm25Terms(docs)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out((1L, "a")) === ((2L, 2L, 3L, r6(w(2, 2, 3)))))
    assert(out((1L, "b")) === ((1L, 1L, 3L, r6(w(1, 1, 3)))))
    assert(out((2L, "c")) === ((1L, 2L, 2L, r6(w(1, 2, 2)))))
    assert(out((3L, "c")) === ((5L, 2L, 5L, r6(w(5, 2, 5)))))
    // saturation: tf 5 in a LONG doc must score under 5x the tf-1 weight
    // in a short one (that's the k1/b point of BM25 vs raw tf)
    assert(out((3L, "c"))._4 < 5 * out((2L, "c"))._4)
    // rarer term outranks commoner at equal tf/dl: doc 1 top-1 is "b"
    val top1 = TextAnalysis.bm25Terms(docs, topM = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top1(1L) === "b")
  }

  test("leakageSafeSplit: a near-dup family never straddles the split") {
    // pairs chain 1-2-3 into one family; 4/5/6 are singletons
    val docs = docsDF(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e", 6L -> "f")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.leakageSafeSplit(docs, pairs, testFrac = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L), "every doc gets a side")
    // the family shares cluster_id = min member AND side
    assert(Seq(1L, 2L, 3L).map(out(_)._1).distinct === Seq(1L))
    assert(Seq(1L, 2L, 3L).map(out(_)._2).distinct.size === 1)
    // singletons cluster as themselves
    assert(out(4L)._1 === 4L && out(5L)._1 === 5L)
    // the rule is sampleByHash on the family id — reproduce it directly
    val expected = docs.select(col("doc_id"),
        when(TextAnalysis.sampleByHash(col("doc_id"), 0.5), "test").otherwise("train").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L)._2 === expected(1L), "family side = hash of min member id")
    assert(out(2L)._2 === expected(1L) && out(3L)._2 === expected(1L))
    assert(out(4L)._2 === expected(4L) && out(6L)._2 === expected(6L))
    // degenerate fractions: 0 → all train, 1 → all test
    assert(Dedup.leakageSafeSplit(docs, pairs, 0.0)
      .filter(col("split") === "test").count() === 0)
    assert(Dedup.leakageSafeSplit(docs, pairs, 1.0)
      .filter(col("split") === "train").count() === 0)
  }

  test("bigramSurprisal: hand-computed conditional model; short docs score 0/0") {
    // corpus bigrams: doc1 (a,b)(b,a)(a,b), doc2 (a,a) →
    // c(a·)=3, c(b·)=1; p(b|a)=2/3, p(a|b)=1, p(a|a)=1/3
    val docs = docsDF(1L -> "a b a b", 2L -> "a a", 3L -> "x", 4L -> "",
      5L -> (null: String))
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    val out = TextAnalysis.bigramSurprisal(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((3L, r6((2 * -math.log(2.0 / 3) + 0.0) / 3))))
    assert(out(2L) === ((1L, r6(-math.log(1.0 / 3)))))
    assert(out(3L) === ((0L, 0.0)), "1-token doc: no bigrams, t19 convention")
    assert(out(4L) === ((0L, 0.0)) && out(5L) === ((0L, 0.0)))
    // word salad vs natural order: same unigram bag, scrambled transitions
    // score strictly higher (the signal unigram surprisal cannot see)
    val pair = docsDF(
      10L -> "the cat sat on the mat the cat sat on the mat",
      11L -> "mat the on sat cat the mat the on sat cat the",
      12L -> "the cat sat on the mat the cat sat on the mat")
    val s2 = TextAnalysis.bigramSurprisal(pair)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(11L) > s2(10L), s"scrambled ${s2(11L)} should out-score natural ${s2(10L)}")
  }

  test("stratified + weighted hash sampling: portable rules, monotone, no shuffle") {
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "src")
    val fr = Map("a" -> 0.5, "b" -> 0.125)
    val kept = docs.filter(TextAnalysis.stratifiedSampleByHash(col("id"), col("src"), fr))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // per-stratum membership is exactly sampleByHash at that stratum's rate
    val a = docs.filter(col("src") === "a").filter(TextAnalysis.sampleByHash(col("id"), 0.5))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = docs.filter(col("src") === "b").filter(TextAnalysis.sampleByHash(col("id"), 0.125))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept === (a ++ b) && a.nonEmpty && b.nonEmpty)
    // unknown strata fall to default (0 → drop; 1 → keep)
    val extra = Seq((1000L, "zzz")).toDF("id", "src")
    assert(extra.filter(TextAnalysis.stratifiedSampleByHash(col("id"), col("src"), fr)).count() === 0)
    assert(extra.filter(TextAnalysis.stratifiedSampleByHash(col("id"), col("src"), fr,
      default = 1.0)).count() === 1)
    // weighted: 1 keeps all, kept set is monotone in weight, extremes clamp
    val w = docs.select(col("id"))
    assert(w.filter(TextAnalysis.weightedSampleByHash(col("id"), lit(1.0))).count() === 400)
    val k3 = w.filter(TextAnalysis.weightedSampleByHash(col("id"), lit(0.3)))
      .collect().map(_.getLong(0)).toSet
    val k6 = w.filter(TextAnalysis.weightedSampleByHash(col("id"), lit(0.6)))
      .collect().map(_.getLong(0)).toSet
    assert(k3.subsetOf(k6) && k3.size < k6.size && k6.size < 400)
    assert(w.filter(TextAnalysis.weightedSampleByHash(col("id"), lit(7.5))).count() === 400)
    assert(w.filter(TextAnalysis.weightedSampleByHash(col("id"), lit(-3.0))).count() === 0)
    // NULL/NaN weights DROP (a missing classifier score must not read as
    // keep-probability 1 — least/greatest would silently skip the null)
    assert(w.filter(TextAnalysis.weightedSampleByHash(col("id"),
      lit(null).cast("double"))).count() === 0)
    assert(w.filter(TextAnalysis.weightedSampleByHash(col("id"),
      lit(Double.NaN))).count() === 0)
    // pure narrow expressions: no exchange in either filter's plan
    val plan = docs.filter(TextAnalysis.stratifiedSampleByHash(col("id"), col("src"), fr))
      .filter(TextAnalysis.weightedSampleByHash(col("id"), lit(0.5)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("dsirWeights: target-like docs score higher; ratio table broadcasts") {
    // target = docs about "alpha"; raw corpus mixes alpha- and beta-docs.
    // A doc of target-frequent tokens must outweigh a beta doc, and a
    // mixed doc must land between them.
    val raw = docsDF(
      1L -> "alpha alpha alpha alpha", 2L -> "beta beta beta beta",
      3L -> "alpha alpha beta beta", 4L -> "alpha alpha alpha alpha",
      5L -> (null: String), 6L -> "")
    val target = docsDF(100L -> "alpha alpha alpha alpha alpha alpha")
    val out = TextAnalysis.dsirWeights(raw, target)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(5L) && !out.contains(6L), "no-token docs emit no rows")
    assert(out(1L)._1 === 4L, "n_tokens counts the doc's tokens")
    assert(out(1L)._2 > out(3L)._2 && out(3L)._2 > out(2L)._2,
      s"alpha > mixed > beta expected, got $out")
    assert(out(1L) === out(4L), "identical text → identical weight")
    // equal-mixture sanity: with target ≡ raw distribution, weights ≈ 0
    val self = TextAnalysis.dsirWeights(raw, raw)
      .collect().map(_.getDouble(2))
    assert(self.forall(w => math.abs(w) < 1e-9), s"self-target weights ~0, got ${self.toSeq}")
    // scale shape: the 256-row ratio table folds in as a broadcast join
    val plan = TextAnalysis.dsirWeights(raw, target).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio join should broadcast, not shuffle the corpus:\n$plan")
  }

  test("readabilityFeatures: hand-computed Flesch, sentence floor, syllable heuristic, null/empty contract") {
    val docs = Seq(
      (1L, "the cat sat. the dog ran!"), // 6 words, 2 sentences, 6 syllables
      (2L, "beautiful"),                 // 1 word, fragment → 1 sentence; bea-u-ti-ful… vowel groups: eau,i,u = 3
      (3L, ""), (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readabilityFeatures(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    def flesch(w: Long, s: Long, sy: Long) =
      math.rint((206.835 - 1.015 * (w.toDouble / s) - 84.6 * (sy.toDouble / w)) * 1e4) / 1e4
    assert(out(1L) === ((6L, 2L, 6L, Some(flesch(6, 2, 6)))))
    assert(out(2L) === ((1L, 1L, 3L, Some(flesch(1, 1, 3)))))
    assert(out(3L) === ((0L, 1L, 0L, None))) // empty: no words, floor sentence, no score
    assert(out(4L) === ((0L, 0L, 0L, None))) // null text: all-zero counts
  }

  test("buildVocab: frequency-rank ids after specials, minCount floor, maxSize cut, tie by token") {
    val docs = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("doc_id", "text")
    // counts: a=3, b=3, c=1, d=1 — minCount 1 keeps all; ties by token asc
    val v = TextAnalysis.buildVocab(docs, baseId = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(v === Map("a" -> ((4L, 3L)), "b" -> ((5L, 3L)), "c" -> ((6L, 1L)), "d" -> ((7L, 1L))))
    // floor and cut
    val floored = TextAnalysis.buildVocab(docs, minCount = 2)
      .collect().map(_.getString(0)).toSet
    assert(floored === Set("a", "b"))
    val cut = TextAnalysis.buildVocab(docs, maxSize = 3, baseId = 0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cut === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("mutual-kNN approximate tiers: full-probe/full-shortlist configs reproduce the exact graph") {
    // the e5 degenerate-identity discipline: at nProbe = nCentroids (and
    // at shortlist >= n) the approximate MACHINERY must equal the exact
    // result — the correctness pin for tiers whose production configs
    // are corpus-geometry-dependent (see the e17 note in GateQueries)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.mutualKnnGraph(emb, k = 5))
    assert(exact.nonEmpty)
    val ivfFull = pairs(Similarity.mutualKnnGraphIvf(emb, k = 5,
      nCentroids = 4, nProbe = 4, nAssign = 1))
    assert(ivfFull === exact, "full-probe IVF tier must equal exact")
    val projFull = pairs(Similarity.mutualKnnGraphProjected(emb, k = 5,
      outDim = 32, shortlist = emb.count().toInt))
    assert(projFull === exact, "full-shortlist projected tier must equal exact")
  }

  test("mutualKnnGraph: hubs prune to mutual pairs only; canonical orientation") {
    // two tight pairs on one axis-cluster each + a far outlier whose kNN
    // list includes everyone (k >= n-1) but who enters nobody's top-1
    def vec(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, vec(1.0, 0.0)), (2L, vec(0.99, 0.01)),
      (3L, vec(0.0, 1.0)), (4L, vec(0.01, 0.99)),
      (5L, vec(-1.0, -1.0))).toDF("vec_id", "embedding")
    val m1 = Similarity.mutualKnnGraph(emb, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m1 === Set((1L, 2L), (3L, 4L)), s"got $m1") // 5's nearest is not mutual
    // k >= n-1: every pair is mutual — the complete graph
    val all = Similarity.mutualKnnGraph(emb, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.size === 10)
    all.foreach { case (a, b) => assert(a < b) }
  }

  test("perplexityBuckets: per-lang NTILE tiers, fluent docs head, rare-token docs tail") {
    // lang A: six docs — three from common vocabulary, three with rare
    // singletons (high surprisal); lang B: three docs, its own tiling
    val docs = Seq(
      (1L, "the the the", "en"), (2L, "the the cat", "en"), (3L, "the cat cat", "en"),
      (4L, "qq", "en"), (5L, "zz", "en"), (6L, "yy", "en"),
      (10L, "bon bon", "fr"), (11L, "bon jour", "fr"), (12L, "xx", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.perplexityBuckets(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getString(5)))).toMap
    assert(out.size === 9)
    // en: 6 docs → buckets of 2 by surprisal order (ranks 3 and 4 share
    // bucket 2); no rare doc may out-rank a common-vocab doc
    assert(Seq(1L, 2L, 3L).map(out(_)._1).max <= Seq(4L, 5L, 6L).map(out(_)._1).min)
    assert(Seq(4L, 5L, 6L).map(out(_)._2).contains("tail"))
    assert(out(1L) === ((1L, "head"))) // most fluent: 3× the most common token
    // fr tiles independently: 3 docs → one per bucket
    assert(Set(10L, 11L, 12L).map(out(_)._1) === Set(1L, 2L, 3L))
    assert(out(12L) === ((3L, "tail"))) // the rare singleton
    // tier labels follow buckets
    out.values.foreach { case (b, t) =>
      assert(t === (if (b == 1) "head" else if (b == 3) "tail" else "middle")) }
  }

  test("textRankKeywords: hand-rolled damped PR on the co-occurrence path graph; self-loops and rare pairs drop") {
    // five copies of "a b c" → pairs (a,b), (b,c) at count 5 (= minCount);
    // "x x" is a self-loop (dropped); "y z" appears once (< minCount)
    val docs = ((1 to 5).map(i => (i.toLong, "a b c")) ++
      Seq((6L, "x x"), (7L, "y z"))).toDF("doc_id", "text")
    val got = TextAnalysis.textRankKeywords(docs, numIter = 5, minCount = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set("a", "b", "c"))
    // hand-rolled: path a-b-c mirrored, outdeg a=1 b=2 c=1, start 1.0
    var pr = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    for (_ <- 1 to 5) pr = Map(
      "a" -> (0.15 + 0.85 * pr("b") / 2),
      "b" -> (0.15 + 0.85 * (pr("a") + pr("c"))),
      "c" -> (0.15 + 0.85 * pr("b") / 2))
    val tot = pr.values.sum
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    pr.foreach { case (w, v) => assert(got(w) === r6(v * 3 / tot), s"word $w") }
    // the hub of the path out-ranks its endpoints
    assert(got("b") > got("a") && got("a") === got("c"))
  }

  test("naiveBayesClassify: hand-computed smoothed log-likelihoods, argmax with class tiebreak") {
    // class A vocab {x, y}, class B vocab {z, w}; per-class token totals 5,
    // global vocab V = 4
    val docs = Seq(
      (1L, "x x y", "A"), (2L, "x y", "A"),
      (3L, "z z w", "B"), (4L, "z w", "B"),
      (5L, null.asInstanceOf[String], "A") // null text drops out entirely
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.naiveBayesClassify(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L)._1 === "A" && out(2L)._1 === "A")
    assert(out(3L)._1 === "B" && out(4L)._1 === "B")
    // doc 1 = "x x y" under A: ln(1/2) + 2·ln((3+1)/(5+4)) + 1·ln((2+1)/(5+4))
    val s1 = math.log(0.5) + 2 * math.log(4.0 / 9) + math.log(3.0 / 9)
    assert(math.abs(out(1L)._2 - math.rint(s1 * 1e4) / 1e4) < 1e-9,
      s"doc1 score ${out(1L)._2} != expected $s1")
    // symmetric corpus: a doc with only UNSEEN-in-either-class overlap —
    // "x z" scores identically under A and B (both have one 4/9 and one
    // 1/9 token), so the tiebreak must pick the smaller class name
    val tied = docs.unionByName(Seq((6L, "x z", "B")).toDF("doc_id", "text", "source"))
    // note: adding doc 6 to B shifts B's counts — recompute expectation
    // directly instead: classes stay distinguishable for docs 1-4 and the
    // argmax for doc 6 is deterministic on both engines by (score, cls)
    val out6 = TextAnalysis.naiveBayesClassify(tied).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out6.contains(6L) && Set("A", "B").contains(out6(6L)))
    assert(out6(1L) === "A" && out6(3L) === "B")
  }

  test("graft_minhash_longs ≡ the min(xxhash64(h, gram)) aggregate, bit for bit") {
    // the banded tier's round-20 fused signature must reproduce the
    // 64-min-column aggregate it replaced EXACTLY — same seed chain
    // (hashInt(h, 42) folded into hashLong(gram)), same signed min —
    // including corpus unicode and the one-gram doc
    graft.functions.expressions.GraftFunctions.init(spark)
    val docs = docsDF(1L -> base, 2L -> nearDup, 3L -> unrelated,
      4L -> "one two three", 5L -> "\u0130stanbul \u0130\u0130 tiny doc here")
    val numHashes = 16
    val grams = docs.select(col("doc_id").as("id"),
      explode(call_function("graft_ngram_hashes", col("text"), lit(3))).as("gram"))
    val aggForm = grams.groupBy(col("id"))
      .agg(min(xxhash64(lit(0), col("gram"))).as("m0"),
        (1 until numHashes).map(h => min(xxhash64(lit(h), col("gram"))).as(s"m$h")): _*)
      .select(col("id"), array((0 until numHashes).map(h => col(s"m$h")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused = grams.groupBy(col("id")).agg(sort_array(collect_list(col("gram"))).as("gs"))
      .select(col("id"),
        call_function("graft_minhash_longs", col("gs"), lit(numHashes)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused === aggForm)
    // empty gram array (unreachable from postings) -> identity signature
    val emptySig = Seq(Tuple1(Array.empty[Long])).toDF("gs")
      .select(call_function("graft_minhash_longs", col("gs"), lit(4)).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(emptySig === Seq.fill(4)(Long.MaxValue))
  }

  test("graft_inter_sorted: exact count when >= threshold can hold, -1 only when provably below") {
    // contract vs size(array_intersect): a non-negative return must EQUAL
    // the intersect size; -1 may only appear where the true jaccard is
    // below threshold (the early exit must never kill a passing pair)
    graft.functions.expressions.GraftFunctions.init(spark)
    val docs = docsDF(1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated,
      5L -> "short text", 6L -> "the quick brown fox", 7L -> "a b c d e f g h")
    val sets = docs.select(col("doc_id").as("id"),
      sort_array(call_function("graft_ngram_hashes", col("text"), lit(2))).as("gs"))
    for (t <- Seq(0.0, 0.3, 0.5, 1.0)) {
      val pairs = sets.toDF("doc_a", "gs_a")
        .crossJoin(sets.toDF("doc_b", "gs_b")).filter(col("doc_a") < col("doc_b"))
        .withColumn("m", call_function("graft_inter_sorted", col("gs_a"), col("gs_b"), lit(t)))
        .withColumn("exact", size(array_intersect(col("gs_a"), col("gs_b"))))
        .withColumn("jac", col("exact") /
          (size(col("gs_a")) + size(col("gs_b")) - col("exact")).cast("double"))
        .collect()
      assert(pairs.nonEmpty)
      pairs.foreach { r =>
        val (m, exact, jac) =
          (r.getAs[Int]("m"), r.getAs[Int]("exact"), r.getAs[Double]("jac"))
        if (m >= 0) assert(m === exact, s"count mismatch at t=$t: $r")
        else assert(jac < t, s"early exit killed a passing pair at t=$t: $r")
      }
    }
    // corners: identical, disjoint, empty-vs-nonempty, empty-vs-empty
    val corner = Seq(
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array.empty[Long], Array(1L, 2L)),
      (Array.empty[Long], Array.empty[Long])).toDF("a", "b")
      .withColumn("m", call_function("graft_inter_sorted", col("a"), col("b"), lit(0.5)))
      .collect().map(_.getInt(2))
    assert(corner(0) === 3)
    assert(corner(1) === -1) // 0/6 provably below 0.5
    assert(corner(2) <= 0)   // 0 matches: either -1 or 0, never positive
    assert(corner(3) === 0)  // 0/0: expression returns 0; the caller's
                             // null-jaccard filter drops it, as array_intersect's did
  }

  test("graft_pairs_of: Long pair math — an oversized bucket fails fast naming the maxBucketSize valve") {
    // ADVICE r20: n·(n−1)/2 in Int overflows for buckets ≥ ~46,342 ids
    // (reachable with the caller's maxBucketSize valve left open),
    // yielding a NegativeArraySizeException with no actionable message.
    // n = 65,537 → 2,147,516,416 pairs > Int.MaxValue: the Long math
    // must reject it BEFORE allocation, naming the valve.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val e = intercept[IllegalArgumentException] {
      graft.functions.expressions.PairsOfSorted.compute(
        new GenericArrayData((0L until 65537L).toArray))
    }
    assert(e.getMessage.contains("maxBucketSize"))
    // the normal path still enumerates every ordered pair
    val small = graft.functions.expressions.PairsOfSorted.compute(
      new GenericArrayData(Array(1L, 2L, 3L, 4L)))
    assert(small.numElements() === 6)
  }

  test("graft_inter_sorted / _int: SQL-text DECIMAL thresholds resolve (the Decimal literal arm)") {
    // ADVICE r20: SQL text parses 0.3 as DECIMAL(1,1), which Spark
    // carries as o.a.s.sql.types.Decimal — the old java.math.BigDecimal
    // arm never matched, so SQL-text invocation died with the
    // must-be-DOUBLE error despite the arm's intent
    graft.functions.expressions.GraftFunctions.init(spark)
    val r = spark.sql(
      "SELECT graft_inter_sorted(array(1L,2L,3L), array(1L,2L,4L), 0.3) AS m, " +
        "graft_inter_sorted_int(array(1,2,3), array(1,2,4), 0.3) AS ub").collect()(0)
    assert(r.getInt(0) === 2) // exact intersection, jac 0.5 >= 0.3
    assert(r.getInt(1) === 2) // upper bound on the same sets
  }

  test("banded verify: past-broadcast two-stage path ≡ the single-stage path, bit for bit") {
    // round 20 scale guard: past the broadcast threshold the verify runs
    // a 32-bit-truncated prefilter stage before the exact 64-bit merge
    // (halves the dominant wide-shuffle payload; 240 -> 49 s at the
    // 500k-doc probe point). Truncation only merges grams, so the
    // prefilter's multiset count upper-bounds the true intersection and
    // a -1 there is final — meaning the two paths must produce the SAME
    // pairs and values. Force the big path by shrinking the broadcast
    // threshold and compare against the default path on the same corpus.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val small = keyed(Dedup.ngramJaccardPairsBanded(docs, n = 3, threshold = 0.3))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val big = keyed(Dedup.ngramJaccardPairsBanded(docs, n = 3, threshold = 0.3))
      assert(small.nonEmpty)
      assert(big === small)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("banded verify: the two-stage prefilter engages EXACTLY when the gram relation outgrows the broadcast threshold") {
    // round 21 (VERDICT r20 #7): the equality pin above proves the big
    // path CORRECT; this one pins WHEN it engages — a conf change (or a
    // refactor losing the stats read) that silently flips the plan must
    // go red here, not surface as an unexplained bench move. The int
    // prefilter's expression is the big path's plan witness.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def planOf() = Dedup.ngramJaccardPairsBanded(docs, n = 3, threshold = 0.3)
      .queryExecution.executedPlan.toString.toLowerCase
    val smallPlan = planOf()
    assert(!smallPlan.contains("inter_sorted_int") && !smallPlan.contains("intersortedgeint"),
      "broadcast-scale corpus must keep the single-stage verify (no int prefilter)")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val bigPlan = planOf()
      assert(bigPlan.contains("inter_sorted_int") || bigPlan.contains("intersortedgeint"),
        "past-broadcast corpus must engage the two-stage int prefilter")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cosineDuplicates: past-broadcast composite-key single-join path ≡ the per-table union path, bit for bit") {
    // The fused core serves every corpus within the broadcast budget,
    // whatever the planner's broadcast threshold; the composite-key join
    // (one (table, bucket)-keyed join per side) serves the rest. Same
    // hyperplanes, same signature/probe expressions → the same candidate
    // pairs; VecKernel's arithmetic on both → the same (doc_a, doc_b,
    // cosine) rows bit for bit, equal also to a test-local copy of the
    // per-table union they replaced — for the probed adaptive config AND
    // the unprobed multi-table one.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def probedRun() = Similarity.cosineDuplicates(emb, threshold = 0.35,
      dim = 64, bits = -1, tables = -1, probes = -1, probes2 = -1)
    def unprobedRun() = Similarity.cosineDuplicates(emb, threshold = 0.35,
      dim = 64, bits = -1, tables = 8, probes = 0, probes2 = 0)
    val (smallProbed, smallUnprobed) = (keyed(probedRun()), keyed(unprobedRun()))
    // below the 2,000-vector anchor the adaptive tables floor at 8 and
    // probes = -1 is full Hamming-1 at the resolved width
    val bits = adaptiveBits(emb)
    assert(smallProbed === keyed(PerTableUnion.pairs(emb, emb, cross = false, "doc_a", "doc_b",
      0.35, 64, bits, 8, bits, 0)))
    assert(smallUnprobed === keyed(PerTableUnion.pairs(emb, emb, cross = false, "doc_a", "doc_b",
      0.35, 64, bits, 8, 0, 0)))
    // plan witness: the fused core — one kernel projection, no bucket join
    val smallPlan = probedRun().queryExecution.executedPlan.toString.toLowerCase
    assert(smallPlan.contains("scorebucketblock") && !smallPlan.contains("join"),
      "a corpus within the broadcast budget must take the fused core")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      // past the planner's threshold the budget still admits the corpus
      val bigPlan = probedRun().queryExecution.executedPlan.toString.toLowerCase
      assert(bigPlan.contains("scorebucketblock") && !bigPlan.contains("join"),
        "past the planner's broadcast threshold the budget keeps the fused core")
      assert(smallProbed.nonEmpty)
      assert(keyed(probedRun()) === smallProbed)
      assert(smallUnprobed.nonEmpty)
      assert(keyed(unprobedRun()) === smallUnprobed)
      // composite-key sort-merge: force by zeroing the budget — same
      // rows, bit for bit
      spark.conf.set("spark.graft.lsh.broadcastBudgetBytes", "0")
      val compositePlan = probedRun().queryExecution.executedPlan.toString.toLowerCase
      assert(compositePlan.contains("posexplode") && !compositePlan.contains("scorebucketblock"),
        "over budget the composite-key join must serve")
      assert(keyed(probedRun()) === smallProbed)
      assert(keyed(unprobedRun()) === smallUnprobed)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.graft.lsh.broadcastBudgetBytes")
    }
  }

  test("semanticDecontam: past-broadcast reference single-join path ≡ the per-table union path, bit for bit") {
    // The cosineDuplicates pin's contract on the cross-corpus Cross mode
    // (the reference is the packed side): fused core ≡ composite-key
    // join ≡ the per-table union, (doc_id, ref_id, cosine) rows bit for
    // bit. The d15 GATE is the exhaustive config; this pins the LSH scale
    // config.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 400)
    val ref = emb.filter(col("vec_id") >= 400)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def probedRun() = Similarity.semanticDecontam(corpus, ref, threshold = 0.35,
      dim = 64, bits = -1, tables = -1, probes = -1, probes2 = -1)
    def unprobedRun() = Similarity.semanticDecontam(corpus, ref, threshold = 0.35,
      dim = 64, bits = -1, tables = 8, probes = 0, probes2 = 0)
    val (smallProbed, smallUnprobed) = (keyed(probedRun()), keyed(unprobedRun()))
    // adaptive bits size from the corpus (probe) side
    val bits = adaptiveBits(corpus)
    assert(smallProbed === keyed(PerTableUnion.pairs(corpus, ref, cross = true, "doc_id", "ref_id",
      0.35, 64, bits, 8, bits, 0)))
    assert(smallUnprobed === keyed(PerTableUnion.pairs(corpus, ref, cross = true, "doc_id",
      "ref_id", 0.35, 64, bits, 8, 0, 0)))
    // plan witness: the fused core — one kernel projection, no bucket join
    val smallPlan = probedRun().queryExecution.executedPlan.toString.toLowerCase
    assert(smallPlan.contains("scorebucketblock") && !smallPlan.contains("join"),
      "a reference within the broadcast budget must take the fused core")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val bigPlan = probedRun().queryExecution.executedPlan.toString.toLowerCase
      assert(bigPlan.contains("scorebucketblock") && !bigPlan.contains("join"),
        "past the planner's broadcast threshold the budget keeps the fused core")
      assert(smallProbed.nonEmpty)
      assert(keyed(probedRun()) === smallProbed)
      assert(smallUnprobed.nonEmpty)
      assert(keyed(unprobedRun()) === smallUnprobed)
      // composite-key sort-merge: force by zeroing the budget — same
      // rows, bit for bit
      spark.conf.set("spark.graft.lsh.broadcastBudgetBytes", "0")
      val compositePlan = probedRun().queryExecution.executedPlan.toString.toLowerCase
      assert(compositePlan.contains("posexplode") && !compositePlan.contains("scorebucketblock"),
        "over budget the composite-key join must serve")
      assert(keyed(probedRun()) === smallProbed)
      assert(keyed(unprobedRun()) === smallUnprobed)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.graft.lsh.broadcastBudgetBytes")
    }
  }

  test("fused LSH tier: DOUBLE vectors and INT ids take scorebucketblock ≡ per-table union; duplicate ids stay off it") {
    // the packed broadcast takes any integral id (as BIGINT, cast back)
    // and FLOAT or DOUBLE elements on both the packed and the Cross probe
    // side, so these shapes score fused at any broadcast threshold and
    // must equal the per-table union (test-local copy) row for row and in
    // schema. Duplicate ids cannot pack (a by-id lookup sees one copy):
    // they take the composite-key tier and keep the same pair set.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dbl = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val intIds = emb.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    // ids 100..149 carry a second, different vector
    val dupIds = emb.unionByName(emb.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 100L))
    def dups(df: org.apache.spark.sql.DataFrame) = Similarity.cosineDuplicates(df,
      threshold = 0.35, dim = 64, bits = -1, tables = -1, probes = -1, probes2 = -1)
    def decontam() = Similarity.semanticDecontam(emb.filter(col("vec_id") < 400),
      dbl.filter(col("vec_id") >= 400), threshold = 0.35, dim = 64,
      bits = -1, tables = -1, probes = -1, probes2 = -1)
    val runs = Seq[() => org.apache.spark.sql.DataFrame](
      () => dups(dbl), () => dups(intIds), () => decontam())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
    def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.get(0), r.get(1))).toSet
    // the references: the per-table union at the resolved adaptive config
    // (tables floor at 8 below the anchor; full Hamming-1 at the width)
    val (eBits, cBits, dBits) =
      (adaptiveBits(emb), adaptiveBits(emb.filter(col("vec_id") < 400)), adaptiveBits(dupIds))
    def unionOf(df: org.apache.spark.sql.DataFrame, bits: Int) = PerTableUnion.pairs(df, df,
      cross = false, "doc_a", "doc_b", 0.35, 64, bits, 8, bits, 0)
    val small = Seq(unionOf(dbl, eBits), unionOf(intIds, eBits),
      PerTableUnion.pairs(emb.filter(col("vec_id") < 400), dbl.filter(col("vec_id") >= 400),
        cross = true, "doc_id", "ref_id", 0.35, 64, cBits, 8, cBits, 0))
      .map(ref => (rows(ref), fields(ref)))
    val smallDup = pairs(unionOf(dupIds, dBits))
    for ((run, (smallRows, smallFields)) <- runs.zip(small)) {
      assert(rows(run()) === smallRows)
      assert(fields(run()) === smallFields)
    }
    assert(pairs(dups(dupIds)) === smallDup)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      for ((run, (smallRows, smallFields)) <- runs.zip(small)) {
        val big = run()
        assert(big.queryExecution.executedPlan.toString.toLowerCase.contains("scorebucketblock"),
          "a packable past-broadcast corpus must take the fused tier")
        assert(smallRows.nonEmpty)
        assert(rows(big) === smallRows)
        assert(fields(big) === smallFields)
      }
      val bigDup = dups(dupIds)
      assert(!bigDup.queryExecution.executedPlan.toString.toLowerCase.contains("scorebucketblock"),
        "duplicate ids must stay off the fused tier")
      assert(smallDup.nonEmpty)
      assert(pairs(bigDup) === smallDup)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("graft_inter_sorted_int: upper bound on the 64-bit intersection, -1 only when provably below") {
    graft.functions.expressions.GraftFunctions.init(spark)
    val docs = docsDF(1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated,
      5L -> "short text", 6L -> "the quick brown fox")
    val sets = docs.select(col("doc_id").as("id"),
      sort_array(call_function("graft_ngram_hashes", col("text"), lit(2))).as("gs"))
      .withColumn("g32", sort_array(transform(col("gs"),
        g => shiftright(g, 32).cast("int"))))
    val t = 0.3
    val rows = sets.select(col("id").as("doc_a"), col("gs").as("gs_a"), col("g32").as("g32_a"))
      .crossJoin(sets.select(col("id").as("doc_b"), col("gs").as("gs_b"), col("g32").as("g32_b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("ub", call_function("graft_inter_sorted_int", col("g32_a"), col("g32_b"), lit(t)))
      .withColumn("exact", size(array_intersect(col("gs_a"), col("gs_b"))))
      .withColumn("jac", col("exact") /
        (size(col("gs_a")) + size(col("gs_b")) - col("exact")).cast("double"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ub, exact, jac) = (r.getAs[Int]("ub"), r.getAs[Int]("exact"), r.getAs[Double]("jac"))
      if (ub >= 0) assert(ub >= exact, s"prefilter bound below the true intersection: $r")
      else assert(jac < t, s"prefilter killed a passing pair: $r")
    }
    // forced-collision multiset corner: two distinct longs sharing the
    // same high 32 bits truncate to a duplicate — the merge must count
    // min-multiplicity, keeping the bound >= the true intersection
    val a = Seq(Tuple2(Array(1L << 32 | 1L, 1L << 32 | 2L, 7L << 32),
      Array(1L << 32 | 3L, 7L << 32))).toDF("ga", "gb")
      .select(
        call_function("graft_inter_sorted_int",
          sort_array(transform(col("ga"), g => shiftright(g, 32).cast("int"))),
          sort_array(transform(col("gb"), g => shiftright(g, 32).cast("int"))),
          lit(0.0)).as("ub"))
      .collect().head.getInt(0)
    assert(a === 2) // ints [1,1,7] vs [1,7]: min-counts 1+1 — true 64-bit inter is 1
  }

  test("graft_pairs_of ≡ the transform/slice lambda chain, order and values") {
    graft.functions.expressions.GraftFunctions.init(spark)
    val arrs = Seq(
      Tuple1(Array(3L, 7L, 9L, 12L)), Tuple1(Array(1L, 2L)),
      Tuple1(Array(5L)), Tuple1(Array.empty[Long])).toDF("ids")
    val lambda = arrs.select(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("_1"), b.as("_2"))))).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1))))
    val native = arrs.select(call_function("graft_pairs_of", col("ids")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1))))
    assert(native.toSeq === lambda.toSeq)
    assert(native(0) === Seq((3L, 7L), (3L, 9L), (3L, 12L), (7L, 9L), (7L, 12L), (9L, 12L)))
    assert(native(3).isEmpty)
  }

  test("gramStageWidth: parallelism floor, Sigma-df^2 scaling, 4096 cap") {
    val base = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    assert(Dedup.gramStageWidth(spark, 0L) === base)
    assert(Dedup.gramStageWidth(spark, 2000000L * base) === base) // floor binds up to base tasks' worth
    assert(Dedup.gramStageWidth(spark, 2000000L * (base + 7)) === base + 7)
    assert(Dedup.gramStageWidth(spark, Long.MaxValue) === 4096)
  }

  test("deferred delete: eviction queues a disk-backed dir; the shutdown-hook body reaps it") {
    // ADVICE r18 / VERDICT r19 #7: deleting at eviction time turns an
    // eviction under concurrent gates into a mid-run
    // FileNotFoundException, so onEvict must QUEUE the dir for the JVM
    // shutdown hook — red if a refactor bypasses deferDelete again
    val dir = java.nio.file.Files.createTempDirectory("graft_evict_test")
    java.nio.file.Files.write(dir.resolve("x.txt"), "payload".getBytes)
    val cache = new graft.util.SessionCache[String](
      maxEntries = 1, onEvict = graft.gate.GateQueries.deferDelete)
    cache(spark, "k1")(dir.toString)
    cache(spark, "k2")("other-entry") // LRU-evicts k1 at maxEntries = 1
    assert(java.nio.file.Files.exists(dir),
      "eviction must defer the delete, not remove a possibly-handed-out dir")
    assert(graft.gate.GateQueries.isPendingDelete(dir.toString),
      "evicted dir was not queued for the shutdown hook")
    assert(graft.gate.GateQueries.reapPendingDelete(dir.toString))
    assert(!java.nio.file.Files.exists(dir), "the hook body must remove the dir")
    assert(!graft.gate.GateQueries.isPendingDelete(dir.toString))
  }

  test("PackedVectors: packs only its contract shapes; norms bit-match the nnorm column") {
    // round 22 fused-scoring broadcast: the packed corpus must (a)
    // decline ids whose by-id join semantics it cannot reproduce —
    // duplicate ids (a join matches every copy), null or non-integral
    // ids — so the composite-key tier takes them, while any integral id
    // packs as BIGINT and DOUBLE elements pack in their own width, and
    // (b) pack norms with exactly the DotProduct accumulation, or the
    // fused tier's cosines drift off the pinned bits. Ragged lengths
    // exercise the offsets (DotProduct's common-prefix rule needs true
    // lengths).
    import spark.implicits._
    import graft.functions.expressions.LshIndex
    graft.functions.expressions.GraftFunctions.init(spark)
    // the fused core's one collect, with one all-zero bucket table
    def pack(df: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String) =
      LshIndex.collect(df, idCol, vecCol, array(lit(0L)), 1).map(_.vectors)
    val df = Seq(
      (7L, Array(0.25f, -1.5f, 3.0f)),
      (3L, Array(2.0f, 0.125f, -0.75f, 1.0f)), // ragged: len 4
      (11L, Array(-0.5f, 0.5f, 0.25f))
    ).toDF("vec_id", "embedding")
    val p = pack(df, "vec_id", "embedding").get
    assert(p.ids.toSeq === Seq(3L, 7L, 11L)) // sorted by id
    assert(p.offs.toSeq === Seq(0, 4, 7, 10)) // true ragged lengths
    // the fused core's blocks: packed rows grouped by bucket, ascending
    val ix = LshIndex(p, Array(Array(5L, 9L, 5L)))
    def members(bl: graft.functions.expressions.BucketBlocks, b: Long) = { val j = bl.block(0, b)
      if (j < 0) Nil else (bl.blockStart(j) until bl.blockEnd(j)).map(r => p.ids(bl.member(r))) }
    assert(members(ix.blocks, 5L) === Seq(3L, 11L) && members(ix.blocks, 9L) === Seq(7L) &&
      members(ix.blocks, 4L) === Nil)
    // the MinHash core's cap: a bucket of more rows than maxBlock gets no block
    val capped = graft.functions.expressions.BucketBlocks(Array(Array(5L, 9L, 5L)), maxBlock = 1)
    assert(members(capped, 5L) === Nil && members(capped, 9L) === Seq(7L))
    val norms = df.select(col("vec_id"),
      sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, i) <- p.ids.zipWithIndex)
      assert(java.lang.Double.doubleToLongBits(p.norms(i)) ===
        java.lang.Double.doubleToLongBits(norms(id)),
        s"packed norm of $id must bit-match sqrt(graft_dot(v, v))")
    // widened contract: INT ids pack as BIGINT; DOUBLE elements pack as
    // doubles (FLOAT corpora stay 4 B/element), and since float → double
    // is exact their norms are the FLOAT corpus' norms bit for bit
    assert(p.floats != null && p.doubles == null)
    val pInt = pack(df.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding")), "vec_id", "embedding").get
    assert(pInt.ids.toSeq === p.ids.toSeq)
    val pDbl = pack(df.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding")), "vec_id", "embedding").get
    assert(pDbl.floats == null && pDbl.doubles != null)
    assert(pDbl.norms.map(java.lang.Double.doubleToLongBits).toSeq ===
      p.norms.map(java.lang.Double.doubleToLongBits).toSeq)
    // contract declines: duplicate, null and non-integral ids
    assert(pack(df.union(df.limit(1)), "vec_id", "embedding").isEmpty)
    assert(pack(df.select(
      when(col("vec_id") === 7L, lit(null)).otherwise(col("vec_id")).as("vec_id"),
      col("embedding")), "vec_id", "embedding").isEmpty)
    assert(pack(df.select(col("vec_id").cast("string").as("vec_id"),
      col("embedding")), "vec_id", "embedding").isEmpty)
  }

  test("SessionCache.refresh: trainer always rebuilds and consumers read the refreshed entry") {
    // round 22 (VERDICT r21 #1): t32 is the BPE TRAINER gate — its line
    // must own the merge-loop cost on EVERY invocation (pass-1,
    // adjudication rerun, REPEAT pass), so it goes through refresh, which
    // never serves a memo hit; t33 (the consumer) goes through apply,
    // which does. Red if refresh starts memoizing (the r21 gamed-line
    // shape: a trainer invocation that does no training) or stops
    // updating the entry consumers read.
    var builds = 0
    val cache = new graft.util.SessionCache[Int](maxEntries = 4)
    assert(cache.refresh(spark, "bpe") { builds += 1; builds } === 1)
    assert(cache.refresh(spark, "bpe") { builds += 1; builds } === 2,
      "refresh must rebuild on every invocation, not serve the memo")
    assert(cache(spark, "bpe") { builds += 1; builds } === 2,
      "consumer apply() must read the trainer's refreshed entry without rebuilding")
    assert(builds === 2)
    var evicted = List.empty[Int]
    val ev = new graft.util.SessionCache[Int](maxEntries = 4, onEvict = evicted ::= _)
    ev(spark, "k")(10)
    ev.refresh(spark, "k")(11)
    assert(evicted === List(10), "refresh must release the overwritten entry via onEvict")
  }

  test("g9 staging is memoized per (session, dir) under a collision-resistant key") {
    // round 19 memoized the fixture write; round 20 keys it by SHA-256 of
    // the sf dir (a 32-bit hashCode collision between two dirs would
    // silently serve the wrong CSV). Pin both: the staged path is the
    // SHA-derived one, and a second execution does not rewrite it.
    val d = "/root/testdata/sf0.001"
    val q = graft.gate.GateQueries.queries("g9_csv_dict_ingest")
    val c1 = q(spark, d).count()
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val staged = new java.io.File(s"/tmp/graft_g9_csv_$sha")
    assert(staged.isDirectory, s"staged CSV not at the SHA-derived path: $staged")
    val stamps = staged.listFiles().map(f => f.getName -> f.lastModified).toMap
    val c2 = q(spark, d).count()
    assert(c2 === c1)
    val after = staged.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after === stamps, "second execution rewrote the staged fixture")
  }
}
