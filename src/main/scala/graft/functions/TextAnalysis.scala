package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language-ID, quality scoring,
  * token counting, document fingerprinting. All pure column expressions —
  * per-row narrow transforms that pipeline into whatever scan feeds them
  * (no shuffle, no UDF).
  */
object TextAnalysis {

  // ---- token counting ------------------------------------------------------

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: words, digits runs, punctuation as single tokens —
    * the usual pre-tokenizer regex shape. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"), lit(0)))

  /** ~4 chars/token heuristic column for budget estimation. */
  def tokenEstimate(text: Column): Column = ceil(length(text) / 4.0)

  // ---- quality scoring -----------------------------------------------------

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "this", "by", "at", "from")

  /** Per-document quality features + a composite score in [0,1]:
    * length, mean word length, stopword ratio, punctuation ratio,
    * alpha ratio, repetition (distinct/total tokens).
    * Heuristics follow the usual web-corpus filters (length bounds,
    * symbol load, repetition).
    *
    * Null-text policy: counts stay null, ratios default to 0.0, and
    * quality_score is pinned to 0.0 — without the pin the repetition term
    * alone awards a null doc 0.25, and a filter `score >= 0.25` would keep
    * empty records. Empty (non-null) text counts as ONE empty token
    * (raw `split` semantics, matched by the t4 oracle) — deliberately NOT
    * the zero-token [[corpusTokens]] convention: these are per-doc filter
    * features where an empty doc should score degenerate, not neutral. */
  def qualityFeatures(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(lower(trim(t)), "\\s+")
    val nTok = size(toks).cast("double")
    val nChar = length(t).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(toks, x => array_contains(stopArr, x))).cast("double")
    val nPunct = (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
    val nAlpha = (length(t) - length(regexp_replace(t, "[A-Za-z]", ""))).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    docs
      .withColumn("n_chars_m", nChar)
      .withColumn("n_tokens", nTok)
      .withColumn("mean_word_len", when(nTok > 0, (nChar - (nTok - 1)) / nTok).otherwise(0.0))
      .withColumn("stopword_ratio", when(nTok > 0, nStop / nTok).otherwise(0.0))
      .withColumn("punct_ratio", when(nChar > 0, nPunct / nChar).otherwise(0.0))
      .withColumn("alpha_ratio", when(nChar > 0, nAlpha / nChar).otherwise(0.0))
      .withColumn("repetition", when(nTok > 0, lit(1.0) - nDistinct / nTok).otherwise(0.0))
      .withColumn("quality_score",
        when(t.isNull, 0.0).otherwise(
          when(nChar.between(100, 100000), 0.25).otherwise(0.0)
          + when(col("mean_word_len").between(3.0, 12.0), 0.25).otherwise(0.0)
          + when(col("alpha_ratio") >= 0.6, 0.25).otherwise(0.0)
          + when(col("repetition") <= 0.5, 0.25).otherwise(0.0)))
  }

  /** THE corpus tokenization: lowercase, trim, whitespace-split,
    * zero-length tokens dropped. Single definition shared by every
    * corpus-statistics surface ([[repetitionFeatures]],
    * [[corpusTokenStats]], [[unigramSurprisal]]) — the round-5
    * "drop zero-length tokens" fix had to chase three copies of this
    * expression; a convention change must happen exactly once. */
  private def corpusTokens(t: Column): Column =
    filter(split(lower(trim(t)), "\\s+"), x => length(x) > 0)

  /** Non-empty line/paragraph arrays + duplicate-instance fraction —
    * shared by BOTH repetitionFeatures formulations (native and
    * relational spec) so their line/paragraph semantics cannot drift
    * apart while the parity test watches only the columns they agree on. */
  private def nonEmptySplit(t: Column, sep: String): Column =
    filter(split(t, sep), x => length(x) > 0)
  private def dupInstanceFrac(arr: Column): Column =
    when(size(arr) > 0, lit(1.0) - size(array_distinct(arr)) / size(arr)).otherwise(0.0)

  // ---- repetition filters (Gopher-style) -----------------------------------

  /** Within-document repetition features, the Gopher-rule family (Rae et
    * al. 2021 §A1.1: duplicate line / paragraph fractions, most-frequent
    * n-gram mass): documents dominated by one repeated line, paragraph,
    * token or bigram are boilerplate/spam and get filtered before
    * training. Emits per doc:
    *
    *  - `n_lines`: non-empty line count (null text ⇒ null, like the other
    *    count columns);
    *  - `dup_line_frac` / `dup_para_frac`: fraction of non-empty line /
    *    paragraph instances beyond their first occurrence (0.0 when none);
    *  - `top_token_frac` / `top_bigram_frac`: the most frequent token's /
    *    word-bigram's share of all token / bigram instances (0.0 when the
    *    doc has no tokens / fewer than 2 tokens).
    *
    * Scale shape: ONE narrow projection, no shuffle — line/paragraph
    * features are pure array expressions and the two top-frequency
    * features come from the native codegen'd
    * [[graft.functions.expressions.TopGramFracs]] (the relational
    * explode + two-level aggregation remains as
    * [[repetitionFeaturesRelational]], the parity-pinned executable spec
    * whose exchange on id this path eliminates).
    * Tokenization is `split(lower(trim(text)), "\\s+")` with zero-length
    * tokens dropped — empty (non-null) text therefore has NO tokens and
    * scores 0.0, not a degenerate 1.0 from the single "" token `split`
    * emits. Bigrams join their two tokens with `\u0001` (the repo-wide
    * n-gram separator, see [[graft.functions.Dedup.wordNgrams]]) so
    * distinct token pairs can never collide ("ab","c" vs "a","bc"); they
    * keep MULTIPLICITY (unlike `wordNgrams`, which is distinct-by-design
    * for set-Jaccard) — a frequency share over distinct grams would be
    * meaningless. */
  def repetitionFeatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // top token/bigram mass via the native codegen'd
    // [[graft.functions.expressions.TopGramFracs]] — the whole feature row
    // is ONE narrow projection (the relational explode+agg form, kept
    // below as the executable spec, exchanged |docs|·|grams| rows); parity
    // is unit-pinned and the t11 oracle hash-checks this path
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    val t = col(textCol)
    val fr = call_function("graft_top_gram_fracs", t)
    docs.select(col(idCol),
      size(nonEmptySplit(t, "\n")).cast("long").as("n_lines"),
      dupInstanceFrac(nonEmptySplit(t, "\n")).as("dup_line_frac"),
      dupInstanceFrac(nonEmptySplit(t, "\n\n")).as("dup_para_frac"),
      coalesce(fr.getField("top_token_frac"), lit(0.0)).as("top_token_frac"),
      coalesce(fr.getField("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** The relational formulation of [[repetitionFeatures]] — the executable
    * specification the native expression is parity-pinned against
    * (explode → two-level aggregation; an exchange on id that the native
    * path eliminates). */
  private[graft] def repetitionFeaturesRelational(docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val lineFeats = docs.select(col(idCol).as("id"),
      size(nonEmptySplit(t, "\n")).cast("long").as("n_lines"),
      dupInstanceFrac(nonEmptySplit(t, "\n")).as("dup_line_frac"),
      dupInstanceFrac(nonEmptySplit(t, "\n\n")).as("dup_para_frac"))
    val toksArr = corpusTokens(t)
    val bigramArr = when(size(toksArr) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toksArr) - 2),
        i => concat_ws("\u0001", slice(toksArr, i + 1, lit(2)))))
    def topFrac(gram: Column, name: String) =
      docs.select(col(idCol).as("id"), explode(gram).as("g"))
        .groupBy("id", "g").agg(count(lit(1)).as("c"))
        .groupBy("id").agg((max("c") / sum("c")).as(name))
    lineFeats
      .join(topFrac(toksArr, "top_token_frac"), Seq("id"), "left")
      .join(topFrac(bigramArr, "top_bigram_frac"), Seq("id"), "left")
      .select(col("id").as(idCol), col("n_lines"), col("dup_line_frac"),
        col("dup_para_frac"),
        coalesce(col("top_token_frac"), lit(0.0)).as("top_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Corpus-level token statistics per group (source/shard/language): doc
    * count, total and distinct token counts, hapax count and fraction
    * (tokens seen exactly once — the classic vocabulary-health signal:
    * boilerplate corpora have tiny hapax mass, OCR noise inflates it).
    * The report a pipeline reads before choosing mixing weights.
    *
    * Scale shape: explode → two-level aggregation, both with map-side
    * partial agg — the exploded (group, token) rows shrink to the
    * per-group VOCABULARY before any exchange, so the shuffle is
    * O(|vocab|), not O(|tokens|). Distinct counts are exact here (they
    * must hash-match an oracle); at 100 TB swap the second level for
    * `approx_count_distinct` if ±2% is acceptable — the plan shape is
    * identical. Null OR empty text contributes no tokens (zero-length
    * tokens are dropped, so `split("")`'s single "" token is not counted);
    * a null group key groups as SQL null (kept — dropping rows silently
    * would misreport totals). */
  def corpusTokenStats(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol),
      explode(corpusTokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("c"))
    val tokStats = vocab.groupBy(col(groupCol)).agg(
      sum(col("c")).as("total_tokens"),
      count(lit(1)).as("distinct_tokens"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_tokens"))
    docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .join(tokStats, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        coalesce(col("hapax_tokens"), lit(0L)).as("hapax_tokens"),
        when(col("total_tokens") > 0, col("hapax_tokens") / col("total_tokens"))
          .otherwise(0.0).as("hapax_frac"))
  }

  /** Per-group document-length distribution (chars): count, min/max,
    * exact interpolated p50/p90, mean — the length half of the
    * mixing-weight report ([[corpusTokenStats]] is the vocabulary half).
    * Percentiles use Spark's EXACT `percentile` aggregate (defined as
    * linear interpolation, the same contract as SQL `quantile_cont`) so
    * the output is oracle-checkable; at 100 TB swap to
    * `percentile_approx` — identical plan shape, documented ±ε. Values
    * rounded to 6 dp on both engine sides (the a5-pagerank precedent:
    * interpolation order may differ in the last ulp). Null text is
    * ignored by every aggregate except n_docs (SQL semantics). */
  def corpusLengthStats(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", approximate: Boolean = false): DataFrame = {
    val n = length(col(textCol)).cast("long")
    // approximate = the 100 TB mode made real, not just documented:
    // percentile_approx (t-digest sketch — mergeable partials, bounded
    // memory per group) replaces the exact percentile's per-group value
    // buffer; identical plan shape, ±ε on p50/p90 only (the exact mode
    // stays the default — it is what the t15 oracle hash-checks)
    def pct(p: Double) =
      if (approximate) expr(s"percentile_approx(length(`$textCol`), $p, 10000)").cast("double")
      else round(expr(s"percentile(length(`$textCol`), $p)"), 6)
    docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      min(n).as("min_chars"),
      pct(0.5).as("p50_chars"),
      pct(0.9).as("p90_chars"),
      max(n).as("max_chars"),
      round(avg(n), 6).as("mean_chars"))
  }

  // ---- distinct counting (exact + mergeable HLL sketch tier) ---------------

  /** Per-group distinct token count, EXACT — `count(DISTINCT token)` over
    * [[corpusTokens]]. The t39 oracle hash-checks this twin. Scale shape:
    * Spark plans distinct-aggregate as two hash exchanges (group+token
    * partial dedup, then group rollup) — exact, but the first exchange
    * carries every distinct (group, token) pair; at 100 TB that pair set
    * IS the vocabulary × groups and the sketch tier below is the right
    * tool ("how many distinct tokens per source" rarely needs the exact
    * integer). */
  def distinctTokenCounts(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), explode(corpusTokens(col(textCol))).as("token"))
      .groupBy(col(groupCol))
      .agg(count_distinct(col("token")).as("n_distinct_tokens"))

  /** Per-group Datasketches-HLL token sketches — the mergeable partial
    * form (group, sketch BINARY). THIS is the 100 TB distinct-count
    * shape: each shard/day/partition aggregates to one 2^lgK-register
    * sketch (bounded bytes per group, map-side combined — the exchange
    * carries sketches, never the token set), sketches persist as ordinary
    * binary columns, and any later rollup is [[mergeDistinctSketches]] —
    * counting a year = unioning 365 daily sketches, no re-scan. Register
    * union (max per register) is associative/idempotent, so shard-then-
    * merge yields the IDENTICAL estimate to a one-pass sketch (SketchSpec
    * pins exact equality, plus ≤5%-of-exact accuracy at the default
    * lgK 12 ⇒ ±~1.6% rsd, 4 KB per group). */
  def distinctTokenSketches(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", lgK: Int = 12): DataFrame =
    docs.select(col(groupCol), explode(corpusTokens(col(textCol))).as("token"))
      .groupBy(col(groupCol))
      .agg(hll_sketch_agg(col("token"), lit(lgK)).as("sketch"))

  /** Roll sketch partials up to per-group estimates:
    * (groupCol, n_distinct_est BIGINT). */
  def mergeDistinctSketches(sketches: DataFrame, groupCol: String = "source",
      sketchCol: String = "sketch"): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol), lit(false)))
        .cast("long").as("n_distinct_est"))

  /** One-pass convenience: per-group HLL estimates straight from text
    * (the t40 surface; sketch tier of [[distinctTokenCounts]]). */
  def distinctTokenEstimates(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", lgK: Int = 12): DataFrame =
    mergeDistinctSketches(distinctTokenSketches(docs, groupCol, textCol, lgK), groupCol)

  // ---- cross-source overlap audit -------------------------------------------

  /** Exact pairwise source-overlap matrix: word n-gram set Jaccard
    * between every pair of sources — the corpus-level contamination /
    * redundancy audit (how much of dump A is already in dump B; which
    * snapshot pair shares boilerplate) that doc-level near-dup
    * ([[graft.functions.Dedup.minHashDuplicates]]) and doc-vs-reference
    * decontamination ([[findContaminationNgrams]]) do not answer.
    * N-grams are [[graft.functions.Dedup.wordNgrams]]' convention
    * (lowercase whitespace tokens joined by the repo-wide `\u0001`
    * separator, distinct per doc — distinct again per source here).
    *
    * Returns (src_a, src_b, grams_a, grams_b, intersection, jaccard,
    * cont_a_in_b, cont_b_in_a — ratios rounded 6 dp) for every
    * src_a < src_b pair — ZERO-overlap pairs included (the audit's whole
    * point is seeing which pairs are clean); a gram-less source pairs
    * with all ratios 0.0. The asymmetric containments answer the
    * question Jaccard hides: a small dump fully inside a big one scores
    * jaccard ≈ 0 but cont_small_in_big ≈ 1 — the dump-superset signal a
    * crawl-snapshot pipeline deduplicates on (CCNet-style).
    *
    * Scale shape: the heavy relation is distinct (source, gram) — one
    * linear shuffle with map-side combine; the intersection self-join is
    * gram-keyed and emits at most C(df, 2) ≤ |sources|²/2 rows PER GRAM,
    * bounded because |sources| is small by construction (dumps,
    * snapshots, providers — tens, not millions); the final assembly is a
    * broadcast join over the |sources|-row size table. For corpora where
    * even the distinct-gram relation is too hot, the sketch tier
    * ([[sourceOverlapEstimates]]) replaces all of it with one
    * map-side-combined pass. */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    require(n >= 1, s"sourceOverlap: n must be >= 1, got $n")
    // materialized once: the distinct (source, gram) relation feeds THREE
    // consumers (the size aggregate and both sides of the intersection
    // join). Catalyst's ReusedExchange already covers them (measured
    // neutral), but the explicit cut makes the single-computation
    // contract independent of exchange-reuse heuristics and keeps the
    // downstream plans flat
    val grams = docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("src"),
        explode(graft.functions.Dedup.wordNgrams(col(textCol), n)).as("g"))
      .distinct().localCheckpoint(true)
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    val inter = grams.toDF("src_a", "g")
      .join(grams.toDF("src_b", "g"), "g")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("i"))
    val allSrc = docs.select(col(sourceCol).as("src")).distinct()
      .join(sizes, Seq("src"), "left")
      .select(col("src"), coalesce(col("sz"), lit(0L)).as("sz"))
    val iC = coalesce(col("i"), lit(0L))
    allSrc.toDF("src_a", "sz_a")
      .join(broadcast(allSrc.toDF("src_b", "sz_b")), col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        col("sz_a").as("grams_a"), col("sz_b").as("grams_b"),
        iC.as("intersection"),
        when(col("sz_a") + col("sz_b") - iC > 0,
          round(iC.cast("double") / (col("sz_a") + col("sz_b") - iC), 6))
          .otherwise(lit(0.0)).as("jaccard"),
        when(col("sz_a") > 0, round(iC.cast("double") / col("sz_a"), 6))
          .otherwise(lit(0.0)).as("cont_a_in_b"),
        when(col("sz_b") > 0, round(iC.cast("double") / col("sz_b"), 6))
          .otherwise(lit(0.0)).as("cont_b_in_a"))
  }

  /** Per-source MinHash sketch over word n-grams: k minima of
    * xxhash64(xxhash64(gram), seed) — [[sourceOverlap]]'s sketch tier,
    * the [[distinctTokenSketches]] discipline applied to set similarity.
    * `min` is idempotent, so duplicate grams need NO distinct pass: the
    * whole sketch is one linear scan with map-side-combined min
    * aggregates, |sources| rows (k longs each) out — the exchange
    * carries partial minima, never the gram set. Sketches persist as
    * ordinary array columns; shard-then-[[mergeSourceSketches]] equals
    * the one-pass sketch EXACTLY (min is associative/commutative —
    * SketchSpec pins the equality). Gram-less sources emit no row (no
    * minima exist), matching [[graft.functions.Dedup.minHashSignatures]]'
    * null-doc rule. */
  def sourceMinHashSketches(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    require(n >= 1 && numHashes >= 1,
      s"sourceMinHashSketches: need n >= 1, numHashes >= 1 (got $n, $numHashes)")
    val g = docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("src"),
        explode(graft.functions.Dedup.wordNgrams(col(textCol), n)).as("g"))
      .select(col("src"), xxhash64(col("g")).as("h0"))
    val mins = (0 until numHashes).map(s => min(xxhash64(col("h0"), lit(s))).as(s"h$s"))
    g.groupBy(col("src")).agg(mins.head, mins.tail: _*)
      .select(col("src"), array((0 until numHashes).map(s => col(s"h$s")): _*).as("sig"))
  }

  /** Merge sketch partials (element-wise min per position) — sharded
    * builds roll up losslessly: merge(shard sketches) == one-pass sketch,
    * bit for bit. */
  def mergeSourceSketches(sketches: DataFrame, sourceCol: String = "src",
      sigCol: String = "sig"): DataFrame = {
    // k probed as min AND max signature length: shards sketched with
    // different numHashes must fail fast here — merged silently,
    // element_at past the shorter array yields NULL minima (the probe is
    // a full scan, but a sketch table is |sources| rows of k longs)
    val sz = sketches
      .agg(min(size(col(sigCol))).as("lo"), max(size(col(sigCol))).as("hi"),
        count(when(col(sigCol).isNull, 1)).as("nulls"))
      .collect().head
    // NULL sigs named first (checked even when every sig is NULL and the
    // min/max read as NULL): legacy size(NULL) = -1 would otherwise
    // surface as a baffling "mixed signature lengths (-1 vs k)"
    require(sz.getLong(2) == 0L,
      s"mergeSourceSketches: ${sz.getLong(2)} rows have a NULL $sigCol — " +
        "every shard row must carry a signature")
    val k = if (sz.isNullAt(0)) 0 else {
      require(sz.getInt(0) == sz.getInt(1),
        s"mergeSourceSketches: mixed signature lengths (${sz.getInt(0)} vs " +
          s"${sz.getInt(1)}) — all shards must be sketched with the same numHashes")
      sz.getInt(1)
    }
    val mins = (0 until k).map(i => min(element_at(col(sigCol), i + 1)).as(s"h$i"))
    if (k == 0) sketches.select(col(sourceCol).as("src"), col(sigCol).as("sig")).limit(0)
    else sketches.groupBy(col(sourceCol).as("src"))
      .agg(mins.head, mins.tail: _*)
      .select(col("src"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Pairwise Jaccard estimates from [[sourceMinHashSketches]] output:
    * est = |matching signature positions| / k (the classic MinHash
    * estimator, Broder 1997; rsd ≈ √(j(1−j)/k) ≤ 0.063 at k=64).
    * Returns (src_a, src_b, jaccard_est rounded 6 dp) for src_a < src_b
    * — a |sources|² broadcast self-join over k-long arrays, independent
    * of corpus size: THE 100 TB path for cross-dump audits. */
  def sourceOverlapEstimates(sketches: DataFrame, sourceCol: String = "src",
      sigCol: String = "sig"): DataFrame = {
    val a = sketches.select(col(sourceCol).as("src_a"), col(sigCol).as("sig_a"))
    val b = sketches.select(col(sourceCol).as("src_b"), col(sigCol).as("sig_b"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(aggregate(
            zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, v) => acc + v).cast("double") / size(col("sig_a")), 6)
          .as("jaccard_est"))
  }

  // ---- normalization --------------------------------------------------------

  /** Canonical text normalization ahead of hashing/dedup: Unicode NFC
    * (via the native codegen'd [[graft.functions.expressions.NfcNormalize]]
    * — `é` composed and decomposed become one byte sequence), then ASCII
    * whitespace runs collapsed to one space, then trimmed. Pure narrow
    * column pipeline, no shuffle, no UDF. Null text ⇒ null (the null-text
    * policy's scalar default). The whitespace class is the explicit
    * `[ \t\n\r]` — identical in Java and RE2 regex dialects, so any
    * engine reproduces the output byte-for-byte (gate t12 pins DuckDB's
    * `nfc_normalize` against this). */
  def normalizeText(docs: DataFrame, textCol: String = "text",
      outCol: String = "text_norm"): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    docs.withColumn(outCol,
      trim(regexp_replace(call_function("graft_nfc", col(textCol)), "[ \\t\\n\\r]+", " ")))
  }

  // ---- PII redaction --------------------------------------------------------

  /** PII patterns in the SHARED Java-regex / RE2 dialect — no lookarounds,
    * no backreferences, ASCII `\d` — so the Spark expressions and any
    * RE2-based engine (the DuckDB oracle, Go/Rust scanners) match the
    * same spans byte-for-byte. (name, pattern, replacement). Deliberately
    * conservative: high-precision surface forms, not validation (an IPv4
    * octet range check would cost lookahead portability). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4s", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("phones", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** PII detection + redaction: per-doc match counts (on the ORIGINAL
    * text) and the text with every match replaced by its type tag,
    * patterns applied in [[piiPatterns]] order. Pure narrow column
    * expressions (codegen'd `regexp_replace`/`regexp_extract_all`), no
    * shuffle — pipelines into the ingest scan like the other scalar ops.
    * Null text ⇒ null counts and null redacted text (scalar null policy). */
  def redactPii(docs: DataFrame, textCol: String = "text",
      outCol: String = "text_redacted"): DataFrame = {
    val withCounts = piiPatterns.foldLeft(docs) { case (df, (name, pat, _)) =>
      df.withColumn(s"n_$name",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
    }
    withCounts.withColumn(outCol,
      piiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, tag)) =>
        regexp_replace(c, pat, tag)
      })
  }

  // ---- language identification --------------------------------------------

  /** Tiny stopword-profile language-ID over {en, de, fr, es, it}: the
    * language whose marker-word list hits the text most wins; `und` when
    * nothing hits. N-gram-profile classification in spirit (Cavnar-Trenkle)
    * with word-level unigrams, as a pure column expression. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "that", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que"),
    "es" -> Seq("el", "los", "las", "es", "y", "en", "por", "para"),
    "it" -> Seq("il", "gli", "di", "che", "per", "con", "una", "sono"))

  def langId(text: Column): Column = {
    val toks = split(lower(text), "\\s+")
    val scores = langMarkers.map { case (lang, markers) =>
      val markerArr = array(markers.map(lit): _*)
      struct(size(filter(toks, x => array_contains(markerArr, x))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scores: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  // ---- fingerprinting ------------------------------------------------------

  /** Winnowing-style document fingerprint: xxhash64 of every k-shingle,
    * keep hashes ≡ 0 (mod p) (mod-p sampling ≈ rolling-hash winnowing),
    * fingerprint = hash of the sorted sample. Near-identical documents get
    * equal fingerprints with high probability.
    *
    * Null-text policy: null in ⇒ null out. Without the guard, every null
    * doc gets the SAME fingerprint (charShingles on NULL yields one null
    * shingle; xxhash64 of a null element is the seed) — the fingerprint
    * cousin of the minhash all-null-docs-are-dups bug. */
  def fingerprint(text: Column, k: Int = 8, p: Int = 4): Column = {
    val hashes = transform(Dedup.charShingles(text, k), sh => xxhash64(sh))
    val sampled = sort_array(array_distinct(filter(hashes, h => pmod(h, lit(p)) === 0)))
    when(text.isNotNull, xxhash64(concat_ws(",", transform(sampled, _.cast("string")))))
  }

  /** Rolling-hash shingle sample (the fingerprint's underlying set) for
    * containment/overlap joins. Null text ⇒ null sample (see
    * [[fingerprint]]). */
  def fingerprintShingles(text: Column, k: Int = 8, p: Int = 4): Column = {
    val hashes = transform(Dedup.charShingles(text, k), sh => xxhash64(sh))
    when(text.isNotNull, sort_array(array_distinct(filter(hashes, h => pmod(h, lit(p)) === 0))))
  }

  /** Engine-portable fingerprint: the same winnowing scheme as
    * [[fingerprint]] but built ENTIRELY from md5 + string ops so any SQL
    * engine reproduces it byte-for-byte — shingles are md5'd, the sample
    * keeps hashes whose first hex nibble is '0' (1/16 mod-sampling on the
    * hash value), and the fingerprint is the md5 of the sorted sample
    * joined by ','. Returns a 32-char hex string. The xxhash64 form stays
    * the default (cheaper per shingle). */
  def fingerprintMd5(text: Column, k: Int = 8): Column = {
    val hashes = transform(Dedup.charShingles(text, k), sh => md5(sh.cast("binary")))
    val sampled = array_sort(array_distinct(filter(hashes, h => h.startsWith("0"))))
    when(text.isNotNull, md5(concat_ws(",", sampled).cast("binary")))
  }

  // ---- decontamination -----------------------------------------------------

  /** Benchmark decontamination: flag documents containing any of the given
    * probe strings (eval-set n-grams, canary strings). Returns one
    * (doc_id-cols…, probe_id) row per hit.
    *
    * Scale shape: the probe set is small by nature (benchmarks), so it
    * BROADCASTS and the scan stays narrow — each executor tests its own
    * documents against the in-memory probe list, no shuffle of the corpus.
    * For probe sets too big to broadcast, pre-filter with
    * [[fingerprintShingles]] containment first. */
  def findContamination(docs: DataFrame, probes: DataFrame,
      textCol: String = "text", probeCol: String = "probe"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    docs.crossJoin(broadcast(probes))
      .filter(contains(col(textCol), col(probeCol)))
      .drop(textCol, probeCol) // hit rows must not re-materialize the probe strings
  }

  /** N-gram-overlap decontamination — the GPT-3-style rule (Brown et al.
    * 2020 §C: drop a training doc sharing any 13-gram with an eval set):
    * one (doc, probe) row per pair sharing ≥1 word n-gram. Where
    * [[findContamination]] needs the probe to appear VERBATIM as a
    * substring, this catches partial/reformatted overlap — tokenization
    * (`split(lower(text), "\\s+")`) absorbs case and whitespace changes.
    *
    * Scale shape: the probe side (eval benchmarks — small by nature)
    * explodes to a distinct n-gram set and BROADCASTS; the corpus side is
    * one narrow scan through the native
    * [[graft.functions.expressions.NgramHashes]] (grams as xxhash64 longs
    * — 8-byte join keys, no string shuffle) feeding a broadcast semi-ish
    * join. No corpus shuffle at any size; contrast with a shuffle join on
    * raw gram strings, which moves the whole exploded corpus. */
  def findContaminationNgrams(docs: DataFrame, probes: DataFrame, n: Int = 13,
      textCol: String = "text", idCol: String = "doc_id",
      probeTextCol: String = "probe", probeIdCol: String = "probe_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    def grams(df: DataFrame, text: String, id: String) =
      df.select(col(id), explode(call_function("graft_ngram_hashes", col(text), lit(n))).as("g"))
    grams(docs, textCol, idCol)
      .join(broadcast(grams(probes, probeTextCol, probeIdCol).distinct()), "g")
      .select(col(idCol), col(probeIdCol)).distinct()
  }

  // ---- deterministic sampling ----------------------------------------------

  /** Deterministic hash-based sample predicate: keep a row iff the first 8
    * hex chars of md5(key) sort below the fraction's hex threshold.
    * Unlike rand()-based sampling this is reproducible across runs,
    * engines, partitionings and cluster sizes — the property a training-
    * data pipeline needs for auditable holdouts — and the comparison is on
    * lowercase-hex STRINGS, so any engine with md5 computes the identical
    * sample (no hex→int conversion portability trap). Pure narrow column
    * expression; no shuffle. */
  def sampleByHash(key: Column, fraction: Double): Column = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction not in [0,1]")
    if (fraction >= 1.0) lit(true)
    else {
      // clamp: round(fraction·2³²) can reach 2³² for fractions just below
      // 1.0, whose 9-char hex would break the 8-char string comparison
      val bound = math.min(math.round(fraction * 4294967296.0), 0xFFFFFFFFL)
      val threshold = f"$bound%08x"
      substring(md5(key.cast("string").cast("binary")), 1, 8) < lit(threshold)
    }
  }

  /** Per-stratum deterministic sampling — the mixture re-weighting step
    * ("keep 50% of web, 12.5% of crawl dumps"): each stratum gets its own
    * [[sampleByHash]] fraction, strata not in the map fall back to
    * `default`. Same portability contract as sampleByHash (the kept set
    * is a pure function of (key, stratum) any engine reproduces), and a
    * doc's membership never changes when OTHER strata's fractions move —
    * the property that lets mixture ratios be retuned without churning
    * the rest of the corpus. Pure narrow expression; no shuffle. */
  def stratifiedSampleByHash(key: Column, stratum: Column,
      fractions: Map[String, Double], default: Double = 0.0): Column = {
    require((default +: fractions.values.toSeq).forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0,1]: $fractions default=$default")
    fractions.toSeq.sortBy(_._1).foldRight(sampleByHash(key, default): Column) {
      case ((s, f), els) => when(stratum === lit(s), sampleByHash(key, f)).otherwise(els)
    }
  }

  /** Weight-proportional acceptance sampling — the soft quality filter
    * ("keep a doc with probability = its quality score") used instead of
    * a hard threshold when discarding mid-quality data outright would
    * waste tokens. Deterministic: doc kept iff the md5-hex fraction of
    * its key is below its OWN weight (clamped to [0,1]), so the kept set
    * is reproducible and monotone in the weight — raising a doc's score
    * can only add it, never evict another. The per-row threshold is the
    * weight rendered as an 8-char lowercase hex string (2³²−1 scale —
    * the 1-ulp downward bias keeps weight-1.0 rows inside 8 chars, and
    * `<=` makes weight=1.0 keep EVERY key, 'ffffffff' included); the
    * comparison stays on hex STRINGS like [[sampleByHash]], so any
    * engine with md5/floor/hex reproduces the identical sample. Pure
    * narrow expression; no shuffle, no UDF. */
  def weightedSampleByHash(key: Column, weight: Column): Column = {
    // NULL/NaN weights must DROP, not keep: Spark's least/greatest skip
    // nulls, so an unguarded clamp turns a missing classifier score into
    // greatest(least(NULL,1),0) = 1.0 — certain keep for exactly the
    // unscored rows. The guard keeps the expression null, and a null
    // predicate filters false.
    val wd = weight.cast("double")
    val clamped = when(wd.isNotNull && !isnan(wd),
      greatest(least(wd, lit(1.0)), lit(0.0)))
    val threshold = lpad(lower(hex(floor(clamped * lit(4294967295.0)).cast("long"))), 8, "0")
    substring(md5(key.cast("string").cast("binary")), 1, 8) <= threshold
  }

  /** Mixture rebalancing — derive per-source acceptance rates from target
    * mixture weights and a global token budget, then apply them as a
    * deterministic sample: source s with normalized weight share w_s gets
    * target w_s·B tokens, so its docs are kept with probability
    * rate_s = min(1, w_s·B / tokens_s) via [[weightedSampleByHash]].
    * This is the step BEFORE [[stratifiedSampleByHash]] in a mixture
    * build: the operator computes the fractions the stratified sampler
    * would be handed (DoReMi-style reweighting hands you weights over
    * domains, not per-source keep fractions — the conversion needs the
    * corpus's own token counts). Sources absent from `targetWeights` (or
    * with weight 0) are dropped; zero-token docs are dropped before
    * counting (the [[chunkDocuments]] policy).
    *
    * Determinism contract: rates reach the keep decision UNROUNDED, and
    * the whole rate expression uses only IEEE-exact ops (+,·,/, min) in
    * a fixed structure, so any engine replaying the same expression over
    * the same counts reproduces the identical kept set — the weight
    * normalizer is summed in sorted-key order for the same reason. The
    * emitted `rate` column is 6-dp rounded for reporting.
    *
    * Scale shape: one aggregation over (source, n_tokens) — partial
    * map-side sums, |sources| rows out — then the tiny rate relation
    * broadcast back onto the scan; the keep predicate is a pure narrow
    * expression. Rebalancing 100 TB shuffles |sources| rows. */
  def mixtureRebalance(docs: DataFrame, targetWeights: Map[String, Double],
      budgetTokens: Long, textCol: String = "text", idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(targetWeights.nonEmpty && targetWeights.values.forall(_ >= 0.0),
      s"targetWeights must be non-empty and non-negative: $targetWeights")
    // sorted-key left fold: Map iteration order is unspecified, and float
    // addition is order-sensitive — an oracle must sum in the same order
    val wSum = targetWeights.toSeq.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _)
    require(wSum > 0.0, s"targetWeights must have positive mass: $targetWeights")
    val wCol = targetWeights.toSeq.sortBy(_._1).foldRight(lit(0.0): Column) {
      case ((s, w), els) => when(col(sourceCol) === lit(s), lit(w)).otherwise(els)
    }
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(sourceCol),
        size(corpusTokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val rates = base.groupBy(col(sourceCol))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .select(col(sourceCol), least(lit(1.0),
        wCol / lit(wSum) * lit(budgetTokens.toDouble) /
          col("src_tokens").cast("double")).as("__rate"))
      .filter(col("__rate") > 0.0)
    base.join(broadcast(rates), Seq(sourceCol))
      .filter(weightedSampleByHash(col(idCol), col("__rate")))
      .select(col(idCol), col(sourceCol), col("n_tokens"),
        round(col("__rate"), 6).as("rate"))
  }

  /** Deterministic per-group TOKEN-BUDGET sampling — the "take B tokens
    * from each source" step of mixture building (fraction-based
    * [[sampleByHash]] can't hit a token quota when doc lengths vary).
    * Within each group, documents are visited in (md5(id), id) order — a
    * reproducible pseudo-random shuffle any engine replicates — and a
    * document is kept iff the running token total INCLUDING it stays
    * ≤ budgetTokens (the strict-prefix rule: one deterministic cut point
    * per group, so the selection is a prefix of the shuffled order and
    * re-runs/engines agree exactly; a first-fit fill would depend on
    * float-free arithmetic only, but its output would not be a prefix and
    * a single changed doc could reshuffle the whole selection).
    * Returns (group, id, n_tokens, cum_tokens) for kept documents.
    *
    * Scale shape: ONE sort-based window per group (the [[packSequences]]
    * shape) — no global order, groups pack in parallel. Null-token docs
    * (null text under a space-count formula) are DROPPED before the
    * window — without the filter, window SUM skips the null and the doc
    * would silently ride along inside the prefix consuming no budget. */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long, tokens: Column,
      groupCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(col(groupCol).as("grp"), col(idCol), tokens.cast("long").as("n_tokens"))
      .filter(col("n_tokens").isNotNull)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("grp").as(groupCol), col(idCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Per-group ADAPTIVE length filter: keep documents whose char length
    * lies inside the group's [lo, hi] quantile band — the outlier trim
    * that a fixed global length bound gets wrong when sources have very
    * different length regimes (a 200-char doc is normal in chat logs,
    * truncation in books). Quantiles are EXACT interpolated percentiles
    * (the [[corpusLengthStats]] contract — SQL `quantile_cont`), rounded
    * to 6 dp before the comparison so engines agree at boundaries; at
    * 100 TB swap in `percentile_approx` with a documented ±ε widening.
    * Returns kept (id, group, n_chars, lo_chars, hi_chars).
    *
    * Scale shape: one partial-aggregating groupBy over the groups (output
    * = |groups| rows, broadcast back), then a narrow filter on the scan —
    * the corpus is never shuffled. Null text has null length: never kept
    * (SQL comparison semantics), matching the dedup-surface null policy.
    * A null GROUP key aggregates as the SQL-null group but its docs never
    * rejoin their bounds (equi-join null semantics) — null-source docs
    * are dropped, identically in any SQL engine. */
  def adaptiveLengthFilter(docs: DataFrame, lo: Double = 0.05, hi: Double = 0.95,
      groupCol: String = "source", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"need 0 <= lo <= hi <= 1, got [$lo, $hi]")
    import org.apache.spark.sql.functions.broadcast
    val bounds = docs.groupBy(col(groupCol)).agg(
      round(expr(s"percentile(length(`$textCol`), $lo)"), 6).as("lo_chars"),
      round(expr(s"percentile(length(`$textCol`), $hi)"), 6).as("hi_chars"))
    val n = length(col(textCol)).cast("double")
    docs.join(broadcast(bounds), groupCol)
      .filter(n >= col("lo_chars") && n <= col("hi_chars"))
      .select(col(idCol), col(groupCol), length(col(textCol)).cast("long").as("n_chars"),
        col("lo_chars"), col("hi_chars"))
  }

  /** Corpus-LM quality proxy: mean token surprisal −ln p(token) under the
    * corpus's OWN unigram distribution — the cheap stand-in for the
    * perplexity-filter stage (Wenzek et al. 2020, CCNet §4.3 uses a
    * KenLM; a unigram LM already separates word-soup/boilerplate from
    * typical text, with no model artifact to ship). High surprisal = rare
    * vocabulary (OCR noise, garbage); unusually low = repetitive
    * boilerplate. Tokens follow the corpus convention (lowercased,
    * whitespace-split, zero-length dropped — [[corpusTokenStats]]).
    * Returns (id, n_tokens, surprisal), surprisal rounded to 6 dp
    * (double-sum order differs between engines — the t15 precedent) and
    * 0.0 for docs with no tokens (null/empty text).
    *
    * Scale shape: one explode→partial-agg for the frequency table
    * (exchange is O(|vocab|), the [[corpusTokenStats]] shape), the scalar
    * total folded in as a broadcast single-row join (never a driver
    * collect), then tokens ⋈ vocab on the token key and a per-doc
    * average. The tokens-side join shuffles O(|tokens|) rows once at the
    * full 100 TB; if the vocabulary fits executor memory (it usually
    * does — ~10^8 entries), Spark/AQE broadcasts `freq` and the corpus is
    * never shuffled at all. */
  def unigramSurprisal(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val toks = docs.select(col(idCol).as("id"),
      explode(corpusTokens(col(textCol))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("tot"))
    val scored = toks.join(freq, "tok").crossJoin(broadcast(total))
      .select(col("id"), (-log(col("c").cast("double") / col("tot").cast("double"))).as("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("s")), 6).as("surprisal"))
    docs.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("surprisal"), lit(0.0)).as("surprisal"))
  }

  /** Flesch reading-ease features (Flesch 1948 — the classic readability
    * quality-filter feature): per doc, word count ([[corpusTokens]]),
    * sentence count (non-empty [.!?]+ splits, floor 1 so a fragment
    * still scores), syllable count (vowel-group runs [aeiouy]+ per word
    * — the standard heuristic), and
    * flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    * rounded 4 dp. Null/token-less text: counts 0, flesch null (a score
    * for no words is not 206.835).
    *
    * Scale shape: narrow per-row regex/array expressions, codegen'd, no
    * shuffle — the t4/t30 family. */
  def readabilityFeatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = corpusTokens(col(textCol))
    val nWords = size(toks).cast("long")
    val nSents = greatest(lit(1L),
      size(filter(split(col(textCol), "[.!?]+"), x => length(trim(x)) > 0)).cast("long"))
    val nSyll = aggregate(
      transform(toks, w => size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))).cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs.select(col(idCol),
      coalesce(nWords, lit(0L)).as("n_words"),
      when(col(textCol).isNotNull, nSents).otherwise(lit(0L)).as("n_sentences"),
      coalesce(nSyll, lit(0L)).as("n_syllables"),
      when(col(textCol).isNotNull && nWords > 0,
        round(lit(206.835) - lit(1.015) * (nWords.cast("double") / nSents)
          - lit(84.6) * (nSyll.cast("double") / nWords), 4)).as("flesch"))
  }

  /** Frequency-ranked vocabulary construction — the tokenizer-artifact
    * step between [[bpeMerges]] and training: (token, id, count) with
    * dense ids assigned by (count desc, token) rank starting at
    * `baseId` (reserve 0..baseId−1 for specials: PAD/UNK/BOS/EOS),
    * `minCount` noise floor, optional `maxSize` cut. Deterministic —
    * the rank order is total, so the id table is hash-checkable and
    * reproducible across engines/runs (the property a training vocab
    * must have).
    *
    * Scale shape: one token count (map-side combined, vocab-sized
    * exchange) + one global sort window over the VOCAB (not the
    * corpus) — at 100 TB the vocab is millions of rows, a trivial
    * single-stage sort. */
  def buildVocab(docs: DataFrame, maxSize: Int = 0, minCount: Long = 1,
      baseId: Int = 4, textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"buildVocab: minCount must be >= 1, got $minCount")
    require(baseId >= 0, s"buildVocab: baseId must be >= 0, got $baseId")
    val counts = docs.select(explode(corpusTokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc)
    val ranked = counts
      .withColumn("id", (row_number().over(w) + lit(baseId - 1)).cast("long"))
    (if (maxSize > 0) ranked.filter(col("id") < baseId + maxSize) else ranked)
      .select(col("token"), col("id"), col("cnt"))
  }

  /** CCNet-style perplexity tiering (Wenzek et al. 2020): per-language
    * NTILE buckets over [[unigramSurprisal]] — bucket 1 ("head") = the
    * most fluent (lowest-surprisal) third, "tail" = the most
    * out-of-distribution, exactly the split CCNet uses to route web text
    * into keep / maybe / drop. The LM here is the corpus's own unigram
    * model (the t19 proxy for a KenLM); the bucketing machinery is
    * model-agnostic — swap any score column in.
    *
    * Returns (idCol, lang, n_tokens, surprisal, bucket, tier) with
    * bucket ∈ 1..nBuckets and tier ∈ head/middle/tail. Bucket order is
    * (surprisal asc, idCol) — the rounded 6-dp score plus the id
    * tie-break makes NTILE deterministic cross-engine.
    *
    * Scale shape: the surprisal pass is t19's (O(|tokens|) exchanges);
    * the NTILE is ONE sort window partitioned by language over |docs|
    * rows. At 100 TB the window sorts within language partitions —
    * no global sort, no driver state. */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3,
      langCol: String = "lang", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(nBuckets >= 2, s"perplexityBuckets: nBuckets must be >= 2, got $nBuckets")
    val sc = unigramSurprisal(docs, textCol, idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("surprisal").asc, col(idCol).asc)
    docs.select(col(idCol), col(langCol).as("lang")).join(sc, idCol)
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .withColumn("tier",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === nBuckets, "tail").otherwise("middle"))
  }

  /** Bigram surprisal — [[unigramSurprisal]] one conditioning level up:
    * mean −ln p(wᵢ | wᵢ₋₁) under the corpus's own bigram model, with
    * p(w|u) = c(u,w) / Σ_x c(u,x) (no smoothing needed: the corpus
    * scores itself, so every bigram scored is observed). This is the
    * perplexity-filter proxy one step closer to the CCNet LM filter:
    * unigram surprisal flags rare WORDS, bigram surprisal flags rare
    * TRANSITIONS (word salad scores high even when every word is
    * common). Token identity is [[corpusTokens]]'; docs with < 2 tokens
    * score 0 over 0 bigrams (the t19 empty-doc convention).
    *
    * Returns (idCol, n_bigrams, bigram_surprisal rounded 6dp).
    *
    * Scale shape: bigram counts are one groupBy over exploded bigrams
    * (map-side combined); context totals REUSE that relation (a groupBy
    * of the count table — raw bigrams are never re-aggregated); scoring
    * joins on the bigram key. All shuffles O(|bigrams|) — the t19 shape
    * with a 2-token key. */
  def bigramSurprisal(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = corpusTokens(col(textCol))
    // the context token rides ALONGSIDE the joined key instead of being
    // recovered by re-splitting it, so a token that itself contains the
    // \u0001 separator can never mis-assign a context (the key string
    // keeps the repo-wide wordNgrams convention and with it the
    // documented count-collision caveat for such tokens)
    // zip_with over two slices, NOT transform+element_at — a lambda
    // does not hoist outer expressions, so element_at(toks, i) would
    // re-evaluate the split per element (the collocations fix:
    // O(words²·chars) per doc otherwise)
    val bigrams = when(size(toks) >= 2, zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("u"), concat_ws("\u0001", a, b).as("b"))))
      .otherwise(array().cast("array<struct<u:string,b:string>>"))
    val bg = docs.select(col(idCol).as("id"), explode(bigrams).as("g"))
      .select(col("id"), col("g.u").as("u"), col("g.b").as("b"))
    val freq = bg.groupBy(col("b")).agg(count(lit(1)).as("c"))
    val ctx = bg.groupBy(col("u")).agg(count(lit(1)).as("cc"))
    val scored = bg.join(freq, "b")
      .join(ctx, "u")
      .select(col("id"), (-log(col("c").cast("double") / col("cc").cast("double"))).as("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("s")), 6).as("bigram_surprisal"))
    docs.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bigram_surprisal"), lit(0.0)).as("bigram_surprisal"))
  }

  /** Hashed-free TF-IDF term weights per document — the corpus feature
    * extraction behind quality classifiers, topic clustering, and
    * importance sampling over training corpora. Token identity is
    * [[unigramSurprisal]]'s (lowercase, trim, \s+ split, empties
    * dropped — shared `corpusTokens` helper, so the two features cannot
    * drift apart); weight is the smooth-idf formulation
    * `tf · (ln((N+1)/(df+1)) + 1)` (never negative, never
    * divide-by-zero), emitted rounded 6dp alongside raw `tf`/`df`.
    *
    * `topM > 0` keeps only each document's m heaviest terms (ranked on
    * the UNROUNDED weight, ties broken by term — deterministic), the
    * usual sparse-feature truncation; `topM <= 0` emits the full sparse
    * matrix. Docs with no tokens emit no rows.
    *
    * Scale shape: groupBy(id, term) with map-side combine bounds the
    * first shuffle at |distinct (doc, term)|; df reuses that relation
    * (one groupBy(term) — never a distinct over raw tokens); N folds in
    * as a broadcast scalar, not a driver collect; the optional top-m is
    * a per-doc window on the already-aggregated rows. Three linear
    * shuffles total, no joins wider than |tf rows|. */
  def tfidfTerms(docs: DataFrame, topM: Int = 0, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val toks = docs.select(col(idCol),
      explode(corpusTokens(col(textCol))).as("term"))
    // explicit repartition on the groupBy keys (round 19): it satisfies
    // the aggregation's required distribution (no extra exchange) and,
    // being user-specified, is exempt from AQE's bytes-based coalescing —
    // the final tf aggregate and everything fused above it (the idf join,
    // the weight projection) then run at shuffle-partition width instead
    // of collapsing to one task on this byte-light, CPU-heavy relation
    val tf = toks.repartition(col(idCol), col("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfr, "term").crossJoin(broadcast(nDocs))
      .withColumn("w",
        col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
    // explicit doc-keyed repartition ahead of the rank window (round 19):
    // left to ENSURE_REQUIREMENTS, AQE coalesced the tf shuffle read by
    // BYTES and the whole fused stage — final tf aggregate, both joins, w,
    // the sort and the partial WindowGroupLimit over |corpus tokens|-scale
    // rows — ran as ONE task at 10× (2.7 s of the gate's 4.5 s wall, the
    // t34 class: per-row work dwarfs bytes). The explicit repartition
    // satisfies the window's required distribution, so it adds no extra
    // exchange — it only pins the sort/limit width to shuffle.partitions.
    val cut =
      if (topM <= 0) scored
      else scored.repartition(col(idCol))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(idCol)).orderBy(desc("w"), col("term"))))
        .filter(col("rank") <= topM).drop("rank")
    cut.select(col(idCol), col("term"), col("tf"), col("df"),
      round(col("w"), 6).as("tfidf"))
  }

  /** Okapi BM25 term weights per document — [[tfidfTerms]]'s
    * retrieval-grade sibling (the scorer behind retrieval-based
    * decontamination and quality ranking): tf saturates at k1 and is
    * normalized by document length against the corpus mean
    * (`b` = how much), idf is the non-negative "Lucene" form
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`. Same token identity and
    * `topM` contract as [[tfidfTerms]]; emits
    * (idCol, term, tf, df, dl, bm25) with `dl` the doc's token count.
    *
    * Scale shape = tfidf's plus one extra LINEAR join: doc length
    * derives from the tf relation (one groupBy(id) over already-
    * aggregated rows, joined back on id), and the two corpus scalars
    * (N, mean dl) fold in as one broadcast row — computed as
    * exact-integer sum/count so the oracle reproduces the double
    * bit-for-bit. */
  def bm25Terms(docs: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      topM: Int = 0, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val toks = docs.select(col(idCol),
      explode(corpusTokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val scalars = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("avg_dl")))
    val scored = tf.join(dfr, "term").join(dl, idCol)
      .crossJoin(broadcast(scalars))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avg_dl"))))
    val cut =
      if (topM <= 0) scored
      else scored.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(idCol)).orderBy(desc("w"), col("term"))))
        .filter(col("rank") <= topM).drop("rank")
    cut.select(col(idCol), col("term"), col("tf"), col("df"), col("dl"),
      round(col("w"), 6).as("bm25"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023, arXiv:2302.03169):
    * score each raw document by how much more likely its hashed-unigram
    * bag is under a TARGET corpus' bucket distribution than under the
    * raw corpus' own — log w(d) = Σ_b n_b(d)·(ln p̂_tgt(b) − ln p̂_raw(b))
    * with add-one smoothing over the B buckets. Selection then keeps the
    * top-weight (or Gumbel-resampled) documents; the weight is the
    * reusable artifact.
    *
    * Buckets are the first two hex chars of md5(token) (B = 256): the
    * hashed feature space is what makes the estimator O(B) memory,
    * vocabulary-independent, and portable — any engine with md5 computes
    * identical buckets (the [[sampleByHash]] portability argument).
    * Token identity is [[corpusTokens]]' (shared with tfidf/BM25/
    * surprisal, so the features cannot drift apart). Docs with no
    * tokens emit no rows (the tfidf convention).
    *
    * Returns (idCol, n_tokens, dsir_logweight rounded 6dp).
    *
    * Scale shape: per-doc bucket counts are a groupBy(id, bucket) with
    * map-side combine, ≤ 256 rows/doc; the raw-corpus bucket table
    * REUSES that relation (one further groupBy — raw tokens are never
    * re-scanned); the target corpus (typically small: a quality sample)
    * pays one linear aggregation; the 256-row log-ratio table folds in
    * as a BROADCAST join, so the corpus is never shuffled by anything
    * except its own id key. */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val nB = 256.0
    def buckets(df: DataFrame) = df
      .select(col(idCol).as("id"), explode(corpusTokens(col(textCol))).as("tok"))
      .select(col("id"), substring(md5(col("tok").cast("binary")), 1, 2).as("b"))
    val docB = buckets(raw).groupBy(col("id"), col("b")).agg(count(lit(1)).as("n"))
    val rawB = docB.groupBy(col("b")).agg(sum(col("n")).as("c_raw"))
    val tgtB = buckets(target).groupBy(col("b")).agg(count(lit(1)).as("c_tgt"))
    val nRaw = rawB.agg(sum(col("c_raw")).as("n_raw"))
    val nTgt = tgtB.agg(coalesce(sum(col("c_tgt")), lit(0L)).as("n_tgt"))
    // expression STRUCTURE mirrors the DuckDB oracle (same grouping, same
    // +1.0/+256.0 placement) so the doubles agree to well inside the 6dp
    // round; ln itself may differ by an ulp between libms, absorbed by it
    val ratio = rawB.join(tgtB, Seq("b"), "left")
      .crossJoin(nRaw).crossJoin(nTgt)
      .select(col("b"),
        (log((coalesce(col("c_tgt"), lit(0L)) + lit(1.0)) / (col("n_tgt") + lit(nB))) -
         log((col("c_raw") + lit(1.0)) / (col("n_raw") + lit(nB)))).as("lr"))
    docB.join(broadcast(ratio), Seq("b"))
      .groupBy(col("id"))
      .agg(sum(col("n")).as("n_tokens"),
        round(sum(col("n") * col("lr")), 6).as("dsir_logweight"))
      .select(col("id").as(idCol), col("n_tokens"), col("dsir_logweight"))
  }

  // ---- source interleaving -------------------------------------------------

  /** Deterministic weighted interleaving of sources — the training-data
    * "mixing ratios" step: a source with weight w contributes w documents
    * per `scale` positions of the merged stream. Each document gets an
    * integer `mix_key` = (rank-within-source − 1) · (scale / weight); the
    * merged order is (mix_key, shard, id) and a prefix of it realizes the
    * ratios (±1 per source). Emitting the KEY, not a global rank, is the
    * scale shape: ranking within a source is a per-shard window, a global
    * row_number would serialize the corpus through one task — downstream
    * consumers sort/bucket by mix_key, which any engine reproduces
    * (integer arithmetic only).
    *
    * `scale` must be a common multiple of the weights so w divides it
    * exactly (checked). */
  def interleaveSources(docs: DataFrame, weights: Map[String, Int],
      scale: Int, shardCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0), "weights must be positive")
    require(weights.values.forall(scale % _ == 0),
      s"scale $scale must be a common multiple of the weights ${weights.values}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
    val weightCol = weights.foldLeft(lit(null).cast("int")) {
      case (acc, (src, wt)) => when(col("shard") === src, lit(wt)).otherwise(acc)
    }
    docs.select(col(shardCol).as("shard"), col(idCol))
      .withColumn("__w", weightCol)
      .filter(col("__w").isNotNull) // unweighted sources are excluded
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .withColumn("mix_key", (col("src_rank") - 1) * (lit(scale) / col("__w")).cast("long"))
      .drop("__w")
  }

  // ---- sequence packing ----------------------------------------------------

  /** Deterministic token-budget packing: within each shard, documents (in
    * id order) are laid out back-to-back and assigned to the training chunk
    * their START offset falls in — chunk_id = start_offset div budget.
    * Returns (shard, id, n_tokens, chunk_id, offset_in_chunk).
    *
    * Scale shape: ONE sort-based window per shard (partitionBy shard), so
    * packing parallelizes across shards and no global total order is ever
    * required — a Window.orderBy without partitioning would serialize the
    * whole corpus through one task. Integer arithmetic only, so any SQL
    * engine replicates it bit-for-bit. */
  /** Per-group unigram entropy of the token distribution: H = −Σ p·ln p
    * over the group's vocabulary (p = token count / group total), plus
    * the normalized form H/ln(vocab) ∈ [0,1] — the corpus-diversity
    * report behind mixture decisions (a source whose entropy collapses
    * is boilerplate- or template-dominated; normalized entropy compares
    * sources with different vocabulary sizes). Token identity is
    * [[corpusTokens]]'.
    *
    * Returns (groupCol, total_tokens, distinct_tokens, entropy,
    * norm_entropy), entropies rounded 6 dp (Σ of per-term doubles —
    * summation order differs per engine, the a5 rule). Groups with ≤ 1
    * distinct token report norm_entropy 0.
    *
    * Scale shape: the [[corpusTokenStats]] shape — one exploded
    * groupBy(group, token) with map-side combine (exchange O(vocab)),
    * one group-level agg; the corpus shuffles nothing else. */
  def corpusEntropy(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol),
      explode(corpusTokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("c"))
    val tot = vocab.groupBy(col(groupCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val p = col("c").cast("double") / col("n")
    vocab.join(tot, groupCol)
      .groupBy(col(groupCol), col("n"), col("v"))
      .agg((-sum(p * log(p))).as("h"))
      .select(col(groupCol), col("n").as("total_tokens"),
        col("v").as("distinct_tokens"),
        round(col("h"), 6).as("entropy"),
        when(col("v") > 1, round(col("h") / log(col("v").cast("double")), 6))
          .otherwise(0.0).as("norm_entropy"))
  }

  /** C4-style heuristic cleaning verdicts (Raffel et al. 2020, §2.2 —
    * public knowledge): line-level rules keep only lines that end in a
    * terminal punctuation mark (`. ! ? "`), carry at least
    * `minWordsPerLine` words, and do not mention "javascript"
    * (case-insensitive); page-level rules drop any document containing
    * "lorem ipsum" or a `{` (the code heuristic) or whose KEPT text has
    * fewer than `minSentences` sentences (terminal-mark occurrences).
    *
    * Returns (idCol, n_lines, n_kept_lines, n_sentences, has_lorem,
    * has_brace, keep, kept_text) — the verdict AND the rebuilt text, so
    * the filter composes with the rest of the pipeline either as a
    * `filter(keep)` or as a line-scrubber. Null text follows the
    * pipeline null contract: counts 0, flags false, keep false,
    * kept_text null.
    *
    * Scale shape: every column is a narrow per-row expression (split +
    * lambda filters) — no shuffle, no UDF; the corpus never moves. */
  def c4Filters(docs: DataFrame, minWordsPerLine: Int = 3,
      minSentences: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lines = filter(transform(split(t, "\n"), x => trim(x)), x => length(x) > 0)
    def keepLine(l: Column): Column =
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minWordsPerLine &&
        !contains(lower(l), lit("javascript"))
    val keptLines = filter(lines, keepLine(_))
    val keptText = array_join(keptLines, "\n")
    val nSent = (length(keptText) - length(regexp_replace(keptText, "[.!?]", ""))).cast("long")
    val hasLorem = contains(lower(t), lit("lorem ipsum"))
    val hasBrace = contains(t, lit("{"))
    docs.select(col(idCol),
      when(t.isNull, 0L).otherwise(size(lines).cast("long")).as("n_lines"),
      when(t.isNull, 0L).otherwise(size(keptLines).cast("long")).as("n_kept_lines"),
      when(t.isNull, 0L).otherwise(nSent).as("n_sentences"),
      when(t.isNull, false).otherwise(hasLorem).as("has_lorem"),
      when(t.isNull, false).otherwise(hasBrace).as("has_brace"),
      when(t.isNull, false)
        .otherwise(nSent >= minSentences && !hasLorem && !hasBrace).as("keep"),
      when(t.isNull, lit(null).cast("string")).otherwise(keptText).as("kept_text"))
  }

  /** BPE merge-rule learning (Sennrich et al. 2016) — the
    * tokenizer-training primitive: start from character symbols per
    * word (no cross-word merges, no end-of-word marker — documented
    * simplification), repeat `nMerges` times: count adjacent symbol
    * pairs across the corpus weighted by word frequency, take the most
    * frequent pair (ties → lexicographically smallest), fuse it
    * everywhere left-to-right non-overlapping. Returns the learned
    * merge table (rank, left, right, pair_count) — rank 1 = first
    * merge. Stops early when no pair remains.
    *
    * Cross-engine parity contract (the e12/e13 discipline): a word's
    * symbol state is a STRING of \u0002…\u0003-wrapped symbols, and a
    * merge applies as replace(state, wrap(x)+wrap(y) -> wrap(xy)) — plain
    * non-overlapping left-to-right string replace, which both engines
    * define identically and which IS the BPE greedy fuse (the wrappers
    * make symbol boundaries unambiguous, so "xa"+"b" can never false-
    * match "a"+"b", and adjacent fused runs re-merge exactly as BPE
    * does). Corpus tokens must not contain the two control chars.
    *
    * Scale shape: learning runs on the DISTINCT-WORD frequency table
    * (O(vocab) rows — the classic formulation), never the corpus; each
    * round is one exploded pair count (map-side combined, O(pair-vocab)
    * exchange), one 1-row argmax broadcast back, one narrow replace.
    * The driver holds nMerges rows total (the merge table — the
    * bounded-collect contract). */
  def bpeMerges(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): DataFrame = {
    require(nMerges >= 1, s"bpeMerges: nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val S = "\u0002"; val E = "\u0003"
    val words0 = docs.select(explode(corpusTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var words = words0.withColumn("repr",
        concat_ws("", transform(sequence(lit(1), length(col("w"))),
          i => concat(lit(S), substring(col("w"), i, lit(1)), lit(E)))))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var rank = 1L
    var done = false
    while (rank <= nMerges && !done) {
      // symbols between the wrappers; adjacent pairs via zip_with over
      // slices (the collocations rule — a transform lambda would
      // re-split the state string per element)
      val syms = split(expr("substring(repr, 2, length(repr) - 2)"), E + S)
      val pairs = when(size(syms) >= 2, zip_with(
          slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("x"), b.as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))
      val best = words.select(col("freq"), explode(pairs).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(desc("c"), col("x"), col("y")).limit(1)
        .collect().headOption
      best match {
        case None => done = true
        case Some(r) =>
          val (x, y, c) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += ((rank, x, y, c))
          words = words.withColumn("repr",
              expr(s"replace(repr, ${sqlLit(S + x + E + S + y + E)}, ${sqlLit(S + x + y + E)})"))
            .localCheckpoint(true)
          rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Single-quoted SQL string literal with quote doubling (symbols are
    * corpus-derived — an apostrophe token must not break the expr). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Apply a learned [[bpeMerges]] table and count REAL BPE tokens per
    * document — the honest token budgeter (vs [[tokenCountBpe]]'s
    * regex heuristic): segment every DISTINCT word by replaying the
    * merges in rank order (nMerges chained narrow replaces over the
    * O(vocab) word table — the corpus itself is never re-segmented),
    * then one word-keyed join attaches each word's symbol count to the
    * exploded corpus and a map-side sum folds per doc. Returns (idCol,
    * n_words, n_bpe_tokens); a doc with no tokens emits 0/0.
    *
    * `merges` empty (nothing learnable) degrades to character counting
    * — exactly what a BPE tokenizer with no merges does. */
  def bpeTokenCounts(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val S = "\u0002"; val E = "\u0003"
    val words = docs.select(explode(corpusTokens(col(textCol))).as("w")).distinct()
    val init = concat_ws("", transform(sequence(lit(1), length(col("w"))),
      i => concat(lit(S), substring(col("w"), i, lit(1)), lit(E))))
    val replayed = merges.foldLeft(init) { case (acc, (x, y)) =>
      call_function("replace", acc, lit(S + x + E + S + y + E), lit(S + x + y + E))
    }
    val withRepr = words.withColumn("__repr", replayed)
      .select(col("w"),
        size(split(substring(col("__repr"), lit(2), length(col("__repr")) - 2), E + S))
          .cast("long").as("ns"))
    val perDoc = docs.select(col(idCol).as("id"), explode(corpusTokens(col(textCol))).as("w"))
      .join(withRepr, "w")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_bpe_tokens"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** PMI collocation extraction (Church & Hanks 1990): adjacent token
    * pairs scored by pointwise mutual information — ln(p(w1,w2) /
    * (p(w1)·p(w2))) with pair probability over the corpus bigram total
    * and unigram probabilities over the corpus token total (the
    * [[corpusTokens]] identity, so collocations/tf-idf/surprisal share
    * one tokenizer). The classic phrase-mining / tokenizer-merge-rule
    * signal; `minCount` floors the pair count (PMI is noise-dominated
    * on rare pairs). Returns (w1, w2, c12, pmi rounded 6 dp).
    *
    * Scale shape: one exploded groupBy per vocabulary (unigram and
    * bigram — both O(vocab) exchanges, map-side combined), totals as
    * broadcast 1-row joins, the two unigram attaches keyed by word.
    * Nothing touches |corpus|² and the raw corpus shuffles only its
    * exploded tokens. */
  def collocations(docs: DataFrame, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"collocations: minCount must be >= 1, got $minCount")
    val toks = corpusTokens(col(textCol))
    // zip_with over two slices, NOT transform+element_at: higher-order
    // lambdas don't hoist outer expressions, so element_at(toks, i)
    // re-evaluates the SPLIT per element — O(words²·chars) per doc
    // (measured 7.5 s → 0.9 s at sf0.1). The slices evaluate toks a
    // constant number of times and the lambda touches only bound args.
    val pairs = when(size(toks) >= 2, zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val bg = docs.select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // both vocab tables feed two subtrees each (their total AND the
    // joins) — materialize the O(vocab) aggregates once so the corpus
    // explode runs once per table, not once per consumer
    val uni = docs.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val nTok = uni.agg(sum(col("c")).as("nt"))
    val pairFreq = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val nPair = pairFreq.agg(sum(col("c12")).as("np"))
    pairFreq.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / col("np")) /
          ((col("c1").cast("double") / col("nt")) *
            (col("c2").cast("double") / col("nt")))), 6).as("pmi"))
  }

  /** TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over the
    * corpus-level word co-occurrence graph — adjacent-token pairs (the
    * [[collocations]] window-2 contract), canonicalized undirected,
    * kept above `minCount`, then `numIter` damped PR rounds exactly in
    * the a5 [[graft.analytics.GraphAnalytics.pageRankStatic]] form
    * (0.15 + 0.85·Σ rank/outdeg, start 1.0, final ×|V|/Σ normalization,
    * 6-dp round). Composes the engine's two halves: a text pipeline
    * builds a graph, the graph machinery ranks it.
    *
    * Returns (word, rank) for every vocabulary word that survives the
    * minCount edge filter. Top keywords = ORDER BY rank DESC.
    *
    * Scale shape: pair extraction is narrow per-row (zip_with over
    * slices — the lambda-recompute rule); the edge aggregation is one
    * (w1, w2)-keyed map-side-combined count whose result is VOCAB-,
    * not corpus-, sized; the PR rounds then run entirely on that small
    * graph (two hash joins + one agg per round, stride-2 lineage cuts).
    * The corpus is touched exactly twice (pairs + nothing else). */
  def textRankKeywords(docs: DataFrame, numIter: Int = 5, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(numIter >= 1, s"textRankKeywords: numIter must be >= 1, got $numIter")
    require(minCount >= 1, s"textRankKeywords: minCount must be >= 1, got $minCount")
    val toks = corpusTokens(col(textCol))
    val pairs = when(size(toks) >= 2, zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val canon = docs.select(explode(pairs).as("p"))
      .filter(col("p.w1") =!= col("p.w2"))
      .select(least(col("p.w1"), col("p.w2")).as("a"),
        greatest(col("p.w1"), col("p.w2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("a"), col("b")).localCheckpoint(true)
    val edges = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val verts = edges.select(col("src").as("id")).distinct().localCheckpoint(true)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // outdeg attached ONCE — the per-round join then carries (src, dst, d)
    val w = edges.join(outdeg, "src").localCheckpoint(true)
    var pr = verts.select(col("id"), lit(1.0).as("rank"))
    for (i <- 1 to numIter) {
      val m = w.join(pr, w("src") === pr("id"))
        .groupBy(w("dst").as("id")).agg(sum(col("rank") / col("d")).as("s"))
      pr = verts.join(m, Seq("id"), "left")
        .select(col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("rank"))
      if (i % 2 == 0 || i == numIter) pr = pr.localCheckpoint(true)
    }
    val nv = verts.agg(count(lit(1)).as("nv"))
    val tot = pr.agg(sum(col("rank")).as("tot"))
    pr.crossJoin(broadcast(nv)).crossJoin(broadcast(tot))
      .select(col("id").as("word"),
        round(col("rank") * col("nv") / col("tot"), 6).as("rank"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    * public knowledge): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (`#` and `...` load), fraction of words with
    * at least one alphabetic character, fraction of lines starting with
    * a bullet / ending with an ellipsis, and a required-stopword count
    * (≥ `minStopHits` DISTINCT members of the canonical eight-word list
    * must appear as whole lowercased words). The complement of
    * [[c4Filters]]: C4 cleans LINES, Gopher rejects DOCUMENTS.
    *
    * Returns (idCol, n_words, mean_word_len, symbol_ratio,
    * alpha_word_frac, bullet_frac, ellipsis_frac, stop_hits, keep) —
    * every rule's feature is emitted beside the verdict so thresholds
    * can be re-tuned downstream without recomputing the corpus. Ratios
    * round 6 dp (the cross-engine double-division convention). Null
    * text: counts 0, ratios 0.0, keep false (the pipeline null
    * contract).
    *
    * Scale shape: narrow per-row expressions only (split + higher-order
    * array functions, all codegen'd) — no shuffle, no UDF; like
    * [[c4Filters]] the corpus never moves. */
  def gopherFilters(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaWordFrac: Double = 0.8,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minStopHits: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val t = col(textCol)
    val words = filter(split(trim(t), "\\s+"), w => length(w) > 0)
    val nW = size(words).cast("long")
    val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    // '#' and literal '...' counts via length-diff over non-overlapping
    // left-to-right replace — the one string-count idiom DuckDB and
    // Spark define identically (regex counts differ on overlap rules)
    val nHash = length(t) - length(expr(s"replace(`$textCol`, '#', '')"))
    val nEll = ((length(t) - length(expr(s"replace(`$textCol`, '...', '')"))) / 3).cast("long")
    val nAlphaW = size(filter(words, w => w.rlike("[A-Za-z]")))
    val lines = filter(transform(split(t, "\n"), x => trim(x)), x => length(x) > 0)
    val nL = size(lines)
    val nBullet = size(filter(lines, l => l.rlike("^[-*]")))
    val nEllLine = size(filter(lines, l => l.rlike("\\.\\.\\.$")))
    val lowWords = transform(words, w => lower(w))
    val stopHits = size(filter(array(required.map(lit): _*),
      s => array_contains(lowWords, s))).cast("long")
    val meanLen = when(nW > 0, round(sumLen.cast("double") / nW, 6)).otherwise(0.0)
    val symRatio = when(nW > 0, round((nHash + nEll).cast("double") / nW, 6)).otherwise(0.0)
    val alphaFrac = when(nW > 0, round(nAlphaW.cast("double") / nW, 6)).otherwise(0.0)
    val bulletFrac = when(nL > 0, round(nBullet.cast("double") / nL, 6)).otherwise(0.0)
    val ellipsisFrac = when(nL > 0, round(nEllLine.cast("double") / nL, 6)).otherwise(0.0)
    docs.select(col(idCol),
      when(t.isNull, 0L).otherwise(nW).as("n_words"),
      when(t.isNull, 0.0).otherwise(meanLen).as("mean_word_len"),
      when(t.isNull, 0.0).otherwise(symRatio).as("symbol_ratio"),
      when(t.isNull, 0.0).otherwise(alphaFrac).as("alpha_word_frac"),
      when(t.isNull, 0.0).otherwise(bulletFrac).as("bullet_frac"),
      when(t.isNull, 0.0).otherwise(ellipsisFrac).as("ellipsis_frac"),
      when(t.isNull, 0L).otherwise(stopHits).as("stop_hits"),
      when(t.isNull, false).otherwise(
        nW >= minWords && nW <= maxWords &&
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
        symRatio <= maxSymbolRatio && alphaFrac >= minAlphaWordFrac &&
        bulletFrac <= maxBulletFrac && ellipsisFrac <= maxEllipsisFrac &&
        stopHits >= minStopHits).as("keep"))
  }

  /** Exact corpus-wide heavy hitters: every token whose count is ≥
    * `phi`·N (N = total token count, [[corpusTokens]] identity) →
    * (tok, cnt, frac), frac = cnt/N. One exploded groupBy(token)
    * (map-side combined — the exchange is O(vocab), not O(tokens)) with
    * the corpus total attached as a broadcast 1-row join (the
    * [[unigramSurprisal]] scalar idiom, never a driver collect).
    *
    * The exchange being O(vocab) is exactly what breaks at 100 TB when
    * the vocabulary itself is huge (URLs, hashes, typo-space):
    * [[heavyHittersSketch]] is the bounded-memory route with the SAME
    * output contract. */
  def heavyHitters(docs: DataFrame, phi: Double,
      textCol: String = "text"): DataFrame = {
    require(phi > 0 && phi <= 1, s"heavyHitters: phi must be in (0,1], got $phi")
    val toks = docs.select(explode(corpusTokens(col(textCol))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("tot"))
    freq.crossJoin(broadcast(total))
      .filter(col("cnt") >= col("tot") * phi)
      .select(col("tok"), col("cnt"), (col("cnt") / col("tot")).as("frac"))
  }

  /** Heavy hitters via two-pass Misra–Gries (Misra & Gries 1982; the
    * distributed form of Agarwal et al.'s mergeable-summaries result):
    * pass 1 runs an independent k-counter MG summary INSIDE each
    * partition (bounded memory k entries, zero shuffle) and unions the
    * surviving candidate tokens; pass 2 recounts ONLY the candidates
    * (broadcast semi-join — the shuffle is O(candidates) ≤
    * O(partitions·k), never O(vocab)) and applies the exact φ·N filter.
    *
    * Guarantee: a token with global count > N/(k+1) exceeds n_p/(k+1)
    * in at least one partition (averaging argument) and so survives
    * that partition's summary. With the default k = ⌈2/φ⌉ every true
    * φ-heavy hitter is a candidate, and since pass 2 recounts exactly,
    * the output EQUALS [[heavyHitters]] on any corpus — pinned by unit
    * test on a skewed large-vocab fixture. The sketch trades one extra
    * corpus scan for never shuffling the vocabulary. */
  def heavyHittersSketch(docs: DataFrame, phi: Double,
      textCol: String = "text", sketchSize: Int = 0): DataFrame = {
    require(phi > 0 && phi <= 1, s"heavyHittersSketch: phi must be in (0,1], got $phi")
    val k = if (sketchSize > 0) sketchSize else math.max(8, math.ceil(2.0 / phi).toInt)
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(corpusTokens(col(textCol))).as("tok"))
    val candidates = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap[String, Long]()
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < k => counters.update(t, 1L)
          case None =>
            // decrement-all step: snapshot first — mutating a mutable
            // map mid-iteration is undefined behavior in Scala
            counters.toList.foreach { case (key, c) =>
              if (c == 1) counters.remove(key) else counters.update(key, c - 1)
            }
        }
      }
      counters.keysIterator
    }.toDF("tok").distinct()
    val freq = toks.join(broadcast(candidates), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // N is the FULL token count (not the candidates'): one count agg
    val total = toks.agg(count(lit(1)).as("tot"))
    freq.crossJoin(broadcast(total))
      .filter(col("cnt") >= col("tot") * phi)
      .select(col("tok"), col("cnt"), (col("cnt") / col("tot")).as("frac"))
  }

  /** Multinomial Naive Bayes source/label classifier, trained and scored
    * on the corpus itself — the classic fastText-era quality/provenance
    * classifier shape (a linear model over token counts) reduced to pure
    * aggregations, which is what makes it both 100 TB-scalable and
    * oracle-replicable. Add-one (Laplace) smoothing over the corpus
    * vocabulary; per-doc score(c) = ln P(c) + Σ_tok tf·ln P(tok|c);
    * prediction = argmax with smaller-label tie-break. Emits
    * (idCol, predicted, score) with score rounded to 4 dp (the a5/a11
    * precedent: rounding absorbs double-summation order between
    * engines; argmax itself uses the unrounded scores, where an
    * engine-order fp divergence would need two classes within ~1e-11 to
    * flip).
    *
    * Scale shape: tokenization explodes once (|corpus tokens| rows,
    * narrow); tf / per-class counts / class totals are map-side-combined
    * aggregations; the dense likelihood table is |vocab|·|classes| rows
    * built from a broadcast of the |classes|-row totals; scoring is ONE
    * hash join keyed on token (tf ⋈ likelihood) followed by a
    * (doc, class)-keyed partial-agg sum. No all-pairs stage; the only
    * |corpus|-proportional exchanges are the tf and score aggregations. */
  def naiveBayesClassify(docs: DataFrame, labelCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(labelCol).as("cls"),
        explode(corpusTokens(col(textCol))).as("tok"))
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val ctok = toks.groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("cnt"))
    val ctot = toks.groupBy(col("cls")).agg(count(lit(1)).as("tot"))
    val vocab = toks.select(col("tok")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    // priors from DOC counts (not token counts) — ln(n_docs_c / n_docs)
    val nd = docs.filter(col(textCol).isNotNull)
    val prior = nd.groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("ndc"))
      .crossJoin(broadcast(nd.agg(count(lit(1)).as("ndt"))))
      .select(col("cls"), log(col("ndc").cast("double") / col("ndt")).as("lp"))
    // dense |vocab|×|classes| likelihood: unseen (cls, tok) smooths to
    // ln(1 / (tot_c + V)) via the left join's COALESCE(cnt, 0)
    val lik = vocab.crossJoin(broadcast(ctot)).crossJoin(broadcast(vsize))
      .join(ctok, Seq("cls", "tok"), "left")
      .select(col("cls"), col("tok"),
        log((coalesce(col("cnt"), lit(0L)) + lit(1.0)) / (col("tot") + col("v"))).as("llh"))
    // the likelihood table is the MODEL (|vocab|·|classes| rows,
    // vocabulary-bounded) — broadcast it EXPLICITLY. Left to cost
    // estimates, the bench-scale planner inverted the join (tf under
    // the threshold → BuildLeft) and streamed the few-thousand-row lik
    // side as ONE partition, producing the entire |tf|·|classes| score
    // stream in a single 18.8 s task (the top sf1 find of SCALING.md
    // "Round 18: the … sweep, industrialized (all 157 gates)").
    // Broadcasting the model and streaming tf is also the
    // 100 TB shape: tf is corpus-sized and never broadcastable, the
    // model ships to workers — the fastText-classifier deployment
    // assumption. (A 2^20-vocab × 100-class model outgrows broadcast;
    // at that point swap the explicit hint for a tok-keyed shuffle
    // join — the score math is unchanged.)
    val scored = tf.join(broadcast(lik), Seq("tok"))
      .groupBy(col(idCol), col("cls")).agg(sum(col("tf") * col("llh")).as("ll"))
      .join(broadcast(prior), Seq("cls"))
      .select(col(idCol), col("cls"), (col("ll") + col("lp")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("s").desc, col("cls").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("cls").as("predicted"), round(col("s"), 4).as("score"))
  }

  /** Overlapping token-window chunking — the RAG/context-window ingestion
    * primitive: split each doc into windows of `chunkTokens` corpus
    * tokens with `overlapTokens` shared between consecutive windows
    * (stride = chunk − overlap). Returns one row per chunk:
    * (idCol, chunk_idx, n_tokens, chunk_text), chunk_text re-joined with
    * single spaces (the [[corpusTokens]] convention — original whitespace
    * runs are NOT preserved; this is the tokenized view).
    *
    * Window count = max(1, ceil((n − overlap) / stride)): every token is
    * covered, each window beyond the first starts `overlap` tokens
    * before fresh material, the tail window may be short. Docs with no
    * tokens (null/empty/whitespace text) yield no rows.
    *
    * Scale shape: one narrow lambda pipeline per row (tokenize →
    * per-window slice → explode) — chunking 100 TB is a map over the
    * scan, no shuffle, no UDF; the t41 oracle replays the same window
    * arithmetic in SQL. [[packSequences]] is the complementary op
    * (many docs → one budgeted sequence; this is one doc → many
    * windows). */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 512,
      overlapTokens: Int = 64, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"chunkDocuments: need 0 <= overlap < chunk, got chunk=$chunkTokens overlap=$overlapTokens")
    val stride = chunkTokens - overlapTokens
    val toks = corpusTokens(col(textCol))
    val n = size(toks)
    val nChunks = greatest(lit(1L),
      ceil((n - lit(overlapTokens)).cast("double") / lit(stride)).cast("long"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__tk"), n.as("__n"), nChunks.as("__c"))
      .filter(col("__n") > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L), col("__c") - 1L),
        i => slice(col("__tk"), (i * stride + 1L).cast("int"), lit(chunkTokens)))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  def packSequences(docs: DataFrame, budgetTokens: Long, tokens: Column,
      shardCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(col(shardCol).as("shard"), col(idCol), tokens.cast("long").as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_id", expr(s"CAST((__cum - n_tokens) DIV $budgetTokens AS BIGINT)"))
      .withColumn("offset_in_chunk", expr(s"CAST((__cum - n_tokens) % $budgetTokens AS BIGINT)"))
      .drop("__cum")
  }
}
