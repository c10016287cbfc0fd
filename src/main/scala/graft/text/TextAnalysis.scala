package graft.text

import graft.{Cols, Tables}
import graft.Cols.dec38
import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (language ID, quality scoring, token and n-gram
  * statistics, language models, decontamination, mixture sampling). All
  * pure column expressions (codegen'd, no UDFs), so filters and
  * projections push into the parquet reader.
  *
  * The operators are composed from shared stages, each defined once in
  * this object: the doc-term explode ([[tokenRows]]) and the token-array
  * n-gram explode ([[tokenArrays]], [[gramRows]]); the frequency table
  * and its TakeOrdered top-V cut ([[freq]], [[topV]]); 1-row corpus
  * scalars broadcast onto a table ([[withScalars]]); the deterministic
  * split tag and the held-out probe against a train vocabulary
  * ([[tagSplit]], [[heldOut]]); and largest-remainder apportionment
  * ([[remainderRanked]]).
  *
  * Scale: most queries are one token scan into hash aggregates at
  * vocabulary grain, with corpus constants joined as broadcast 1-row
  * scalars, never collected by a driver-side job. The wider shapes are
  * named on their operators: the posting-list pair joins
  * ([[tfidfDocSimilarity]], [[winnowOverlap]]), the checkpointed BPE
  * merge loop ([[bpeMerges]]) and the Kneser–Ney type tables
  * ([[knBigram]], [[knTrigram]]).
  */
object TextAnalysis {

  /** Small English stopword list used by the language-ID heuristic and the
    * quality score. Deterministic and engine-portable (plain IN list).
    */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "on", "for", "with")

  private def stopwordArray: Column = array(Stopwords.map(lit): _*)

  /** Share of the tokens in `toks` that are [[Stopwords]]. */
  private def stopwordRatio(toks: Column): Column =
    size(filter(toks, t => array_contains(stopwordArray, t))).cast("double") /
      size(toks).cast("double")

  /** Whitespace-token count of a document's text. */
  private def nTokens: Column = size(Cols.tokens(col("text"))).cast("long")

  /** `docs` spread over the session's default parallelism before a token
    * scan, so the explode after it never runs on a single-split scan's
    * one task. Unconditional, unlike [[graft.Tables.fanOutScan]], which
    * repartitions only a scan narrower than that parallelism.
    */
  private def fanOut(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)

  /** The doc-term explode: one row per token occurrence, `keys` and the
    * token as `name`. */
  private def tokenRows(docs: DataFrame, name: String, keys: String*): DataFrame =
    docs.select(keys.map(col) :+ explode(Cols.tokens(col("text"))).as(name): _*)

  /** `keys` and the token array as `toks`, projected BEFORE any n-gram
    * lambda reads it: referencing the tokenize subtree inside transform()
    * re-evaluates the regex/split per index when the stage falls out of
    * whole-stage codegen (the [[Cols.shinglesOfTokens]] discipline).
    */
  private def tokenArrays(docs: DataFrame, keys: String*): DataFrame =
    docs.select(keys.map(col) :+ Cols.tokens(col("text")).as("toks"): _*)

  /** One row per word `n`-gram occurrence of the `toks` arrays: `keys`
    * and the gram as `name`. */
  private def gramRows(toks: DataFrame, n: Int, name: String, keys: String*): DataFrame =
    toks.select(keys.map(col) :+ explode(Cols.ngramsOfTokens(col("toks"), n)).as(name): _*)

  /** `grams` with the `n` words of its `gram` column as `w1` … `wn`. */
  private def withGramWords(grams: DataFrame, n: Int): DataFrame =
    (1 to n).foldLeft(grams)((g, i) =>
      g.withColumn(s"w$i", split(col("gram"), " ").getItem(i - 1)))

  /** The frequency table: row count of `rows` per `keys`, as `n`. */
  private def freq(rows: DataFrame, n: String, keys: String*): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as(n))

  /** The `v` most frequent `key` values of `rows` with their counts `n`
    * (count desc, key asc). `orderBy().limit(v)` plans
    * TakeOrderedAndProject: per-partition heaps, never a global sort or a
    * single-partition window over the vocabulary.
    */
  private def topV(rows: DataFrame, key: String, n: String, v: Int): DataFrame =
    freq(rows, n, key).orderBy(col(n).desc, col(key)).limit(v)

  /** `table` with the one row of `of.agg(aggs)` broadcast onto every row:
    * corpus constants stay in the plan, with no driver-side job. */
  private def withScalars(table: DataFrame, of: DataFrame, aggs: Column*): DataFrame =
    table.crossJoin(broadcast(of.agg(aggs.head, aggs.tail: _*)))

  /** Hash bucket of `x` in [0, n): content-free and identical on any engine. */
  private def hashBucket(x: Column, n: Long): Column = pmod(Cols.hash60(x), lit(n))

  /** [[hashBucket]] of the doc id under `salt`: different salts give
    * independent draws. */
  private def docBucket(salt: String, n: Long): Column =
    hashBucket(concat(lit(salt), col("doc_id").cast("string")), n)

  /** `rows` joined to each document's [[splitAssign]] split. */
  private def tagSplit(rows: DataFrame, docs: DataFrame): DataFrame =
    rows.join(splitAssign(docs).select(col("doc_id"), col("split")), "doc_id")

  /** The train and test splits of `docs`: the train split stands in for
    * a training corpus, the test split for a held-out benchmark suite. */
  private def trainTest(docs: DataFrame): (DataFrame, DataFrame) = {
    val tagged = tagSplit(docs, docs)
    (tagged.filter(col("split") === "train"), tagged.filter(col("split") === "test"))
  }

  /** The held-out probe: the held-out (non-train) rows of split-tagged
    * `rows`, left-joined on `key` to `vocab` of the train rows, grouped
    * by `by`. */
  private def heldOut(rows: DataFrame, key: String, by: String*)(
      vocab: DataFrame => DataFrame): RelationalGroupedDataset =
    rows.filter(col("split") =!= "train")
      .join(vocab(rows.filter(col("split") === "train")), Seq(key), "left")
      .groupBy(by.map(col): _*)

  /** The `key` values of `rows` that occur in at most `maxDf` rows (per
    * `by` group) with that count as `__df`: the df-cap that drops
    * boilerplate keys, which carry no signal and dominate probe cost. */
  private def dfCapped(rows: DataFrame, key: String, maxDf: Long, by: String*): DataFrame =
    freq(rows, "__df", key +: by: _*).filter(col("__df") <= maxDf)

  /** The floor share `__base` and remainder `__rem` of `num / den`, the
    * inputs of [[remainderRanked]]. */
  private def floorShares(num: Column, den: Column): Seq[Column] =
    Seq(Cols.floorDiv(num, den).as("__base"), (num % den).as("__rem"))

  /** Largest-remainder apportionment of `budget` over `parts`, which
    * carries [[floorShares]]: adds the leftover `__deficit = budget −
    * Σ __base` and each part's remainder rank `__rk` (remainder desc,
    * `tieKey` asc); [[apportioned]] is then the exact quota. The rank
    * window runs over the parts table, bounded by the group count. */
  private def remainderRanked(parts: DataFrame, budget: Long, tieKey: String): DataFrame =
    withScalars(parts, parts, (lit(budget) - sum(col("__base"))).as("__deficit"))
      .withColumn("__rk", row_number().over(Window.orderBy(col("__rem").desc, col(tieKey))))

  /** A part's quota after [[remainderRanked]]: the floor share plus one
    * leftover unit for the `__deficit` largest remainders, so the quotas
    * sum to exactly the budget. */
  private def apportioned: Column =
    col("__base") + when(col("__rk") <= col("__deficit"), 1L).otherwise(0L)

  /** Per-`by` row count `n`, the `extra` aggregates, the sum of the e4
    * scores `q` as `sum_<x>_e4` and its exact floor mean `avg_<x>_e4`. */
  private def meanE4(scored: DataFrame, by: Seq[String], n: String, x: String, q: String,
                     extra: Column*): DataFrame =
    scored.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as(n), extra :+ sum(col(q)).as(s"sum_${x}_e4"): _*)
      .withColumn(s"avg_${x}_e4", Cols.floorDiv(col(s"sum_${x}_e4"), col(n)))

  /** `⌊num·10⁴ / den⌋`, or 0 when `den` is 0. */
  private def fracE4(num: String, den: String): Column =
    when(col(den) > 0, Cols.floorDiv(col(num) * 10000L, col(den))).otherwise(0L)

  /** Tokenizer fertility by (source, lang): total tokens against the raw
    * character budget — `tokens_per_char_e6` and its reciprocal
    * `chars_per_token_e4` — the numbers a token-budgeted training run
    * quotes per corpus slice ("this source yields N tokens per GB").
    * Uses the shared whitespace tokenizer ([[graft.Cols.tokens]]) over
    * normalized text and the table's declared `n_chars` as the budget,
    * so the ratio is storage-cost-per-token, not normalized-length.
    *
    * Scale: one map-side token count per document (the array is sized,
    * never exploded), one hash aggregate to |source × lang| rows.
    */
  def fertility(docs: DataFrame): DataFrame =
    docs
      .select(
        col("source"), col("lang"), col("n_chars"), nTokens.as("__toks"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        Cols.floorDiv(sum(col("__toks")) * 1000000L, sum(col("n_chars")))
          .as("tokens_per_char_e6"),
        Cols.floorDiv(sum(col("n_chars")) * 10000L, sum(col("__toks")))
          .as("chars_per_token_e4"))

  /** Per-document stats: exact lengths, token counts, type-token ratio,
    * stopword ratio, and average token length.
    *
    * avg token length is computed arithmetically from the normalized length
    * (total chars minus separators over token count) — identical in SQL and
    * cheaper than a second pass over the token array.
    */
  def docStats(docs: DataFrame): DataFrame = {
    val norm = Cols.normalizeText(col("text"))
    val toks = Cols.tokens(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nTokens.as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      round(
        (length(norm) - (size(toks) - lit(1))).cast("double") / size(toks).cast("double"),
        4).as("avg_token_len"),
      round(stopwordRatio(toks), 4).as("stopword_ratio"),
      round(
        size(array_distinct(toks)).cast("double") / size(toks).cast("double"),
        4).as("type_token_ratio"))
  }

  /** Quality score in [0,1]: blend of length band, stopword presence, and
    * lexical diversity — the shape of a pretraining quality filter, with
    * deterministic arithmetic so the oracle can replay it.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    docStats(docs).select(
      col("doc_id"),
      round(
        (when(col("n_tokens").between(20, 1000), lit(0.4)).otherwise(lit(0.0)) +
          when(col("stopword_ratio") > 0.02, lit(0.3)).otherwise(lit(0.0)) +
          when(col("type_token_ratio") > 0.3, lit(0.3)).otherwise(lit(0.0))),
        2).as("quality"))

  /** Language-ID heuristic: stopword hit-rate thresholding. On synthetic
    * corpora this is a self-consistent deterministic labeler (the point is
    * the operator shape, not linguistic accuracy).
    */
  def langId(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("lang").as("lang_declared"),
      when(stopwordRatio(Cols.tokens(col("text"))) >= 0.05, lit("en"))
        .otherwise(lit("other")).as("lang_pred"))

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (alpha runs, digit runs, and non-alphanumeric singles — the classic
    * pre-tokenizer split), plus a 4-chars-per-subword ceiling estimate.
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val norm = Cols.normalizeText(col("text"))
    val toks = Cols.tokens(col("text"))
    docs.select(
      col("doc_id"),
      nTokens.as("ws_tokens"),
      regexp_count(norm, lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("bpe_ish_tokens"),
      aggregate(
        toks,
        lit(0L),
        (acc, t) => acc + ceil(length(t).cast("double") / lit(4.0)).cast("long"))
        .as("subword_est"))
  }

  /** Document fingerprint: min-hash over word 3-gram shingles (a 1-permutation
    * MinHash — the rolling-hash-flavored fingerprint). Equal fingerprints ⇒
    * near-identical shingle sets with high probability; used as a cheap
    * near-dup blocking key at scale.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    // explode + group-min instead of array_min(transform(...)): the
    // per-element lambda evaluates md5 interpreted (no codegen inside
    // array HOFs), while the exploded scalar hash is codegen'd — ~3x
    // faster at sf0.1 for the identical result. The left join keeps
    // sub-shingle-width docs as null-fingerprint rows (oracle parity
    // with list_min of an empty list).
    val mins = Dedup.shingleRows(docs)
      .groupBy(col("doc_id"))
      .agg(min(Cols.hash60(col("shingle"))).as("fingerprint"))
    docs.select(col("doc_id")).join(mins, Seq("doc_id"), "left")
  }

  /** TF-IDF top terms per document: tf = in-doc occurrences, idf =
    * ln(N/df) over the corpus, top-k by rounded score with alphabetical
    * tie-break (rounding first keeps the ranking identical across
    * engines' last-ulp log differences).
    *
    * Shape at scale: one explode + two hash aggregates + a broadcast of
    * the (tiny) per-term df table + one window over doc_id.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    // corpus size (the classic IDF constant) stays IN-PLAN: a broadcast
    // 1-row count cross-joined into the scored table — no eager
    // driver-side docs.count() job (VERDICT r3 #4), so the operator
    // composes lazily.
    val tf = freq(tokenRows(fanOut(docs), "term", "doc_id"), "tf", "doc_id", "term")
    val df = freq(tf, "df", "term")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    withScalars(tf.join(broadcast(df), "term"), docs, count(lit(1)).as("__corpus_n"))
      .withColumn("tfidf",
        round(col("tf") * log(col("__corpus_n").cast("double") / col("df")), 4))
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("term_rank"))
  }

  /** Pairwise document similarity: cosine over the top-k TF-IDF term
    * vectors — the document-level near-dup/clustering signal a training
    * pipeline derives from [[tfidfTopTerms]].
    *
    * Shape at scale: a posting-list join on shared top-terms (the sparse
    * dot product — only pairs sharing ≥1 top term are ever scored), with
    * terms that are top-terms in more than `maxTermDfFraction` of the
    * corpus dropped from the join: they are the low-IDF mass whose
    * posting lists go quadratic, and they contribute least to high-cosine
    * pairs. Norms are computed on the UNCAPPED vectors so the cosine
    * stays honest; the cap only limits which pairs become candidates.
    *
    * Scores are quantized to integer ten-thousandths (tfidf is already
    * rounded to 4dp) so dots and norms are exact integer sums —
    * bit-identical across engines and summation orders.
    */
  def tfidfDocSimilarity(
      docs: DataFrame,
      k: Int = 5,
      threshold: Double = 0.8,
      maxTermDfFraction: Double = 0.05): DataFrame = {
    // the top-terms index (k small rows per doc) feeds norms, the df-cap,
    // and both join sides; recompute beats cache() at bench scale (cache
    // materialization serializes the branches), and at 100 TB you'd
    // persist this index to storage rather than executor memory anyway.
    // Like the IDF constant, the df-cap threshold is computed in-plan
    // (broadcast 1-row corpus count) — no driver-side count() job.
    val top = tfidfTopTerms(docs, k)
      .select(col("doc_id"), col("term"), round(col("tfidf") * 10000).cast("long").as("q"))
    val norms = top.groupBy(col("doc_id")).agg(sum(col("q") * col("q")).as("norm2"))
    val rare = withScalars(freq(top, "term_df", "term"), docs, count(lit(1)).as("__cap_n"))
      .filter(col("term_df") <= ceil(lit(maxTermDfFraction) * col("__cap_n")))
      .select(col("term"))
    val topf = top.join(rare, "term")
    val dots = topf.as("a")
      .join(topf.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(
        sum(col("a.q") * col("b.q")).as("dot"),
        count(lit(1)).as("n_common_terms"))
    dots
      .join(norms.as("na"), col("doc_id_1") === col("na.doc_id"))
      .join(norms.as("nb"), col("doc_id_2") === col("nb.doc_id"))
      .select(
        col("doc_id_1"),
        col("doc_id_2"),
        col("n_common_terms"),
        round(
          col("dot").cast("double") /
            (sqrt(col("na.norm2").cast("double")) * sqrt(col("nb.norm2").cast("double"))),
          6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Deterministic train/valid/test assignment: a content-free hash of the
    * doc id buckets 0-99 → 80/10/10. Replays identically on any engine and
    * any run — the property a training pipeline needs from its splitter.
    */
  def splitAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), docBucket("split:", 100L).as("bucket"))
      .withColumn(
        "split",
        when(col("bucket") < 80, lit("train"))
          .when(col("bucket") < 90, lit("valid"))
          .otherwise(lit("test")))

  /** Held-out OOV (out-of-vocabulary) rate against a train-split vocab —
    * the tokenizer/vocab coverage eval a training pipeline runs before
    * freezing a word list: the vocabulary is the top `vocabSize` train
    * terms (frequency desc, term asc — deterministic), and each held-out
    * split reports its exact token and OOV-token counts plus the e4 rate.
    * Composes [[splitAssign]] (content-free hash split) with the shared
    * tokenizer ([[Cols.tokens]]); everything is integer-exact.
    *
    * Scale: token scan → hash agg to |distinct train terms| rows; the
    * top-V cut is `orderBy().limit(V)` — TakeOrderedAndProject,
    * per-partition heaps, never a global sort of the vocabulary (a 100 TB
    * corpus has billions of distinct terms; funneling them through one
    * window partition is the anti-pattern WindowGuardSpec bans). The
    * held-out probe joins against the broadcast V-row vocab — bounded by
    * V, never by the corpus.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000): DataFrame =
    heldOut(tagSplit(tokenRows(docs, "term", "doc_id"), docs), "term", "split")(train =>
      broadcast(topV(train, "term", "freq", vocabSize)
        .select(col("term"), lit(1L).as("__in_vocab"))))
      .agg(
        count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
      .select(
        col("split"), col("n_docs"), col("n_tokens"), col("n_oov"),
        Cols.floorDiv(col("n_oov") * 10000L, col("n_tokens")).as("oov_e4"))

  /** Vocabulary-size coverage curve: held-out token coverage at several
    * vocab cutoffs (top-5/10/20/40 train terms on the 31-term synthetic
    * fixtures; production would sweep 8k/16k/32k/64k) in one pass — the
    * "how big does the word list need to be" sweep behind tokenizer
    * sizing, generalizing [[oovRate]] from one point to the curve. The
    * train ranking is computed once at the largest cutoff; each held-out
    * token joins to its term's rank and the per-cutoff counts are
    * conditional aggregates over that single joined table.
    *
    * Scale: identical posture to [[oovRate]] — TakeOrdered top-max(cutoffs)
    * over the aggregated distinct-term table, rank values recomputed on
    * the bounded result, and the probe joins a broadcast max(cutoffs)-row
    * vocab. One extra constant-size explode unpivots the cutoff columns
    * into rows.
    */
  def vocabCoverage(
      docs: DataFrame,
      cutoffs: Seq[Int] = Seq(5, 10, 20, 40)): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.forall(_ >= 1), "vocab cutoffs must be positive")
    val w = Window.orderBy(col("freq").desc, col("term"))
    // top-max(cutoffs) via TakeOrdered, then re-rank the bounded result:
    // the window sorts cutoffs.max rows, not the train vocabulary
    val counts = heldOut(tagSplit(tokenRows(docs, "term", "doc_id"), docs), "term", "split")(
      train => broadcast(topV(train, "term", "freq", cutoffs.max)
        .withColumn("term_rank", row_number().over(w).cast("long"))
        .select(col("term"), col("term_rank"))))
      .agg(
        count(lit(1)).as("n_tokens"),
        cutoffs.map(v => count(when(col("term_rank") <= v, 1)).as(s"__c_$v")): _*)
    counts
      .select(
        col("split"), col("n_tokens"),
        explode(array(cutoffs.map(v =>
          struct(lit(v.toLong).as("vocab_size"), col(s"__c_$v").as("n_covered"))): _*))
          .as("__c"))
      .select(
        col("split"), col("__c.vocab_size"), col("n_tokens"), col("__c.n_covered"),
        Cols.floorDiv(col("__c.n_covered") * 10000L, col("n_tokens")).as("coverage_e4"))
  }

  /** Heaps-law fit over the [[vocabGrowth]] curve: vocabulary grows as
    * `V(n) ≈ K·n^β`, so a robust line through the (ln n_tokens, ln vocab)
    * points gives the corpus's β (sublinearity exponent — natural text
    * sits near 0.4–0.6; β ≈ 1 means near-duplicate-free random ids, β ≈ 0
    * a fixed template vocabulary) and ln K. The fit is Theil–Sen — the
    * lower median of the ≤ C(buckets,2) pairwise slopes (the
    * [[graft.ops.Stats.madAnomalies]] exact lower-median idiom, no
    * midpoint averaging) — and the intercept is the lower median of the
    * per-point residuals at that β. Logs quantize to e6 BEFORE any
    * arithmetic (round(ln·1e6), the quantize-then-sum contract), so every
    * slope is an exact integer ratio and both engines agree bit-for-bit.
    *
    * Scale: rides vocabGrowth's aggregates; everything after is a
    * |buckets|-row (10) table — the all-pairs slope join is 45 rows
    * (declared bounded, the ev_theil_sen class), the medians fold sorted
    * 45-element arrays, and β broadcasts back as a 1-row scalar.
    */
  def heapsFit(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val pts = vocabGrowth(docs, buckets)
      .filter(col("n_tokens") > 0 && col("vocab") > 0)
      .select(
        round(log(col("n_tokens").cast("double")) * 1000000).cast("long").as("__lt"),
        round(log(col("vocab").cast("double")) * 1000000).cast("long").as("__lv"))
    val slopes = pts.select(col("__lt").as("__lt1"), col("__lv").as("__lv1"))
      .join(
        pts.select(col("__lt").as("__lt2"), col("__lv").as("__lv2")),
        col("__lt1") < col("__lt2"))
      .select(Cols.floorDiv(
        (col("__lv2") - col("__lv1")) * 1000000L,
        col("__lt2") - col("__lt1")).as("__s"))
    withScalars(pts, slopes,
      count(lit(1)).as("n_pairs"), Cols.lowerMedian(col("__s")).as("beta_e6"))
      .select(
        col("n_pairs"), col("beta_e6"),
        (col("__lv") - Cols.floorDiv(col("beta_e6") * col("__lt"), 1000000L)).as("__r"))
      .groupBy(col("n_pairs"), col("beta_e6"))
      .agg(count(lit(1)).as("n_points"), Cols.lowerMedian(col("__r")).as("ln_k_e6"))
      .select(col("n_points"), col("n_pairs"), col("beta_e6"), col("ln_k_e6"))
  }

  /** Heaps-law vocabulary-GROWTH curve: the corpus is cut into `buckets`
    * equal doc-id spans against the in-plan max id (a 1-row broadcast —
    * id-ordered ingestion order, the curve a crawler would see), and each
    * row carries the cumulative doc/token/vocabulary counts after that
    * span plus the span's own `new_terms` and its marginal type yield
    * `⌊new_terms·10⁴ / span_tokens⌋`. The declining yield across buckets
    * IS the Heaps sublinearity readout — "how much new vocabulary does
    * the next tenth of the corpus still buy" — kept as an exact integer
    * rational instead of a float log-log slope, the repo's
    * quantize-don't-chase-doubles discipline. The sizing question it
    * answers: where token-count-based vocab budgets (BPE size, hash
    * widths like [[featureHashing]]'s) stop growing usefully.
    *
    * Scale: first-occurrence is ONE `min(doc_id)` aggregate at token
    * grain (map-side combined, |vocab| rows) folded straight to
    * `buckets` groups; token mass and doc counts aggregate by bucket
    * directly. Cumulative sums run over the |buckets|-row grid only —
    * nothing data-sized is ever sorted or windowed.
    */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    val md = docs.agg(max(col("doc_id")).as("__md"))
    def bucketOf(d: Column): Column =
      least(lit(buckets.toLong), Cols.floorDiv(d * buckets, col("__md")) + 1L)
    val toks = tokenRows(docs, "tok", "doc_id")
    val newTerms = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("__first"))
      .crossJoin(broadcast(md))
      .groupBy(bucketOf(col("__first")).as("bucket"))
      .agg(count(lit(1)).as("__nt"))
    val tokMass = toks.crossJoin(broadcast(md))
      .groupBy(bucketOf(col("doc_id")).as("bucket"))
      .agg(count(lit(1)).as("__tk"))
    val docCount = docs.crossJoin(broadcast(md))
      .groupBy(bucketOf(col("doc_id")).as("bucket"))
      .agg(count(lit(1)).as("__dn"))
    val grid = docs.sparkSession.range(1, buckets + 1).select(col("id").as("bucket"))
    val w = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(newTerms, Seq("bucket"), "left")
      .join(tokMass, Seq("bucket"), "left")
      .join(docCount, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("__dn"), lit(0L)).as("__dn"),
        coalesce(col("__tk"), lit(0L)).as("__tk"),
        coalesce(col("__nt"), lit(0L)).as("__nt"))
      .select(
        col("bucket"),
        sum(col("__dn")).over(w).as("n_docs"),
        sum(col("__tk")).over(w).as("n_tokens"),
        sum(col("__nt")).over(w).as("vocab"),
        col("__nt").as("new_terms"),
        when(col("__tk") > 0, Cols.floorDiv(col("__nt") * 10000L, col("__tk")))
          .as("yield_e4"))
      .orderBy(col("bucket"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS selection rule): hash every char `k`-gram of the normalized
    * text, slide a window of `w` consecutive hashes, and keep each
    * window's minimum — guaranteeing any match of length ≥ k+w−1 shares
    * a selected fingerprint while storing only ~2/(w+1) of the grams.
    * The hash is the engine's cross-portable [[Cols.hash60]], so the
    * selected fingerprint SET is identical on any engine (ties between
    * equal hash values select the same value by definition). Emitted as
    * (doc_id, fingerprint) rows — the local-fingerprint index behind
    * plagiarism-style overlap detection, complementing the global
    * [[fingerprint]] and the fixed-stride [[Dedup]] shingles.
    *
    * Scale: map-only — one narrow scan, per-row cost linear in doc
    * length (codegen'd md5 per gram), no shuffle; the pair-finding join
    * over shared fingerprints inherits the posting-list disciplines.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame =
    winnowed(docs, k, w)(mins => explode(array_distinct(mins)).as("fingerprint"))

  /** The winnow window-min chain shared by [[winnowFingerprints]] and
    * [[benchmarkPositionalIndex]]: `doc_id` and `gen(mins)`, where
    * `mins` is the array of each `w`-window's minimum char-`k`-gram hash.
    * Documents shorter than one window drop out.
    */
  private def winnowed(docs: DataFrame, k: Int, w: Int)(gen: Column => Column): DataFrame =
    // md5-per-char-gram map work on a possibly single-split scan — fan
    // out first (guide §2.5 unsplittable input; Dedup.shingleRows shape)
    graft.Tables.fanOutScan(docs)
      .select(col("doc_id"), Cols.normalizeText(col("text")).as("__norm"))
      .filter(length(col("__norm")) >= k + w - 1)
      // char array FIRST (Cols.charsOf): the former substr(__norm, i, k)
      // spelling re-walked the string's bytes from position 0 per gram —
      // O(len²) per document; same gram values, same hashes
      .select(col("doc_id"), Cols.charsOf(col("__norm")).as("__c"))
      .withColumn("__h", Cols.charGramHashesOfChars(col("__c"), k))
      .select(col("doc_id"), gen(expr(s"transform(sequence(1, size(__h) - ${w - 1}), " +
        s"i -> array_min(slice(__h, i, $w)))")))

  /** Winnowed-fingerprint overlap pairs — the plagiarism-candidate
    * report built on [[winnowFingerprints]]: document pairs sharing at
    * least `minShared` selected fingerprints, with a df-cap dropping
    * fingerprints common to more than `maxFpDf` documents before the
    * join (stop-gram fingerprints carry no overlap signal and dominate
    * posting-list cost — the [[graft.dedup.Dedup.ngramJaccard]] skew
    * discipline applied to local fingerprints).
    *
    * Scale: posting-list join on the capped fingerprint index; work is
    * Σ df² over surviving fingerprints, never doc×doc. The fingerprint
    * table is `localCheckpoint`ed because this plan references it three
    * times (df counts + both join sides) and the md5-per-char-gram
    * selection is the dominant cost — evaluating it once is a measured
    * 2.7× on the registered query (7.3 s → 2.7 s at sf0.1); on a real
    * cluster persist/checkpoint the fingerprint INDEX — it is exactly
    * the artifact an incremental plagiarism pipeline keeps anyway.
    */
  def winnowOverlap(
      docs: DataFrame, minShared: Long = 8L, maxFpDf: Int = 50): DataFrame = {
    val fp = winnowFingerprints(docs).localCheckpoint()
    val rare = freq(fp, "df", "fingerprint").filter(col("df") <= maxFpDf).select(col("fingerprint"))
    val f = fp.join(rare, "fingerprint")
    f.as("a")
      .join(f.as("b"),
        col("a.fingerprint") === col("b.fingerprint") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Deterministic stratified sampling: per-stratum (language) keep
    * fractions applied through a content-free salted hash of the doc id —
    * the downsample-the-dominant / upweight-the-rare rebalancing step of
    * a training-data pipeline. No RNG state: replays identically on any
    * engine, any partitioning, any run, and composes with [[splitAssign]]
    * (different hash salts → independent draws).
    */
  def stratifiedSample(
      docs: DataFrame,
      fractions: Map[String, Double] = Map("en" -> 0.1),
      defaultFraction: Double = 0.5): DataFrame = {
    val keepBelow = fractions.foldLeft(lit((defaultFraction * 1000).toLong)) {
      case (acc, (lang, f)) => when(col("lang") === lang, lit((f * 1000).toLong)).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"), docBucket("sample:", 1000L).as("bucket"))
      .filter(col("bucket") < keepBelow)
  }

  /** Train/test contamination check — the decontamination step every
    * benchmark-respecting training pipeline runs: for each held-out
    * (valid/test) document, how many of its word-3-gram shingles also
    * appear in ANY train-split document. Composes [[splitAssign]] with
    * the dedup shingle machinery; the join key is the 60-bit shingle
    * hash, so the train side is a distinct long column (compact to
    * shuffle or even broadcast at moderate corpus sizes).
    *
    * Scale: the join is a posting-list membership probe, not a pair
    * join — cost is |heldout shingles| × lookup. At 100 TB pass
    * `maxTrainDf` to df-cap the train shingle set like
    * [[graft.dedup.Dedup.ngramJaccard]]'s `MaxShingleDf` (ubiquitous
    * stop-phrase shingles flag everything and carry no signal), and
    * bloom-filter before the exact join. The cap is a train-side
    * DOCUMENT frequency: shingles contained in more than `maxTrainDf`
    * train documents are excluded from the contamination vocabulary,
    * so they neither count as hits nor inflate the probe set.
    *
    * Documents shorter than one shingle (< 3 tokens) have no
    * contamination surface and are absent from the output by
    * construction.
    */
  def contamination(docs: DataFrame, maxTrainDf: Option[Long] = None): DataFrame = {
    val sh = Dedup.shingleRows(docs).select(col("doc_id"), Cols.hash60(col("shingle")).as("h"))
    // shingleRows is distinct-per-doc, so count(*) per hash IS the train
    // document frequency; the cap prunes the hot tail before the probe join
    heldOut(tagSplit(sh, docs), "h", "doc_id", "split")(train =>
      maxTrainDf.fold(freq(train, "__df", "h"))(dfCapped(train, "h", _))
        .select(col("h"), lit(1L).as("__hit")))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .withColumn(
        "contamination_ratio",
        round(col("n_contaminated").cast("double") / col("n_shingles").cast("double"), 4))
  }

  /** Split-leakage audit at WINNOW-FINGERPRINT grain: for each held-out
    * (valid/test) document, how many of its selected char-gram winnow
    * fingerprints also appear in ANY train-split document. The char-gram
    * twin of [[contamination]]: token-3-gram probes miss duplication that
    * is not token-aligned (whitespace edits, punctuation splices,
    * mid-word overlap), while winnowing guarantees any exact char match
    * of length ≥ k+w−1 (7 here) shares a selected fingerprint — so this
    * catches the contamination the token probe structurally cannot, at
    * ~2/(w+1) of the all-grams index size. Docs shorter than one gram
    * window have no leakage surface and are absent by construction (the
    * [[winnowFingerprints]] length filter).
    *
    * The train vocabulary is df-capped: fingerprints in more than
    * `maxTrainDf` train documents are boilerplate — they carry no
    * leakage signal and dominate probe cost ([[contamination]]'s cap at
    * the fingerprint grain).
    *
    * Scale: the winnow index is map-only; train df is one hash agg; the
    * probe is a posting-list membership join (|held-out fingerprints| ×
    * lookup, never doc×doc) — bloom-prefilter it at 100 TB exactly as
    * [[contamination]]'s scaladoc prescribes.
    */
  def winnowLeakage(docs: DataFrame, maxTrainDf: Long = 50L): DataFrame =
    heldOut(tagSplit(winnowFingerprints(docs), docs), "fingerprint", "doc_id", "split")(train =>
      dfCapped(train, "fingerprint", maxTrainDf).select(col("fingerprint"), lit(1L).as("__hit")))
      .agg(count(lit(1)).as("n_fp"), count(col("__hit")).as("n_leaked"))
      .select(
        col("doc_id"), col("split"), col("n_fp"), col("n_leaked"),
        Cols.floorDiv(col("n_leaked") * 10000L, col("n_fp")).as("leak_frac_e4"))

  /** Benchmark-decontamination screen — the pre-ship audit every
    * training-data pipeline runs against held-out evaluation suites:
    * winnowing-fingerprint overlap of a TRAINING CORPUS against a
    * separate BENCHMARK table, reported per benchmark document with
    * contamination SPANS, not just counts. [[winnowLeakage]] answers
    * "how much of my held-out split leaks from train" at set grain;
    * this answers the release question — "which benchmark documents
    * does my corpus contain, and how long are the contaminated
    * stretches" — the readout that decides whether an eval score is
    * trustworthy.
    *
    * Mechanism: the benchmark side is fingerprinted POSITIONALLY (same
    * k=4/w=4 winnow selection as [[winnowFingerprints]], but every
    * window keeps its character position — spans need positions, the
    * distinct-set view cannot produce them). The corpus side is the
    * standard distinct-per-doc winnow index, df-capped at `maxCorpusDf`
    * corpus documents (boilerplate fingerprints carry no contamination
    * signal — the [[winnowLeakage]] cap). A benchmark window is
    * CONTAMINATED when its selected fingerprint exists in the capped
    * corpus vocabulary; maximal runs of contaminated windows are the
    * spans (gaps-and-islands per doc: island = pos − row_number), and a
    * run of R windows covers R + k + w − 2 = R + 6 characters — any
    * exact char match of length ≥ 7 is guaranteed caught (the winnow
    * coverage theorem), so `max_span_chars` is a LOWER bound on the
    * longest verbatim overlap.
    *
    * Output per benchmark doc (≥ 1 window): n_windows, n_hit,
    * leak_frac_e4 (exact floor), n_spans, max_span_windows,
    * max_span_chars (0s when clean).
    *
    * Scale: the benchmark side is tiny by definition (eval suites are
    * thousands of docs, the corpus is the 100 TB side) — its positional
    * index is map-only and is re-evaluated twice (hit probe + distinct
    * fingerprint set) rather than checkpointed, because two evaluations
    * of a small side beat pinning blocks. The corpus index is pruned by
    * a semi-join against the benchmark's distinct fingerprints BEFORE
    * the df aggregate (per-fingerprint counts are unchanged by a
    * fingerprint-keyed prune, and only fingerprints the benchmark
    * contains can ever matter) — so the heavy side collapses to
    * |benchmark fingerprints| keys as early as possible, and the hit
    * probe is a fingerprint-bucketed equi-join, never doc×doc. The span
    * window partitions by benchmark doc_id — bounded by a single doc's
    * hit count.
    */
  def decontaminationScreen(
      corpus: DataFrame, benchmark: DataFrame, maxCorpusDf: Long = 50L): DataFrame = {
    val pos = benchmarkPositionalIndex(benchmark)
    contaminationReport(pos,
      dfCapped(benchmarkOnly(winnowFingerprints(corpus), pos), "fingerprint", maxCorpusDf)
        .select(col("fingerprint")))
  }

  /** `fps` pruned by a semi-join to the fingerprints of the positional
    * index `pos`, BEFORE any df aggregate: per-fingerprint counts are
    * unchanged by a fingerprint-keyed prune, and only fingerprints the
    * benchmark contains can ever matter. */
  private def benchmarkOnly(fps: DataFrame, pos: DataFrame): DataFrame =
    fps.join(pos.select(col("fingerprint")).distinct(), Seq("fingerprint"), "leftsemi")

  /** The benchmark suite's POSITIONAL winnow index — every k=4/w=4
    * selected window with its character position (the distinct-set view
    * of [[winnowFingerprints]] cannot produce spans). Small and static
    * by definition (eval suites are thousands of docs): the one-shot and
    * incremental screens both probe the corpus vocabulary against it.
    */
  private def benchmarkPositionalIndex(benchmark: DataFrame): DataFrame =
    winnowed(benchmark, 4, 4)(posexplode)
      .select(
        col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("fingerprint"))

  /** Per-benchmark-doc contamination readout of the positional index
    * `pos` against the corpus fingerprint vocabulary `vocab`: a window is
    * a hit when `vocab` holds its fingerprint. Spans are maximal runs of
    * consecutive contaminated windows (island = pos − row_number per
    * doc); a run of R windows covers R + 6 characters (k=4, w=4 winnow
    * coverage), so `max_span_chars` is a lower bound on the longest
    * verbatim overlap. Shared by the one-shot screen
    * ([[decontaminationScreen]]) and its incremental twin
    * ([[decontaminationIncremental]]).
    */
  private def contaminationReport(pos: DataFrame, vocab: DataFrame): DataFrame = {
    val hits = pos.join(vocab, Seq("fingerprint"), "leftsemi").select(col("doc_id"), col("pos"))
    val perDoc = freq(pos, "n_windows", "doc_id")
    val hitCounts = freq(hits, "n_hit", "doc_id")
    val runs = freq(hits.withColumn("__isl",
      col("pos") - row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))),
      "__run", "doc_id", "__isl")
    val spans = runs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("__run")).as("__maxrun"))
    perDoc
      .join(hitCounts, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_windows"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        Cols.floorDiv(coalesce(col("n_hit"), lit(0L)) * 10000L, col("n_windows"))
          .as("leak_frac_e4"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("__maxrun"), lit(0L)).as("max_span_windows"),
        when(col("__maxrun").isNull, lit(0L))
          .otherwise(col("__maxrun") + lit(6L)).as("max_span_chars"))
  }

  /** Incremental decontamination, modelled the way
    * [[graft.dedup.Dedup.ledgerFlags]] models the dedup ledger: the
    * corpus arrives as `nBatches` ingest batches (deterministic
    * pmod(doc_id) assignment here; micro-batches in production), each
    * batch's fingerprint vocabulary is pruned to the benchmark's
    * fingerprint set and df-capped WITHIN the batch (a global df is
    * unknowable mid-stream — the per-batch cap is the declared boundary
    * semantic, documented to over-flag fingerprints whose corpus-wide
    * df exceeds the cap only across batches), and a benchmark window is
    * contaminated once ANY batch's vocabulary contains its fingerprint.
    * The accumulated hit set feeds the same span readout as the
    * one-shot screen.
    *
    * Scale: per batch the vocabulary collapses to ≤ |benchmark
    * fingerprints| keys before its df aggregate (the semi-join prune);
    * the union across batches is a distinct over batch-bounded
    * fingerprint sets; everything downstream is benchmark-bounded.
    */
  def decontaminationIncremental(
      corpus: DataFrame, benchmark: DataFrame,
      nBatches: Int = 4, maxBatchDf: Long = 50L): DataFrame = {
    val pos = benchmarkPositionalIndex(benchmark)
    val batched = winnowFingerprints(corpus)
      .withColumn("__batch", pmod(col("doc_id"), lit(nBatches.toLong)))
    contaminationReport(pos,
      dfCapped(benchmarkOnly(batched, pos), "fingerprint", maxBatchDf, "__batch")
        .select(col("fingerprint")).distinct())
  }

  /** Gopher/MassiveText-style repetition signals per document (Rae et al.
    * 2021 §A1.1: "fraction of characters in the most common n-gram" /
    * "fraction of characters in duplicated n-grams"): the
    * within-document repetition axis the stopword/length quality score
    * can't see. Character coverage is counted as len(gram)·occurrences
    * (the deterministic arithmetic proxy; overlapping occurrences are not
    * de-overlapped).
    *
    * Scale: two explode + hash-agg pyramids over the token stream, both
    * partially aggregated map-side; the per-doc window for the argmax
    * 2-gram rides the same doc_id clustering. No pair joins, no driver
    * actions — a pure scan-shaped quality signal like [[docStats]].
    */
  def repetition(docs: DataFrame): DataFrame = {
    val withToks = fanOut(docs).select(
      col("doc_id"),
      length(Cols.normalizeText(col("text"))).cast("long").as("n_chars_norm"),
      Cols.tokens(col("text")).as("toks"))
    def gramCounts(n: Int) = freq(gramRows(withToks, n, "gram", "doc_id"), "cnt", "doc_id", "gram")
    // most common 2-gram (count desc, gram asc tie-break) and its coverage
    val w2 = Window.partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("gram"))
    val top2 = gramCounts(2)
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") === 1)
      .select(col("doc_id"), (length(col("gram")) * col("cnt")).cast("long").as("top2gram_chars"))
    // characters inside 3-grams occurring more than once in the doc
    val dup3 = gramCounts(3)
      .filter(col("cnt") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum(length(col("gram")) * col("cnt")).cast("long").as("dup3gram_chars"))
    def frac(chars: Column) =
      when(col("n_chars_norm") > 0,
        round(chars.cast("double") / col("n_chars_norm").cast("double"), 4))
        .otherwise(lit(0.0))
    withToks.select(col("doc_id"), col("n_chars_norm"))
      .join(top2, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_chars_norm"),
        coalesce(col("top2gram_chars"), lit(0L)).as("top2gram_chars"),
        frac(coalesce(col("top2gram_chars"), lit(0L))).as("top2gram_char_frac"),
        coalesce(col("dup3gram_chars"), lit(0L)).as("dup3gram_chars"),
        frac(coalesce(col("dup3gram_chars"), lit(0L))).as("dup3gram_char_frac"))
  }

  /** Per-document unigram surprisal under the corpus's own unigram LM —
    * the cheap perplexity-flavored quality signal (a KenLM stand-in):
    * token surprisal = ln(total_tokens / corpus_freq(token)), quantized
    * to integer e4 so per-doc sums are exact integer math (summation-
    * order- and engine-independent); the per-doc average is an exact
    * floor division. High average surprisal = rare-token-heavy documents.
    *
    * Scale: one explode feeding a corpus-frequency hash agg (map-side
    * combined) + a scalar broadcast total (in-plan, no driver count) + a
    * term-keyed join back — the same posting-list shape as TF-IDF; at
    * 100 TB the vocabulary side stays orders smaller than the token
    * stream and AQE picks broadcast when it fits.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val terms = tokenRows(fanOut(docs), "term", "doc_id")
    val scored = withScalars(terms.join(freq(terms, "freq", "term"), "term"), terms,
      count(lit(1)).as("__total"))
      .select(
        col("doc_id"),
        round(log(col("__total").cast("double") / col("freq").cast("double")) * 10000)
          .cast("long").as("q"))
    meanE4(scored, Seq("doc_id"), "n_tokens", "surprisal", "q")
  }

  /** Reference-LM perplexity filter (the CCNet/Gopher quality gate): a
    * Laplace-smoothed unigram LM is trained on the TRAIN split only and
    * every document — train, valid, test — is scored against it:
    * per-token surprisal ln((N + V + 1)/(c + 1)) in e4 nats (N = train
    * token count, V = train vocabulary size, c = train count of the
    * token, 0 when out-of-vocabulary), per-doc token count, OOV count,
    * average cross-entropy, and the filter verdict against the declared
    * `thresholdE4` line (36000 e4 nats = 3.6 nats/token, chosen to bind
    * on the synthetic corpus — production tunes it per reference LM). This is the held-out-reference shape
    * [[unigramLogprob]] (self-scored corpus LM) cannot express: junk
    * that dominates the corpus scores LOW under a self-LM but HIGH under
    * a reference LM trained on the clean split.
    *
    * Quantize-then-sum: the only transcendental is ln of a ratio of
    * identical integers on both engines, rounded to e4 per token before
    * any aggregation ([[charEntropy]] discipline).
    *
    * Scale: token-grain equi-join against the train vocabulary (never a
    * doc×doc anything), one 1-row (N, V) broadcast, one per-doc hash
    * aggregate. The train vocabulary join is the standard skew surface —
    * AQE handles hot terms; the LM itself is the |vocab|-row artifact a
    * production filter persists and reuses across corpora.
    */
  def lmPerplexityFilter(docs: DataFrame, thresholdE4: Long = 36000L): DataFrame = {
    val terms = tagSplit(tokenRows(fanOut(docs), "term", "doc_id"), docs)
    val trainCounts = freq(terms.filter(col("split") === "train"), "__c", "term")
    val scored = withScalars(terms.join(trainCounts, Seq("term"), "left"), trainCounts,
      sum(col("__c")).as("__n"), count(lit(1)).as("__v"))
      .select(
        col("doc_id"), col("split"),
        when(col("__c").isNull, 1L).otherwise(0L).as("__oov"),
        round(log((col("__n") + col("__v") + 1L).cast("double")
          / (coalesce(col("__c"), lit(0L)) + 1L).cast("double")) * 10000)
          .cast("long").as("__q"))
    meanE4(scored, Seq("doc_id", "split"), "n_tokens", "xent", "__q",
      sum(col("__oov")).as("n_oov"))
      .withColumn("would_filter",
        when(col("avg_xent_e4") > thresholdE4, 1L).otherwise(0L))
  }

  /** CCNet-style perplexity bucketing: every document's reference-LM
    * cross-entropy ([[lmPerplexityFilter]]'s score) is cut at the
    * corpus-wide tercile boundaries into head (most fluent), middle,
    * tail — the exact shape CCNet ships (and trains on head+middle) —
    * and the readout rolls up per (source, bucket) with the share of
    * the source in each: the "which sources are tail-heavy" table a
    * mixture designer reads next to [[epochPlan]].
    *
    * Scale: the [[lmPerplexityFilter]] token-grain pipeline, a 1-row
    * tercile-cut broadcast (the [[surprisalDeciles]] percentile idiom),
    * one hash aggregate to |sources|·3 rows with a |sources|-bounded
    * share window.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = lmPerplexityFilter(docs)
      .select(col("doc_id"), col("avg_xent_e4"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val bucketed = withScalars(scored, scored,
      expr("percentile(avg_xent_e4, array(0.3333333333333333, 0.6666666666666666))")
        .as("__c"))
      .select(
        col("source"),
        when(col("avg_xent_e4") <= element_at(col("__c"), 1), lit("head"))
          .when(col("avg_xent_e4") <= element_at(col("__c"), 2), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
    freq(bucketed, "n_docs", "source", "bucket")
      .withColumn("source_share_e4", Cols.floorDiv(col("n_docs") * 10000L,
        sum(col("n_docs")).over(Window.partitionBy(col("source")))))
  }

  /** Deterministic context-window packing: within each train/valid/test
    * split, documents (in doc_id order) are assigned to fixed-budget
    * packs by cumulative token count — pack_id = floor(tokens_before /
    * budget), the order-stable approximation of greedy sequence packing
    * (documents may straddle a boundary; trainers that can't split a doc
    * treat pack_id as the shard to re-pack locally).
    *
    * Scale: one window (shuffle on split + sort by doc_id). A global
    * per-split ordering is a deliberate choice at this tier; at 100 TB
    * you'd partition by (split, shard = hash(doc_id) % K) so each shard
    * packs independently — same expression, wider key.
    */
  def packSequences(docs: DataFrame, budgetTokens: Long = 2048L): DataFrame = {
    val toks = tokenCounts(docs).select(col("doc_id"), col("ws_tokens"))
    val w = Window.partitionBy(col("split")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tagSplit(toks, docs)
      .withColumn("cum_before", coalesce(sum(col("ws_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", Cols.floorDiv(col("cum_before"), budgetTokens))
      .select(col("doc_id"), col("split"), col("ws_tokens"), col("cum_before"), col("pack_id"))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions over a FIXED 1024-bucket hashed vocabulary — the
    * source-similarity matrix behind mixture design ("which crawls are
    * interchangeable, which add coverage"), symmetric and bounded by
    * ln 2 where [[sourceChi2]] only scores each source against the
    * global pool. Feature hashing (the txt_dsir_weights trick) makes
    * every source a dense 1024-vector regardless of vocabulary size, so
    * the pair join is |sources|²·1024 grid rows — never vocabulary-sized.
    * Distributions are Laplace-smoothed `(c+1)/(T+1024)` (the ev_psi
    * convention — every log finite on empty buckets) and each bucket's
    * JS term quantizes to e6 before summing (order-independent,
    * cross-engine stable).
    *
    * Scale: one token scan folds map-side to the |sources|·1024 grid;
    * the dense zero-fill is a bounded ×1024 explode of the
    * |sources|-row totals; the pair join is bucket-equi-keyed over the
    * tiny grid. Nothing downstream of the first aggregate scales with
    * the corpus.
    */
  def sourceJs(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val cells = freq(tokenRows(docs, "tok", "source")
      .select(col("source"), hashBucket(col("tok"), buckets).as("bucket")),
      "__c", "source", "bucket")
    val totals = cells.groupBy(col("source")).agg(sum(col("__c")).as("__t"))
    val grid = totals
      .select(col("source"), col("__t"),
        explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("bucket"))
      .join(cells, Seq("source", "bucket"), "left")
      .select(
        col("source"), col("bucket"), col("__t"),
        ((coalesce(col("__c"), lit(0L)) + 1L).cast("double")
          / (col("__t") + buckets).cast("double")).as("__p"))
    val a = grid.select(
      col("source").as("source_a"), col("bucket"),
      col("__p").as("__pa"), col("__t").as("__ta"))
    val b = grid.select(
      col("source").as("source_b"), col("bucket"),
      col("__p").as("__pb"), col("__t").as("__tb"))
    val mid = (col("__pa") + col("__pb")) / 2.0
    val term = round(
      (col("__pa") / 2.0 * log(col("__pa") / mid)
        + col("__pb") / 2.0 * log(col("__pb") / mid)) * 1000000).cast("long")
    a.join(b, Seq("bucket"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        max(col("__ta")).as("n_a"),
        max(col("__tb")).as("n_b"),
        sum(term).as("js_e6"))
  }

  /** Per-DOCUMENT KL divergence from the corpus unigram distribution —
    * the off-distribution screen at document grain ([[sourceJs]] compares
    * whole sources; THIS flags the individual machine-generated /
    * wrong-domain outliers a pretraining curator drops): over the hashed
    * vocabulary, `KL(p_doc ‖ p_corpus) = Σ (c/t)·ln(p_doc/p_corpus)`,
    * summed over the doc's OBSERVED buckets only (p_doc unsmoothed there;
    * the corpus side is Laplace-smoothed, so the log is always finite) —
    * exactly the sparse form that never materializes a per-doc dense
    * grid. Terms quantize to e6 before summing (each is one shared
    * double expression, identical operation order in the oracle).
    *
    * Scale: one token explode → (doc × bucket) hash aggregate (≤ token
    * count, map-side combined); the 1024-row corpus histogram and the
    * 1-row corpus total broadcast onto it; output is |docs| rows.
    */
  def docKlDivergence(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val cells = freq(tokenRows(docs, "tok", "doc_id", "source")
      .select(col("doc_id"), col("source"), hashBucket(col("tok"), buckets).as("bucket")),
      "__c", "doc_id", "source", "bucket")
    // fold the (doc × bucket) cells, not the token explode — one
    // tokenize/shuffle pass total (ReuseExchange shares the cells
    // aggregation subtree), exactly the oracle's cb-from-cell shape
    val corpus = cells.groupBy(col("bucket")).agg(sum(col("__c")).as("__cb"))
    val term = round(
      (col("__c").cast("double") / col("__t").cast("double")) *
        log((col("__c").cast("double") * (col("__ct") + lit(buckets.toLong)).cast("double")) /
          (col("__t").cast("double") * (col("__cb") + lit(1L)).cast("double"))) *
        1000000).cast("long")
    val docTot = cells.groupBy(col("doc_id")).agg(sum(col("__c")).as("__t"))
    withScalars(cells.join(docTot, "doc_id").join(broadcast(corpus), "bucket"), corpus,
      sum(col("__cb")).as("__ct"))
      .groupBy(col("doc_id"), col("source"))
      .agg(max(col("__t")).as("n_tokens"), sum(term).as("kl_e6"))
  }

  /** Per-source vocabulary-divergence screen: χ² contribution of each
    * source against the corpus over the top-`topTerms` corpus terms —
    * "which crawl slice's word distribution is drifting". The cell grid
    * is |sources| × topTerms INCLUDING empty cells (an absent hot term is
    * evidence, same discipline as [[graft.ops.Profile.chi2Independence]]);
    * per-cell terms are e4-quantized THEN summed so the per-source total
    * is aggregation-order-independent. Output per source: in-vocab token
    * count and the χ² divergence e4 — rank sources by it to find the
    * outlier slice before it trains.
    *
    * Scale: one token scan → map-side-combined term agg; the top-V cut is
    * TakeOrdered (per-partition heaps — membership only, no rank value
    * needed); cells join the broadcast V-row vocab. Nothing pairs docs or
    * sources; grid is sources × V rows.
    */
  def sourceChi2(docs: DataFrame, topTerms: Int = 50): DataFrame = {
    val terms = tokenRows(docs, "term", "source")
    val vocab = topV(terms, "term", "__f", topTerms).select(col("term"))
    val cells = freq(terms.join(broadcast(vocab), "term"), "__o", "source", "term")
    val rowT = cells.groupBy(col("source")).agg(sum(col("__o")).as("__r"))
    val colT = cells.groupBy(col("term")).agg(sum(col("__o")).as("__c"))
    val d = (col("__o").cast("double") * col("__n").cast("double")
      - col("__r").cast("double") * col("__c").cast("double"))
    val termE4 = round(d * d * 10000.0
      / (col("__r").cast("double") * col("__c").cast("double") * col("__n").cast("double")))
      .cast("long")
    withScalars(rowT.crossJoin(colT).join(cells, Seq("source", "term"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L))), cells, sum(col("__o")).as("__n"))
      .groupBy(col("source"))
      .agg(
        sum(col("__o")).as("n_tokens"),
        sum(termE4).as("chi2_e4"))
  }

  /** Overlapping-window RAG chunking: split each document's whitespace
    * tokens into chunks of `chunkTokens` advancing by `stride` (overlap
    * `chunkTokens − stride`), each chunk re-joined as text with its
    * index, 1-based start-token offset, and actual token count (the last
    * chunk may be short). The retrieval-prep step between cleaning and
    * embedding: every downstream vector in the ANN family is "a chunk",
    * and the (doc_id, chunk_idx) pair is the stable citation key.
    * Chunk count is `1 + ⌈(len − chunkTokens)/stride⌉` (always ≥ 1, so
    * empty/short docs still emit exactly one chunk).
    *
    * Scale: pure map — tokenize, explode a bounded index sequence,
    * slice; no shuffle at all, output rows ≈ corpus tokens / stride.
    */
  def chunk(docs: DataFrame, chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    val nChunks = when(size(col("toks")) <= chunkTokens, lit(1L))
      .otherwise(lit(1L) + Cols.floorDiv(
        size(col("toks")).cast("long") - chunkTokens + (stride - 1), stride.toLong))
    tokenArrays(docs, "doc_id")
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride + 1L).as("start_token"),
        size(slice(col("toks"), (col("chunk_idx") * stride + 1L).cast("int"),
          lit(chunkTokens))).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("toks"), (col("chunk_idx") * stride + 1L).cast("int"),
          lit(chunkTokens))).as("chunk_text"))
  }

  /** Deterministic domain-mixture downsampling: cap every source at
    * ~`budgetTokens` whitespace tokens — the "rebalance the web-heavy crawl
    * against the small curated sets" step of assembling a training mixture.
    * The per-source keep fraction is exact integer parts-per-million
    * (`min(1e6, ⌊budget·1e6 / src_tokens⌋)`), applied through a
    * content-free salted hash of the doc id — no RNG state, replays
    * identically on any engine/partitioning, and independent of the
    * [[splitAssign]]/[[stratifiedSample]] draws (different salts).
    *
    * Scale: one token-count scan + a per-source hash agg (tiny: |sources|
    * rows) broadcast back onto the corpus as a filter — the corpus itself
    * is touched map-only. Expected kept tokens per over-budget source ≈
    * budget (hash sampling is exact only in expectation; a trainer that
    * needs hard caps re-packs with [[packSequences]] downstream).
    */
  def mixtureSample(docs: DataFrame, budgetTokens: Long = 1000L): DataFrame = {
    val withTokens = docs
      .select(col("doc_id"), col("source"))
      .join(tokenCounts(docs).select(col("doc_id"), col("ws_tokens")), "doc_id")
    val fractions = withTokens
      .groupBy(col("source"))
      .agg(sum(col("ws_tokens")).as("src_tokens"))
      .withColumn(
        "keep_ppm",
        least(lit(1000000L), Cols.floorDiv(lit(budgetTokens * 1000000L), col("src_tokens"))))
    withTokens
      .join(broadcast(fractions), "source")
      .withColumn("bucket", docBucket("mix:", 1000000L))
      .filter(col("bucket") < col("keep_ppm"))
      .select(
        col("doc_id"), col("source"), col("ws_tokens"),
        col("src_tokens"), col("keep_ppm"), col("bucket"))
  }

  /** Corpus-wide character-pair counts — the counting step of a BPE
    * tokenizer-training iteration (the most frequent pair is the next
    * merge). Pairs run over the NORMALIZED character stream (lowercased,
    * spaces included, so word-boundary pairs stay observable); top-k with
    * ties broken by the pair string, deterministic on both engines.
    *
    * Scale: one explode (|chars| rows) into one map-side-combined hash
    * aggregate over a vocabulary-sized key space (≤ |alphabet|²), then a
    * k-row take — the same shape per BPE iteration, with the previous
    * iteration's merges applied in the map stage.
    */
  def bpePairs(docs: DataFrame, k: Int = 50): DataFrame =
    graft.Tables.fanOutScan(docs)
      // materialize the normalized string BEFORE the lambda (the
      // shinglesOfTokens re-evaluation discipline)
      .select(lower(col("text")).as("__t"))
      .filter(length(col("__t")) >= 2)
      // char-array bigrams (Cols.charGramsOfChars) — the substring-per-
      // index spelling was O(len²) per doc; identical pair values
      .select(Cols.charsOf(col("__t")).as("__c"))
      .select(explode(Cols.charGramsOfChars(col("__c"), 2)).as("pair"))
      .transform(topV(_, "pair", "n_occurrences", k))

  /** Token-pair merge separator — U+2581 (the sentencepiece convention);
    * raw tokens never contain it, so merged tokens are unambiguous
    * across rounds.
    */
  private[text] val MergeSep = "▁"

  /** BPE merge TRAINING loop at word-token grain — the actual iterative
    * algorithm, not a one-pass pair count ([[bpePairs]] is the char-
    * bigram screen): `rounds` unrolled iterations of count-all-adjacent-
    * pairs → pick the global top pair (count desc, then lexicographic —
    * pinned) → greedily merge its non-overlapping occurrences left to
    * right in every document. Returns the learned merge table: one row
    * per round with the merged pair, its pre-merge adjacency count, and
    * the corpus token count after the merge (the compression curve a
    * tokenizer build watches). Later rounds can and do pick pairs
    * containing earlier merges — the defining BPE behavior.
    *
    * The greedy left-to-right merge is a per-document `aggregate` fold:
    * merge at position i iff (tᵢ₋₁, tᵢ) = (a, b) and position i−1 was
    * not itself consumed — for a = b runs this is exactly odd-rank-in-
    * run parity, which is how the oracle mirrors it (gaps-and-islands +
    * rank parity; the fold and the parity formulation are provably the
    * same recurrence).
    *
    * Scale: each round is one map-side-combined pair count, a 1-row
    * TakeOrdered top pair (broadcast), and a MAP-ONLY remerge fold — no
    * shuffle touches the token arrays; [[graft.Rounds]] checkpoints each
    * round so round r+1 never recomputes rounds 1..r. The fold rebuilds
    * each doc's array (O(tokens²) element copies per doc) — bounded here
    * by the corpus's short docs; for book-length inputs compose with
    * [[chunk]] first, which is how production BPE trainers bound
    * merge-window cost anyway.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (roundRows, toks) = bpeTrain(docs, rounds)
    toks.close()
    roundRows
  }

  /** The merge loop shared by [[bpeMerges]] (the merge table) and
    * [[bpeCompression]] (the applied corpus): returns the per-round rows
    * AND the rounds, whose frame is the final merged token table. The
    * caller owns closing them.
    */
  private def bpeTrain(docs: DataFrame, rounds: Int): (DataFrame, graft.Rounds) = {
    // fan out BEFORE the checkpoint: every merge round's pair count and
    // remerge fold then runs at session parallelism instead of on the
    // single-split scan's one task (guide §2.5; the checkpoint pins the
    // partitioning for all rounds)
    val toks = graft.Rounds.from(tokenArrays(graft.Tables.fanOutScan(docs), "doc_id"))
    val mergeExpr =
      "aggregate(toks, cast(array() as array<string>), (acc, x) -> " +
        "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = a AND x = b " +
        s"THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, '$MergeSep', b))) " +
        "ELSE concat(acc, array(x)) END)"
    val roundRows = (1 to rounds).map { r =>
      val pairs = toks.frame
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      // both 1-row readouts go through Rounds.materialize: the next step
      // frees the round they read
      val top = graft.Rounds.materialize(
        pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1))
      toks.step(_.crossJoin(broadcast(top))
        .select(col("doc_id"), expr(mergeExpr).as("toks")))
      val nAfter = graft.Rounds.materialize(toks.frame.agg(sum(size(col("toks"))).as("__na")))
      top.crossJoin(broadcast(nAfter)).select(
        lit(r.toLong).as("round"),
        col("a").as("lhs"), col("b").as("rhs"),
        col("cnt").as("pair_count"),
        col("__na").as("n_tokens_after"))
    }
    (roundRows.reduce(_ unionAll _), toks)
  }

  /** The learned merges APPLIED, read per source — the tokenizer-eval
    * readout on top of [[bpeMerges]]'s training loop: after the `rounds`
    * merges, each source's document count, pre/post token mass, exact
    * e4 tokens-per-doc before and after, and the e4 compression share
    * `⌊(before − after)·10⁴ / before⌋`. Uneven compression across
    * sources is the signal that the merge table overfits one source's
    * phrasing — the [[fertility]] concern, measured against the actual
    * learned tokenizer instead of a fixed one.
    *
    * Scale: the [[bpeTrain]] loop's postures, then one |sources|-row
    * rollup of the final token table joined back to the source column
    * by doc id.
    */
  def bpeCompression(docs: DataFrame, rounds: Int = 3): DataFrame = {
    // the returned plan reads the loop's final checkpointed token table
    // (checkpoints have no lineage to recompute), so it stays resident
    // until the session drops it — the price of reusing the trained
    // state; the per-round 1-row checkpoints are negligible
    val finalToks = bpeTrain(docs, rounds)._2.frame
    val before = docs.select(col("doc_id"), col("source"), nTokens.as("__nb"))
    before
      .join(finalToks.select(col("doc_id"), size(col("toks")).cast("long").as("__na")),
        "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nb")).as("tokens_before"),
        sum(col("__na")).as("tokens_after"))
      .select(
        col("source"), col("n_docs"), col("tokens_before"), col("tokens_after"),
        Cols.floorDiv(col("tokens_before") * 10000L, col("n_docs")).as("per_doc_before_e4"),
        Cols.floorDiv(col("tokens_after") * 10000L, col("n_docs")).as("per_doc_after_e4"),
        when(col("tokens_before") > 0,
          Cols.floorDiv((col("tokens_before") - col("tokens_after")) * 10000L,
            col("tokens_before"))).as("compression_e4"))
  }

  /** Hashing-trick featurizer: each document as a sparse bag-of-words
    * vector in a fixed `dim`-bucket space — (doc_id, bucket, count)
    * posting rows, bucket = hash60(token) mod dim. No vocabulary table,
    * no fit step, no driver state: the classic fixed-memory vectorizer
    * for streaming/sharded featurization, deterministic across engines
    * via the md5-based hash.
    *
    * Scale: one token explode + one (doc, bucket)-keyed hash aggregate,
    * map-side combined; output rows ≤ |docs| × min(dim, doc tokens).
    */
  def featureHashing(docs: DataFrame, dim: Int = 1024): DataFrame = {
    require(dim >= 2, "need at least two buckets")
    freq(tokenRows(docs, "__tok", "doc_id")
      .select(col("doc_id"), hashBucket(col("__tok"), dim).as("bucket")),
      "n_tokens", "doc_id", "bucket")
  }

  /** PII scrub: redact email-, IPv4-, and account-number-shaped substrings
    * from a text column and count what was masked — the compliance pass a
    * training corpus runs before anything is tokenized. Three pattern
    * classes, applied in order (emails first, so the digits inside an
    * address are counted once as an email, not again as a number run):
    *
    *   email      → `<EMAIL>`   `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`
    *   IPv4       → `<IP>`      `([0-9]{1,3}\.){3}[0-9]{1,3}`
    *   digit run  → `<NUM>`     `[0-9]{6,}` (6+ consecutive digits)
    *
    * Each count is taken on the text AFTER the previous class was redacted,
    * so the counts partition the masked substrings. Patterns stay in the
    * RE2-compatible subset (no lookaround, no backrefs) so Spark's Java
    * regex and the oracle's RE2 agree literally.
    *
    * Scale: map-only narrow scan, all codegen'd built-ins — redaction runs
    * at parquet-read speed and never shuffles.
    */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val digits = "[0-9]{6,}"
    df
      .select(
        col(idCol),
        size(regexp_extract_all(col(textCol), lit(email), lit(0))).cast("long").as("n_emails"),
        regexp_replace(col(textCol), email, "<EMAIL>").as("__r1"))
      .select(
        col(idCol), col("n_emails"),
        size(regexp_extract_all(col("__r1"), lit(ipv4), lit(0))).cast("long").as("n_ipv4"),
        regexp_replace(col("__r1"), ipv4, "<IP>").as("__r2"))
      .select(
        col(idCol), col("n_emails"), col("n_ipv4"),
        size(regexp_extract_all(col("__r2"), lit(digits), lit(0))).cast("long").as("n_digit_runs"),
        regexp_replace(col("__r2"), digits, "<NUM>").as("redacted"))
  }

  /** Intra-document span dedup: split each document into consecutive
    * non-overlapping `span`-token chunks, drop every chunk that already
    * appeared earlier IN THE SAME document (first occurrence wins), and
    * fingerprint the reconstruction — the within-doc repeated-passage
    * removal that runs before corpus-level dedup (the cross-doc twin is
    * [[hotPassages]]; C4 does this at line level, exact-substring dedup
    * at suffix level — the non-overlapping chunk grid is the
    * restartable, order-preserving middle ground).
    *
    * Scale: map-only — each row's work is quadratic in ITS OWN chunk
    * count (`array_position` per chunk), bounded by document length,
    * independent of corpus size; no shuffle, no state.
    */
  def dedupSpans(docs: DataFrame, span: Int = 5): DataFrame = {
    require(span >= 1, "span must be positive")
    docs
      .select(col("doc_id"), Cols.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), spanChunks(span).as("__chunks"))
      .select(col("doc_id"), col("__chunks"), expr(
        "filter(__chunks, (c, i) -> array_position(__chunks, c) = i + 1)").as("__kept"))
      .select(
        col("doc_id"),
        size(col("__chunks")).cast("long").as("n_chunks"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__chunks")) - size(col("__kept"))).cast("long").as("n_dropped"),
        md5(array_join(col("__kept"), " ")).as("dedup_fp"))
  }

  /** The non-overlapping `span`-token chunk grid of the `__toks` arrays:
    * chunk i joins tokens i·span+1 … (i+1)·span, the last one possibly
    * short. `tokens()` of any text has ≥ 1 element (empty text → [""]),
    * so the ceil-division chunk count is ≥ 1 and the sequence never
    * descends.
    */
  private def spanChunks(span: Int): Column = expr(
    s"""transform(sequence(0, cast((size(__toks) + ${span - 1}) / $span as int) - 1),
       |  i -> array_join(slice(__toks, i * $span + 1, $span), ' '))""".stripMargin)

  /** Largest-remainder quota allocation: split a document sample budget
    * across groups proportionally to their sizes, in EXACT integers that
    * sum to exactly `budget` — floor shares first, then one extra doc to
    * the groups with the largest remainders (ties broken by group name).
    * The deterministic partner to [[mixtureSample]]: that one samples to
    * a budget in expectation; this one emits the per-group quota table a
    * hard-capped sampler is driven by.
    *
    * Scale: one hash aggregate to |groups| rows; the total and the
    * remainder-rank window run on that group-sized table (never the
    * corpus), so the global window is bounded by group cardinality.
    */
  def quotaAlloc(docs: DataFrame, groupCol: String = "lang", budget: Long = 100L): DataFrame = {
    val counts = freq(docs, "n_docs", groupCol)
    val parts = withScalars(counts, counts, sum(col("n_docs")).as("__total"))
      .select(col(groupCol) +: col("n_docs") +:
        floorShares(col("n_docs") * budget, col("__total")): _*)
    remainderRanked(parts, budget, groupCol)
      .select(col(groupCol), col("n_docs"), apportioned.as("quota"))
  }

  /** Exact integer floor square root: `floor(sqrt(n))` computed in double
    * precision, then corrected by integer comparison so the result is the
    * TRUE isqrt even where the double rounds across the boundary (for
    * token masses up to 2⁶² the double estimate is off by at most 1).
    * DuckDB mirror is the same CASE correction on `floor(sqrt(n))`.
    */
  private def isqrt(n: Column): Column = {
    val s0 = floor(sqrt(n.cast("double"))).cast("long")
    when((s0 + 1) * (s0 + 1) <= n, s0 + 1)
      .when(s0 * s0 > n, s0 - 1)
      .otherwise(s0)
  }

  /** Temperature-scaled language sampling (the multilingual-pretraining
    * rebalance rule: sample language g with probability ∝ n_g^α, α = 1/2
    * here): high-resource languages are damped, low-resource ones boosted,
    * without ever inverting the order. Emits per language the raw token
    * mass and share, the √-scaled share, the boost factor the temperature
    * applies, and a hard token quota that sums EXACTLY to `budgetTokens`
    * (largest-remainder apportionment, the [[quotaAlloc]] discipline — a
    * trainer's sampler needs integer budgets, not fractions).
    *
    * All arithmetic is exact: √n via [[isqrt]] (integer-corrected), shares
    * as e6 floor fractions, remainders ranked over the |langs|-row table.
    *
    * Scale: one map-side-combined token-mass aggregate to |langs| rows;
    * the totals crossJoin is a 1-row broadcast and the remainder-rank
    * window runs on the language table (bounded by |langs|, never data).
    */
  def temperatureMix(docs: DataFrame, budgetTokens: Long = 100000L): DataFrame = {
    val mass = docs.select(col("lang"), nTokens.as("__t"))
      .groupBy(col("lang")).agg(sum(col("__t")).as("n_tokens"))
      .withColumn("sqrt_tokens", isqrt(col("n_tokens")))
    val parts = withScalars(mass, mass,
      sum(col("n_tokens")).as("__nt"), sum(col("sqrt_tokens")).as("__st"))
      .select(Seq(
        col("lang"), col("n_tokens"), col("sqrt_tokens"),
        Cols.floorDiv(col("n_tokens") * 1000000L, col("__nt")).as("raw_share_e6"),
        Cols.floorDiv(col("sqrt_tokens") * 1000000L, col("__st")).as("temp_share_e6")) ++
        floorShares(lit(budgetTokens) * col("sqrt_tokens"), col("__st")): _*)
    remainderRanked(parts, budgetTokens, "lang")
      .select(
        col("lang"), col("n_tokens"), col("raw_share_e6"),
        col("sqrt_tokens"), col("temp_share_e6"),
        apportioned.as("quota_tokens"),
        // the temperature's effect in one number: scaled share ÷ raw share
        when(col("raw_share_e6") > 0,
          Cols.floorDiv(col("temp_share_e6") * 10000L, col("raw_share_e6")))
          .otherwise(lit(null).cast("long")).as("boost_e4"))
      .orderBy(col("lang"))
  }

  /** Multi-epoch repetition planner — the data-constrained-scaling
    * readout (Muennighoff et al. 2023: repeating data up to ~4 epochs
    * costs little; beyond that returns decay fast): can the training
    * mixture's weights be SERVED by the data each source actually has,
    * without over-repeating? Per source: docs, raw token mass, UNIQUE
    * token mass after exact dedup (distinct normalized texts — the
    * tokens one epoch really contains), the duplicate share, the
    * temperature-scaled (α = ½, the [[temperatureMix]] rule) allocation
    * of a declared budget (`budgetFactorE2`% of the corpus's unique
    * mass — 200 = train for "2 epochs worth" of corpus), the e2 epoch
    * count that allocation implies for the source, and the
    * `over_4_epochs` degradation flag. Upweighted small sources are
    * exactly the ones that cross the line — the tension this table
    * makes visible before training does.
    *
    * Scale: one scan to (source, normalized text) grain for the dedup
    * collapse (same-norm docs share a token count, so max() per norm is
    * exact), one |sources|-row arithmetic pass, two 1-row broadcasts.
    */
  def epochPlan(docs: DataFrame, budgetFactorE2: Long = 200L): DataFrame = {
    val base = docs.select(
      col("source"), Cols.normalizeText(col("text")).as("__norm"), nTokens.as("__t"))
    val perSrc = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("total_tokens"))
    val uniq = base
      .groupBy(col("source"), col("__norm")).agg(max(col("__t")).as("__ut"))
      .groupBy(col("source")).agg(sum(col("__ut")).as("unique_tokens"))
    val m = perSrc.join(uniq, "source")
      .withColumn("sqrt_unique", isqrt(col("unique_tokens")))
    withScalars(m, m, sum(col("unique_tokens")).as("__tu"), sum(col("sqrt_unique")).as("__su"))
      .select(
        col("source"), col("n_docs"), col("total_tokens"), col("unique_tokens"),
        Cols.floorDiv((col("total_tokens") - col("unique_tokens")) * 10000L,
          col("total_tokens")).as("dup_share_e4"),
        Cols.floorDiv(col("unique_tokens") * 10000L, col("__tu")).as("raw_share_e4"),
        Cols.floorDiv(col("sqrt_unique") * 10000L, col("__su")).as("temp_share_e4"),
        Cols.floorDiv(
          Cols.floorDiv(col("__tu") * budgetFactorE2, lit(100L)) * col("sqrt_unique"),
          col("__su")).as("alloc_tokens"))
      .withColumn("epochs_e2",
        Cols.floorDiv(col("alloc_tokens") * 100L, col("unique_tokens")))
      .withColumn("over_4_epochs",
        when(col("epochs_e2") > 400L, 1L).otherwise(0L))
      .orderBy(col("source"))
  }

  /** DSIR-style importance weights (hashed n-gram importance resampling,
    * Xie et al. 2023): score every document by how much more likely its
    * tokens are under a TARGET distribution (here the `targetLang` slice —
    * the curated-set stand-in) than under the raw corpus. Features are
    * unigrams hashed into `buckets` buckets; each bucket's weight is the
    * add-one-smoothed log-likelihood ratio
    * `ln((ct+1)/(Tt+B)) − ln((cr+1)/(Tr+B))`, quantized to integer e4 at
    * the BUCKET grain, and a document's weight is the exact integer sum of
    * its token occurrences' bucket weights (quantize-then-sum — engines
    * agree bit-for-bit regardless of summation order). High-weight docs
    * are the ones importance resampling would keep.
    *
    * Output: the top-`k` documents by per-token weight (ties by doc_id) —
    * a TakeOrdered cut, never a global sort.
    *
    * Scale: the corpus explodes once to token occurrences, aggregates to
    * the FIXED `buckets`-row feature table (map-side combined), and joins
    * that table back as a bounded broadcast — corpus-sized data only ever
    * flows through map-local hashing and one per-doc aggregate. The two
    * totals are 1-row in-plan broadcasts (no driver count).
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  buckets: Int = 1024, k: Int = 50): DataFrame = {
    val occ = tokenRows(docs, "__t", "doc_id", "lang", "source")
      .select(col("doc_id"), col("lang"), col("source"),
        hashBucket(concat(lit("dsir:"), col("__t")), buckets).as("__b"))
    val bucketCounts = occ.groupBy(col("__b")).agg(
      count(lit(1)).as("__cr"),
      count(when(col("lang") === targetLang, 1)).as("__ct"))
    val ratios = withScalars(bucketCounts, bucketCounts,
      sum(col("__cr")).as("__tr"), sum(col("__ct")).as("__tt"))
      .select(
        col("__b"),
        round(log(
          (col("__ct") + 1).cast("double") * (col("__tr") + buckets) /
            ((col("__cr") + 1).cast("double") * (col("__tt") + buckets))) * 10000)
          .cast("long").as("__lr_e4"))
    occ.join(broadcast(ratios), "__b")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lr_e4")).as("dsir_sum_e4"))
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("dsir_sum_e4"),
        // per-token normalization so length doesn't dominate; Cols.floorDiv
        // is a TRUE floor, safe on the negative sums off-target docs get
        Cols.floorDiv(col("dsir_sum_e4"), col("n_tokens")).as("dsir_avg_e4"))
      .orderBy(col("dsir_avg_e4").desc, col("doc_id"))
      .limit(k)
  }

  /** Decile bucketing of the unigram-surprisal quality signal — the
    * "prune the worst decile / oversample the best" knob of a quality-
    * curriculum pipeline. Deliberately NOT `ntile()`: a global ntile is a
    * single-partition sort at 100 TB. Instead the nine decile thresholds
    * are computed as exact percentiles in-plan and broadcast; each doc's
    * decile = 1 + #(thresholds strictly below its score) — a map-only
    * bucketing after one aggregate, with ties resolving deterministically
    * (equal scores share a decile; boundary mass sits in the lower
    * bucket, so decile populations are only approximately equal — the
    * scale-correct tradeoff vs ntile's exact-but-serial split).
    */
  def surprisalDeciles(docs: DataFrame): DataFrame = {
    val scores = unigramLogprob(docs).select(col("doc_id"), col("avg_surprisal_e4"))
    withScalars(scores, scores,
      expr("percentile(avg_surprisal_e4, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("__th"))
      .select(
        col("doc_id"),
        col("avg_surprisal_e4"),
        (lit(1L) + size(filter(col("__th"), t => col("avg_surprisal_e4") > t)).cast("long"))
          .as("decile"))
  }

  /** Collocation mining: corpus-wide bigram PMI (pointwise mutual
    * information), the classic phrase-detection signal (word2vec's phrase
    * pass, MWE extraction): PMI = ln(P(xy) / (P(x)·P(y))), reported as
    * integer e4 with counts so downstream thresholds are exact.
    * Bigrams below `minCount` are dropped (PMI is noise at tiny counts —
    * a hapax pair maxes the score).
    *
    * Scale: two explode + hash-agg pyramids (bigram and unigram counts,
    * both map-side combined); the scored join runs on the DISTINCT-bigram
    * table (vocabulary-sized, orders below the token stream) against the
    * unigram vocabulary twice, with both corpus totals as in-plan
    * broadcast scalars. The multiplication order in the PMI argument is
    * pinned left-associative to mirror the oracle bit-for-bit.
    */
  def collocations(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    val toksDf = tokenArrays(fanOut(docs))
    val grams = gramRows(toksDf, 2, "gram")
    val unis = toksDf.select(explode(col("toks")).as("term"))
    val cx = freq(unis, "c", "term")
    val pairs = withGramWords(freq(grams, "c_xy", "gram").filter(col("c_xy") >= minCount), 2)
      .join(cx.select(col("term").as("w1"), col("c").as("c_x")), "w1")
      .join(cx.select(col("term").as("w2"), col("c").as("c_y")), "w2")
    withScalars(withScalars(pairs, unis, count(lit(1)).as("__n1")),
      grams, count(lit(1)).as("__n2"))
      .select(
        col("gram"), col("c_xy"), col("c_x"), col("c_y"),
        round(
          log(col("c_xy").cast("double") * col("__n1") * col("__n1") /
            (col("c_x").cast("double") * col("c_y") * col("__n2"))) * 10000)
          .cast("long").as("pmi_e4"))
  }

  /** Repeated-passage detection (the C4/RefinedWeb "remove oft-repeated
    * n-gram spans" signal): word-3-gram shingles by document frequency,
    * thresholded. Shingles are distinct per document ([[graft.dedup.Dedup.shingleRows]]),
    * so df = number of documents containing the passage. One explode +
    * one hash aggregate — partial aggregation collapses counts map-side,
    * and the output is only the hot tail.
    */
  def hotPassages(docs: DataFrame, minDf: Long = 3L): DataFrame =
    freq(Dedup.shingleRows(docs), "df", "shingle").filter(col("df") >= minDf)

  /** Bigram conditional entropy rate per language, exact-integer e4:
    * `H(next | prev) = Σ_pairs −p(pair)·ln(c_pair / c_prev)` with each
    * pair's term quantized to e4 BEFORE the sum (the [[unigramLogprob]]
    * order-independence trick), so engines agree bit-for-bit. The lower
    * the rate, the more predictable the language sample — the
    * corpus-level companion to the per-document [[bigramSurprisal]]
    * (which scores documents against the corpus model; this scores the
    * model itself).
    *
    * Scale: explode to bigrams once, then a hash-agg pyramid onto the
    * bigram vocabulary, its prev-margin, and |langs| totals — the same
    * posting-list shape as TF-IDF, nothing quadratic.
    */
  def entropyRate(docs: DataFrame): DataFrame = {
    val pairs = gramRows(tokenArrays(fanOut(docs), "lang"), 2, "bg", "lang")
    val c = freq(pairs, "c", "lang", "bg").withColumn("prev", substring_index(col("bg"), " ", 1))
    val t = c.groupBy(col("lang"), col("prev")).agg(sum(col("c")).as("t"))
    val tot = c.groupBy(col("lang")).agg(sum(col("c")).as("total"))
    val term = round(
      -(col("c").cast("double") / col("total").cast("double")) *
        log(col("c").cast("double") / col("t").cast("double")) * 10000)
      .cast("long")
    c.join(t, Seq("lang", "prev"))
      .join(tot, Seq("lang"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_bigram_types"),
        first(col("total")).as("n_bigrams"),
        sum(term).as("entropy_rate_e4"))
  }

  /** Per-document character entropy — the repetitive-junk screen that
    * catches what token-level filters miss (`aaaa…`, boilerplate runs,
    * base64 walls all have distinctive char distributions): Shannon
    * entropy in nats over the normalized text's character frequencies,
    * each term e4-quantized BEFORE summing ([[entropyRate]]'s
    * order-independence discipline), plus a low-entropy flag at
    * `lowE4`. Empty-after-normalization docs have no distribution and
    * are absent (the screen's job is scoring content, not finding
    * blanks — [[docStats]] reports those).
    *
    * Scale: one char explode (corpus chars, same order as the winnow
    * scan) into a map-side-combined (doc, char) aggregate; everything
    * after is |docs|·|alphabet| rows.
    */
  def charEntropy(docs: DataFrame, lowE4: Long = 20000L): DataFrame = {
    val chars = graft.Tables.fanOutScan(docs)
      .select(col("doc_id"), Cols.normalizeText(col("text")).as("__n"))
      .filter(length(col("__n")) > 0)
      // split(''), not substring-per-index: the per-char substring walks
      // the string from byte 0 each call — O(len²) per doc (Cols.charsOf)
      .select(col("doc_id"), explode(Cols.charsOf(col("__n"))).as("ch"))
    val c = freq(chars, "c", "doc_id", "ch")
    val t = c.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"), count(lit(1)).as("n_distinct_chars"))
    val term = round(
      -(col("c").cast("double") / col("n_chars").cast("double")) *
        log(col("c").cast("double") / col("n_chars").cast("double")) * 10000)
      .cast("long")
    c.join(t, "doc_id")
      .groupBy(col("doc_id"))
      .agg(
        first(col("n_chars")).as("n_chars"),
        first(col("n_distinct_chars")).as("n_distinct_chars"),
        sum(term).as("char_entropy_e4"))
      .withColumn("low_entropy",
        when(col("char_entropy_e4") < lowE4, 1L).otherwise(0L))
  }

  /** Corpus-order novelty curve: per document, the share of its distinct
    * shingles that no LOWER doc_id contains — the "is the crawl still
    * finding new content" monitor a curation pipeline plots per ingest
    * batch (doc_id plays ingest order here). A corpus going stale shows
    * novelty_e4 collapsing toward 0 while volume holds.
    *
    * Scale: one hash aggregate to first-occurrence per shingle, one
    * equi-join back on the shingle key (fan-out = Σdf = the shingle-row
    * count — linear, never quadratic), one per-doc counting aggregate.
    */
  def noveltyCurve(docs: DataFrame): DataFrame = {
    val sh = Dedup.shingleRows(docs)
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("__first"))
    sh.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(when(col("__first") === col("doc_id"), 1)).as("n_novel"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_novel"),
        Cols.floorDiv(col("n_novel") * 10000, col("n_shingles")).as("novelty_e4"))
  }

  /** Corpus-wide top-k word n-grams by OCCURRENCE count (every repeat
    * counts, unlike the distinct-per-doc shingles of [[hotPassages]]),
    * ties broken by the n-gram string so the selected set is
    * deterministic on both engines.
    *
    * Scale: one explode + one map-side-combined hash aggregate onto the
    * n-gram vocabulary; the top-k is a TakeOrderedAndProject (per-partition
    * heaps merged on the driver), never a global sort materialization.
    */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 50): DataFrame =
    topV(gramRows(tokenArrays(docs), n, "ngram"), "ngram", "n_occurrences", k)

  /** Term burstiness (Church & Gale): for the `topTerms` highest-mass
    * vocabulary terms, the variance-to-mean ratio of the per-document
    * count — INCLUDING the zero-count documents, which is what separates
    * a bursty topic word (appears many times in few documents, VMR ≫ 1)
    * from a dispersed function word (VMR ≈ 1, Poisson-like). Corpus
    * mixing and stopword policies key off exactly this split.
    *
    * Population VMR over all N docs collapses to one exact integer
    * rational: `VMR = (N·Σc² − T²) / (N·T)` with `T = Σc` — zero-count
    * docs never materialize. The numerator is ≥ 0 by the power-mean
    * inequality (N·Σc² ≥ T²), so the e4 quantization is a plain
    * non-negative floor. Moments widen to decimal(38,0) before the cross
    * products: at corpus scale N·Σc² and T² overflow int64 long before
    * they overflow 38 digits (the CUPED discipline).
    *
    * Scale: explode → (term, doc) hash-agg → term-moment hash-agg (both
    * map-side combined), TakeOrderedAndProject for the top-`topTerms`
    * cut, and the corpus size N joins as a broadcast 1-row scalar — no
    * window over the unbounded vocabulary, no driver-side count.
    */
  def burstiness(docs: DataFrame, topTerms: Int = 50): DataFrame = {
    val moments = freq(tokenRows(docs, "term", "doc_id"), "__c", "term", "doc_id")
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("doc_freq"),
        sum(col("__c")).as("total_tf"),
        sum(dec38(col("__c")) * dec38(col("__c"))).as("__s2"))
      .orderBy(col("total_tf").desc, col("term"))
      .limit(topTerms)
    withScalars(moments, docs, count(lit(1)).as("__n"))
      .select(
        col("term"),
        col("total_tf"),
        col("doc_freq"),
        // exact decimal numerator/denominator; one rounded-double division
        // at the very end (the assortativity discipline)
        round((dec38(col("__n")) * col("__s2") - dec38(col("total_tf")) * dec38(col("total_tf")))
          .cast("double") /
          (dec38(col("__n")) * dec38(col("total_tf"))).cast("double"), 4).as("vmr"),
        Cols.floorDiv(col("doc_freq") * 10000L, col("__n")).as("doc_frac_e4"))
      .orderBy(col("total_tf").desc, col("term"))
  }

  /** Corpus duplication profile: for each n-gram order in `ns`, the
    * share of the corpus's n-gram VOCABULARY that repeats (`dup_type
    * _frac_e4`) and the share of total n-gram MASS carried by repeated
    * grams (`dup_mass_frac_e4`). The curve across n is the standard
    * dedup-tuning readout: unigram mass always repeats, and where the
    * curve collapses toward zero tells you the n at which exact
    * substring dedup stops finding anything — i.e. how aggressive a
    * span-dedup pass ([[dedupSpans]]) can afford to be.
    *
    * Scale: one explode + map-side-combined hash aggregate per n-gram
    * order onto that order's vocabulary, each collapsing to a 1-row
    * moment before the bounded |ns|-row union — no cross-order state and
    * no window. Grams group by their strings (exact counts; a 60-bit
    * hash would silently merge colliding grams into wrong distinct
    * counts — at production scale swap in a 120-bit hash pair, never a
    * single word).
    */
  def dupProfile(docs: DataFrame, ns: Seq[Int] = Seq(1, 2, 3, 5, 8)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "n-gram orders must be positive")
    val toks = tokenArrays(docs)
    val frames = ns.map { n =>
      freq(gramRows(toks, n, "gram"), "__c", "gram")
        .agg(
          count(lit(1)).as("distinct_ngrams"),
          coalesce(sum(col("__c")), lit(0L)).as("total_ngrams"),
          count(when(col("__c") > 1, 1)).as("dup_ngrams"),
          coalesce(sum(when(col("__c") > 1, col("__c"))), lit(0L)).as("dup_mass"))
        .select(
          lit(n.toLong).as("n"),
          col("total_ngrams"), col("distinct_ngrams"),
          col("dup_ngrams"), col("dup_mass"),
          fracE4("dup_ngrams", "distinct_ngrams").as("dup_type_frac_e4"),
          fracE4("dup_mass", "total_ngrams").as("dup_mass_frac_e4"))
    }
    frames.reduce(_ unionAll _).orderBy(col("n"))
  }

  /** CROSS-document span duplication profile: chunk every document into
    * the non-overlapping `span`-token grid of [[dedupSpans]] and report,
    * per span length, how much of the corpus's span VOCABULARY
    * (`crossdoc_type_frac_e4`) and span MASS (`crossdoc_mass_frac_e4`)
    * appears in MORE THAN ONE document. This is [[dupProfile]] re-asked
    * at the grain an exact span-dedup pass actually removes, split by
    * removability: dupProfile says repeated n-grams exist, this says
    * whether they repeat ACROSS documents (what cross-doc span dedup /
    * [[hotPassages]] can reclaim) or only within one (what the map-only
    * [[dedupSpans]] already handles). Where the curve collapses across
    * span lengths is the longest span worth deduping globally.
    *
    * All counts are exact integers over exact chunk strings (the
    * [[dupProfile]] rationale: a hashed chunk key would silently merge
    * collisions into wrong distinct counts).
    *
    * Scale: per span length, one explode to the chunk grid (≤ tokens/span
    * rows — STRICTLY less fan-out than dupProfile's sliding n-grams),
    * one map-side-combined aggregate onto the chunk vocabulary carrying
    * both the occurrence count and the distinct-doc count, then a 1-row
    * moment — no window, no pair join, |spans|-row bounded union.
    */
  def spanDupProfile(docs: DataFrame, spans: Seq[Int] = Seq(2, 3, 5, 10)): DataFrame = {
    require(spans.nonEmpty && spans.forall(_ >= 1), "span lengths must be positive")
    val toks = docs.select(col("doc_id"), Cols.tokens(col("text")).as("__toks"))
    val frames = spans.map { s =>
      toks
        .select(col("doc_id"), explode(spanChunks(s)).as("chunk"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("__c"), count_distinct(col("doc_id")).as("__d"))
        .agg(
          coalesce(sum(col("__c")), lit(0L)).as("total_spans"),
          count(lit(1)).as("distinct_spans"),
          count(when(col("__d") > 1, 1)).as("crossdoc_types"),
          coalesce(sum(when(col("__d") > 1, col("__c"))), lit(0L)).as("crossdoc_mass"))
        .select(
          lit(s.toLong).as("span"),
          col("total_spans"), col("distinct_spans"),
          col("crossdoc_types"), col("crossdoc_mass"),
          fracE4("crossdoc_types", "distinct_spans").as("crossdoc_type_frac_e4"),
          fracE4("crossdoc_mass", "total_spans").as("crossdoc_mass_frac_e4"))
    }
    frames.reduce(_ unionAll _).orderBy(col("span"))
  }

  /** Bigram conditional surprisal per document: the add-one-smoothed
    * bigram language model `P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V)` scored
    * over each document's bigrams, quantized to integer e4 PER BIGRAM
    * then averaged (floor) — the LM-based quality signal one step up
    * from [[unigramLogprob]]: repeated boilerplate scores low surprisal,
    * incoherent word salad scores high, even when its unigram mix looks
    * normal. Documents with fewer than two tokens emit no row (no
    * bigrams to score).
    *
    * Scale: the posting-list shape again — per-doc bigram rows join the
    * corpus bigram table on the bigram and the unigram table on the
    * first word; V is a broadcast 1-row vocabulary count. All joins are
    * vocabulary-keyed, never doc×doc.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = tokenArrays(fanOut(docs), "doc_id")
    val bigrams = gramRows(toks, 2, "bigram", "doc_id")
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val unigramFreq = freq(toks.select(explode(col("toks")).as("w1")), "c1", "w1")
    val scored = withScalars(
      bigrams.join(freq(bigrams, "c2", "bigram"), "bigram").join(unigramFreq, "w1"),
      unigramFreq, count(lit(1)).as("__v"))
      .select(
        col("doc_id"),
        round(log(
          (col("c1") + col("__v")).cast("double") / (col("c2") + 1L).cast("double")) * 10000)
          .cast("long").as("q"))
    meanE4(scored, Seq("doc_id"), "n_bigrams", "surprisal", "q")
  }

  /** Interpolated Kneser–Ney bigram estimates — the smoothed language
    * model a corpus-quality filter actually scores with (raw MLE gives
    * unseen continuations zero mass; KN backs off to "how many contexts
    * does w₂ complete"). With absolute discount d = ¾ the whole estimate
    * is RATIONAL, so multiplying through by 4 keeps it exact:
    * `P = [max(4·c₁₂ − 3, 0)·D + 3·f₁·n₂] / (4·c₁·D)` where c₁₂ is the
    * bigram count, c₁ = Σ_w c₁w (the left-context mass), f₁ = distinct
    * continuations of w₁ (the discount mass donors), n₂ = distinct left
    * contexts of w₂ (the continuation count), D = distinct bigram types.
    * `p_kn_e9` floors that rational once in decimal(38,0); `p_mle_e9`
    * rides along as the unsmoothed comparison. Emits the `topN` most
    * frequent bigrams (count desc, words asc — deterministic boundary).
    *
    * Scale: bigram/left/right tables are hash aggregates to vocabulary
    * grain; D is a broadcast 1-row scalar; the top-N cut is
    * `orderBy().limit` — TakeOrderedAndProject per-partition heaps, the
    * [[zipfFit]] discipline (never a global window over the bigram
    * vocabulary). `c₁₂·10⁹` bounds the MLE numerator: exact to ~9·10⁹
    * occurrences of one bigram; the KN numerator is decimal-widened.
    */
  def knBigram(docs: DataFrame, topN: Int = 50): DataFrame = {
    val b = withGramWords(freq(gramRows(tokenArrays(fanOut(docs)), 2, "gram"), "c12", "gram"), 2)
    val left = b.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("f1"))
    withScalars(b.join(left, "w1").join(freq(b, "n2", "w2"), "w2"), b, count(lit(1)).as("__d"))
      .select(
        col("w1"), col("w2"), col("c12"), col("c1"),
        Cols.floorDiv(col("c12") * 1000000000L, col("c1")).as("p_mle_e9"),
        Cols.floorDiv(
          (dec38(greatest(lit(4L) * col("c12") - 3L, lit(0L))) * dec38(col("__d"))
            + dec38(lit(3L)) * dec38(col("f1")) * dec38(col("n2"))) * dec38(lit(1000000000L)),
          dec38(lit(4L)) * dec38(col("c1")) * dec38(col("__d"))).cast("long").as("p_kn_e9"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Interpolated Kneser–Ney TRIGRAM estimates — [[knBigram]] grown one
    * order, the smoothing that actual LM-quality filters run at: the top
    * level discounts trigram counts and backs off to the CONTINUATION
    * bigram model, which itself backs off to continuation unigrams. With
    * absolute discount d = ¾ at both levels the whole estimate is one
    * exact rational:
    *
    * `P = [max(4c₁₂₃−3,0)·4·m₂·D₂ + 3·f₁₂·(max(4m₂₃−3,0)·D₂ + 3·f₂·n₃)]
    *      / (16·c₁₂·m₂·D₂)`
    *
    * where every level-2 quantity is a TYPE count over the trigram
    * table (the standard KN middle layer): c₁₂ = Σ_w c(w₁w₂w) and f₁₂
    * its distinct continuations; m₂₃ = distinct left contexts of
    * (w₂,w₃); m₂ = Σ_w m₂(w₂,w) and f₂ its distinct continuations;
    * n₃ = distinct w₂ preceding w₃ among (w₂,w₃) types; D₂ = total
    * (w₂,w₃) types. `p_kn_e9` floors the rational once in
    * decimal(38,0); `p_mle_e9` rides along unsmoothed. Emits the `topN`
    * most frequent trigrams (count desc, words asc).
    *
    * Scale: all six tables are hash aggregates at n-gram-type grain
    * (the type tables shrink each level); D₂ is a 1-row broadcast; the
    * cut is TakeOrderedAndProject — never a global window over the
    * trigram vocabulary.
    */
  def knTrigram(docs: DataFrame, topN: Int = 50): DataFrame = {
    val t = withGramWords(freq(gramRows(tokenArrays(fanOut(docs)), 3, "gram"), "c123", "gram"), 3)
    val ctx = t.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("c12dot"), count(lit(1)).as("f12"))
    // (w2, w3) continuation types: t is type-grain, so count(*) = m23
    val mid = freq(t, "m23", "w2", "w3")
    val m2 = mid.groupBy(col("w2"))
      .agg(sum(col("m23")).as("m2dot"), count(lit(1)).as("f2"))
    withScalars(t.join(ctx, Seq("w1", "w2")).join(mid, Seq("w2", "w3")).join(m2, Seq("w2"))
      .join(freq(mid, "n3", "w3"), Seq("w3")), mid, count(lit(1)).as("__d2"))
      .select(
        col("w1"), col("w2"), col("w3"), col("c123"), col("c12dot"),
        Cols.floorDiv(col("c123") * 1000000000L, col("c12dot")).as("p_mle_e9"),
        Cols.floorDiv(
          (dec38(greatest(lit(4L) * col("c123") - 3L, lit(0L)))
            * dec38(lit(4L)) * dec38(col("m2dot")) * dec38(col("__d2"))
            + dec38(lit(3L)) * dec38(col("f12"))
              * (dec38(greatest(lit(4L) * col("m23") - 3L, lit(0L))) * dec38(col("__d2"))
                + dec38(lit(3L)) * dec38(col("f2")) * dec38(col("n3"))))
            * dec38(lit(1000000000L)),
          dec38(lit(16L)) * dec38(col("c12dot")) * dec38(col("m2dot")) * dec38(col("__d2")))
          .cast("long").as("p_kn_e9"))
      .orderBy(col("c123").desc, col("w1"), col("w2"), col("w3"))
      .limit(topN)
  }

  /** Zipf-law fit over the corpus vocabulary: the least-squares slope of
    * quantized ln(frequency) against quantized ln(rank) for the top
    * `topN` terms — natural-language corpora sit near slope −1; a corpus
    * of boilerplate or machine junk drifts away, making this a one-row
    * corpus-health gate. Logs are quantized to integer e4 BEFORE the
    * regression (the entropy/surprisal discipline), and the slope is the
    * exact-integer normal-equation form floored in DECIMAL(38,0) — the
    * only double surface is ln() itself, applied to identical integers
    * on both engines.
    *
    * Scale: one vocabulary aggregate, then a DISTRIBUTED top-k
    * (orderBy+limit plans TakeOrderedAndProject — per-partition heaps, no
    * global sort, no single-partition window over the vocabulary); the
    * rank window runs over topN rows only.
    */
  def zipfFit(docs: DataFrame, topN: Int = 100): DataFrame = {
    val top = topV(tokenRows(docs, "term"), "term", "n", topN)
    val w = Window.orderBy(col("n").desc, col("term")) // topN rows — bounded by construction
    val q = top
      .withColumn("__rank", row_number().over(w).cast("long"))
      .select(
        round(log(col("__rank").cast("double")) * 10000).cast("long").as("__x"),
        round(log(col("n").cast("double")) * 10000).cast("long").as("__y"))
    val s = q.agg(
      count(lit(1)).as("n_terms"),
      sum(col("__x")).as("__sx"),
      sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val num = (dec38(col("n_terms")) * dec38(col("__sxy"))
      - dec38(col("__sx")) * dec38(col("__sy"))) * dec38(lit(10000))
    val den = (dec38(col("n_terms")) * dec38(col("__sxx"))
      - dec38(col("__sx")) * dec38(col("__sx")))
    s.select(
      col("n_terms"),
      when(den =!= 0, graft.Cols.floorDiv(num, den)).cast("long").as("zipf_slope_e4"))
  }

  /** Language-ID evaluation: the confusion matrix of predicted vs
    * declared language, with each cell's share of its DECLARED row in
    * exact e4 (diagonal share = per-language recall) — the
    * classifier-eval pattern every heuristic labeler in the pipeline
    * should ship with.
    *
    * Scale: [[langId]]'s narrow scan plus one |langs|² hash aggregate;
    * the row totals re-aggregate the matrix, not the corpus.
    */
  def langIdEval(docs: DataFrame): DataFrame = {
    val cells = freq(langId(docs), "n_docs", "lang_declared", "lang_pred")
    val rowTotals = cells.groupBy(col("lang_declared"))
      .agg(sum(col("n_docs")).as("__row_total"))
    cells
      .join(broadcast(rowTotals), "lang_declared")
      .select(
        col("lang_declared"), col("lang_pred"), col("n_docs"),
        Cols.floorDiv(col("n_docs") * 10000, col("__row_total")).as("row_share_e4"))
  }

  /** Data-driven stopword candidates: tokens whose document frequency
    * exceeds half the corpus, with the df share in exact integer
    * ten-thousandths. The corpus size stays IN-PLAN (broadcast 1-row
    * count) — same discipline as the TF-IDF corpus constant.
    *
    * Scale: per-doc distinct tokens explode into one hash aggregate over
    * the vocabulary; the candidate list is the tiny high-df tail.
    */
  def stopwordCandidates(docs: DataFrame): DataFrame =
    withScalars(
      freq(docs.select(explode(array_distinct(Cols.tokens(col("text")))).as("token")),
        "df", "token"),
      docs, count(lit(1)).as("__n"))
      .filter(col("df") * 2 > col("__n"))
      .select(col("token"), col("df"), Cols.floorDiv(col("df") * 10000, col("__n")).as("df_e4"))

  /** Pretraining filter chain (the C4-style cleanup): ordered rules,
    * FIRST failing rule names the drop reason, `keep = 1` iff every rule
    * passes. Rule thresholds compare the e4-ROUNDED ratios (the same
    * rounding [[docStats]] emits), so the comparisons are cross-engine
    * exact. Output: (doc_id, keep, reason).
    *
    * Scale: a single narrow codegen'd scan — the rules are one CASE
    * expression over per-row stats, no joins, no shuffle.
    */
  def filterPipeline(docs: DataFrame): DataFrame =
    docStats(docs)
      .select(
        col("doc_id"),
        when(col("n_tokens") < 20, lit("too_short"))
          .when(col("n_tokens") > 90, lit("too_long"))
          .when(col("stopword_ratio") < 0.02, lit("low_stopword"))
          .when(col("type_token_ratio") < 0.35, lit("low_diversity"))
          .otherwise(lit("pass")).as("reason"))
      .select(
        col("doc_id"),
        (col("reason") === "pass").cast("long").as("keep"),
        col("reason"))

  /** Corpus-level quality-filter FUNNEL over [[filterPipeline]]'s rule
    * chain: one row per rule, in the chain's order, carrying three
    * different counts a filter rollout needs to tell apart —
    * `n_flagged` (docs the rule hits standalone, order-independent),
    * `n_marginal` (docs KILLED at this stage: flagged here and passed by
    * every earlier rule — [[filterPipeline]]'s first-fail attribution,
    * aggregated), and `n_surviving` (docs alive after this stage). The
    * gap between flagged and marginal is rule OVERLAP — a rule whose
    * standalone count is large but marginal count is ~0 is redundant
    * with the rules before it and can be dropped from the hot path.
    *
    * Scale: one [[docStats]] scan folds to a single row of conditional
    * counts (map-side combined), then a bounded |rules|-row explode.
    * No joins, no windows, nothing data-sized past the first aggregate.
    */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val flags = docStats(docs).select(
      (col("n_tokens") < 20).cast("long").as("f1"),
      (col("n_tokens") > 90).cast("long").as("f2"),
      (col("stopword_ratio") < 0.02).cast("long").as("f3"),
      (col("type_token_ratio") < 0.35).cast("long").as("f4"))
    val agg = flags.agg(
      count(lit(1)).as("__n"),
      sum(col("f1")).as("__s1"), sum(col("f2")).as("__s2"),
      sum(col("f3")).as("__s3"), sum(col("f4")).as("__s4"),
      count(when(col("f1") === 1, 1)).as("__m1"),
      count(when(col("f1") === 0 && col("f2") === 1, 1)).as("__m2"),
      count(when(col("f1") === 0 && col("f2") === 0 && col("f3") === 1, 1)).as("__m3"),
      count(when(col("f1") === 0 && col("f2") === 0 && col("f3") === 0 && col("f4") === 1, 1))
        .as("__m4"))
    val rules = Seq(
      (1L, "too_short", "__s1", "__m1"),
      (2L, "too_long", "__s2", "__m2"),
      (3L, "low_stopword", "__s3", "__m3"),
      (4L, "low_diversity", "__s4", "__m4"))
    val cumKilled = Map(
      1 -> col("__m1"),
      2 -> (col("__m1") + col("__m2")),
      3 -> (col("__m1") + col("__m2") + col("__m3")),
      4 -> (col("__m1") + col("__m2") + col("__m3") + col("__m4")))
    agg.select(explode(array(rules.map { case (seq, name, s, m) =>
      struct(
        lit(seq).as("rule_seq"), lit(name).as("rule"),
        coalesce(col(s), lit(0L)).as("n_flagged"),
        col(m).as("n_marginal"),
        (col("__n") - cumKilled(seq.toInt)).as("n_surviving"))
    }: _*)).as("__r"))
      .select(col("__r.*"))
      .orderBy(col("rule_seq"))
  }

  /** The composed training-data prep pipeline — exact dedup → quality
    * filter chain → deterministic split — as ONE lazy plan, per document:
    * `(doc_id, canonical, reason, split)`. Non-canonical duplicates carry
    * reason 'duplicate'; canonical docs carry their [[filterPipeline]]
    * verdict; every doc gets its [[splitAssign]] split (content-free, so
    * it is stable under dedup decisions).
    *
    * The point is composability: each stage is the registered operator,
    * chained with no materialization barriers — Catalyst sees the whole
    * pipeline and the dedup aggregate, filter scan, and split hash share
    * one pass over the documents table wherever possible. At 100 TB this
    * chain is exactly the nightly corpus build.
    */
  def prepPipeline(docs: DataFrame): DataFrame = {
    val canonical = Dedup.exact(docs)
      .select(col("keep_doc_id").as("doc_id"), lit(1L).as("canonical"))
    val verdicts = filterPipeline(docs).select(col("doc_id"), col("reason"))
    tagSplit(docs.select(col("doc_id")).join(canonical, Seq("doc_id"), "left")
      .join(verdicts, "doc_id"), docs)
      .select(
        col("doc_id"),
        coalesce(col("canonical"), lit(0L)).as("canonical"),
        when(col("canonical").isNull, lit("duplicate")).otherwise(col("reason")).as("reason"),
        col("split"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_contamination" -> ((s, d) => contamination(Tables.documents(s, d))),
    // the 100 TB posture: stop-phrase shingles (train-df > 5 — binds on the
    // fixtures, 14 shingles dropped at sf0.01) leave the vocabulary
    "txt_contamination_capped" -> ((s, d) =>
      contamination(Tables.documents(s, d), maxTrainDf = Some(5L))),
    "txt_hot_passages" -> ((s, d) => hotPassages(Tables.documents(s, d))),
    "txt_novelty" -> ((s, d) => noveltyCurve(Tables.documents(s, d))),
    "txt_entropy_rate" -> ((s, d) => entropyRate(Tables.documents(s, d))),
    "txt_repetition" -> ((s, d) => repetition(Tables.documents(s, d))),
    "txt_unigram_logprob" -> ((s, d) => unigramLogprob(Tables.documents(s, d))),
    // reference-LM perplexity filter: Laplace unigram LM trained on the
    // train split, every doc scored with OOV handling + filter verdict
    "txt_lm_perplexity" -> ((s, d) => lmPerplexityFilter(Tables.documents(s, d))),
    // CCNet head/middle/tail terciles of the reference-LM score, rolled
    // up per source with within-source shares
    "txt_ppl_buckets" -> ((s, d) => pplBuckets(Tables.documents(s, d))),
    "txt_pack_sequences" -> ((s, d) => packSequences(Tables.documents(s, d))),
    // overlapping-window RAG chunking: (doc_id, chunk_idx) citation keys
    "txt_chunk" -> ((s, d) => chunk(Tables.documents(s, d))),
    // per-source vocabulary-divergence screen over the top-50 terms
    "txt_source_chi2" -> ((s, d) => sourceChi2(Tables.documents(s, d))),
    // pairwise source JS divergence over the 1024-bucket hashed vocab
    "txt_source_js" -> ((s, d) => sourceJs(Tables.documents(s, d))),
    // per-doc KL from the corpus unigram over hashed buckets — the
    // off-distribution outlier screen at document grain
    "txt_doc_kl" -> ((s, d) => docKlDivergence(Tables.documents(s, d))),
    // per-doc character entropy: the repetitive-junk / base64-wall screen
    "txt_char_entropy" -> ((s, d) => charEntropy(Tables.documents(s, d))),
    "txt_collocations" -> ((s, d) => collocations(Tables.documents(s, d))),
    "txt_surprisal_deciles" -> ((s, d) => surprisalDeciles(Tables.documents(s, d))),
    "txt_mixture_sample" -> ((s, d) => mixtureSample(Tables.documents(s, d))),
    // hard-capped companion: exact integer quotas per language, Σ = budget
    "txt_quota_alloc" -> ((s, d) => quotaAlloc(Tables.documents(s, d))),
    // BPE tokenizer-training counting step: top char pairs
    "txt_bpe_pairs" -> ((s, d) => bpePairs(Tables.documents(s, d))),
    "txt_bpe_merges" -> ((s, d) => bpeMerges(Tables.documents(s, d))),
    "txt_bpe_compression" -> ((s, d) => bpeCompression(Tables.documents(s, d))),
    // hashing-trick sparse featurizer, 64 buckets on the fixtures
    "txt_feature_hashing" -> ((s, d) => featureHashing(Tables.documents(s, d), dim = 64)),
    // within-doc repeated-span removal (the cross-doc twin is hot_passages);
    // span=2 so the drop path binds on the fixtures (250 drops at sf0.01 —
    // span=5 never collides in the synthetic word soup)
    "txt_dedup_spans" -> ((s, d) => dedupSpans(Tables.documents(s, d), span = 2)),
    // PII redaction demo on the one fixture column with account-number
    // shapes; emails/IPs verified-zero by the same oracle
    "cust_pii_scrub" -> ((s, d) =>
      piiScrub(Tables.customer(s, d), "c_custkey", "c_name")),
    "txt_stratified_sample" -> ((s, d) => stratifiedSample(Tables.documents(s, d))),
    "txt_tfidf_top_terms" -> ((s, d) => tfidfTopTerms(Tables.documents(s, d))),
    "txt_tfidf_doc_sim" -> ((s, d) => tfidfDocSimilarity(Tables.documents(s, d))),
    "txt_split_assign" -> ((s, d) => splitAssign(Tables.documents(s, d))),
    // held-out OOV rate vs the top-1000 train-term vocabulary
    "txt_oov_rate" -> ((s, d) => oovRate(Tables.documents(s, d))),
    // coverage at 4 binding vocab cutoffs — the tokenizer-sizing sweep
    "txt_vocab_coverage" -> ((s, d) => vocabCoverage(Tables.documents(s, d))),
    "txt_vocab_growth" -> ((s, d) => vocabGrowth(Tables.documents(s, d))),
    // Heaps-law exponent/intercept via exact-integer Theil-Sen over the
    // log-log growth curve
    "txt_heaps_fit" -> ((s, d) => heapsFit(Tables.documents(s, d))),
    // winnowed (MOSS-style) local fingerprints, k=4 char grams, w=4
    "txt_winnow_fp" -> ((s, d) => winnowFingerprints(Tables.documents(s, d))),
    // df-capped overlap pairs over the winnowed index (≥8 shared)
    "txt_winnow_overlap" -> ((s, d) => winnowOverlap(Tables.documents(s, d))),
    // char-gram-grain split contamination over the winnowed index
    "txt_winnow_leakage" -> ((s, d) => winnowLeakage(Tables.documents(s, d))),
    // benchmark-decontamination screen: train-split corpus vs the test
    // split standing in for a held-out benchmark suite; per-benchmark-doc
    // contamination spans over the positional winnow index
    "txt_decontamination" -> ((s, d) => {
      val (train, test) = trainTest(Tables.documents(s, d))
      decontaminationScreen(train, test)
    }),
    // the incremental (streaming-twin) screen: the train split arriving
    // as 4 pmod-assigned ingest batches, per-batch df-capped vocabulary,
    // window contaminated once any batch hits it
    "txt_decontam_incr" -> ((s, d) => {
      val (train, test) = trainTest(Tables.documents(s, d))
      decontaminationIncremental(train, test)
    }),
    "txt_doc_stats" -> ((s, d) => docStats(Tables.documents(s, d))),
    "txt_quality" -> ((s, d) => qualityScore(Tables.documents(s, d))),
    "txt_langid" -> ((s, d) => langId(Tables.documents(s, d))),
    "txt_token_counts" -> ((s, d) => tokenCounts(Tables.documents(s, d))),
    "txt_fingerprint" -> ((s, d) => fingerprint(Tables.documents(s, d))),
    "txt_top_ngrams" -> ((s, d) => topNgrams(Tables.documents(s, d))),
    "txt_burstiness" -> ((s, d) => burstiness(Tables.documents(s, d))),
    "txt_dup_profile" -> ((s, d) => dupProfile(Tables.documents(s, d))),
    "txt_span_dup_profile" -> ((s, d) => spanDupProfile(Tables.documents(s, d))),
    // temperature-scaled (α=1/2) language sampling shares + exact quotas
    "txt_temperature_mix" -> ((s, d) => temperatureMix(Tables.documents(s, d))),
    // data-constrained epoch planner: temperature-allocated budget vs
    // each source's unique token mass, 4-epoch degradation flags
    "txt_epoch_plan" -> ((s, d) => epochPlan(Tables.documents(s, d))),
    // DSIR hashed-unigram importance weights vs the `en` target slice
    "txt_dsir_weights" -> ((s, d) => dsirWeights(Tables.documents(s, d))),
    // corpus composition profile: doc counts and size by (source, lang) —
    // the mixture dashboard behind mixtureSample's budgets
    "txt_source_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          Cols.floorDiv(sum(col("n_chars")) * 10000, count(lit(1))).as("avg_chars_e4"))),
    "txt_fertility" -> ((s, d) => fertility(Tables.documents(s, d))),
    // interpolated Kneser–Ney bigram table (d = 3/4 in exact quarters)
    "txt_kn_bigram" -> ((s, d) => knBigram(Tables.documents(s, d))),
    // interpolated KN one order up: trigram -> continuation bigram ->
    // continuation unigram, one exact rational at d = 3/4
    "txt_kn_trigram" -> ((s, d) => knTrigram(Tables.documents(s, d))),
    "txt_stopword_candidates" -> ((s, d) => stopwordCandidates(Tables.documents(s, d))),
    "txt_zipf" -> ((s, d) => zipfFit(Tables.documents(s, d))),
    "txt_bigram_surprisal" -> ((s, d) => bigramSurprisal(Tables.documents(s, d))),
    "txt_langid_eval" -> ((s, d) => langIdEval(Tables.documents(s, d))),
    "txt_filter_pipeline" -> ((s, d) => filterPipeline(Tables.documents(s, d))),
    "txt_filter_funnel" -> ((s, d) => filterFunnel(Tables.documents(s, d))),
    "txt_prep_pipeline" -> ((s, d) => prepPipeline(Tables.documents(s, d))),
  )

  private val stopList = Stopwords.map(s => s"'$s'").mkString(", ")

  /** One generated DuckDB merge-round layer for the [[bpeMerges]] oracle:
    * pair counts → top-1 → position marks → island parity → rebuilt
    * token lists (MATERIALIZED — each layer is consumed by two readers).
    */
  private def bpeRoundCte(i: Int): String = {
    val prev = s"t${i - 1}"
    s""", p$i AS (
       |  SELECT pr['a'] AS a, pr['b'] AS b, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest([{'a': toks[j], 'b': toks[j + 1]}
       |                       for j in generate_series(1, len(toks) - 1)]) AS pr
       |        FROM $prev)
       |  GROUP BY 1, 2
       |), top$i AS (
       |  SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1
       |), pos$i AS (
       |  SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, unnest(toks) AS tok
       |  FROM $prev
       |), mk$i AS (
       |  SELECT doc_id, p, tok,
       |    CASE WHEN tok = (SELECT a FROM top$i)
       |          AND lead(tok) OVER (PARTITION BY doc_id ORDER BY p) = (SELECT b FROM top$i)
       |         THEN 1 ELSE 0 END AS marked
       |  FROM pos$i
       |), mg$i AS (
       |  SELECT doc_id, p,
       |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |  FROM mk$i WHERE marked = 1
       |), mrg$i AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, p, row_number() OVER (PARTITION BY doc_id, grp ORDER BY p) AS rn
       |    FROM mg$i) WHERE rn % 2 = 1
       |), t$i AS MATERIALIZED (
       |  SELECT doc_id, list(newtok ORDER BY p) AS toks FROM (
       |    SELECT k.doc_id, k.p,
       |      CASE WHEN m.p IS NOT NULL
       |           THEN (SELECT a FROM top$i) || '$MergeSep' || (SELECT b FROM top$i)
       |           ELSE k.tok END AS newtok
       |    FROM mk$i k
       |    LEFT JOIN mrg$i m ON m.doc_id = k.doc_id AND m.p = k.p
       |    LEFT JOIN mrg$i q ON q.doc_id = k.doc_id AND q.p = k.p - 1
       |    WHERE q.p IS NULL
       |  ) GROUP BY doc_id
       |), n$i AS (SELECT sum(len(toks))::BIGINT AS n_after FROM t$i)""".stripMargin
  }

  /** Shared DuckDB normalization/token CTE (mirrors Cols.normalizeText/tokens). */
  private val tokCte =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
      |    text
      |  FROM documents
      |)""".stripMargin

  /** Shared DuckDB word-3-gram shingle CTE tail (mirrors
    * Dedup.shingleRows: distinct shingles, docs under 3 tokens vanish).
    */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                          for i in generate_series(1, len(toks) - 2)])) AS shingle
      |  FROM t
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "txt_contamination" ->
      s"""$tokCte, $shingleCte, sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), shs AS (
         |  SELECT sh.doc_id, sp.split, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
         |  FROM sh JOIN sp ON sh.doc_id = sp.doc_id
         |), train AS (
         |  SELECT DISTINCT h FROM shs WHERE split = 'train'
         |), held AS (
         |  SELECT * FROM shs WHERE split <> 'train'
         |)
         |SELECT held.doc_id, held.split, count(*) AS n_shingles,
         |  coalesce(sum(CASE WHEN train.h IS NOT NULL THEN 1 END), 0)::BIGINT AS n_contaminated,
         |  round(coalesce(sum(CASE WHEN train.h IS NOT NULL THEN 1 END), 0)::DOUBLE / count(*), 4)
         |    AS contamination_ratio
         |FROM held LEFT JOIN train ON held.h = train.h
         |GROUP BY 1, 2""".stripMargin,
    "txt_contamination_capped" ->
      s"""$tokCte, $shingleCte, sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), shs AS (
         |  SELECT sh.doc_id, sp.split, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
         |  FROM sh JOIN sp ON sh.doc_id = sp.doc_id
         |), train AS (
         |  SELECT h FROM shs WHERE split = 'train' GROUP BY h HAVING count(*) <= 5
         |), held AS (
         |  SELECT * FROM shs WHERE split <> 'train'
         |)
         |SELECT held.doc_id, held.split, count(*) AS n_shingles,
         |  coalesce(sum(CASE WHEN train.h IS NOT NULL THEN 1 END), 0)::BIGINT AS n_contaminated,
         |  round(coalesce(sum(CASE WHEN train.h IS NOT NULL THEN 1 END), 0)::DOUBLE / count(*), 4)
         |    AS contamination_ratio
         |FROM held LEFT JOIN train ON held.h = train.h
         |GROUP BY 1, 2""".stripMargin,
    "txt_hot_passages" ->
      s"""$tokCte, $shingleCte
         |SELECT shingle, count(*) AS df FROM sh
         |GROUP BY shingle HAVING count(*) >= 3""".stripMargin,
    "txt_entropy_rate" ->
      s"""$tokCte, bg AS (
         |  SELECT lang,
         |    unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)]) AS bg
         |  FROM t WHERE len(toks) >= 2
         |), c AS (
         |  SELECT lang, bg, count(*) AS c, string_split(bg, ' ')[1] AS prev
         |  FROM bg GROUP BY 1, 2
         |), tt AS (
         |  SELECT lang, prev, sum(c)::BIGINT AS t FROM c GROUP BY 1, 2
         |), tot AS (
         |  SELECT lang, sum(c)::BIGINT AS total FROM c GROUP BY 1
         |)
         |SELECT c.lang, count(*) AS n_bigram_types, min(total) AS n_bigrams,
         |  sum(round(-(c::DOUBLE / total) * ln(c::DOUBLE / t) * 10000)::BIGINT)::BIGINT
         |    AS entropy_rate_e4
         |FROM c JOIN tt USING (lang, prev) JOIN tot USING (lang)
         |GROUP BY 1""".stripMargin,
    "txt_novelty" ->
      s"""$tokCte, $shingleCte, f AS (
         |  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
         |)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END) AS n_novel,
         |  (count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END) * 10000) // count(*) AS novelty_e4
         |FROM sh JOIN f USING (shingle)
         |GROUP BY 1""".stripMargin,
    "txt_tfidf_top_terms" ->
      s"""$tokCte, terms AS (
         |  SELECT doc_id, unnest(toks) AS term FROM t
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), scored AS (
         |  SELECT doc_id, tf.term AS term, tf, df,
         |    round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 4) AS tfidf
         |  FROM tf JOIN df ON tf.term = df.term
         |), ranked AS (
         |  SELECT doc_id, term, tf, df, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS term_rank
         |  FROM scored
         |)
         |SELECT * FROM ranked WHERE term_rank <= 5""".stripMargin,
    "txt_tfidf_doc_sim" ->
      s"""$tokCte, terms AS (
         |  SELECT doc_id, unnest(toks) AS term FROM t
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), scored AS (
         |  SELECT doc_id, tf.term AS term,
         |    round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 4) AS tfidf
         |  FROM tf JOIN df ON tf.term = df.term
         |), ranked AS (
         |  SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
         |  FROM scored
         |), top AS (
         |  SELECT doc_id, term, round(tfidf * 10000)::BIGINT AS q FROM ranked WHERE rk <= 5
         |), n2 AS (
         |  SELECT doc_id, sum(q * q)::BIGINT AS norm2 FROM top GROUP BY doc_id
         |), rare AS (
         |  SELECT term FROM top GROUP BY term
         |  HAVING count(*) <= ceil(0.05 * (SELECT count(*) FROM documents))
         |), topf AS (
         |  SELECT top.doc_id, top.term, top.q FROM top JOIN rare USING (term)
         |), dots AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |    sum(a.q * b.q)::BIGINT AS dot, count(*) AS n_common_terms
         |  FROM topf a JOIN topf b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id_1, doc_id_2, n_common_terms,
         |  round(dot::DOUBLE / (sqrt(na.norm2::DOUBLE) * sqrt(nb.norm2::DOUBLE)), 6) AS cosine
         |FROM dots
         |JOIN n2 na ON na.doc_id = doc_id_1
         |JOIN n2 nb ON nb.doc_id = doc_id_2
         |WHERE round(dot::DOUBLE / (sqrt(na.norm2::DOUBLE) * sqrt(nb.norm2::DOUBLE)), 6) >= 0.8""".stripMargin,
    "txt_repetition" ->
      s"""$tokCte, g2 AS (
         |  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
         |                         for i in generate_series(1, len(toks) - 1)]) AS gram
         |  FROM t
         |), c2 AS (
         |  SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2
         |), top2 AS (
         |  SELECT doc_id, (length(gram) * cnt)::BIGINT AS chars FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
         |    FROM c2) WHERE rn = 1
         |), g3 AS (
         |  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                         for i in generate_series(1, len(toks) - 2)]) AS gram
         |  FROM t
         |), c3 AS (
         |  SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2
         |), dup3 AS (
         |  SELECT doc_id, sum(length(gram) * cnt)::BIGINT AS chars
         |  FROM c3 WHERE cnt >= 2 GROUP BY 1
         |), base AS (
         |  SELECT doc_id, length(norm)::BIGINT AS n_chars_norm FROM t
         |)
         |SELECT base.doc_id, n_chars_norm,
         |  coalesce(top2.chars, 0)::BIGINT AS top2gram_chars,
         |  CASE WHEN n_chars_norm > 0
         |       THEN round(coalesce(top2.chars, 0)::DOUBLE / n_chars_norm, 4)
         |       ELSE 0.0::DOUBLE END AS top2gram_char_frac,
         |  coalesce(dup3.chars, 0)::BIGINT AS dup3gram_chars,
         |  CASE WHEN n_chars_norm > 0
         |       THEN round(coalesce(dup3.chars, 0)::DOUBLE / n_chars_norm, 4)
         |       ELSE 0.0::DOUBLE END AS dup3gram_char_frac
         |FROM base
         |LEFT JOIN top2 ON base.doc_id = top2.doc_id
         |LEFT JOIN dup3 ON base.doc_id = dup3.doc_id""".stripMargin,
    "txt_unigram_logprob" ->
      s"""$tokCte, terms AS (
         |  SELECT doc_id, unnest(toks) AS term FROM t
         |), freq AS (
         |  SELECT term, count(*) AS freq FROM terms GROUP BY 1
         |), scored AS (
         |  SELECT doc_id,
         |    round(ln((SELECT count(*) FROM terms)::DOUBLE / freq) * 10000)::BIGINT AS q
         |  FROM terms JOIN freq USING (term)
         |), agg AS (
         |  SELECT doc_id, count(*) AS n_tokens, sum(q)::BIGINT AS sum_surprisal_e4
         |  FROM scored GROUP BY 1
         |)
         |SELECT doc_id, n_tokens, sum_surprisal_e4,
         |  (sum_surprisal_e4
         |   - (((sum_surprisal_e4 % n_tokens) + n_tokens) % n_tokens)) // n_tokens
         |    AS avg_surprisal_e4
         |FROM agg""".stripMargin,
    // Laplace unigram LM on the train split; every doc scored against it
    // with ln((N+V+1)/(c+1)) per token, e4-quantized before summing
    "txt_lm_perplexity" ->
      s"""$tokCte, sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), terms AS (
         |  SELECT t.doc_id, sp.split, unnest(toks) AS term
         |  FROM t JOIN sp USING (doc_id)
         |), tc AS (
         |  SELECT term, count(*)::BIGINT AS c FROM terms WHERE split = 'train' GROUP BY 1
         |), sc AS (
         |  SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM tc
         |), scored AS (
         |  SELECT tm.doc_id, tm.split,
         |    CASE WHEN tc.c IS NULL THEN 1 ELSE 0 END AS oov,
         |    round(ln((sc.n + sc.v + 1)::DOUBLE / (coalesce(tc.c, 0) + 1)::DOUBLE)
         |          * 10000)::BIGINT AS q
         |  FROM terms tm LEFT JOIN tc USING (term) CROSS JOIN sc
         |), agg AS (
         |  SELECT doc_id, split, count(*)::BIGINT AS n_tokens,
         |    sum(oov)::BIGINT AS n_oov, sum(q)::BIGINT AS sum_xent_e4
         |  FROM scored GROUP BY 1, 2
         |)
         |SELECT doc_id, split, n_tokens, n_oov, sum_xent_e4,
         |  ((sum_xent_e4
         |    - (((sum_xent_e4 % n_tokens) + n_tokens) % n_tokens)) // n_tokens)::BIGINT
         |    AS avg_xent_e4,
         |  (CASE WHEN (sum_xent_e4
         |    - (((sum_xent_e4 % n_tokens) + n_tokens) % n_tokens)) // n_tokens > 36000
         |        THEN 1 ELSE 0 END)::BIGINT AS would_filter
         |FROM agg""".stripMargin,
    "txt_pack_sequences" ->
      s"""$tokCte, sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), tc AS (
         |  SELECT doc_id, len(toks)::BIGINT AS ws_tokens FROM t
         |), cum AS (
         |  SELECT tc.doc_id, sp.split, tc.ws_tokens,
         |    coalesce(sum(tc.ws_tokens) OVER (
         |      PARTITION BY sp.split ORDER BY tc.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
         |  FROM tc JOIN sp ON tc.doc_id = sp.doc_id
         |)
         |SELECT doc_id, split, ws_tokens, cum_before,
         |  cum_before // 2048 AS pack_id
         |FROM cum""".stripMargin,
    // 64-token windows advancing by 48; list slices are inclusive-bounds
    "txt_chunk" ->
      s"""$tokCte, c AS (
         |  SELECT doc_id, toks,
         |    CASE WHEN len(toks) <= 64 THEN 1
         |         ELSE 1 + (len(toks) - 64 + 47) // 48 END AS k
         |  FROM t
         |), u AS (
         |  SELECT doc_id, toks, unnest(generate_series(0, k - 1)) AS i FROM c
         |)
         |SELECT doc_id, i::BIGINT AS chunk_idx, (i * 48 + 1)::BIGINT AS start_token,
         |  len(toks[i * 48 + 1 : i * 48 + 64])::BIGINT AS n_tokens,
         |  array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
         |FROM u""".stripMargin,
    // dense 1024-bucket hashed-vocab grid per source (Laplace-smoothed),
    // bucket-equi pair join, per-bucket JS terms e6-quantized THEN summed
    "txt_source_js" ->
      """WITH tm AS (
        |  SELECT source,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS bucket,
        |    count(*)::BIGINT AS c
        |  FROM tm GROUP BY 1, 2
        |), tt AS (
        |  SELECT source, sum(c)::BIGINT AS t FROM c GROUP BY 1
        |), g AS (
        |  SELECT tt.source, gs.bucket, tt.t,
        |    (coalesce(c.c, 0) + 1)::DOUBLE / (tt.t + 1024) AS p
        |  FROM tt CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS bucket) gs
        |  LEFT JOIN c ON c.source = tt.source AND c.bucket = gs.bucket
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  max(a.t)::BIGINT AS n_a, max(b.t)::BIGINT AS n_b,
        |  sum(round((a.p / 2 * ln(a.p / ((a.p + b.p) / 2))
        |           + b.p / 2 * ln(b.p / ((a.p + b.p) / 2))) * 1000000)::BIGINT)::BIGINT AS js_e6
        |FROM g a JOIN g b ON a.bucket = b.bucket AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // sparse form: only the doc's observed buckets (doc side unsmoothed,
    // corpus side Laplace-smoothed so the log stays finite); per-term e6
    // rounding before the sum, identical operation order to the Spark side
    "txt_doc_kl" ->
      """WITH tm AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents
        |), cell AS (
        |  SELECT doc_id, source, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS bucket,
        |    count(*)::BIGINT AS c
        |  FROM tm GROUP BY 1, 2, 3
        |), dt AS (
        |  SELECT doc_id, sum(c)::BIGINT AS t FROM cell GROUP BY 1
        |), cb AS (
        |  SELECT bucket, sum(c)::BIGINT AS cb FROM cell GROUP BY 1
        |), tot AS (SELECT sum(cb)::BIGINT AS tn FROM cb)
        |SELECT cell.doc_id, cell.source, max(dt.t)::BIGINT AS n_tokens,
        |  sum(round((cell.c::DOUBLE / dt.t::DOUBLE)
        |    * ln((cell.c::DOUBLE * (tot.tn + 1024)::DOUBLE)
        |        / (dt.t::DOUBLE * (cb.cb + 1)::DOUBLE)) * 1000000)::BIGINT)::BIGINT AS kl_e6
        |FROM cell JOIN dt USING (doc_id) JOIN cb USING (bucket) CROSS JOIN tot
        |GROUP BY 1, 2""".stripMargin,
    // full grid incl. empty cells; per-cell terms e4-quantized THEN
    // summed (the ev_chi2_hour discipline, grouped by source)
    "txt_source_chi2" ->
      """WITH s AS (
        |  SELECT source,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), tm AS (
        |  SELECT source, unnest(toks) AS term FROM s
        |), vf AS (
        |  SELECT term, count(*)::BIGINT AS f FROM tm GROUP BY 1
        |), vocab AS (
        |  SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY f DESC, term) AS rk FROM vf) v
        |  WHERE rk <= 50
        |), cells AS (
        |  SELECT source, term, count(*)::BIGINT AS o
        |  FROM tm JOIN vocab USING (term) GROUP BY 1, 2
        |), rt AS (SELECT source, sum(o)::BIGINT AS r FROM cells GROUP BY 1
        |), ct AS (SELECT term, sum(o)::BIGINT AS c FROM cells GROUP BY 1
        |), nt AS (SELECT sum(o)::BIGINT AS n FROM cells
        |), grid AS (
        |  SELECT rt.source, ct.term, rt.r, ct.c, coalesce(cells.o, 0)::BIGINT AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.source = rt.source AND cells.term = ct.term
        |), t AS (
        |  SELECT grid.source, grid.o,
        |    round((grid.o::DOUBLE * nt.n::DOUBLE - grid.r::DOUBLE * grid.c::DOUBLE)
        |        * (grid.o::DOUBLE * nt.n::DOUBLE - grid.r::DOUBLE * grid.c::DOUBLE) * 10000.0
        |        / (grid.r::DOUBLE * grid.c::DOUBLE * nt.n::DOUBLE))::BIGINT AS term_e4
        |  FROM grid CROSS JOIN nt
        |)
        |SELECT source, sum(o)::BIGINT AS n_tokens, sum(term_e4)::BIGINT AS chi2_e4
        |FROM t GROUP BY 1""".stripMargin,
    // per-char-term round-then-sum, mirroring the Spark aggregation
    "txt_char_entropy" ->
      """WITH nm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
        |  FROM documents
        |), ch AS (
        |  SELECT doc_id, unnest([substr(n, i, 1) for i in generate_series(1, length(n))]) AS ch
        |  FROM nm WHERE length(n) > 0
        |), c AS (
        |  SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2
        |), t AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_chars, count(*)::BIGINT AS n_distinct_chars
        |  FROM c GROUP BY 1
        |), s AS (
        |  SELECT c.doc_id, t.n_chars, t.n_distinct_chars,
        |    sum(round(-(c.c::DOUBLE / t.n_chars::DOUBLE)
        |              * ln(c.c::DOUBLE / t.n_chars::DOUBLE) * 10000)::BIGINT)::BIGINT
        |      AS char_entropy_e4
        |  FROM c JOIN t USING (doc_id)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, n_chars, n_distinct_chars, char_entropy_e4,
        |  CASE WHEN char_entropy_e4 < 20000 THEN 1 ELSE 0 END::BIGINT AS low_entropy
        |FROM s""".stripMargin,
    "txt_surprisal_deciles" ->
      s"""$tokCte, terms AS (
         |  SELECT doc_id, unnest(toks) AS term FROM t
         |), freq AS (
         |  SELECT term, count(*) AS freq FROM terms GROUP BY 1
         |), scored AS (
         |  SELECT doc_id,
         |    round(ln((SELECT count(*) FROM terms)::DOUBLE / freq) * 10000)::BIGINT AS q
         |  FROM terms JOIN freq USING (term)
         |), agg AS (
         |  SELECT doc_id, count(*) AS n_tokens, sum(q)::BIGINT AS s FROM scored GROUP BY 1
         |), sc AS (
         |  SELECT doc_id,
         |    (s - (((s % n_tokens) + n_tokens) % n_tokens)) // n_tokens AS avg_surprisal_e4
         |  FROM agg
         |), th AS (
         |  SELECT quantile_cont(avg_surprisal_e4,
         |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS th FROM sc
         |)
         |SELECT doc_id, avg_surprisal_e4,
         |  1 + len(list_filter(th.th, t -> avg_surprisal_e4 > t))::BIGINT AS decile
         |FROM sc CROSS JOIN th""".stripMargin,
    "txt_collocations" ->
      s"""$tokCte, g2 AS (
         |  SELECT unnest([toks[i] || ' ' || toks[i+1]
         |                 for i in generate_series(1, len(toks) - 1)]) AS gram
         |  FROM t
         |), cxy AS (
         |  SELECT gram, count(*) AS c_xy FROM g2 GROUP BY 1 HAVING count(*) >= 5
         |), u AS (
         |  SELECT unnest(toks) AS term FROM t
         |), cx AS (
         |  SELECT term, count(*) AS c FROM u GROUP BY 1
         |), n1 AS (SELECT count(*) AS n1 FROM u), n2 AS (SELECT count(*) AS n2 FROM g2)
         |SELECT g.gram, g.c_xy, a.c AS c_x, b.c AS c_y,
         |  round(ln(g.c_xy::DOUBLE * n1.n1 * n1.n1 / (a.c::DOUBLE * b.c * n2.n2)) * 10000)::BIGINT
         |    AS pmi_e4
         |FROM cxy g
         |JOIN cx a ON string_split(g.gram, ' ')[1] = a.term
         |JOIN cx b ON string_split(g.gram, ' ')[2] = b.term
         |CROSS JOIN n1 CROSS JOIN n2""".stripMargin,
    "txt_mixture_sample" ->
      """WITH tc AS (
        |  SELECT doc_id, source,
        |    len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))::BIGINT
        |      AS ws_tokens
        |  FROM documents
        |), f AS (
        |  SELECT source, sum(ws_tokens)::BIGINT AS src_tokens,
        |    least(1000000, (1000 * 1000000) // sum(ws_tokens))::BIGINT AS keep_ppm
        |  FROM tc GROUP BY source
        |)
        |SELECT tc.doc_id, tc.source, tc.ws_tokens, f.src_tokens, f.keep_ppm,
        |  ('0x' || substr(md5('mix:' || tc.doc_id), 1, 15))::BIGINT % 1000000 AS bucket
        |FROM tc JOIN f USING (source)
        |WHERE ('0x' || substr(md5('mix:' || tc.doc_id), 1, 15))::BIGINT % 1000000 < f.keep_ppm""".stripMargin,
    "txt_bpe_pairs" ->
      """WITH n AS (
        |  SELECT lower(text) AS t FROM documents WHERE length(lower(text)) >= 2
        |), p AS (
        |  SELECT unnest([substr(t, i, 2) for i in range(1, length(t))]) AS pair
        |  FROM n
        |)
        |SELECT pair, count(*)::BIGINT AS n_occurrences FROM p GROUP BY 1
        |ORDER BY n_occurrences DESC, pair LIMIT 50""".stripMargin,
    // the same three generated merge layers, rolled up per source from
    // the final token table joined back on doc_id
    "txt_bpe_compression" ->
      ("""WITH t0 AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |)""".stripMargin
        + (1 to 3).map(bpeRoundCte).mkString
        + "\n" +
        """, nb AS (SELECT doc_id, len(toks)::BIGINT AS nb FROM t0),
        |fin AS (SELECT doc_id, len(toks)::BIGINT AS na FROM t3),
        |agg AS (
        |  SELECT d.source, count(*)::BIGINT AS n_docs,
        |    sum(nb.nb)::BIGINT AS tokens_before,
        |    sum(fin.na)::BIGINT AS tokens_after
        |  FROM documents d
        |  JOIN nb ON nb.doc_id = d.doc_id
        |  JOIN fin ON fin.doc_id = d.doc_id
        |  GROUP BY 1
        |)
        |SELECT source, n_docs, tokens_before, tokens_after,
        |  ((tokens_before * 10000) // n_docs)::BIGINT AS per_doc_before_e4,
        |  ((tokens_after * 10000) // n_docs)::BIGINT AS per_doc_after_e4,
        |  (CASE WHEN tokens_before > 0 THEN
        |    ((tokens_before - tokens_after) * 10000) // tokens_before
        |   END)::BIGINT AS compression_e4
        |FROM agg""".stripMargin),
    // three generated merge-round layers; the greedy left-to-right merge
    // is gaps-and-islands + odd-rank parity (same recurrence as the
    // Spark fold — consecutive marks only occur when lhs = rhs)
    "txt_bpe_merges" ->
      ("""WITH t0 AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |)""".stripMargin
        + (1 to 3).map(bpeRoundCte).mkString
        + "\n" +
        """SELECT * FROM (
        |  SELECT 1::BIGINT AS round, a AS lhs, b AS rhs, cnt AS pair_count,
        |    (SELECT n_after FROM n1) AS n_tokens_after FROM top1
        |  UNION ALL
        |  SELECT 2::BIGINT, a, b, cnt, (SELECT n_after FROM n2) FROM top2
        |  UNION ALL
        |  SELECT 3::BIGINT, a, b, cnt, (SELECT n_after FROM n3) FROM top3
        |) ORDER BY round""".stripMargin),
    "txt_feature_hashing" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents
        |)
        |SELECT doc_id,
        |  ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
        |  count(*)::BIGINT AS n_tokens
        |FROM tok GROUP BY 1, 2""".stripMargin,
    "txt_dedup_spans" ->
      s"""$tokCte, ch AS (
         |  SELECT doc_id,
         |    [array_to_string(toks[(i-1)*2+1:(i-1)*2+2], ' ')
         |     for i in range(1, ((len(toks) + 1) // 2) + 1)] AS chunks
         |  FROM t
         |), k AS (
         |  SELECT doc_id, chunks,
         |    list_filter(chunks, (x, i) -> list_position(chunks, x) = i) AS kept
         |  FROM ch
         |)
         |SELECT doc_id,
         |  len(chunks)::BIGINT AS n_chunks,
         |  len(kept)::BIGINT AS n_kept,
         |  (len(chunks) - len(kept))::BIGINT AS n_dropped,
         |  md5(array_to_string(kept, ' ')) AS dedup_fp
         |FROM k""".stripMargin,
    "cust_pii_scrub" ->
      """WITH r1 AS (
        |  SELECT c_custkey,
        |    len(regexp_extract_all(c_name,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |    regexp_replace(c_name,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM customer
        |), r2 AS (
        |  SELECT c_custkey, n_emails,
        |    len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}'))::BIGINT AS n_ipv4,
        |    regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2
        |  FROM r1
        |)
        |SELECT c_custkey, n_emails, n_ipv4,
        |  len(regexp_extract_all(t2, '[0-9]{6,}'))::BIGINT AS n_digit_runs,
        |  regexp_replace(t2, '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM r2""".stripMargin,
    "txt_quota_alloc" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS total FROM c),
        |b AS (
        |  SELECT lang, n_docs, (n_docs * 100) // total AS base,
        |    (n_docs * 100) % total AS rem
        |  FROM c, t
        |), d AS (SELECT 100 - sum(base) AS deficit FROM b),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM b
        |)
        |SELECT lang, n_docs::BIGINT AS n_docs,
        |  (base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END)::BIGINT AS quota
        |FROM r, d""".stripMargin,
    "txt_stratified_sample" ->
      """SELECT doc_id, lang,
        |  ('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT % 1000 AS bucket
        |FROM documents
        |WHERE ('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT % 1000
        |      < CASE WHEN lang = 'en' THEN 100 ELSE 500 END""".stripMargin,
    "txt_split_assign" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // split CTE + tokenizer mirror; vocab = top-1000 train terms
    // (freq desc, term asc), held-out splits probe it with a left join
    "txt_oov_rate" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), tk AS (
        |  SELECT d.doc_id, sp.split,
        |    unnest(string_split(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents d JOIN sp USING (doc_id)
        |), v AS (
        |  SELECT term FROM (
        |    SELECT term, count(*) AS freq,
        |      row_number() OVER (ORDER BY count(*) DESC, term) AS r
        |    FROM tk WHERE split = 'train' GROUP BY term
        |  ) WHERE r <= 1000
        |), h AS (SELECT split, doc_id, term FROM tk WHERE split <> 'train')
        |SELECT h.split, count(DISTINCT h.doc_id)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_tokens,
        |  count(CASE WHEN v.term IS NULL THEN 1 END)::BIGINT AS n_oov,
        |  ((count(CASE WHEN v.term IS NULL THEN 1 END) * 10000) // count(*))::BIGINT AS oov_e4
        |FROM h LEFT JOIN v ON h.term = v.term
        |GROUP BY 1""".stripMargin,
    // winnowing mirror: the same md5-prefix hash per char 4-gram, window
    // minima via list slicing, distinct selected values per doc
    "txt_winnow_fp" ->
      """WITH t AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    [('0x' || substr(md5(substr(norm, i, 4)), 1, 15))::BIGINT
        |     for i in generate_series(1, length(norm) - 3)] AS h
        |  FROM t WHERE length(norm) >= 7
        |)
        |SELECT doc_id,
        |  unnest(list_distinct([list_min(h[i:i+3])
        |                        for i in generate_series(1, len(h) - 3)])) AS fingerprint
        |FROM f""".stripMargin,
    // the winnow CTEs + df-cap + posting-list pair join
    "txt_winnow_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    [('0x' || substr(md5(substr(norm, i, 4)), 1, 15))::BIGINT
        |     for i in generate_series(1, length(norm) - 3)] AS h
        |  FROM t WHERE length(norm) >= 7
        |), sel AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([list_min(h[i:i+3])
        |                          for i in generate_series(1, len(h) - 3)])) AS fp
        |  FROM f
        |), rare AS (
        |  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50
        |), sf AS (
        |  SELECT sel.doc_id, sel.fp FROM sel JOIN rare USING (fp)
        |)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_shared
        |FROM sf a JOIN sf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 8""".stripMargin,
    // the winnow CTEs + the split-hash CTE; held-out fingerprints probe
    // the df-capped train vocabulary with a left join (count of matches)
    "txt_winnow_leakage" ->
      """WITH t AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    [('0x' || substr(md5(substr(norm, i, 4)), 1, 15))::BIGINT
        |     for i in generate_series(1, length(norm) - 3)] AS h
        |  FROM t WHERE length(norm) >= 7
        |), sel AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([list_min(h[i:i+3])
        |                          for i in generate_series(1, len(h) - 3)])) AS fp
        |  FROM f
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), trainfp AS (
        |  SELECT fp FROM sel JOIN sp USING (doc_id)
        |  WHERE split = 'train' GROUP BY fp HAVING count(*) <= 50
        |)
        |SELECT s.doc_id, p.split, count(*)::BIGINT AS n_fp,
        |  count(tf.fp)::BIGINT AS n_leaked,
        |  ((count(tf.fp) * 10000) // count(*))::BIGINT AS leak_frac_e4
        |FROM sel s
        |JOIN sp p ON p.doc_id = s.doc_id
        |LEFT JOIN trainfp tf ON tf.fp = s.fp
        |WHERE p.split <> 'train'
        |GROUP BY 1, 2""".stripMargin,
    // the winnow + split CTEs, POSITIONAL window list on the test
    // (benchmark) side — two same-length unnests zip in DuckDB — a
    // df-capped train vocabulary, and gaps-and-islands span detection
    // (pos − row_number per doc) mirroring the Spark window exactly
    "txt_decontamination" ->
      """WITH t AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), f AS (
        |  SELECT t.doc_id, sp.split,
        |    [('0x' || substr(md5(substr(norm, i, 4)), 1, 15))::BIGINT
        |     for i in generate_series(1, length(norm) - 3)] AS h
        |  FROM t JOIN sp USING (doc_id) WHERE length(norm) >= 7
        |), pos AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(h) - 3)) AS pos,
        |    unnest([list_min(h[i:i+3]) for i in generate_series(1, len(h) - 3)]) AS fp
        |  FROM f WHERE split = 'test'
        |), vocab AS (
        |  SELECT fp FROM (
        |    SELECT doc_id,
        |      unnest(list_distinct([list_min(h[i:i+3])
        |                            for i in generate_series(1, len(h) - 3)])) AS fp
        |    FROM f WHERE split = 'train'
        |  ) GROUP BY fp HAVING count(*) <= 50
        |), marked AS (
        |  SELECT p.doc_id, p.pos, v.fp AS hit
        |  FROM pos p LEFT JOIN vocab v ON v.fp = p.fp
        |), per_doc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_windows, count(hit)::BIGINT AS n_hit
        |  FROM marked GROUP BY 1
        |), runs AS (
        |  SELECT doc_id, isl, count(*) AS run FROM (
        |    SELECT doc_id, pos,
        |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |    FROM marked WHERE hit IS NOT NULL
        |  ) GROUP BY 1, 2
        |), spans AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_spans, max(run)::BIGINT AS maxrun
        |  FROM runs GROUP BY 1
        |)
        |SELECT d.doc_id, d.n_windows, d.n_hit,
        |  ((d.n_hit * 10000) // d.n_windows)::BIGINT AS leak_frac_e4,
        |  coalesce(s.n_spans, 0)::BIGINT AS n_spans,
        |  coalesce(s.maxrun, 0)::BIGINT AS max_span_windows,
        |  (CASE WHEN s.maxrun IS NULL THEN 0 ELSE s.maxrun + 6 END)::BIGINT AS max_span_chars
        |FROM per_doc d LEFT JOIN spans s USING (doc_id)""".stripMargin,
    // the incremental twin: identical CTEs except the train vocabulary is
    // df-capped PER ingest batch (doc_id % 4) and then distinct-unioned —
    // a window is contaminated once any batch's capped vocabulary
    // contains its fingerprint
    "txt_decontam_incr" ->
      """WITH t AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), f AS (
        |  SELECT t.doc_id, sp.split,
        |    [('0x' || substr(md5(substr(norm, i, 4)), 1, 15))::BIGINT
        |     for i in generate_series(1, length(norm) - 3)] AS h
        |  FROM t JOIN sp USING (doc_id) WHERE length(norm) >= 7
        |), pos AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(h) - 3)) AS pos,
        |    unnest([list_min(h[i:i+3]) for i in generate_series(1, len(h) - 3)]) AS fp
        |  FROM f WHERE split = 'test'
        |), vocab AS (
        |  SELECT DISTINCT fp FROM (
        |    SELECT doc_id % 4 AS b, fp, count(*) AS df FROM (
        |      SELECT doc_id,
        |        unnest(list_distinct([list_min(h[i:i+3])
        |                              for i in generate_series(1, len(h) - 3)])) AS fp
        |      FROM f WHERE split = 'train'
        |    ) GROUP BY 1, 2 HAVING count(*) <= 50
        |  )
        |), marked AS (
        |  SELECT p.doc_id, p.pos, v.fp AS hit
        |  FROM pos p LEFT JOIN vocab v ON v.fp = p.fp
        |), per_doc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_windows, count(hit)::BIGINT AS n_hit
        |  FROM marked GROUP BY 1
        |), runs AS (
        |  SELECT doc_id, isl, count(*) AS run FROM (
        |    SELECT doc_id, pos,
        |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |    FROM marked WHERE hit IS NOT NULL
        |  ) GROUP BY 1, 2
        |), spans AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_spans, max(run)::BIGINT AS maxrun
        |  FROM runs GROUP BY 1
        |)
        |SELECT d.doc_id, d.n_windows, d.n_hit,
        |  ((d.n_hit * 10000) // d.n_windows)::BIGINT AS leak_frac_e4,
        |  coalesce(s.n_spans, 0)::BIGINT AS n_spans,
        |  coalesce(s.maxrun, 0)::BIGINT AS max_span_windows,
        |  (CASE WHEN s.maxrun IS NULL THEN 0 ELSE s.maxrun + 6 END)::BIGINT AS max_span_chars
        |FROM per_doc d LEFT JOIN spans s USING (doc_id)""".stripMargin,
    // same split + tokenizer + ranked-vocab CTEs as txt_oov_rate, one
    // UNION ALL arm per cutoff over the shared conditional aggregate
    "txt_vocab_coverage" -> {
      val cutoffs = Seq(5, 10, 20, 40)
      val condCols = cutoffs
        .map(v => s"count(CASE WHEN term_rank <= $v THEN 1 END) AS c_$v")
        .mkString(",\n  ")
      val arms = cutoffs.map { v =>
        s"""SELECT split, ${v}::BIGINT AS vocab_size, n_tokens::BIGINT AS n_tokens,
           |  c_$v::BIGINT AS n_covered,
           |  ((c_$v * 10000) // n_tokens)::BIGINT AS coverage_e4 FROM a""".stripMargin
      }
      s"""WITH sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), tk AS (
         |  SELECT d.doc_id, sp.split,
         |    unnest(string_split(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')), ' ')) AS term
         |  FROM documents d JOIN sp USING (doc_id)
         |), v AS (
         |  SELECT term, term_rank FROM (
         |    SELECT term, count(*) AS freq,
         |      row_number() OVER (ORDER BY count(*) DESC, term) AS term_rank
         |    FROM tk WHERE split = 'train' GROUP BY term
         |  ) WHERE term_rank <= ${cutoffs.max}
         |), j AS (
         |  SELECT h.split, v.term_rank
         |  FROM (SELECT split, term FROM tk WHERE split <> 'train') h
         |  LEFT JOIN v ON h.term = v.term
         |), a AS (
         |  SELECT split, count(*) AS n_tokens,
         |  $condCols
         |  FROM j GROUP BY 1
         |)
         |${arms.mkString("\nUNION ALL ")}""".stripMargin
    },
    // first-occurrence min(doc_id) per token folded to the bucket grid;
    // cumulative sums window over the 10-row grid only
    "txt_vocab_growth" ->
      s"""$tokCte, mx AS (
         |  SELECT max(doc_id) AS md FROM documents
         |), tk AS (
         |  SELECT doc_id, unnest(toks) AS tok FROM t
         |), fs AS (
         |  SELECT tok, min(doc_id) AS fd FROM tk GROUP BY 1
         |), nv AS (
         |  SELECT least(10, (fd * 10) // md + 1) AS bucket, count(*)::BIGINT AS nt
         |  FROM fs, mx GROUP BY 1
         |), tm AS (
         |  SELECT least(10, (doc_id * 10) // md + 1) AS bucket, count(*)::BIGINT AS tc
         |  FROM tk, mx GROUP BY 1
         |), dc AS (
         |  SELECT least(10, (doc_id * 10) // md + 1) AS bucket, count(*)::BIGINT AS dn
         |  FROM documents, mx GROUP BY 1
         |), g AS (
         |  SELECT unnest(generate_series(1, 10)) AS bucket
         |), j AS (
         |  SELECT g.bucket,
         |    coalesce(dc.dn, 0) AS dn, coalesce(tm.tc, 0) AS tc,
         |    coalesce(nv.nt, 0) AS nt
         |  FROM g LEFT JOIN dc USING (bucket) LEFT JOIN tm USING (bucket)
         |  LEFT JOIN nv USING (bucket)
         |)
         |SELECT bucket::BIGINT AS bucket,
         |  (sum(dn) OVER w)::BIGINT AS n_docs,
         |  (sum(tc) OVER w)::BIGINT AS n_tokens,
         |  (sum(nt) OVER w)::BIGINT AS vocab,
         |  nt::BIGINT AS new_terms,
         |  (CASE WHEN tc > 0 THEN (nt * 10000) // tc END)::BIGINT AS yield_e4
         |FROM j
         |WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY bucket""".stripMargin,
    // the vocab-growth CTEs → e6-quantized logs → 45 pairwise integer
    // slopes → lower medians (list element (n+1)//2, no midpoint average)
    "txt_heaps_fit" ->
      s"""$tokCte, mx AS (
         |  SELECT max(doc_id) AS md FROM documents
         |), tk AS (
         |  SELECT doc_id, unnest(toks) AS tok FROM t
         |), fs AS (
         |  SELECT tok, min(doc_id) AS fd FROM tk GROUP BY 1
         |), nv AS (
         |  SELECT least(10, (fd * 10) // md + 1) AS bucket, count(*)::BIGINT AS nt
         |  FROM fs, mx GROUP BY 1
         |), tm AS (
         |  SELECT least(10, (doc_id * 10) // md + 1) AS bucket, count(*)::BIGINT AS tc
         |  FROM tk, mx GROUP BY 1
         |), g AS (
         |  SELECT unnest(generate_series(1, 10)) AS bucket
         |), cum AS (
         |  SELECT g.bucket,
         |    (sum(coalesce(tm.tc, 0)) OVER w)::BIGINT AS n_tokens,
         |    (sum(coalesce(nv.nt, 0)) OVER w)::BIGINT AS vocab
         |  FROM g LEFT JOIN tm USING (bucket) LEFT JOIN nv USING (bucket)
         |  WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), pts AS (
         |  SELECT round(ln(n_tokens::DOUBLE) * 1000000)::BIGINT AS lt,
         |         round(ln(vocab::DOUBLE) * 1000000)::BIGINT AS lv
         |  FROM cum WHERE n_tokens > 0 AND vocab > 0
         |), sl AS (
         |  SELECT (((b.lv - a.lv) * 1000000
         |           - (((((b.lv - a.lv) * 1000000) % (b.lt - a.lt)) + (b.lt - a.lt)) % (b.lt - a.lt)))
         |          // (b.lt - a.lt))::BIGINT AS s
         |  FROM pts a JOIN pts b ON a.lt < b.lt
         |), beta AS (
         |  SELECT count(*)::BIGINT AS n_pairs,
         |    (list(s ORDER BY s))[(count(*) + 1) // 2]::BIGINT AS beta_e6
         |  FROM sl
         |), rs AS (
         |  SELECT n_pairs, beta_e6,
         |    (lv - (beta_e6 * lt - (((beta_e6 * lt) % 1000000) + 1000000) % 1000000) // 1000000)::BIGINT AS r
         |  FROM pts, beta
         |)
         |SELECT count(*)::BIGINT AS n_points, n_pairs, beta_e6,
         |  (list(r ORDER BY r))[(count(*) + 1) // 2]::BIGINT AS ln_k_e6
         |FROM rs GROUP BY n_pairs, beta_e6""".stripMargin,
    "txt_doc_stats" ->
      s"""$tokCte
         |SELECT doc_id,
         |  length(text)::BIGINT AS n_chars,
         |  len(toks)::BIGINT AS n_tokens,
         |  len(list_distinct(toks))::BIGINT AS n_distinct_tokens,
         |  round((length(norm) - (len(toks) - 1))::DOUBLE / len(toks), 4) AS avg_token_len,
         |  round(len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks), 4) AS stopword_ratio,
         |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
         |FROM t""".stripMargin,
    "txt_quality" ->
      s"""$tokCte, st AS (
         |  SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    round(len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks), 4) AS stopword_ratio,
         |    round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
         |  FROM t
         |)
         |SELECT doc_id,
         |  round((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END +
         |         CASE WHEN stopword_ratio > 0.02 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END +
         |         CASE WHEN type_token_ratio > 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END), 2) AS quality
         |FROM st""".stripMargin,
    "txt_langid" ->
      s"""$tokCte
         |SELECT doc_id, lang AS lang_declared,
         |  CASE WHEN len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks) >= 0.05
         |       THEN 'en' ELSE 'other' END AS lang_pred
         |FROM t""".stripMargin,
    // the langid oracle aggregated to the confusion matrix; row shares
    // floor on non-negative counts
    "txt_langid_eval" ->
      s"""$tokCte, pr AS (
         |  SELECT lang AS lang_declared,
         |    CASE WHEN len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks) >= 0.05
         |         THEN 'en' ELSE 'other' END AS lang_pred
         |  FROM t
         |), cells AS (
         |  SELECT lang_declared, lang_pred, count(*) AS n_docs FROM pr GROUP BY 1, 2
         |), rt AS (
         |  SELECT lang_declared, sum(n_docs)::BIGINT AS row_total FROM cells GROUP BY 1
         |)
         |SELECT cells.lang_declared, lang_pred, n_docs,
         |  (n_docs * 10000) // row_total AS row_share_e4
         |FROM cells JOIN rt USING (lang_declared)""".stripMargin,
    "txt_token_counts" ->
      s"""$tokCte
         |SELECT doc_id,
         |  len(toks)::BIGINT AS ws_tokens,
         |  len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_ish_tokens,
         |  coalesce(list_sum(list_transform(toks, x -> ceil(length(x)::DOUBLE / 4.0)::BIGINT)), 0)::BIGINT AS subword_est
         |FROM t""".stripMargin,
    "txt_fingerprint" ->
      s"""$tokCte, sh AS (
         |  SELECT doc_id,
         |    list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                   for i in generate_series(1, len(toks) - 2)]) AS shingles
         |  FROM t
         |)
         |SELECT doc_id,
         |  list_min([('0x' || substr(md5(s), 1, 15))::BIGINT for s in shingles]) AS fingerprint
         |FROM sh""".stripMargin,
    "txt_source_stats" ->
      """SELECT source, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  ((sum(n_chars) * 10000) // count(*))::BIGINT AS avg_chars_e4
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // the collocations bigram CTE; KN numerator in HUGEINT (max(4c−3,0)
    // and every count ≥ 0, so // is floor); ties at the top-50 boundary
    // break on (c desc, w1, w2) in both engines
    "txt_kn_bigram" ->
      s"""$tokCte, g2 AS (
         |  SELECT unnest([toks[i] || ' ' || toks[i+1]
         |                 for i in generate_series(1, len(toks) - 1)]) AS gram
         |  FROM t
         |), b AS (
         |  SELECT gram, string_split(gram, ' ')[1] AS w1,
         |    string_split(gram, ' ')[2] AS w2, count(*)::BIGINT AS c12
         |  FROM g2 GROUP BY 1
         |), l AS (
         |  SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS f1
         |  FROM b GROUP BY 1
         |), r AS (
         |  SELECT w2, count(*)::BIGINT AS n2 FROM b GROUP BY 1
         |), dt AS (SELECT count(*)::BIGINT AS d FROM b)
         |SELECT w1, w2, c12, c1,
         |  ((c12 * 1000000000) // c1)::BIGINT AS p_mle_e9,
         |  (((greatest(4 * c12 - 3, 0)::HUGEINT * d + 3::HUGEINT * f1 * n2)
         |     * 1000000000) // (4::HUGEINT * c1 * d))::BIGINT AS p_kn_e9
         |FROM b JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN dt
         |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin,
    // the KN recursion one order up, all level-2 quantities TYPE counts
    // over the trigram table; numerator/denominator in HUGEINT
    "txt_kn_trigram" ->
      s"""$tokCte, g3 AS (
         |  SELECT unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                 for i in generate_series(1, len(toks) - 2)]) AS gram
         |  FROM t
         |), tg AS MATERIALIZED (
         |  SELECT gram, string_split(gram, ' ')[1] AS w1,
         |    string_split(gram, ' ')[2] AS w2, string_split(gram, ' ')[3] AS w3,
         |    count(*)::BIGINT AS c123
         |  FROM g3 GROUP BY 1
         |), ctx AS MATERIALIZED (
         |  SELECT w1, w2, sum(c123)::BIGINT AS c12dot, count(*)::BIGINT AS f12
         |  FROM tg GROUP BY 1, 2
         |), mid AS MATERIALIZED (
         |  SELECT w2, w3, count(*)::BIGINT AS m23 FROM tg GROUP BY 1, 2
         |), m2 AS MATERIALIZED (
         |  SELECT w2, sum(m23)::BIGINT AS m2dot, count(*)::BIGINT AS f2
         |  FROM mid GROUP BY 1
         |), n3t AS MATERIALIZED (
         |  SELECT w3, count(*)::BIGINT AS n3 FROM mid GROUP BY 1
         |), d2 AS (SELECT count(*)::BIGINT AS d FROM mid)
         |SELECT w1, w2, w3, c123, c12dot,
         |  ((c123 * 1000000000) // c12dot)::BIGINT AS p_mle_e9,
         |  (((greatest(4 * c123 - 3, 0)::HUGEINT * 4 * m2dot * d
         |     + 3::HUGEINT * f12 * (greatest(4 * m23 - 3, 0)::HUGEINT * d
         |                           + 3::HUGEINT * f2 * n3))
         |     * 1000000000) // (16::HUGEINT * c12dot * m2dot * d))::BIGINT AS p_kn_e9
         |FROM tg JOIN ctx USING (w1, w2) JOIN mid USING (w2, w3)
         |JOIN m2 USING (w2) JOIN n3t USING (w3) CROSS JOIN d2
         |ORDER BY c123 DESC, w1, w2, w3 LIMIT 50""".stripMargin,
    // shared tokenizer CTE; all sums non-negative → // is floor
    "txt_fertility" ->
      s"""$tokCte, f AS (
         |  SELECT d.source, d.lang, d.n_chars, len(t.toks)::BIGINT AS toks
         |  FROM t JOIN documents d USING (doc_id)
         |)
         |SELECT source, lang, count(*)::BIGINT AS n_docs,
         |  sum(toks)::BIGINT AS n_tokens, sum(n_chars)::BIGINT AS n_chars,
         |  ((sum(toks) * 1000000) // sum(n_chars))::BIGINT AS tokens_per_char_e6,
         |  ((sum(n_chars) * 10000) // sum(toks))::BIGINT AS chars_per_token_e4
         |FROM f GROUP BY 1, 2""".stripMargin,
    // ALL bigrams (duplicates preserved — occurrence counts, not df);
    // both engines order by (count desc, ngram) so the limit-50 set is
    // deterministic including at the boundary
    // temperature mix: all share/quota numerators are non-negative token
    // masses, so `//` is exact floor; isqrt mirrors Spark's CASE-corrected
    // floor(sqrt(n)) so both engines hold the TRUE integer square root
    "txt_temperature_mix" ->
      """WITH m AS (
        |  SELECT lang,
        |    sum(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')))::BIGINT
        |      AS n_tokens
        |  FROM documents GROUP BY 1
        |), sq AS (
        |  SELECT lang, n_tokens, floor(sqrt(n_tokens::DOUBLE))::BIGINT AS s0 FROM m
        |), s AS (
        |  SELECT lang, n_tokens,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN s0 + 1
        |         WHEN s0 * s0 > n_tokens THEN s0 - 1
        |         ELSE s0 END AS sqrt_tokens
        |  FROM sq
        |), t AS (SELECT sum(n_tokens) AS nt, sum(sqrt_tokens) AS st FROM s),
        |b AS (
        |  SELECT lang, n_tokens, sqrt_tokens,
        |    (n_tokens * 1000000) // nt AS raw_share_e6,
        |    (sqrt_tokens * 1000000) // st AS temp_share_e6,
        |    (100000 * sqrt_tokens) // st AS base,
        |    (100000 * sqrt_tokens) % st AS rem
        |  FROM s, t
        |), d AS (SELECT 100000 - sum(base) AS deficit FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM b)
        |SELECT lang, n_tokens, raw_share_e6::BIGINT AS raw_share_e6,
        |  sqrt_tokens, temp_share_e6::BIGINT AS temp_share_e6,
        |  (base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END)::BIGINT AS quota_tokens,
        |  CASE WHEN raw_share_e6 > 0
        |       THEN (temp_share_e6 * 10000) // raw_share_e6 END::BIGINT AS boost_e4
        |FROM r, d ORDER BY lang""".stripMargin,
    // the txt_lm_perplexity CTEs to per-doc avg xent, tercile cuts via
    // quantile_cont (the surprisal_deciles percentile mirror), rollup
    // per (source, bucket) with a window share
    "txt_ppl_buckets" ->
      s"""$tokCte, sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), terms AS (
         |  SELECT t.doc_id, sp.split, unnest(toks) AS term
         |  FROM t JOIN sp USING (doc_id)
         |), tc AS (
         |  SELECT term, count(*)::BIGINT AS c FROM terms WHERE split = 'train' GROUP BY 1
         |), sc0 AS (
         |  SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM tc
         |), scored AS (
         |  SELECT tm.doc_id,
         |    round(ln((sc0.n + sc0.v + 1)::DOUBLE / (coalesce(tc.c, 0) + 1)::DOUBLE)
         |          * 10000)::BIGINT AS q
         |  FROM terms tm LEFT JOIN tc USING (term) CROSS JOIN sc0
         |), agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(q)::BIGINT AS s
         |  FROM scored GROUP BY 1
         |), xent AS (
         |  SELECT a.doc_id, d.source,
         |    (s - (((s % n_tokens) + n_tokens) % n_tokens)) // n_tokens AS x
         |  FROM agg a JOIN documents d USING (doc_id)
         |), th AS (
         |  SELECT quantile_cont(x, [0.3333333333333333, 0.6666666666666666]) AS c FROM xent
         |), b AS (
         |  SELECT source,
         |    CASE WHEN x <= th.c[1] THEN 'head'
         |         WHEN x <= th.c[2] THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM xent CROSS JOIN th
         |), g AS (
         |  SELECT source, bucket, count(*)::BIGINT AS n_docs FROM b GROUP BY 1, 2
         |)
         |SELECT source, bucket, n_docs,
         |  ((n_docs * 10000) // sum(n_docs) OVER (PARTITION BY source))::BIGINT
         |    AS source_share_e4
         |FROM g""".stripMargin,
    // per-source unique mass via distinct normalized texts (same-norm
    // docs share a token count → max per norm), the temperature_mix
    // isqrt correction, nested floor alloc — all integer
    "txt_epoch_plan" ->
      """WITH b AS (
        |  SELECT source,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
        |    len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))::BIGINT AS t
        |  FROM documents
        |), ps AS (
        |  SELECT source, count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS total_tokens
        |  FROM b GROUP BY 1
        |), un AS (
        |  SELECT source, sum(ut)::BIGINT AS unique_tokens FROM (
        |    SELECT source, norm, max(t) AS ut FROM b GROUP BY 1, 2
        |  ) GROUP BY 1
        |), sq AS (
        |  SELECT ps.source, ps.n_docs, ps.total_tokens, un.unique_tokens,
        |    floor(sqrt(un.unique_tokens::DOUBLE))::BIGINT AS s0
        |  FROM ps JOIN un USING (source)
        |), m AS (
        |  SELECT source, n_docs, total_tokens, unique_tokens,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= unique_tokens THEN s0 + 1
        |         WHEN s0 * s0 > unique_tokens THEN s0 - 1
        |         ELSE s0 END AS sqrt_unique
        |  FROM sq
        |), t AS (SELECT sum(unique_tokens) AS tu, sum(sqrt_unique) AS su FROM m),
        |a AS (
        |  SELECT m.source, m.n_docs, m.total_tokens, m.unique_tokens,
        |    ((m.total_tokens - m.unique_tokens) * 10000 // m.total_tokens)::BIGINT AS dup_share_e4,
        |    (m.unique_tokens * 10000 // t.tu)::BIGINT AS raw_share_e4,
        |    (m.sqrt_unique * 10000 // t.su)::BIGINT AS temp_share_e4,
        |    (((t.tu * 200) // 100) * m.sqrt_unique // t.su)::BIGINT AS alloc_tokens
        |  FROM m, t
        |)
        |SELECT source, n_docs, total_tokens, unique_tokens, dup_share_e4,
        |  raw_share_e4, temp_share_e4, alloc_tokens,
        |  (alloc_tokens * 100 // unique_tokens)::BIGINT AS epochs_e2,
        |  (CASE WHEN alloc_tokens * 100 // unique_tokens > 400 THEN 1 ELSE 0 END)::BIGINT
        |    AS over_4_epochs
        |FROM a ORDER BY source""".stripMargin,
    // DSIR weights: the bucket log-ratio runs on identical integer inputs
    // in both engines (the unigram_logprob ln() discipline); the per-token
    // average uses the remainder-corrected floor because off-target docs
    // carry NEGATIVE sums (DuckDB `//` truncates toward zero there)
    "txt_dsir_weights" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5('dsir:' || t), 1, 15))::BIGINT % 1024 AS b
        |  FROM (SELECT doc_id, lang, source, unnest(toks) AS t FROM d)
        |), bc AS (
        |  SELECT b, count(*)::BIGINT AS cr,
        |    coalesce(sum(CASE WHEN lang = 'en' THEN 1 END), 0)::BIGINT AS ct
        |  FROM occ GROUP BY 1
        |), tot AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt FROM bc),
        |lr AS (
        |  SELECT b,
        |    round(ln((ct + 1)::DOUBLE * (tr + 1024)
        |             / ((cr + 1)::DOUBLE * (tt + 1024))) * 10000)::BIGINT AS lr_e4
        |  FROM bc, tot
        |), ds AS (
        |  SELECT doc_id, lang, source, count(*)::BIGINT AS n_tokens,
        |    sum(lr_e4)::BIGINT AS s
        |  FROM occ JOIN lr USING (b) GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, lang, source, n_tokens, s AS dsir_sum_e4,
        |  (s - ((s % n_tokens) + n_tokens) % n_tokens) // n_tokens AS dsir_avg_e4
        |FROM ds
        |ORDER BY dsir_avg_e4 DESC, doc_id LIMIT 50""".stripMargin,
    // burstiness: VMR numerator N·Σc² − T² ≥ 0 (power-mean inequality) and
    // doc_freq ≥ 0, so DuckDB's truncating `//` is exact floor here; the
    // cross products run in HUGEINT mirroring Spark's decimal(38,0)
    "txt_burstiness" ->
      s"""$tokCte, pd AS (
         |  SELECT term, doc_id, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
         |  GROUP BY 1, 2
         |), m AS (
         |  SELECT term,
         |    count(*)::BIGINT AS doc_freq,
         |    sum(c)::BIGINT AS total_tf,
         |    sum(c::HUGEINT * c::HUGEINT) AS s2
         |  FROM pd GROUP BY 1
         |  ORDER BY total_tf DESC, term LIMIT 50
         |), nn AS (SELECT count(*)::BIGINT AS n FROM t)
         |SELECT term, total_tf, doc_freq,
         |  round(((nn.n::HUGEINT * s2 - total_tf::HUGEINT * total_tf))::DOUBLE
         |        / ((nn.n::HUGEINT * total_tf))::DOUBLE, 4) AS vmr,
         |  (doc_freq * 10000) // nn.n AS doc_frac_e4
         |FROM m, nn
         |ORDER BY total_tf DESC, term""".stripMargin,
    // dup profile: all fraction numerators/denominators are non-negative
    // counts, so `//` is exact floor
    "txt_dup_profile" -> {
      val per = Seq(1, 2, 3, 5, 8).map { n =>
        s"""SELECT $n::BIGINT AS n,
           |  coalesce(sum(c), 0)::BIGINT AS total_ngrams,
           |  count(*)::BIGINT AS distinct_ngrams,
           |  coalesce(sum(CASE WHEN c > 1 THEN 1 END), 0)::BIGINT AS dup_ngrams,
           |  coalesce(sum(CASE WHEN c > 1 THEN c END), 0)::BIGINT AS dup_mass,
           |  CASE WHEN count(*) > 0
           |       THEN (coalesce(sum(CASE WHEN c > 1 THEN 1 END), 0) * 10000) // count(*)
           |       ELSE 0 END::BIGINT AS dup_type_frac_e4,
           |  CASE WHEN coalesce(sum(c), 0) > 0
           |       THEN (coalesce(sum(CASE WHEN c > 1 THEN c END), 0) * 10000) // sum(c)
           |       ELSE 0 END::BIGINT AS dup_mass_frac_e4
           |FROM (
           |  SELECT gram, count(*) AS c FROM (
           |    SELECT unnest([array_to_string(toks[i:i+${n - 1}], ' ')
           |                   for i in generate_series(1, len(toks) - ${n - 1})]) AS gram
           |    FROM t WHERE len(toks) >= $n
           |  ) GROUP BY 1
           |)""".stripMargin
      }
      s"""$tokCte
         |${per.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY n""".stripMargin
    },
    // per-span arms over the non-overlapping chunk grid (the dedup_spans
    // chunking), each an independent vocabulary aggregate — mirrors the
    // txt_dup_profile arm generator with the doc-distinct count added
    "txt_span_dup_profile" -> {
      val per = Seq(2, 3, 5, 10).map { s =>
        s"""SELECT $s::BIGINT AS span,
           |  coalesce(sum(c), 0)::BIGINT AS total_spans,
           |  count(*)::BIGINT AS distinct_spans,
           |  coalesce(sum(CASE WHEN d > 1 THEN 1 END), 0)::BIGINT AS crossdoc_types,
           |  coalesce(sum(CASE WHEN d > 1 THEN c END), 0)::BIGINT AS crossdoc_mass,
           |  CASE WHEN count(*) > 0
           |       THEN (coalesce(sum(CASE WHEN d > 1 THEN 1 END), 0) * 10000) // count(*)
           |       ELSE 0 END::BIGINT AS crossdoc_type_frac_e4,
           |  CASE WHEN coalesce(sum(c), 0) > 0
           |       THEN (coalesce(sum(CASE WHEN d > 1 THEN c END), 0) * 10000) // sum(c)
           |       ELSE 0 END::BIGINT AS crossdoc_mass_frac_e4
           |FROM (
           |  SELECT chunk, count(*) AS c, count(DISTINCT doc_id) AS d FROM (
           |    SELECT doc_id,
           |      unnest([array_to_string(toks[(i-1)*$s+1:(i-1)*$s+$s], ' ')
           |              for i in range(1, ((len(toks) + ${s - 1}) // $s) + 1)]) AS chunk
           |    FROM t
           |  ) GROUP BY 1
           |)""".stripMargin
      }
      s"""$tokCte
         |${per.mkString("", "\nUNION ALL\n", "")}
         |ORDER BY span""".stripMargin
    },
    "txt_top_ngrams" ->
      s"""$tokCte, g AS (
         |  SELECT unnest([toks[i] || ' ' || toks[i+1]
         |                 for i in generate_series(1, len(toks) - 1)]) AS ngram
         |  FROM t WHERE len(toks) >= 2
         |), c AS (
         |  SELECT ngram, count(*) AS n_occurrences FROM g GROUP BY 1
         |)
         |SELECT ngram, n_occurrences FROM c
         |ORDER BY n_occurrences DESC, ngram LIMIT 50""".stripMargin,
    // add-one bigram LM; q ≥ 0 always (c2 ≤ c1 and V ≥ 1 make the ratio
    // ≥ 1), so truncating `//` is floor
    "txt_bigram_surprisal" ->
      s"""$tokCte, bg AS (
         |  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
         |                         for i in generate_series(1, len(toks) - 1)]) AS bigram
         |  FROM t
         |), b2 AS (
         |  SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1
         |), u AS (
         |  SELECT unnest(toks) AS w1 FROM t
         |), c1t AS (
         |  SELECT w1, count(*) AS c1 FROM u GROUP BY 1
         |), vc AS (
         |  SELECT count(*)::BIGINT AS v FROM c1t
         |), sc AS (
         |  SELECT doc_id,
         |    round(ln((c1t.c1 + vc.v)::DOUBLE / (b2.c2 + 1)::DOUBLE) * 10000)::BIGINT AS q
         |  FROM bg
         |  JOIN b2 USING (bigram)
         |  JOIN c1t ON c1t.w1 = string_split(bg.bigram, ' ')[1]
         |  CROSS JOIN vc
         |)
         |SELECT doc_id, count(*) AS n_bigrams, sum(q)::BIGINT AS sum_surprisal_e4,
         |  (sum(q) // count(*))::BIGINT AS avg_surprisal_e4
         |FROM sc GROUP BY 1""".stripMargin,
    // quantized-log regression; remainder-corrected floor (num can be
    // negative — Zipf slopes are) with den > 0 by Cauchy–Schwarz
    "txt_zipf" ->
      s"""$tokCte, term AS (
         |  SELECT unnest(toks) AS term FROM t
         |), c AS (
         |  SELECT term, count(*) AS n FROM term GROUP BY 1
         |), top AS (
         |  SELECT term, n FROM c ORDER BY n DESC, term LIMIT 100
         |), r AS (
         |  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rank FROM top
         |), q AS (
         |  SELECT round(ln(rank) * 10000)::BIGINT AS x,
         |         round(ln(n) * 10000)::BIGINT AS y
         |  FROM r
         |), s AS (
         |  SELECT count(*)::BIGINT AS m, sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
         |         sum(x * y)::HUGEINT AS sxy, sum(x * x)::HUGEINT AS sxx
         |  FROM q
         |)
         |SELECT m AS n_terms,
         |  CASE WHEN m * sxx - sx * sx <> 0 THEN
         |    (((m * sxy - sx * sy) * 10000
         |      - (((m * sxy - sx * sy) * 10000 % (m * sxx - sx * sx))
         |         + (m * sxx - sx * sx)) % (m * sxx - sx * sx))
         |     // (m * sxx - sx * sx))::BIGINT
         |  END AS zipf_slope_e4
         |FROM s""".stripMargin,
    // df and the threshold are non-negative → truncating `//` is floor
    "txt_stopword_candidates" ->
      s"""$tokCte, d AS (
         |  SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t
         |), f AS (
         |  SELECT token, count(*) AS df FROM d GROUP BY 1
         |)
         |SELECT token, df,
         |  (df * 10000) // (SELECT count(*) FROM documents) AS df_e4
         |FROM f WHERE df * 2 > (SELECT count(*) FROM documents)""".stripMargin,
    "txt_filter_pipeline" ->
      s"""$tokCte, st AS (
         |  SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    round(len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks), 4) AS stopword_ratio,
         |    round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
         |  FROM t
         |), r AS (
         |  SELECT doc_id,
         |    CASE WHEN n_tokens < 20 THEN 'too_short'
         |         WHEN n_tokens > 90 THEN 'too_long'
         |         WHEN stopword_ratio < 0.02 THEN 'low_stopword'
         |         WHEN type_token_ratio < 0.35 THEN 'low_diversity'
         |         ELSE 'pass' END AS reason
         |  FROM st
         |)
         |SELECT doc_id, (reason = 'pass')::BIGINT AS keep, reason FROM r""".stripMargin,
    // the filter_pipeline stat CTEs folded to one conditional-count row,
    // then one UNION ALL arm per rule (standalone / marginal / surviving)
    "txt_filter_funnel" ->
      s"""$tokCte, st AS (
         |  SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    round(len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks), 4) AS stopword_ratio,
         |    round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
         |  FROM t
         |), fl AS (
         |  SELECT
         |    (n_tokens < 20)::INT AS f1,
         |    (n_tokens > 90)::INT AS f2,
         |    (stopword_ratio < 0.02)::INT AS f3,
         |    (type_token_ratio < 0.35)::INT AS f4
         |  FROM st
         |), a AS (
         |  SELECT count(*)::BIGINT AS n,
         |    count(*) FILTER (WHERE f1 = 1)::BIGINT AS s1,
         |    count(*) FILTER (WHERE f2 = 1)::BIGINT AS s2,
         |    count(*) FILTER (WHERE f3 = 1)::BIGINT AS s3,
         |    count(*) FILTER (WHERE f4 = 1)::BIGINT AS s4,
         |    count(*) FILTER (WHERE f1 = 1)::BIGINT AS m1,
         |    count(*) FILTER (WHERE f1 = 0 AND f2 = 1)::BIGINT AS m2,
         |    count(*) FILTER (WHERE f1 = 0 AND f2 = 0 AND f3 = 1)::BIGINT AS m3,
         |    count(*) FILTER (WHERE f1 = 0 AND f2 = 0 AND f3 = 0 AND f4 = 1)::BIGINT AS m4
         |  FROM fl
         |)
         |SELECT 1::BIGINT AS rule_seq, 'too_short' AS rule, s1 AS n_flagged,
         |  m1 AS n_marginal, (n - m1)::BIGINT AS n_surviving FROM a
         |UNION ALL SELECT 2, 'too_long', s2, m2, (n - m1 - m2)::BIGINT FROM a
         |UNION ALL SELECT 3, 'low_stopword', s3, m3, (n - m1 - m2 - m3)::BIGINT FROM a
         |UNION ALL SELECT 4, 'low_diversity', s4, m4, (n - m1 - m2 - m3 - m4)::BIGINT FROM a
         |ORDER BY rule_seq""".stripMargin,
    // dedup (min doc_id per normalized text) + the filter CTEs + the
    // split hash, composed exactly like prepPipeline
    "txt_prep_pipeline" ->
      s"""$tokCte, st AS (
         |  SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    round(len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks), 4) AS stopword_ratio,
         |    round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
         |  FROM t
         |), r AS (
         |  SELECT doc_id,
         |    CASE WHEN n_tokens < 20 THEN 'too_short'
         |         WHEN n_tokens > 90 THEN 'too_long'
         |         WHEN stopword_ratio < 0.02 THEN 'low_stopword'
         |         WHEN type_token_ratio < 0.35 THEN 'low_diversity'
         |         ELSE 'pass' END AS reason
         |  FROM st
         |), k AS (
         |  SELECT min(doc_id) AS doc_id FROM t GROUP BY norm
         |)
         |SELECT t.doc_id,
         |  (t.doc_id IN (SELECT doc_id FROM k))::BIGINT AS canonical,
         |  CASE WHEN t.doc_id IN (SELECT doc_id FROM k) THEN r.reason
         |       ELSE 'duplicate' END AS reason,
         |  CASE WHEN ('0x' || substr(md5('split:' || t.doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |       WHEN ('0x' || substr(md5('split:' || t.doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM t JOIN r USING (doc_id)""".stripMargin,
  )
}
