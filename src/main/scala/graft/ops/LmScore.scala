package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model quality scoring: train an n-gram LM on
  * a trusted reference slice, score every corpus document by its average
  * negative log-likelihood under that model, and gate on the score — the
  * standard "does this crawl page read like the reference corpus?" signal
  * (the published pipelines score against a Wikipedia-trained 5-gram LM;
  * here the reference slice and the order n are the caller's choice, with
  * bigram defaults for the registered query).
  *
  * 100 TB design — the model is a SKETCH, not a table:
  *  - n-gram and (n−1)-gram-prefix frequencies live in two Count-Min
  *    counter tables ([[Sketches.cmsBuild]]), so the model is
  *    `2·depth·width` longs REGARDLESS of reference size or order (a
  *    real-corpus 5-gram table has billions of rows and cannot broadcast;
  *    the CMS always can);
  *  - the build is three map-side-combined aggregates (n-gram CMS, prefix
  *    CMS, vocabulary) over the reference, tokenized once behind a
  *    persist — the corpus itself is never touched;
  *  - scoring embeds the counters as plan literals ([[Sketches
  *    .cmsLookupHashed]]) and runs as a pure codegen'd scan-stage fold:
  *    per document, words → gram hashes → CMS lookups → one left-to-right
  *    `aggregate` — NO join, NO shuffle, NO UDF anywhere on the corpus path
  *    (LmScoreSpec machine-asserts the scoring plan is join- and
  *    exchange-free). CMS overestimates only on collision, so a noisy cell
  *    can make a rare gram look common — the classic sketch trade; width
  *    sizes the error exactly as in q_cms_counts.
  *
  * Cross-engine exactness: counts, hashes, and the smoothing vocabulary are
  * integers (the CMS tables are hash-identical in DuckDB — q_cms_counts
  * proves the family), so the quantized score `q2_nll` — per-position
  * `floor(log2)` of the smoothed probability via `length(bin(x))`, the HLL
  * rank trick — is INTEGER-EXACT across engines and anchors the hash
  * verification. The float `nll` (natural-log average, rounded to 6) rides
  * alongside for consumers who want the conventional units; its double sum
  * carries the same accepted round-half risk as every other float aggregate
  * (CoreQueries preamble).
  *
  * No reference-repo counterpart (the reference has no LM scoring); the
  * operator generalizes its quality-filter family (SURVEY §2 F-rows) the
  * way Bloom decontamination generalizes its membership filters.
  */
object LmScore {

  /** Fixed-size n-gram LM state: two flat CMS counter tables (row-major
    * depth×width, [[Sketches.cmsFlat]]) plus the exact reference vocabulary
    * size (the add-one smoothing denominator). Bundling (n, depth, width)
    * with the counters keeps probe arithmetic from drifting from build
    * arithmetic — the [[Bloom.BloomSketch]] lesson. `gram` counts n-grams;
    * `prefix` counts (n−1)-gram occurrences in n-gram-START positions
    * (the conditional's denominator counts occurrences, not docs). */
  final case class NgramLm(n: Int, gram: Array[Long], prefix: Array[Long],
                           depth: Int, width: Int, vocab: Long) {
    require(n >= 2, s"an n-gram LM needs n >= 2, got $n")
    require(gram.length == depth * width && prefix.length == depth * width,
      s"counter tables must be depth*width = ${depth * width} long")
  }

  /** The (n−1)-gram prefixes aligned to n-gram start positions: positions
    * 1..L−n+1 of the (n−1)-gram array (the last (n−1)-gram starts no
    * n-gram). For n = 2 this is exactly "every word except the last" —
    * 1-gram shingles ARE the words, so hashes stay identical to the
    * original bigram formulation (the registered oracle depends on it). */
  private def prefixGrams(w: Column, n: Int): Column =
    when(size(w) >= n,
      slice(TextOps.shingles(w, n - 1), lit(1), size(w) - (n - 1)))
      .otherwise(array().cast("array<string>"))

  /** Train an order-`n` LM over `ref`'s `textCol`. Driver-memoized per
    * (params, reference plan, content fingerprint) like the IVF/PQ models —
    * steady-state reruns reuse the collected counters without touching the
    * reference. */
  def trainNgramLm(ref: DataFrame, n: Int = 2, textCol: String = "text",
                   depth: Int = 4, width: Int = 1024): NgramLm =
    // textCol and n are part of the memo family: the same reference frame
    // trained on a different column or order is a DIFFERENT model (the
    // shingleN lesson from the bloom memo key — same plan, same
    // fingerprint, distinct state).
    Indexes.memoModel(ref, s"lm_${textCol}_n${n}_d${depth}_w$width") {
      // three aggregates consume the tokenized reference (gram CMS, prefix
      // CMS, vocabulary) — pin the words frame so the reference is scanned
      // and regex-split ONCE, not once per aggregate
      val w = ref.select(TextOps.wordsSafe(col(textCol)).as("w"))
        .persist()
      try {
        val grams = w.select(explode(TextOps.shingles(col("w"), n)).as("g"))
        val prefixes = w.select(explode(prefixGrams(col("w"), n)).as("g"))
        // empty/whitespace-only docs tokenize to [""] (the NULL-parity
        // convention) — "" is a split artifact, not a vocabulary item, and
        // counting it would inflate the add-one smoothing denominator
        val vocab = w.select(explode(col("w")).as("g"))
          .where(col("g") =!= "")
          .agg(countDistinct(col("g"))).head().getLong(0)
        // an empty reference has no distribution to score against, and
        // vocab = 0 would make every smoothed probability (eb+1)/(eu+0)
        // degenerate (ln 0 = -Inf for unseen text) — fail loudly instead
        require(vocab >= 1L,
          "LM reference corpus is empty (zero distinct words) — train on a non-empty slice")
        NgramLm(n,
          Sketches.cmsFlat(Sketches.cmsBuild(grams, "g", depth, width), depth, width),
          Sketches.cmsFlat(Sketches.cmsBuild(prefixes, "g", depth, width), depth, width),
          depth, width, vocab)
      } finally w.unpersist()
    }

  /** Bigram convenience — the registered q_lm_perplexity order. */
  def trainBigramLm(ref: DataFrame, textCol: String = "text",
                    depth: Int = 4, width: Int = 1024): NgramLm =
    trainNgramLm(ref, 2, textCol, depth, width)

  /** Per-position CMS estimate arrays for each document — `__graft_eb`
    * (n-gram count) and `__graft_eu` (prefix count) appended to the
    * input columns, from which both score forms derive. Each stage is its
    * own materialized projection so every regex split, md5, and CMS lookup
    * evaluates exactly once (the Generate/CSE discipline of
    * [[TextOps.shingleSetFromWords]]); `__graft_`-prefixed intermediates
    * keep caller columns safe from collision. */
  private def estimates(docs: DataFrame, lm: NgramLm, textCol: String) = {
    // reserved intermediates: clobbering a caller column of the same name
    // would silently return computed arrays in place of caller data (the
    // bottomKSample `rnk` fail-fast precedent)
    val reserved = docs.columns.filter(_.startsWith("__graft_"))
    require(reserved.isEmpty,
      s"input already has reserved column(s) ${reserved.mkString(", ")}; rename them first")
    docs
      .withColumn("__graft_w", TextOps.wordsSafe(col(textCol)))
      .withColumn("__graft_bh",
        transform(TextOps.shingles(col("__graft_w"), lm.n), TextOps.shingleHash(_)))
      .withColumn("__graft_uh",
        transform(prefixGrams(col("__graft_w"), lm.n), TextOps.shingleHash(_)))
      .withColumn("__graft_eb", transform(col("__graft_bh"),
        b => Sketches.cmsLookupHashed(b, lm.gram, lm.depth, lm.width)))
      .withColumn("__graft_eu", transform(col("__graft_uh"),
        u => Sketches.cmsLookupHashed(u, lm.prefix, lm.depth, lm.width)))
      .drop("__graft_w", "__graft_bh", "__graft_uh")
  }

  private def nllCol(lm: NgramLm): Column =
    round(aggregate(zip_with(col("__graft_eb"), col("__graft_eu"), (b, u) =>
        log((u + lm.vocab).cast("double") / (b + lit(1L)).cast("double"))),
      lit(0.0), _ + _) / greatest(size(col("__graft_eb")), lit(1)).cast("double"), 6)

  /** Score `docs` under the model: one row per document —
    *  - `n_bigrams`: scored positions, L−n+1 (0 for docs under n words;
    *    the column name is the registered-query contract, fixed at the
    *    bigram default);
    *  - `q2_nll`: Σ floor-log2-quantized NLL terms, integer-exact
    *    (`length(bin(eu+V)) − length(bin(eb+1))` per position — add-one
    *    smoothing P = (eb+1)/(eu+V) in bit-length space);
    *  - `nll`: average natural-log NLL, left-to-right fold, rounded to 6.
    * Join-free and shuffle-free by construction — the model is three plan
    * literals. */
  def lmScores(docs: DataFrame, lm: NgramLm, textCol: String = "text"): DataFrame =
    lmScoresKeeping(docs, lm, Nil, textCol)

  /** [[lmScores]] carrying caller-selected input columns through the SAME
    * scan-stage projection — the shape a grouped consumer needs
    * ([[Selection.doremiWeights]] keeps `source`): without it the caller
    * must join the scores back to the corpus by doc_id, a second full
    * scan plus a |docs|-row shuffle in a family documented join-free
    * (self-review r18 catch).
    *
    * r20 OPT: scoring runs through the NATIVE
    * [[graft.functions.LmDocScore]] kernel — one codegen'd call per row
    * instead of the five interpreted higher-order functions of the
    * exploded Column chain (kept as [[lmScoresKeepingExploded]] for the
    * spec's identity pin; the registered oracles replay the exploded
    * derivation in DuckDB, so the hash gate also proves kernel ==
    * exploded every round). */
  def lmScoresKeeping(docs: DataFrame, lm: NgramLm, keep: Seq[String],
                      textCol: String = "text"): DataFrame = {
    val reserved = docs.columns.filter(_.startsWith("__graft_"))
    require(reserved.isEmpty,
      s"input already has reserved column(s) ${reserved.mkString(", ")}; rename them first")
    docs
      .withColumn("__graft_sc",
        graft.functions.LmDocScore.scoreCol(col(textCol), lm))
      .select(col("doc_id") +: keep.map(col) ++: Seq(
        col("__graft_sc.n_bigrams").as("n_bigrams"),
        col("__graft_sc.q2_nll").as("q2_nll"),
        col("__graft_sc.nll").as("nll")): _*)
  }

  /** The pre-kernel exploded Column derivation (HOF transform chain) —
    * retained ONLY as the spec's cross-implementation identity anchor
    * (LmScoreSpec asserts kernel == exploded on the real fixture; the
    * DuckDB oracles replay this same derivation). Never on a query path. */
  private[graft] def lmScoresKeepingExploded(docs: DataFrame, lm: NgramLm,
      keep: Seq[String], textCol: String = "text"): DataFrame =
    estimates(docs, lm, textCol).select(col("doc_id") +: keep.map(col) ++: Seq(
      size(col("__graft_eb")).cast("long").as("n_bigrams"),
      aggregate(zip_with(col("__graft_eb"), col("__graft_eu"), (b, u) =>
          (length(bin(u + lm.vocab)) - length(bin(b + lit(1L)))).cast("long")),
        lit(0L), _ + _).as("q2_nll"),
      nllCol(lm).as("nll")): _*)

  /** Keep documents whose average NLL is at most `maxNll` (plus everything
    * too short to score — a doc under n words is not evidence of junk). The
    * gate is computed INLINE on the corpus scan — same join-free scan-stage
    * filter shape as [[Curation.qualityGate]], no self-join.
    *
    * The filter runs above the score projection through the pushdown
    * barrier of [[graft.engine.Clean.whereParsed]]: a plain `where` lets
    * PushPredicateThroughNonJoin inline the kernel call into the Filter
    * once per referenced struct field. The barrier is seeded `rand`, which
    * streaming plans accept ([[graft.streaming.EventStreams.lmGateStream]]
    * gates a streaming frame with this code). LmScoreSpec pins the plan to
    * a single split. */
  def lmGate(docs: DataFrame, lm: NgramLm, maxNll: Double,
             textCol: String = "text"): DataFrame = {
    val reserved = docs.columns.filter(_.startsWith("__graft_"))
    require(reserved.isEmpty,
      s"input already has reserved column(s) ${reserved.mkString(", ")}; rename them first")
    val keep = docs.columns.map(col)
    graft.engine.Clean.whereParsed(
        docs.withColumn("__graft_sc",
          graft.functions.LmDocScore.scoreCol(col(textCol), lm)),
        col("__graft_sc.n_bigrams") === 0L || col("__graft_sc.nll") <= maxNll)
      .select(keep.toIndexedSeq: _*)
  }

  /** Gate threshold from the corpus itself: the exact `p`-quantile of
    * [[lmScores]] NLL over scoreable documents (n_bigrams > 0) — "cut the
    * worst decile" as a derived scalar rather than a hand-picked constant.
    * The scalar is a MODEL (one bounded driver double, like
    * [[Curation.qualityThreshold]]'s), memoized per (corpus plan, content
    * fingerprint, p, model instance) so steady-state reruns reuse it; the
    * model discriminator is per-JVM object identity, which is stable
    * because [[trainNgramLm]] memoizes the model itself. Scores are
    * rounded to 6 decimals before the quantile (the [[lmScores]] output
    * contract), so the input set — and with it the interpolated threshold
    * — is reproducible cross-engine. An unscoreable corpus (no doc with
    * n ≥ `lm.n` words) yields +∞: a gate with no evidence keeps
    * everything rather than dropping blind. */
  def lmNllPercentile(docs: DataFrame, lm: NgramLm, p: Double,
                      textCol: String = "text"): Double = {
    require(p >= 0.0 && p <= 1.0, s"quantile p must be in [0, 1], got $p")
    Indexes.memoModel(docs,
        s"lm_thr_${p}_${textCol}_${System.identityHashCode(lm)}") {
      val r = lmScores(docs, lm, textCol).where(col("n_bigrams") > 0)
        .agg(expr(s"percentile(nll, $p)")).head()
      Double.box(if (r.isNullAt(0)) Double.PositiveInfinity else r.getDouble(0))
    }.doubleValue()
  }
}
