package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language id, document fingerprinting.
  *
  * All pure Column expressions — whole-stage codegen, no UDFs, trivially
  * distributed: each is a map-side projection over the documents table, so
  * at 100 TB the cost is exactly one pruned scan (the shuffle count is zero).
  */
object TextAnalysis {

  /** fastText-style hashed n-gram linear classifier score — the learned-
    * filter shape of corpus quality classification (a linear model over
    * hashed unigram+bigram features; e.g. the CommonCrawl-vs-reference
    * quality classifiers of LLM data pipelines). The feature space is the
    * standard hashing trick: each unigram and each bigram hashes into one
    * of `dim` buckets, and the model weight of a bucket is looked up by
    * the feature's bucket id. Weights here derive deterministically from
    * the bucket id via the seeded hash family (a fixed pseudo-random
    * model) — swap [[weightOf]]'s derivation for a broadcast weight-table
    * join to serve a genuinely trained model; every other part of the
    * plan (and its scale shape) is what a trained model runs.
    *
    * Returns `(idCol, n_features, logit, score)` for documents with ≥ 1
    * token: `logit = Σ w(bucket(f)) / n_features`, `score = σ(logit)`.
    *
    * Scale/portability shape: tokens explode ONCE (codegen — no
    * interpreted higher-order lambdas); bigrams come from `element_at` on
    * the carried token array at `pos + 1`, not a window function, so the
    * whole feature stage is map-side; weights are INTEGER (`[-1000,
    * 1000]`, value/1000 ∈ [-1, 1]), so the per-document sum is an exact
    * associative integer aggregate — partial aggregation (map-side
    * combine) shrinks the one shuffle to one row per (doc × partition),
    * and engines agree bit-for-bit up to one IEEE division at the end.
    */
  def hashedNgramScore(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dim: Int = 4096,
      seed: Int = 7,
      hash: HashFamily = XxHash,
      scale: Int = 6
  ): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // integer model weight of a feature: bucket via seed, weight via seed+1
    def weightOf(f: Column): Column = {
      val bucket = pmod(hash.seeded(seed, f), lit(dim.toLong))
      pmod(hash.seeded(seed + 1, concat(lit("w:"), bucket.cast("string"))), lit(2001L)) - lit(1000L)
    }
    val exploded = df
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_toks"))
      .select(col(idCol), col("_toks"), posexplode(col("_toks")).as(Seq("_pos", "_tok")))
      .where(col("_tok") =!= "")
    val uni = col("_tok")
    val bi = when(
      col("_pos") < size(col("_toks")) - 1,
      concat(uni, lit(" "), element_at(col("_toks"), col("_pos") + 2)))
    val scored = exploded.select(
      col(idCol),
      weightOf(uni).as("_wu"),
      // guard the null: hash functions map NULL input to a value, not NULL
      when(bi.isNotNull, weightOf(bi)).as("_wb"))
    val agg = scored.groupBy(col(idCol)).agg(
      (count(lit(1)) + count(col("_wb"))).as("n_features"),
      (sum(col("_wu")) + coalesce(sum(col("_wb")), lit(0L))).as("_ws"))
    val logit = col("_ws").cast("double") / (lit(1000.0) * col("n_features").cast("double"))
    agg.select(
      col(idCol),
      col("n_features"),
      round(logit, scale).as("logit"),
      round(lit(1.0) / (lit(1.0) + exp(-logit)), scale).as("score"))
  }

  /** The (bucket, weight) table [[hashedNgramScore]]'s derived rule
    * implies over this corpus's observed features — the bridge between
    * the self-contained scorer and the SERVED-model path
    * ([[hashedNgramScoreWith]]): train elsewhere, or derive here, then
    * score any shard against the broadcast table. One distinct pass over
    * the feature buckets; output ≤ min(dim, |distinct features|) rows.
    */
  def derivedNgramWeights(
      df: DataFrame,
      textCol: String = "text",
      dim: Int = 4096,
      seed: Int = 7,
      hash: HashFamily = XxHash
  ): DataFrame = {
    val feats = ngramFeatureBuckets(df.withColumn("_fid", lit(0L)), textCol, "_fid", dim, seed, hash)
      .select(col("bucket")).distinct()
    feats.select(
      col("bucket"),
      (pmod(hash.seeded(seed + 1, concat(lit("w:"), col("bucket").cast("string"))), lit(2001L))
        - lit(1000L)).as("weight"))
  }

  /** [[hashedNgramScore]] scored against an EXPLICIT (bucket, weight)
    * model table instead of the derived rule — the serving path for a
    * trained classifier (fastText-style quality/domain model): features
    * hash to buckets exactly as in the derived scorer, the weight lookup
    * is a BROADCAST join against the ≤`dim`-row table, and buckets absent
    * from the table contribute weight 0 (they still count as features —
    * an unseen n-gram is evidence of nothing, not a skipped token). With
    * `weights = derivedNgramWeights(df)`, output ≡ [[hashedNgramScore]]
    * (spec-pinned), so the two faces cannot drift.
    */
  def hashedNgramScoreWith(
      df: DataFrame,
      weights: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dim: Int = 4096,
      seed: Int = 7,
      hash: HashFamily = XxHash,
      scale: Int = 6
  ): DataFrame = {
    val feats = ngramFeatureBuckets(df, textCol, idCol, dim, seed, hash)
    val agg = feats
      .join(broadcast(weights.select(col("bucket"), col("weight"))), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_features"),
        sum(coalesce(col("weight"), lit(0L))).as("_ws"))
    val logit = col("_ws").cast("double") / (lit(1000.0) * col("n_features").cast("double"))
    agg.select(
      col(idCol),
      col("n_features"),
      round(logit, scale).as("logit"),
      round(lit(1.0) / (lit(1.0) + exp(-logit)), scale).as("score"))
  }

  /** One (idCol, bucket) row per unigram and bigram feature — the shared
    * feature stage of [[hashedNgramScore]] / [[hashedNgramScoreWith]]
    * (codegen explode; bigrams via `element_at` at pos+1, no window).
    */
  private def ngramFeatureBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      dim: Int,
      seed: Int,
      hash: HashFamily
  ): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    def bucketOf(f: Column): Column = pmod(hash.seeded(seed, f), lit(dim.toLong))
    val exploded = df
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_toks"))
      .select(col(idCol), col("_toks"), posexplode(col("_toks")).as(Seq("_pos", "_tok")))
      .where(col("_tok") =!= "")
    val uni = col("_tok")
    val bi = when(
      col("_pos") < size(col("_toks")) - 1,
      concat(uni, lit(" "), element_at(col("_toks"), col("_pos") + 2)))
    exploded.select(col(idCol), bucketOf(uni).as("bucket"))
      .union(exploded.where(bi.isNotNull).select(col(idCol), bucketOf(bi).as("bucket")))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** A BPE-ish subword proxy: word-chunk count where long words are split
    * every 4 chars (common BPE piece length) — a deterministic, cheap
    * token-budget estimator (≈ tokens, not exact BPE).
    */
  def bpeishTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(
        aggregate(
          split(trim(text), "\\s+"),
          lit(0),
          (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int")
        )
      )

  /** Punctuation character ratio, rounded to `scale` decimals. */
  def punctRatio(text: Column, scale: Int = 6): Column =
    round(
      length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double"),
      scale
    )

  /** Ratio of stopword occurrences to total tokens, rounded. */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords, scale: Int = 6): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = filter(toks, t => t.isin(stopwords.map(lit(_).cast("string")): _*))
    round(size(stops).cast("double") / greatest(size(toks), lit(1)).cast("double"), scale)
  }

  /** Mean word length, rounded. */
  def meanWordLength(text: Column, scale: Int = 6): Column = {
    val toks = split(trim(text), "\\s+")
    round(
      aggregate(toks, lit(0), (acc, w) => acc + length(w)).cast("double") /
        greatest(size(toks), lit(1)).cast("double"),
      scale
    )
  }

  /** Composite quality score in [0,1]: length-normalized, penalizing extreme
    * punctuation and rewarding stopword presence (heuristic in the spirit of
    * C4/Gopher quality filters; the *shape* is what matters — each term is a
    * deterministic Column expression).
    */
  def qualityScore(text: Column, scale: Int = 6): Column = {
    val lenTerm  = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punct    = punctRatio(text, 10)
    val stopTerm = least(stopwordRatio(text, defaultStopwords, 10) * 5.0, lit(1.0))
    round((lenTerm + (lit(1.0) - least(punct * 10.0, lit(1.0))) + stopTerm) / 3.0, scale)
  }

  /** Language-id by marker-token counting: per language, count occurrences
    * of its high-frequency function words among the tokens; the language
    * with the highest count wins, 'und' (undetermined) when all are zero.
    * (n-gram-heuristic family; markers are deliberately SQL-expressible so
    * the operator is oracle-checkable.)
    */
  val languageMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "que", "y")
  )

  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val scores: Seq[(String, Column)] = languageMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers.map(lit(_).cast("string")): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language reaching the max wins (deterministic tie-break by order)
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Exact document fingerprint: md5 of the lowercased, whitespace-normalized
    * text (md5 chosen over xxhash64 for cross-engine verifiability).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling (shingle) fingerprints: md5 per w-token window — the rolling-
    * hash family used for near-dup candidate keys; returns an array column.
    */
  def rollingFingerprints(text: Column, window: Int = 8): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val n    = size(toks)
    val starts = sequence(lit(0), greatest(n - window, lit(0)))
    transform(starts, i => md5(array_join(slice(toks, i + 1, lit(window)), " ")))
  }

  /** Exploded variant of [[rollingFingerprints]]: one `(id, fp)` row per
    * window. Same result set, but the md5 runs as a top-level codegen
    * expression after the explode instead of inside an interpreted
    * higher-order lambda — ~3× faster at sf0.1 and the shape you want
    * before a group-by/join on the fingerprint anyway.
    */
  def rollingFingerprintsExploded(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      window: Int = 8
  ): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    df.select(col(idCol), toks.as("_toks"))
      .select(
        col(idCol),
        col("_toks"),
        explode(sequence(lit(0), greatest(size(col("_toks")) - window, lit(0)))).as("_i"))
      .select(col(idCol), md5(array_join(slice(col("_toks"), col("_i") + 1, lit(window)), " ")).as("fp"))
  }

  /** Repeated n-gram fraction — the Gopher-style within-document
    * repetition signal used to drop boilerplate/spam: the share of n-gram
    * occurrences that repeat an earlier occurrence,
    * 1 − |distinct n-grams| / |n-grams| (0 for documents shorter than n
    * tokens). Pure map-side projection like the rest of the quality
    * signals — no shuffle at any scale.
    */
  def repetitionRatio(text: Column, n: Int = 2, scale: Int = 6): Column = {
    val toks  = split(lower(trim(text)), "\\s+")
    val total = greatest(size(toks) - (n - 1), lit(0))
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => array_join(slice(toks, i + 1, lit(n)), " "))
    round(
      when(total === 0, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / total.cast("double")),
      scale)
  }

  /** Gopher-style top-n-gram concentration: the fraction of word
    * characters captured by the document's single MOST FREQUENT n-gram —
    * the companion signal to [[repetitionRatio]] (that one measures how
    * much repeats at all; this one how much one phrase dominates, the rule
    * Gopher applies at n = 2, 3, 4 to drop template/boilerplate pages).
    * Returns per document:
    * `(idCol, n_words, dup_word_frac, top_ngram, top_ngram_count,
    * top_ngram_frac)` where `top_ngram_frac = count · chars(top_ngram) /
    * Σ chars(words)` and `dup_word_frac = 1 − |distinct words| / |words|`.
    *
    * Scale shape: ZERO shuffle. The n-gram list, its sort, and the
    * longest-run election all happen inside one projection over the row's
    * own token array (`array_sort` + a linear `aggregate` fold), so the
    * cost is per-document and the operator composes with any scan — the
    * alternative (explode → per-(doc, gram) count → per-doc argmax) is two
    * corpus-sized shuffles for the same answer. Ties break to the
    * lexicographically SMALLEST n-gram (the sorted fold keeps the first
    * max), so engines agree on the winner, not just the count.
    */
  def topNgramStats(
      df: DataFrame,
      n: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      scale: Int = 6
  ): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks      = split(lower(trim(col(textCol))), "\\s+")
    val words     = filter(toks, w => w =!= "")
    val nWords    = size(col("_words")).cast("long")
    val charTotal = aggregate(col("_words"), lit(0L), (acc, w) => acc + length(w))
    // guard BEFORE sequence(): sequence(0, -1) would descend, not empty
    val grams = when(size(col("_words")) >= n,
      array_sort(transform(
        sequence(lit(0), size(col("_words")) - n),
        i => array_join(slice(col("_words"), i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
    // fold over the SORTED gram list: equal grams are adjacent, so the
    // longest run is the global max count; `>` keeps the first (smallest)
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit("").as("best_gram"))
    val best = aggregate(
      col("_grams"), zero,
      (st, g) => {
        val run = when(g === st("prev"), st("run") + 1L).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          when(run > st("best"), run).otherwise(st("best")).as("best"),
          when(run > st("best"), g).otherwise(st("best_gram")).as("best_gram"))
      })
    df.select(col(idCol), words.as("_words"))
      .withColumn("_grams", grams)
      .withColumn("_best", best)
      .select(
        col(idCol),
        nWords.as("n_words"),
        round(when(nWords === 0, lit(0.0))
          .otherwise(lit(1.0) -
            size(array_distinct(col("_words"))).cast("double") / nWords.cast("double")),
          scale).as("dup_word_frac"),
        col("_best")("best_gram").as("top_ngram"),
        col("_best")("best").as("top_ngram_count"),
        round(when(charTotal === 0 || col("_best")("best") === 0, lit(0.0))
          .otherwise(col("_best")("best").cast("double")
            // the joining spaces are not word characters
            * (length(col("_best")("best_gram")).cast("double") - lit((n - 1).toDouble))
            / charTotal.cast("double")),
          scale).as("top_ngram_frac"))
  }

  /** BM25 relevance of every matching document against a bag-of-words
    * query: Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
    * the Lucene-style smoothed idf = ln((N − df + 0.5)/(df + 0.5) + 1).
    * Returns (idCol, bm25) for documents containing ≥ 1 query term.
    *
    * Scale shape — the inverted-index discipline: postings are restricted
    * to the QUERY terms at the scan (an `isin` filter on the exploded
    * tokens, map-side), so every shuffle downstream is sized by matching
    * postings, not the corpus; document lengths join back broadcast-style
    * (the tf side is small), and the corpus scalars (N, Σdl) ride in as a
    * broadcast 1-row cross join. Determinism across engines: N/Σdl are
    * exact integer aggregates (avgdl = one IEEE division), so the oracle
    * reproduces scores bit-for-bit up to the final ln/rounding.
    */
  def bm25(
      df: DataFrame,
      queryTerms: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id",
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val lens = df.select(col(idCol).as("id"), tokenCount(col(textCol)).cast("long").as("dl"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n"), sum(col("dl")).cast("double").as("sum_dl"))
    val tf = df
      .select(col(idCol).as("id"), explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .where(col("tok").isin(queryTerms: _*))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .join(lens, Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl", col("sum_dl") / col("n"))
      .withColumn("_idf", log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("_s",
        col("_idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("_avgdl"))))
      .groupBy(col("id").as(idCol))
      .agg(round(sum(col("_s")), 6).as("bm25"))
  }

  /** Corpus-statistics language-model quality scoring (the CCNet-style
    * perplexity-proxy filter, model-free): train a Laplace-smoothed bigram
    * LM on `corpus` — P(w2|w1) = (C(w1 w2)+a) / (C(w1 ·)+a·V) with
    * C(w1 ·) the bigram-prefix count and V the continuation vocabulary —
    * and score each document of `docs` by its mean log-probability.
    * Low `avg_logprob` = improbable word sequences (garbled text, spam,
    * wrong-language shards) → the rows a quality threshold drops. Returns
    * (doc_id, n_bigrams, avg_logprob); documents with fewer than two
    * tokens have no bigram and are absent.
    *
    * Scale shape: the MODEL is two aggregated count tables bounded by
    * vocabulary (≪ corpus bytes) — one groupBy each; V is one scalar
    * aggregate. The SCORE join matches each document bigram occurrence to
    * exactly one count row (pre-aggregated build side: no fan-out, no hot
    * key explosion; broadcast when small, AQE-planned shuffle otherwise),
    * then one map-side-combinable average per document. Train once, score
    * any number of shards — the corpus is never rescanned per document.
    */
  def bigramLmScore(
      corpus: DataFrame,
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      smoothing: Double = 1.0
  ): DataFrame = {
    // same codegen explode shape as the gram/fingerprint operators
    def bigrams(df: DataFrame, cols: Seq[Column]): DataFrame = {
      val toks = split(lower(trim(col(textCol))), "\\s+")
      df.select(cols :+ toks.as("_toks"): _*)
        .where(size(col("_toks")) >= 2)
        .select(
          (cols :+ explode(sequence(lit(0), size(col("_toks")) - 2)).as("_i")) :+ col("_toks"): _*)
        .select(
          cols :+ element_at(col("_toks"), col("_i") + 1).as("w1")
               :+ element_at(col("_toks"), col("_i") + 2).as("w2"): _*)
    }
    // tracked persist: the bigram count table feeds the prefix rollup, the
    // vocabulary scalar, AND the score join
    val bi = graft.Caches.track(
      bigrams(corpus, Seq.empty).groupBy("w1", "w2").agg(count(lit(1)).as("_c2")))
    val prefix = bi.groupBy("w1").agg(sum(col("_c2")).as("_c1"))
    val vocab  = bi.select(countDistinct(col("w2"))).head.getLong(0)
    bigrams(docs, Seq(col(idCol)))
      .join(bi, Seq("w1", "w2"), "left")
      .join(prefix, Seq("w1"), "left")
      .withColumn(
        "_lp",
        log((coalesce(col("_c2"), lit(0L)) + smoothing) /
          (coalesce(col("_c1"), lit(0L)) + smoothing * vocab)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("_lp")), 6).as("avg_logprob"))
  }

  /** Email address pattern (alpha TLD required, so IPv4-shaped domains are
    * NOT emails). Every pattern here stays inside the regex subset shared
    * by Java's engine and RE2 (character classes, bounded repeats, `\b`) —
    * no backrefs or lookaround — so external engines (and the DuckDB
    * oracle) reproduce matches exactly.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 pattern (word-bounded). */
  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Long digit runs (>= 9 digits): phone / account / card numbers. */
  val longNumberPattern: String = "\\b\\d{9,}\\b"

  /** PII scrubbing: redact email addresses, IPv4 addresses, and long digit
    * runs with typed placeholders, and report per-category match counts
    * (counted on the ORIGINAL text, so categories never steal each other's
    * matches). Redaction applies email → IP → number, so an IP inside an
    * already-redacted email cannot double-fire.
    *
    * Scale shape: pure codegen Column projections (regexp_count /
    * regexp_replace) — map-side, zero shuffle, linear in corpus bytes.
    */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(emailPattern)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(ipv4Pattern)).cast("long"))
      .withColumn("n_long_numbers", regexp_count(t, lit(longNumberPattern)).cast("long"))
      .withColumn(
        "clean_text",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, emailPattern, "<EMAIL>"),
            ipv4Pattern, "<IP>"),
          longNumberPattern, "<NUM>"))
  }

  /** Corpus vocabulary: one row per distinct token with its total
    * occurrence count (`tf`) and document frequency (`df`), optionally
    * floored at `minDf` — the table a tokenizer trainer, stopword miner,
    * or df-based pruning step starts from.
    *
    * Scale shape: count-distinct-by-document is computed as two
    * pre-combined shuffles — (token, doc) partial counts first, then the
    * token rollup — instead of `countDistinct`'s Expand encoding, so the
    * widest intermediate is one row per distinct (token, doc) pair and
    * both exchanges get map-side combine. Output is bounded by vocabulary
    * size, not corpus size.
    */
  def vocabulary(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minDf: Long = 1L
  ): DataFrame = {
    val toks = df
      .select(col(idCol).as("_id"), explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    toks
      .groupBy(col("token"), col("_id"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("token"))
      .agg(sum(col("_c")).as("tf"), count(lit(1)).as("df"))
      .where(col("df") >= minDf)
  }

  /** Flesch readability per document — the classic prose-difficulty
    * screen rounding out the quality drawer (Gopher screens structure,
    * the bigram LM screens fluency; this screens AUDIENCE level):
    * `flesch = 206.835 − 1.015·words/sentences − 84.6·syllables/words`
    * plus the Flesch–Kincaid grade twin. All three inputs are regexp
    * GROUP counts (`\S+` words, `[.!?]+` sentence breaks floored at 1,
    * `[aeiouy]+` vowel-group syllables over the lowercased text — the
    * standard hyphenation-free approximation), so the whole scorer is a
    * map-side codegen projection with zero shuffles, and both engines
    * count identical groups. NULL scores on wordless docs; null texts
    * are excluded.
    *
    * Returns `(idCol, words, sentences, syllables, flesch, fk_grade)`.
    */
  def readability(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      scale: Int = 6
  ): DataFrame = {
    val words = regexp_count(col(textCol), lit("\\S+")).cast("long")
    val sents = greatest(regexp_count(col(textCol), lit("[.!?]+")).cast("long"), lit(1L))
    val sylls = regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long")
    df.where(col(textCol).isNotNull)
      .select(col(idCol), words.as("words"), sents.as("sentences"), sylls.as("syllables"))
      .select(col(idCol), col("words"), col("sentences"), col("syllables"),
        round(when(col("words") > 0,
          lit(206.835)
            - lit(1.015) * (col("words").cast("double") / col("sentences"))
            - lit(84.6) * (col("syllables").cast("double") / col("words"))), scale)
          .as("flesch"),
        round(when(col("words") > 0,
          lit(0.39) * (col("words").cast("double") / col("sentences"))
            + lit(11.8) * (col("syllables").cast("double") / col("words"))
            - lit(15.59)), scale).as("fk_grade"))
  }

  /** Per-term χ² feature selection against a document label — the
    * TERM-level complement of [[graft.ops.Stats.infoGainProfile]]'s
    * column-level screen ("which words actually mark a language /
    * quality class?" — the classic feature filter feeding a
    * [[hashedNgramClassifier]]-style model): for every (term, label)
    * pair PRESENT in the corpus, the 2×2 document-presence contingency
    * `{has term, lacks term} × {label, other labels}` scored
    * `χ² = n(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))`, keeping each label's
    * `topK` terms. Present pairs only (a term a class never uses is
    * absence evidence this ranking doesn't chase); terms in EVERY
    * document carry no signal and are excluded, as is everything under
    * `minDf`.
    *
    * Exactness: all four cells derive from integer doc counts; `ad−bc`
    * forms as a DECIMAL product difference (corpus doc counts overflow a
    * long product exactly where this runs) and one double squaring +
    * two pinned divisions finish the score — rank order compares the
    * ROUNDED score (ties by token), so the cut is engine-portable.
    *
    * Scale shape: the one corpus-sized shuffle is the distinct
    * (doc, token) explode (the [[vocabulary]] discipline); everything
    * after runs on |vocab×labels| cells joined to two margin frames and
    * a one-row total. The per-label top-k rides a label-partitioned
    * rank window (WindowGroupLimit prunes it map-side) — never global.
    *
    * Returns `(label, token, df_in, df_all, chi2, rank)`.
    */
  def termLabelChi2(
      df: DataFrame,
      labelCol: String = "lang",
      textCol: String = "text",
      idCol: String = "doc_id",
      minDf: Long = 2L,
      topK: Int = 10,
      scale: Int = 6
  ): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val base = df.where(col(labelCol).isNotNull)
      .select(col(idCol).as("_id"), col(labelCol).as("label"),
        lower(trim(col(textCol))).as("_t"))
    val toks = base
      .select(col("_id"), col("label"), explode(split(col("_t"), "\\s+")).as("token"))
      .where(col("token") =!= "").distinct()
    val tl = toks.groupBy(col("token"), col("label")).agg(count(lit(1)).as("df_in"))
    val tt = tl.groupBy(col("token")).agg(sum(col("df_in")).as("df_all"))
    val ll = base.groupBy(col("label")).agg(count(lit(1)).as("_nl"))
    val nn = base.agg(count(lit(1)).as("_n"))
    val j = tl.join(tt, Seq("token")).join(ll, Seq("label")).crossJoin(nn)
      .where(col("df_all") >= minDf && col("df_all") < col("_n") && col("_nl") < col("_n"))
    val a = col("df_in")
    val b = col("df_all") - a
    val c = col("_nl") - a
    val d = col("_n") - col("df_all") - c
    val diff = (a.cast("decimal(38,0)") * d - b.cast("decimal(38,0)") * c).cast("double")
    val chi2 = round(col("_n").cast("double") * diff * diff
      / (col("df_all").cast("double") * (col("_n") - col("df_all")))
      / (col("_nl").cast("double") * (col("_n") - col("_nl"))), scale)
    val scored = j.select(col("label"), col("token"), col("df_in"), col("df_all"),
      chi2.as("chi2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("chi2").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= topK)
  }

  /** Weighted-cosine document similarity join: pairs `(id1 < id2)` whose
    * tf/df-weighted token vectors have cosine ≥ `threshold` — the weighted
    * complement of the binary n-gram Jaccard join ([[graft.ops.Dedup.ngramJaccardPairs]]):
    * shared RARE terms count for much more than shared stopwords.
    *
    * Term weight is `tf/df` (inverse document frequency, linear form) —
    * chosen over `ln`-idf deliberately: tf and df are exact integers, so
    * each weight is ONE correctly-rounded IEEE division and the whole
    * decision is engine-portable, where `ln` is an ulp lottery (the q134
    * lift-not-PMI rule). Dot products and norms are summed as
    * `DECIMAL(38,18)`-cast terms — a double product never lands on a
    * decimal half-grid, so the cast rounds identically everywhere and the
    * sums are exact and order-free (partitioning cannot flip a result).
    * The final cosine is three correctly-rounded scalar ops.
    *
    * Scale shape: the candidate generator is the inverted-index self-join
    * on the token — a token seen in `d` documents contributes `d²` pair
    * rows, so `maxDocFreq` structurally excludes hot terms from the
    * vocabulary ENTIRELY: they are dropped before the weight frame is
    * built, so they appear in neither the join nor the norms. The cosine
    * is therefore computed in the capped vocabulary's subspace — dropping
    * a stopword from both a document's dot products and its norm keeps
    * the measure internally consistent (a norm-only retention would
    * deflate every cosine by mass no pair can ever match on). Callers who
    * want full-vocabulary norms should leave `maxDocFreq` unset and
    * pre-filter stopwords upstream instead. Join frames are slim
    * `(id, token, w)` postings; the weighted frame feeds norms plus both
    * join sides and is tracked-persisted (Spark does not CSE across join
    * branches); release via [[graft.Caches.clear]].
    */
  def weightedCosinePairs(
      df: DataFrame,
      threshold: Double,
      maxDocFreq: Long = Long.MaxValue,
      textCol: String = "text",
      idCol: String = "doc_id",
      scale: Int = 6
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val toks = df
      .select(col(idCol).as("_id"), explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val tf = toks.groupBy(col("_id"), col("token")).agg(count(lit(1)).as("_tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
      .where(col("_df") <= maxDocFreq)
    val w = graft.Caches.track(
      tf.join(dfT, Seq("token"))
        .select(col("_id"), col("token"),
          (col("_tf").cast("double") / col("_df").cast("double")).as("_w"),
          col("_df")))
    val norms = w.groupBy(col("_id"))
      .agg(sum((col("_w") * col("_w")).cast("decimal(38,18)")).as("_n2"))
    // df = 1 terms cannot produce a pair — keep them out of the join, in the norms
    val joinable = w.where(col("_df") >= 2)
    val a = joinable.select(col("_id").as("id1"), col("token"), col("_w").as("_w1"))
    val b = joinable.select(col("_id").as("id2"), col("token"), col("_w").as("_w2"))
    val dot = a.join(b, Seq("token")).where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum((col("_w1") * col("_w2")).cast("decimal(38,18)")).as("_dot"))
    dot
      .join(norms.select(col("_id").as("id1"), col("_n2").as("_na")), Seq("id1"))
      .join(norms.select(col("_id").as("id2"), col("_n2").as("_nb")), Seq("id2"))
      .withColumn("_cos", col("_dot").cast("double") /
        (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))))
      .where(col("_cos") >= lit(threshold))
      .select(col("id1"), col("id2"), round(col("_cos"), scale).as("cosine"))
  }

  /** Token-distribution Shannon entropy per stratum — the corpus-diversity
    * probe ("is this source a copy-paste farm?", "did the mix collapse
    * the distribution?"): returns `(keys…, n_tokens, vocab, entropy,
    * norm_entropy)` with `entropy = ln N − (Σ c·ln c)/N` in nats and
    * `norm_entropy = entropy / ln(vocab)` (NULL for a single-token
    * vocabulary, where it is undefined — the q146 NULL-not-sentinel rule).
    *
    * The corpus collapses to per-`(keys, token)` exact integer counts
    * first (two pre-combined shuffles, output bounded by |keys|·|vocab|);
    * each `c·ln c` term is decimal-cast before the sum so partition order
    * cannot move the total, and the entropy itself is three scalar IEEE
    * ops off exact aggregates, rounded at `scale`.
    */
  def tokenEntropy(
      df: DataFrame,
      keys: Seq[String],
      textCol: String = "text",
      scale: Int = 6
  ): DataFrame = {
    require(keys.nonEmpty, "tokenEntropy needs at least one stratum column")
    val toks = df
      .select((keys.map(col) :+
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token")): _*)
      .where(col("token") =!= "")
    val counts = toks.groupBy((keys.map(col) :+ col("token")): _*)
      .agg(count(lit(1)).as("_c"))
    val ent = log(col("_n").cast("double")) - col("_s").cast("double") / col("_n")
    counts.groupBy(keys.map(col): _*)
      .agg(
        sum(col("_c")).as("_n"),
        count(lit(1)).as("vocab"),
        sum((col("_c").cast("double") * log(col("_c").cast("double")))
          .cast("decimal(38,12)")).as("_s"))
      .select((keys.map(col) :+ col("_n").as("n_tokens") :+ col("vocab") :+
        round(ent, scale).as("entropy") :+
        round(when(col("vocab") > 1, ent / log(col("vocab").cast("double"))), scale)
          .as("norm_entropy")): _*)
  }

  /** Within-document duplicate-n-gram coverage — the Gopher repetition
    * rule's character-mass form: what fraction of a document's token
    * characters sit inside an n-gram that occurs AT LEAST TWICE in the
    * same document? (`topNgramStats` measures the single most frequent
    * gram; this measures the union of ALL repeated ones — the two
    * thresholds Gopher applies side by side.) Returns
    * `(idCol, n_tokens, n_covered, dup_char_frac)` with the fraction over
    * token characters (separators excluded), NULL for token-less text.
    *
    * Exact integers end to end: grams via per-document `lead` windows
    * (degree-bounded partitions), duplicate starts by one (doc, gram)
    * count, coverage as a distinct position union, ONE final division.
    * Text is whitespace-normalized FIRST so token positions are identical
    * in any engine; the token frame feeds three branches and is
    * tracked-persisted (release via [[graft.Caches.clear]]). `concat_ws`
    * silently shortens tail grams (it skips NULL leads — the q166 trap),
    * so a validity flag on the last lead gates them out.
    */
  def dupNgramCoverage(
      df: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      scale: Int = 6
  ): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = graft.Caches.track(
      df.select(col(idCol).as("_id"),
        posexplode(split(regexp_replace(trim(lower(col(textCol))), "\\s+", " "), " "))
          .as(Seq("_p", "_tok"))))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_p"))
    val grams = toks
      .withColumn("_gram", concat_ws(" ",
        (0 until n).map(i => if (i == 0) col("_tok") else lead(col("_tok"), i).over(wDoc)): _*))
      .withColumn("_valid",
        if (n == 1) lit(true) else lead(col("_tok"), n - 1).over(wDoc).isNotNull)
      .where(col("_valid"))
      .select(col("_id"), col("_p"), col("_gram"))
    val dup = grams.groupBy(col("_id"), col("_gram"))
      .agg(count(lit(1)).as("_c")).where(col("_c") >= 2)
    val covered = grams.join(dup.select(col("_id"), col("_gram")), Seq("_id", "_gram"))
      .select(col("_id"),
        explode(array((0 until n).map(i => col("_p") + i): _*)).as("_p"))
      .distinct()
    val tl = toks.select(col("_id"), col("_p"), length(col("_tok")).cast("long").as("_l"))
    val tot = tl.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_l")).as("_total"))
    val cv = covered.join(tl, Seq("_id", "_p"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("_nc"), sum(col("_l")).as("_cov"))
    tot.join(cv, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_tokens"),
        coalesce(col("_nc"), lit(0L)).as("n_covered"),
        round(when(col("_total") > 0,
          coalesce(col("_cov"), lit(0L)).cast("double") / col("_total")), scale)
          .as("dup_char_frac"))
  }

  /** Code-vs-prose heuristic score — the corpus-composition screen an LLM
    * data pipeline runs before routing documents to code- or text-specific
    * processing (and before a code-stripping quality filter). Two exact
    * integer signals per document — `sym_count` (code punctuation
    * `{}();=<>`) and `kw_count` (word-bounded keyword hits) — combine as
    * `(2·sym + 3·kw)/length`, ONE division off exact integers, so the
    * decision is engine-portable; `is_code` compares the unrounded score.
    * Pure codegen projections over the scan, no shuffle, no UDF.
    */
  def codeScore(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      threshold: Double = 0.02,
      scale: Int = 6
  ): DataFrame = {
    val sym = size(regexp_extract_all(col(textCol), lit("[{}();=<>]"), lit(0))).cast("long")
    val kw = size(regexp_extract_all(col(textCol),
      lit("\\b(def|class|return|import|val|var|if|else|for|while)\\b"), lit(0))).cast("long")
    val len = length(col(textCol)).cast("long")
    df.select(col(idCol), sym.as("sym_count"), kw.as("kw_count"), len.as("_len"))
      .withColumn("_score",
        when(col("_len") > 0,
          (lit(2L) * col("sym_count") + lit(3L) * col("kw_count")).cast("double") / col("_len")))
      .select(col(idCol), col("sym_count"), col("kw_count"),
        round(col("_score"), scale).as("score"),
        (col("_score") > lit(threshold)).as("is_code"))
  }

  /** Per-document vocabulary coverage / OOV rate against the top-`topN`
    * vocabulary by term frequency (ties by token — deterministic): returns
    * `(idCol, n_tokens, n_oov, oov_rate)` — the tokenizer-coverage check
    * that precedes any vocabulary freeze (how much of the corpus does a
    * top-N vocab actually cover, and which documents are full of
    * out-of-vocabulary junk). Tokenization matches [[vocabulary]], so the
    * incremental vocab table a streaming ingest maintains feeds this
    * directly. Documents with no tokens report (0, 0, 0.0).
    *
    * Scale shape: the top-N selection is TakeOrderedAndProject on the
    * (bounded) vocabulary frame, never a global sort; the membership probe
    * is a BROADCAST left join of the exploded token stream against the
    * N-row top list; per-doc rollup is one map-side-combined shuffle on
    * the doc id. No corpus-sized state beyond the token stream itself.
    */
  def vocabularyCoverage(
      df: DataFrame,
      vocab: DataFrame,
      topN: Int,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val top = broadcast(
      vocab.orderBy(col("tf").desc, col("token")).limit(topN)
        .select(col("token"), lit(1).as("_in")))
    val toks = df
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val perDoc = toks.join(top, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(when(coalesce(col("n_tokens"), lit(0L)) === 0L, 0.0)
          .otherwise(coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tokens")), 6)
          .as("oov_rate"))
  }

  /** Per-document TF-IDF top terms: for each document, its `topK`
    * highest-scoring tokens under `score = tf · ln(N / df)` — the keyword /
    * topic-signature extractor (cluster naming, dataset cards, relevance
    * features). Returns (idCol, token, tf, tfidf, rnk), rnk 1..topK per
    * document, ranked by (rounded score desc, token asc) so the result is
    * fully deterministic and engine-portable: ranking on the ROUNDED score
    * means an ulp of `ln` divergence between engines cannot reorder rows.
    *
    * Scale shape: tf is one (doc, token) groupBy with map-side combine; df
    * rolls tf up by token (bounded by vocabulary size) and joins back on
    * the token key; N is one scalar count (driver literal, like
    * [[graft.ops.Sampling.toTargetMix]]'s rate derivation). The final
    * per-document window partitions on the document key — state bounded by
    * one document's distinct tokens, no corpus-hot key by construction.
    */
  def tfidfTopTerms(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      topK: Int = 5
  ): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val n = df.count() // one scalar aggregate: N of the idf formula
    val tf = df
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("_df")), 6))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col(idCol), col("token"), col("tf"), col("tfidf"), col("rnk").cast("long").as("rnk"))
  }

  /** Weighted adjacent-symbol pair counts over a `(repr, wc)` vocabulary
    * frame, where `repr` is a space-joined symbol sequence — the counting
    * stage of one BPE iteration, exposed on its own so the driver oracle
    * can check the exact table [[bpeMerges]] ranks (q91 runs it over the
    * char-level step-0 vocabulary). Codegen explode + element_at; one
    * grouped count with map-side combine, output bounded by the symbol-
    * bigram vocabulary.
    */
  def bpePairCounts(vocab: DataFrame): DataFrame = {
    val syms = split(col("repr"), " ")
    vocab
      .where(size(syms) >= 2)
      .select(col("wc"), syms.as("_s"),
        explode(sequence(lit(0), size(syms) - 2)).as("_i"))
      .select(col("wc"),
        element_at(col("_s"), col("_i") + 1).as("sym_l"),
        element_at(col("_s"), col("_i") + 2).as("sym_r"))
      .groupBy("sym_l", "sym_r")
      .agg(sum("wc").as("pair_count"))
  }

  /** The char-level `(repr, wc)` vocabulary [[bpeMerges]] starts from:
    * distinct corpus words with counts, each word split into space-joined
    * characters.
    */
  def bpeVocabulary(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(array_join(split(col("word"), ""), " ").as("repr"), col("wc"))

  /** Distributed BPE merge learning — the tokenizer-training step of a
    * data pipeline: `numMerges` byte-pair-encoding merges learned over the
    * corpus, returned as (step, left, right, merged, pair_count) in learn
    * order. Deterministic: each step takes the highest-count pair with
    * ties by (left, right) symbol text.
    *
    * Scale shape: the iteration state is the WORD VOCABULARY `(repr, wc)`
    * — bounded by distinct-word count, independent of corpus size — so
    * the corpus is scanned exactly once (the initial word count); every
    * merge step is one grouped pair-count plus a codegen regexp rewrite
    * over the vocab frame. Per step there is one top-1 collect (a single
    * row — the same bounded-driver discipline as the CC endgame) because
    * BPE is inherently sequential: step n's counts depend on step n−1's
    * merge. The rewrite uses `(?<!\S)l r(?!\S)` lookarounds (zero-width,
    * so "a a a a" merges to "aa aa" — greedy left-to-right non-overlap,
    * the BPE contract) and the plan is lineage-truncated every few steps
    * like [[graft.graph.GraphQueries.pageRankDF]] — and like there, the
    * vocab between checkpoints is deliberately NOT persisted (identical
    * subplans collapse into ReusedExchange; a cache would block that).
    *
    * Not SQL-expressible (sequential data-dependent iteration) — the
    * learn loop is spec-gated against the hand-computable textbook
    * example; the pair-count stage it ranks is oracle-checked (q91).
    */
  def bpeMerges(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numMerges: Int = 16,
      minPairCount: Long = 2L
  ): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = df.sparkSession
    val vocab0 = graft.Loop.materialize(bpeVocabulary(df, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    graft.Loop.run(vocab0, numMerges, cutLast = true, held = Seq(vocab0)) { (vocab, round) =>
      val top = bpePairCounts(vocab)
        .orderBy(col("pair_count").desc, col("sym_l"), col("sym_r"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < minPairCount) None
      else {
        val (l, r, c) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((round.n.toLong, l, r, l + r, c))
        val pattern = "(?<!\\S)" + java.util.regex.Pattern.quote(l + " " + r) + "(?!\\S)"
        val replacement = java.util.regex.Matcher.quoteReplacement(l + r)
        Some(round.cadence(vocab.select(
          regexp_replace(col("repr"), pattern, replacement).as("repr"), col("wc"))))
      }
    }.release() // the merges are local; nothing reads the vocabulary again
    import spark.implicits._
    merges.toSeq.toDF("step", "left", "right", "merged", "pair_count")
  }

  /** Applies a learned merge list to a text column, returning the BPE
    * token array. Folds one codegen regexp rewrite per merge over the
    * space-joined character sequence — fine for the analysis-sized merge
    * lists this library learns in-pipeline (tens of merges); a
    * production-vocabulary encoder (tens of thousands of merges) is a
    * per-row priority-merge algorithm, not a column expression, and the
    * wide fold would hit the 64 KB codegen method limit long before that
    * (the q80 lesson) — so `merges` is capped.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    require(merges.size <= 64, s"bpeEncode is for analysis-sized merge lists (<= 64), got ${merges.size}")
    // word gaps become a boundary marker symbol (sentencepiece's ▁) BEFORE
    // char-splitting — a bare space cannot be a symbol when space is also
    // the symbol separator; merges are learned over whitespace-free words,
    // so no merge pattern ever spans the marker
    val marked = regexp_replace(lower(trim(text)), "\\s+", "▁")
    val chars  = array_join(split(marked, ""), " ")
    val merged = merges.foldLeft(chars) { case (acc, (l, r)) =>
      regexp_replace(acc,
        "(?<!\\S)" + java.util.regex.Pattern.quote(l + " " + r) + "(?!\\S)",
        java.util.regex.Matcher.quoteReplacement(l + r))
    }
    split(merged, " ")
  }

  /** Canonical text normalization — the first transform of every text
    * pipeline: strip ASCII control characters, lowercase, trim, and
    * collapse whitespace runs to single spaces. All downstream tokenized
    * operators (vocabulary, shingles, LM scoring) implicitly assume this
    * shape; applying it once up front makes their `lower(trim(...))`
    * normalization a no-op instead of a per-operator re-do.
    * Pure codegen regexp projection — map-side, zero shuffle.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1F]", " "),
      "\\s+", " "))

  /** Unicode NFC normalization (canonical composition) — REQUIRED ahead of
    * any fingerprint/hash dedup over multi-source text: `e + U+0301` and
    * `U+00E9` must hash identically, and a crawl mixes both spellings.
    * A native codegen expression (Spark has no built-in normalizer; the
    * usual UDF fallback breaks codegen). Registered in SQL as
    * `nfc_normalize`.
    */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graft.TextExpressionFunctions.nfcNormalize(text)

  /** Deflate compression ratio (compressed/raw, level-6 raw deflate) —
    * the redundancy quality signal: templated boilerplate compresses far
    * below prose, near-1 flags high-entropy blobs. Native codegen
    * expression; NOT SQL-portable (implementation-defined byte counts), so
    * rank/threshold on it rather than compare across engines — its
    * correctness contract is the spec suite. SQL name `deflate_ratio`.
    */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.graft.TextExpressionFunctions.deflateRatio(text)

  /** HTML/markdown markup stripping — the raw-crawl → plain-text step in
    * front of every quality/dedup stage (the WET-extraction shape):
    * markdown links keep their label, tags and character entities become
    * whitespace, emphasis/heading marks drop, whitespace collapses. Pure
    * codegen regexp projection, zero shuffle; every regex uses constructs
    * with identical Java-regex/RE2 semantics so external engines replay
    * it exactly (case preserved — compose with [[normalizeText]] for the
    * canonical lowercased form).
    */
  def stripMarkup(text: Column): Column = {
    val links    = regexp_replace(text, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val tags     = regexp_replace(links, "<[^>]*>", " ")
    val entities = regexp_replace(tags, "&#?[a-zA-Z0-9]+;", " ")
    val marks    = regexp_replace(entities, "[*_`#]+", "")
    trim(regexp_replace(marks, "\\s+", " "))
  }

  /** Top-k corpus tokens by total occurrence count (ties broken by token
    * text, so the result set is fully deterministic) — stopword mining /
    * heavy-hitter analysis over [[vocabulary]]. The order-by + limit plans
    * as `TakeOrderedAndProject`: each partition keeps only its local top-k
    * after the vocabulary aggregation, so the long tail never moves.
    */
  def topTokens(df: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id", minDf: Long = 1L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    vocabulary(df, textCol, idCol, minDf)
      .orderBy(col("tf").desc, col("token"))
      .limit(k)
  }

  /** Context-window chunking: split each document's token sequence into
    * windows of `maxTokens` tokens starting every `stride` tokens
    * (`maxTokens - stride` tokens of overlap carry context across chunk
    * boundaries). Window count is `max(1, ceil((n - overlap) / stride))`,
    * so a document never emits a tail chunk fully contained in its
    * predecessor, and short documents emit exactly one chunk. Returns
    * (idCol, chunk_id, chunk_text, n_tokens).
    *
    * Scale shape: pure codegen projection + explode — map-side, zero
    * shuffle; output rows ≈ corpus_tokens / stride.
    */
  def chunk(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxTokens: Int = 128,
      stride: Int = 64
  ): DataFrame = {
    require(stride > 0 && stride <= maxTokens,
      s"stride must be in [1, maxTokens], got stride=$stride maxTokens=$maxTokens")
    val overlap = maxTokens - stride
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_t"))
      .withColumn("_n", size(col("_t")).cast("long"))
      .where(col("_n") > 0 && element_at(col("_t"), 1) =!= "")
      .withColumn(
        "_w",
        greatest(lit(1L), ceil((col("_n") - lit(overlap.toLong)).cast("double") / stride).cast("long")))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("_w") - 1)))
      .select(
        col(idCol),
        col("chunk_id"),
        array_join(
          slice(col("_t"), (col("chunk_id") * stride + 1).cast("int"), lit(maxTokens)), " ")
          .as("chunk_text"),
        least(lit(maxTokens.toLong), col("_n") - col("chunk_id") * stride).as("n_tokens"))
  }

  /** Paragraph-level exact dedup — the boilerplate-removal step of web
    * corpus prep (cookie banners, nav bars, license headers repeated
    * verbatim across pages): split every document on `sep`, keep each
    * distinct paragraph only at its FIRST occurrence corpus-wide (smallest
    * (doc id, position) — the same min-id orientation as every dedup
    * here), drop later copies, and rebuild the documents in original
    * paragraph order. Whitespace-only paragraphs are treated as separator
    * artifacts and removed outright.
    *
    * Returns one row per input document: (idCol, clean_text, n_paragraphs,
    * n_dropped); documents whose every paragraph was boilerplate (or that
    * were empty) come back with clean_text = "".
    *
    * Scale shape: two shuffles — one groupBy-min on the paragraph key to
    * elect winners (map-side combined, so a banner repeated on a billion
    * pages sends one candidate row per map partition, not a billion), one
    * on the doc id to reassemble; the winner re-attach is a plain
    * equi-join whose hot keys AQE splits. The grouping key is the
    * paragraph STRING, which keeps the operator collision-free and the
    * oracle exact; a deployment where paragraph bytes dominate the
    * shuffle can pre-map to a 128-bit fingerprint key at the usual
    * birthday risk.
    */
  def dedupParagraphs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      sep: String = "\n"
  ): DataFrame = {
    val paras = df
      .select(
        col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para")))
      .where(trim(col("para")) =!= "")
    val winners = paras.groupBy(col("para"))
      .agg(min(struct(col(idCol), col("pos"))).as("_w"))
    val flagged = paras.join(winners, Seq("para"))
      .select(
        col(idCol), col("pos"), col("para"),
        (col("_w").getField(idCol) === col(idCol) && col("_w").getField("pos") === col("pos"))
          .as("keep"))
    val rebuilt = flagged.groupBy(col(idCol))
      .agg(
        concat_ws(
          sep,
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"), col("keep"), col("para")))),
              s => s.getField("keep")),
            s => s.getField("para"))).as("clean_text"),
        count(lit(1)).as("n_paragraphs"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_paragraphs"), lit(0L)).as("n_paragraphs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Exact-substring span dedup — remove VERBATIM duplicated token spans
    * from all but their first-occurrence document (the ExactSubstr step of
    * "Deduplicating Training Data Makes Language Models Better": templated
    * sentences, quoted passages and licenses repeat across documents that
    * are not near-duplicates as a whole, so document-level dedup misses
    * them). A `window`-token span is duplicated when its fingerprint
    * appears in at least `minDocs` distinct documents; every token covered
    * by a duplicated window is dropped from every document EXCEPT the
    * span's smallest-id holder (the keep-first orientation of the whole
    * dedup family), and documents are rebuilt from their surviving tokens
    * in order.
    *
    * Returns (idCol, clean_text, n_tokens, n_removed) over the full input
    * universe. Tokenization is the lower/trim/whitespace split shared
    * with [[rollingFingerprintsExploded]] / the q28 oracle.
    *
    * Scale shape: all joins are equi-joins on window fingerprints or
    * (doc, pos) pairs — windows explode to slim (doc, pos, fp) rows, the
    * duplicate screen is a two-level pre-aggregation (distinct doc per fp,
    * then count — no countDistinct Expand), and coverage expansion is a
    * bounded ×window explode of only the DUPLICATED windows. Reassembly
    * is the same (pos, token) sort-rebuild as [[dedupParagraphs]].
    */
  def dedupSpans(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      window: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(minDocs >= 2, s"minDocs must be at least 2, got $minDocs")
    val toks = df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_toks"))
    val wins = toks.where(size(col("_toks")) >= window)
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0), size(col("_toks")) - window)).as("_i"))
      .select(col(idCol), col("_i"),
        md5(array_join(slice(col("_toks"), col("_i") + 1, lit(window)), " ")).as("_fp"))
    // duplicated fps + their keep-winner (smallest doc id), via one
    // distinct pre-aggregation — never a countDistinct Expand
    val dupWinners = wins.select(col("_fp"), col(idCol)).distinct()
      .groupBy(col("_fp"))
      .agg(count(lit(1)).as("_d"), min(col(idCol)).as("_keep"))
      .where(col("_d") >= minDocs)
      .select(col("_fp"), col("_keep"))
    val covered = wins.join(dupWinners, Seq("_fp"))
      .where(col(idCol) =!= col("_keep"))
      .select(col(idCol), explode(sequence(col("_i"), col("_i") + window - 1)).as("_pos"))
      .distinct()
    val tokens = toks
      .select(col(idCol), posexplode(col("_toks")).as(Seq("_pos", "_tok")))
      .where(col("_tok") =!= "")
    val rebuilt = tokens.join(covered, Seq(idCol, "_pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_tok")))),
            s => s.getField("_tok"))).as("clean_text"),
        count(lit(1)).as("_kept"))
    df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_kept"), lit(0L))).as("n_removed"))
  }

  /** Corpus data-card report: the per-stratum summary every corpus release
    * ships (and every ingest run monitors) — document and token counts,
    * quality-score mean and low-quality fraction, and the exact-duplicate
    * rate from content fingerprints. One row per stratum (language,
    * source, shard...).
    *
    * Scale shape: two pre-combined shuffles — the plain aggregates on the
    * stratum key, and the distinct-fingerprint count as a (stratum, fp)
    * pre-aggregation followed by a per-stratum count (the [[vocabulary]]
    * pattern; never a `countDistinct` Expand over the corpus). Result
    * size = |strata|.
    *
    * Determinism across engines: the quality mean is folded as an EXACT
    * decimal sum of the scale-6 scores and divided once at the end —
    * a plain double `avg` would depend on partition fold order and could
    * flip the rounded 6th decimal between engines.
    */
  def corpusReport(
      df: DataFrame,
      textCol: String = "text",
      strataCol: String = "lang",
      qualityThreshold: Double = 0.5
  ): DataFrame = {
    val t = col(textCol)
    val enriched = df.select(
      col(strataCol).as("stratum"),
      tokenCount(t).cast("long").as("_tok"),
      qualityScore(t).as("_q"),
      fingerprint(t).as("_fp"))
    val base = enriched.groupBy(col("stratum")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("_tok")).as("total_tokens"),
      sum(col("_q").cast("decimal(18,6)")).as("_qsum"),
      sum(when(col("_q") < qualityThreshold, 1L).otherwise(0L)).as("n_low_quality"))
    val distincts = enriched
      .groupBy(col("stratum"), col("_fp")).agg(count(lit(1)).as("_c"))
      .groupBy(col("stratum")).agg(count(lit(1)).as("n_distinct_docs"))
    base.join(distincts, Seq("stratum"))
      .select(
        col("stratum"), col("n_docs"), col("total_tokens"),
        round(col("_qsum").cast("double") / col("n_docs"), 6).as("avg_quality"),
        col("n_low_quality"), col("n_distinct_docs"),
        round(lit(1.0) - col("n_distinct_docs").cast("double") / col("n_docs"), 6).as("dup_rate"))
  }

  /** Mergeable per-batch corpus statistics — the incremental face of
    * [[corpusReport]]. Returns one row per stratum whose every column is a
    * MERGEABLE partial: counts and token sums (longs — sum to merge), the
    * quality sum as an exact decimal (sum to merge; the division happens
    * only in [[corpusReportFromPartials]]), and the distinct-fingerprint
    * state as a DataSketches HLL sketch (`hll_sketch_agg` — union to
    * merge). An ingest pipeline appends one such frame per batch; the
    * 100-TB dashboard query then aggregates |strata| × |batches| tiny rows
    * instead of rescanning corpus text ([[corpusReport]] stays the exact
    * one-shot face; the sketch makes the distinct count approximate, the
    * only non-exact column).
    */
  def corpusPartialStats(
      df: DataFrame,
      textCol: String = "text",
      strataCol: String = "lang",
      qualityThreshold: Double = 0.5,
      lgK: Int = 12
  ): DataFrame = {
    val t = col(textCol)
    df.select(
        col(strataCol).as("stratum"),
        tokenCount(t).cast("long").as("_tok"),
        qualityScore(t).as("_q"),
        fingerprint(t).as("_fp"))
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_tok")).as("total_tokens"),
        sum(col("_q").cast("decimal(18,6)")).as("quality_sum"),
        sum(when(col("_q") < qualityThreshold, 1L).otherwise(0L)).as("n_low_quality"),
        hll_sketch_agg(col("_fp"), lit(lgK)).as("fp_sketch"))
  }

  /** Folds any number of [[corpusPartialStats]] frames (one per batch,
    * unioned — or one per historical partition) into the data-card report:
    * longs and decimals sum, sketches union (`hll_union_agg`), and only
    * here do the ratios divide. Merge is associative and batch-split
    * invariant (spec'd: any split ≡ one-shot), so partials can themselves
    * be pre-merged hierarchically (hourly → daily → corpus) — each level
    * reads |strata| rows per child, never text.
    */
  def corpusReportFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col("stratum"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens"),
        sum(col("quality_sum")).as("_qsum"),
        sum(col("n_low_quality")).as("n_low_quality"),
        hll_union_agg(col("fp_sketch"), lit(true)).as("_sk"))
      .select(
        col("stratum"), col("n_docs"), col("total_tokens"),
        round(col("_qsum").cast("double") / col("n_docs"), 6).as("avg_quality"),
        col("n_low_quality"),
        hll_sketch_estimate(col("_sk")).as("n_distinct_docs_approx"),
        round(lit(1.0) - hll_sketch_estimate(col("_sk")).cast("double") / col("n_docs"), 6)
          .as("dup_rate_approx"))

  /** Convenience: full text-analysis projection over a documents table. */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("token_count", tokenCount(t))
      .withColumn("bpeish_tokens", bpeishTokenCount(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("mean_word_len", meanWordLength(t))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** Adjacent-token co-occurrence association ("lift", the exact-ratio
    * face of PMI): for every adjacent pair seen ≥ `minPairCount` times,
    * `lift = N·c(a,b) / (c_left(a)·c_right(b))` over the corpus's N
    * adjacent-token slots — > 1 means the pair co-occurs more than its
    * marginals predict (collocations, templates, multiword terms; the
    * word2vec-era co-occurrence statistic). PMI itself is ln(lift) — left
    * to the caller, because the RATIO is exact integer arithmetic plus
    * ONE double division (engine-portable bit for bit; the two runtimes'
    * `ln` may differ in the last ulp — the q88 lesson).
    *
    * Scale shape: the pair-slot frame is one codegen explode, persisted
    * once (it feeds the pair counts AND both marginals — the no-CSE
    * rule); each count is a map-side-combined group-by; marginals attach
    * by equi-join to the already-thresholded pair table, so the joins
    * carry |surviving pairs| rows, not |vocabulary|².
    */
  def cooccurrenceLift(
      df: DataFrame,
      textCol: String = "text",
      minPairCount: Long = 5L
  ): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val pairs = graft.Caches.track(
      df.select(toks.as("_t"))
        .where(size(col("_t")) >= 2)
        .select(col("_t"), explode(sequence(lit(0), size(col("_t")) - 2)).as("_i"))
        .select(
          element_at(col("_t"), col("_i") + 1).as("w1"),
          element_at(col("_t"), col("_i") + 2).as("w2")))
    val n = pairs.count()
    val cp = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minPairCount)
    val cl = pairs.groupBy("w1").agg(count(lit(1)).as("c_a"))
    val cr = pairs.groupBy("w2").agg(count(lit(1)).as("c_b"))
    cp.join(cl, Seq("w1")).join(cr, Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"),
        round((col("c_ab") * lit(n)).cast("double") / (col("c_a") * col("c_b")).cast("double"), 6)
          .as("lift"))
  }

  /** Collocation mining by Dunning's log-likelihood ratio (G², Dunning
    * 1993) — the statistically-honest upgrade of [[cooccurrenceLift]]:
    * lift rewards rare coincidences (two hapaxes that co-occur once get
    * a huge lift), G² asks "how IMPLAUSIBLE is independence given the
    * evidence?", which is what makes it the standard collocation score.
    * Over adjacent token bigrams it builds each candidate's 2×2 table
    * `(k₁₁=c₁₂, k₁₂=c₁−c₁₂, k₂₁=c₂−c₁₂, k₂₂=N−c₁−c₂+c₁₂)` and scores
    * `G² = 2·Σ k·ln(k·N / (rowsum·colsum))` (zero cells contribute 0 —
    * the x·ln x → 0 limit). Returns the global `topK` bigrams as
    * `(w1, w2, c12, c1, c2, g2)` ranked on the ROUNDED score with
    * `(w1, w2)` as tie-break — the engine-portable cut.
    *
    * Determinism: every table cell is an exact integer; G² is a fixed
    * 4-term scalar IEEE expression (each term one ln off an exact
    * rational) evaluated in textual order, then rounded — identical in
    * any engine.
    *
    * Scale shape: one map-side bigram explode → one partial-aggregated
    * shuffle per margin (pair / left / right — each output bounded by
    * vocabulary, and the pair frame is `minPairCount`-pruned before the
    * margin joins); N is one scalar; the cut is a TakeOrdered top-k,
    * never a global sort.
    */
  def collocationsG2(
      df: DataFrame,
      topK: Int = 20,
      minPairCount: Long = 5L,
      textCol: String = "text",
      scale: Int = 6
  ): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val pairs = graft.Caches.track(
      df.select(toks.as("_t"))
        .where(size(col("_t")) >= 2)
        .select(col("_t"), explode(sequence(lit(0), size(col("_t")) - 2)).as("_i"))
        .select(
          element_at(col("_t"), col("_i") + 1).as("w1"),
          element_at(col("_t"), col("_i") + 2).as("w2")))
    val n = pairs.count()
    val cp = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minPairCount)
    val cl = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val cr = pairs.groupBy("w2").agg(count(lit(1)).as("c2"))
    val cells = cp.join(cl, Seq("w1")).join(cr, Seq("w2"))
      .withColumn("_k11", col("c12"))
      .withColumn("_k12", col("c1") - col("c12"))
      .withColumn("_k21", col("c2") - col("c12"))
      .withColumn("_k22", lit(n) - col("c1") - col("c2") + col("c12"))
    // k·ln(k·N / (rowTot·colTot)); the k = 0 cell contributes exactly 0
    def term(k: Column, rowTot: Column, colTot: Column): Column =
      when(k > 0,
        k.cast("double") * log(k.cast("double") * lit(n.toDouble)
          / (rowTot.cast("double") * colTot.cast("double"))))
        .otherwise(lit(0.0))
    val g2 = lit(2.0) * (
      term(col("_k11"), col("c1"), col("c2"))
        + term(col("_k12"), col("c1"), lit(n) - col("c2"))
        + term(col("_k21"), lit(n) - col("c1"), col("c2"))
        + term(col("_k22"), lit(n) - col("c1"), lit(n) - col("c2")))
    cells.select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
      round(g2, scale).as("g2"))
      .orderBy(col("g2").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Good–Turing frequency smoothing — the classical unseen-mass
    * estimate a language model needs: a word seen `r` times should be
    * credited an adjusted count `r* = (r+1)·N_{r+1}/N_r` (where `N_r` =
    * how many distinct words occur exactly r times), and the probability
    * mass reserved for NEVER-seen words is `N_1/N` — readable directly
    * off this table's r=1 row. Returns one row per observed frequency:
    * `(r, n_r, r_star, mass_share)` with `r_star` NULL where `N_{r+1}`
    * is empty (the highest frequencies — smooth or back off there) and
    * `mass_share = r·N_r/N`, the fraction of all tokens this frequency
    * class carries.
    *
    * Scale shape: token counts are one partial-aggregated shuffle; the
    * count-of-counts collapse bounds everything after it at |distinct
    * frequencies| rows, and the `r+1` lookup is a slim self equi-join on
    * that bounded frame. Exact integers throughout; the two ratios are
    * scalar IEEE off them.
    */
  def goodTuring(
      df: DataFrame,
      textCol: String = "text",
      scale: Int = 6): DataFrame = {
    val toks = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
    val counts = toks.groupBy(col("_tok")).agg(count(lit(1)).as("_c"))
    val freqOfFreq = graft.Caches.track(
      counts.groupBy(col("_c").as("r")).agg(count(lit(1)).as("n_r")))
    val tot = freqOfFreq.agg(sum(col("r").cast("decimal(38,0)") * col("n_r")).as("_n"))
    val next = freqOfFreq.select((col("r") - 1).as("r"), col("n_r").as("_n_next"))
    freqOfFreq.join(next, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        round((col("r") + 1).cast("double") * col("_n_next") / col("n_r"), scale)
          .as("r_star"),
        round((col("r").cast("decimal(38,0)") * col("n_r")).cast("double")
          / col("_n").cast("double"), scale).as("mass_share"))
  }

  /** Lexical richness card — the size-aware vocabulary diagnostics a
    * raw type/token ratio can't give (TTR collapses as N grows by
    * Heaps' law alone): Yule's K
    * `10⁴·(Σ_f f²·V_f − N)/N²` (repeat-rate — size-INVARIANT, high =
    * repetitive/templated text, the q56-repetition signal at corpus
    * grain), Herdan's C `ln V/ln N`, Guiraud's R `V/√N`, and Sichel's S
    * `V₂/V` (the dis-legomena share — stable across N, shifts under
    * boilerplate). One row `(n_tokens, vocab, yule_k, herdan_c,
    * guiraud_r, sichel_s)`.
    *
    * Everything folds from the [[goodTuring]] frequency-of-frequency
    * frame: exact integer counts (`f²·V_f` in decimal — corpus scale),
    * four pinned IEEE closed forms. One token shuffle + two bounded
    * folds.
    */
  def lexicalRichness(
      df: DataFrame,
      textCol: String = "text",
      scale: Int = 6): DataFrame = {
    val toks = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
    val counts = toks.groupBy(col("_tok")).agg(count(lit(1)).as("_c"))
    val ff = counts.groupBy(col("_c").as("r")).agg(count(lit(1)).as("n_r"))
    val m = ff.agg(
      sum(col("r").cast("decimal(38,0)") * col("n_r")).as("_n"),
      sum(col("n_r")).as("vocab"),
      sum(col("r").cast("decimal(38,0)") * col("r") * col("n_r")).as("_sf2"),
      coalesce(sum(when(col("r") === 2L, col("n_r"))), lit(0L)).as("_v2"))
    val n = col("_n").cast("double")
    val v = col("vocab").cast("double")
    m.select(
      col("_n").cast("long").as("n_tokens"), col("vocab"),
      round(when(col("_n") > 0,
        lit(10000.0) * (col("_sf2").cast("double") - n) / (n * n)), scale)
        .as("yule_k"),
      round(when(col("_n") > 1 && col("vocab") > 0, log(v) / log(n)), scale)
        .as("herdan_c"),
      round(when(col("_n") > 0, v / sqrt(n)), scale).as("guiraud_r"),
      round(when(col("vocab") > 0,
        col("_v2").cast("double") / v), scale).as("sichel_s"))
  }

  /** Heaps'-law vocabulary growth curve — how fast does vocabulary grow
    * with corpus size? (the budgeting question behind tokenizer and
    * embedding-table sizing). Measured at `steps` nested corpus
    * fractions in ONE pass over the tokens: because the hash samples
    * NEST (the f-sample contains every smaller sample), a token first
    * appears at its documents' MINIMUM sample bucket — so
    * `vocab(f) = #{tokens: min_bucket < f·G}` and every fraction reads
    * off the same |vocab|-row min frame. Returns
    * `(step, n_docs, vocab)` for f = step/steps.
    *
    * Scale shape: one explode + one token-key shuffle for the min
    * frame; the per-step counts ride a literal step explode over slim
    * frames (|vocab|·steps and |docs|·steps keyed rows). The threshold
    * test cross-multiplies (`mb·steps < step·G`) — exact integers, no
    * division anywhere.
    */
  def heapsCurve(
      df: DataFrame,
      steps: Int = 10,
      textCol: String = "text",
      idCol: String = "doc_id",
      seed: Int = 42,
      hash: HashFamily = XxHash): DataFrame = {
    require(steps >= 1 && steps <= 1000, s"steps must be in [1, 1000], got $steps")
    val g = graft.ops.Sampling.Granularity
    val stepArr = explode(array((1 to steps).map(i => lit(i.toLong)): _*)).as("step")
    val base = graft.Caches.track(df.select(
      col(idCol).as("_id"),
      graft.ops.Sampling.bucket(col(idCol), seed, hash).as("_b"),
      split(lower(trim(col(textCol))), "\\s+").as("_t")))
    val minB = base
      .select(col("_b"), explode(col("_t")).as("_tok"))
      .where(col("_tok") =!= "")
      .groupBy(col("_tok")).agg(min(col("_b")).as("_mb"))
    // cross-multiplied integer compare: _mb < step·G/steps without division
    val vocabBySt = minB.select(col("_mb"), stepArr)
      .where(col("_mb") * steps < col("step") * g)
      .groupBy(col("step")).agg(count(lit(1)).as("vocab"))
    val docsBySt = base.select(col("_b"), stepArr)
      .where(col("_b") * steps < col("step") * g)
      .groupBy(col("step")).agg(count(lit(1)).as("n_docs"))
    docsBySt.join(vocabBySt, Seq("step"), "left")
      .select(col("step"), col("n_docs"), coalesce(col("vocab"), lit(0L)).as("vocab"))
  }

  /** TextRank keywords (Mihalcea & Tarau 2004) — PageRank over the word
    * adjacency graph: a word matters when it keeps company with words
    * that matter, which surfaces backbone vocabulary that raw frequency
    * (`topTokens`) and phrase scoring ([[rakeKeyphrases]]) both miss.
    * Adjacent-bigram counts ≥ `minPairCount` become an undirected
    * weighted graph; `iters` rounds of
    * `r(v) ← (1−d) + d·Σ_u w_uv/strength(u)·r(u)` (uniform init 1.0);
    * the global `topK` words return as `(word, rank)`, ranked on the
    * ROUNDED rank with the word as tie-break.
    *
    * Determinism: each neighbor contribution `(w_uv/S_u)·r_u` is one
    * scalar IEEE product decimal(38,12)-cast before the per-vertex sum
    * (order-free), and each round's rank is re-rounded to 12 digits —
    * the whole fixed-point prefix is engine-exact, so a SQL engine
    * unrolling the same `iters` rounds reproduces the table bit for bit.
    *
    * Scale shape: one bigram-explode shuffle, then everything lives on
    * the `minPairCount`-pruned |vocab|-bounded edge frame (persisted —
    * it feeds every round); each round is one equi-join + one partial
    * aggregate on that bounded frame, `iters` is fixed (TextRank needs
    * no convergence test for ranking stability), and the cut is a
    * TakeOrdered top-k. Rank lineage grows linearly in `iters` (the
    * rank frame enters each round once — no self-join doubling).
    */
  def textRank(
      df: DataFrame,
      topK: Int = 20,
      minPairCount: Long = 5L,
      damping: Double = 0.85,
      iters: Int = 4,
      textCol: String = "text",
      scale: Int = 6): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(iters >= 1 && iters <= 16, s"iters must be in [1, 16], got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val pairs = df.select(toks.as("_t"))
      .where(size(col("_t")) >= 2)
      .select(col("_t"), explode(sequence(lit(0), size(col("_t")) - 2)).as("_i"))
      .select(
        element_at(col("_t"), col("_i") + 1).as("w1"),
        element_at(col("_t"), col("_i") + 2).as("w2"))
    val cp = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("_c"))
      .where(col("_c") >= minPairCount && col("w1") =!= col("w2"))
    val und = cp.select(col("w1").as("src"), col("w2").as("dst"), col("_c"))
      .unionByName(cp.select(col("w2").as("src"), col("w1").as("dst"), col("_c")))
      .groupBy("src", "dst").agg(sum(col("_c")).as("_w"))
    val strength = und.groupBy("src").agg(sum(col("_w")).as("_s"))
    val frac = graft.Caches.track(
      und.join(strength, Seq("src"))
        .select(col("src"), col("dst"),
          (col("_w").cast("double") / col("_s").cast("double")).as("_f")))
    var ranks = frac.select(col("src").as("word")).distinct()
      .withColumn("_r", lit(1.0))
    for (_ <- 1 to iters) {
      ranks = frac.join(ranks, frac("src") === ranks("word"))
        .select(col("dst").as("word"),
          (col("_f") * col("_r")).cast("decimal(38,12)").as("_contrib"))
        .groupBy("word")
        .agg(round(lit(1.0 - damping) + lit(damping)
          * sum(col("_contrib")).cast("double"), 12).as("_r"))
    }
    ranks.select(col("word"), round(col("_r"), scale).as("rank"))
      .orderBy(col("rank").desc, col("word"))
      .limit(topK)
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — the corpus-level
    * "what is this collection about" summary: candidate phrases are the
    * maximal stopword-free token runs (stopwords and symbol-only tokens
    * delimit), each word scores `deg/freq` (degree = Σ length of the
    * phrases it appears in — words that live inside LONG phrases beat
    * words that only stand alone), and a phrase scores the sum of its
    * words. Returns the global `topK` distinct phrases as
    * `(phrase, n_words, n_occurrences, score)`, ranked on the ROUNDED
    * score with the phrase text as tie-break (engine-portable cut).
    *
    * Determinism: phrase membership and degree are exact integers; each
    * word score is one double division; the per-phrase sum is
    * decimal(38,12)-cast term-by-term (order-free — identical phrase
    * text always reproduces the identical score, which is why the
    * distinct-phrase collapse can take `max`).
    *
    * Scale shape: tokenization is a map-side posexplode; segment ids
    * ride a window PARTITIONED by document (never global); word scores
    * are one |vocab|-bounded aggregate joined back to the slim
    * `(doc, phrase, pos, tok)` frame; the final cut is a TakeOrdered
    * top-k, not a global sort. Phrases longer than `maxPhraseLen` drop
    * (unbounded runs would make degree quadratic in run length).
    */
  def rakeKeyphrases(
      df: DataFrame,
      topK: Int = 20,
      maxPhraseLen: Int = 4,
      stopwords: Seq[String] = defaultStopwords,
      textCol: String = "text",
      idCol: String = "doc_id",
      scale: Int = 6
  ): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxPhraseLen >= 1, s"maxPhraseLen must be >= 1, got $maxPhraseLen")
    val toks = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        posexplode(split(lower(trim(col(textCol))), "\\s+")).as(Seq("_pos", "_tok")))
      .where(col("_tok") =!= "")
      .withColumn("_stop",
        col("_tok").isin(stopwords: _*) || !col("_tok").rlike("[a-z0-9]"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("_id").orderBy("_pos")
    // tracked: the word frame feeds both the degree aggregate and the
    // phrase assembly join (no cross-branch subplan CSE)
    val words = graft.Caches.track(
      toks.withColumn("_ph", sum(col("_stop").cast("int")).over(wDoc))
        .where(!col("_stop"))
        .select(col("_id"), col("_ph"), col("_pos"), col("_tok")))
    val wPhrase = org.apache.spark.sql.expressions.Window.partitionBy("_id", "_ph")
    val wscore = words.withColumn("_len", count(lit(1)).over(wPhrase))
      .groupBy(col("_tok"))
      .agg(count(lit(1)).as("_freq"), sum(col("_len")).as("_deg"))
      .select(col("_tok"), (col("_deg").cast("double") / col("_freq")).as("_ws"))
    val phrases = words.join(wscore, Seq("_tok"))
      .groupBy(col("_id"), col("_ph"))
      .agg(
        count(lit(1)).as("n_words"),
        array_join(transform(array_sort(collect_list(struct(col("_pos"), col("_tok")))),
          x => x.getField("_tok")), " ").as("phrase"),
        sum(col("_ws").cast("decimal(38,12)")).as("_ps"))
      .where(col("n_words") <= maxPhraseLen)
    phrases.groupBy(col("phrase"), col("n_words"))
      .agg(count(lit(1)).as("n_occurrences"), max(col("_ps")).as("_psm"))
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        round(col("_psm").cast("double"), scale).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }
}
