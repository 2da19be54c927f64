package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (north-star
  * extension surface; no reference counterpart — derived from the Spark
  * public API and the `documents` testdata shape).
  *
  * Everything here is pure codegen'd Column expressions (split / filter /
  * transform / aggregate higher-order functions) — no UDFs — so the hot
  * path stays inside whole-stage codegen and scales linearly with input
  * splits: tokenization is a narrow map, term stats are one map-side
  * combinable shuffle keyed by term.
  */
object TextAnalysis {

  /** Lowercase word tokens: split on non-alphanumeric runs, drop empties.
    * Deliberately simple + deterministic so the DuckDB oracle can mirror it
    * exactly (`string_split_regex` + `list_filter`).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Token count — whitespace/punct tokenizer (above). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count heuristic: alnum runs are split into ~4-char
    * subword units (ceil(len/4)), other printable glyphs count 1 each —
    * a cheap deterministic stand-in for a real tokenizer's token count.
    */
  def subwordCount(text: Column): Column =
    aggregate(
      filter(split(lower(text), "[^a-z0-9]+"), t => t =!= ""),
      lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  /** Light English stemming — Harman's S-stemmer (1991), the public
    * minimal-risk IR stemmer: three ordered suffix rules, FIRST match
    * wins:
    *   ies -> y   unless preceded by a or e  ("ties"→"ty", "aies"/"eies" kept)
    *   es  -> e   unless preceded by a, e or o
    *   s   -> ''  unless the word ends in us or ss
    * Pure codegen'd CASE over suffix slices — no UDF, no regex; mirrors
    * 1:1 into the oracle's CASE.
    */
  def sStem(term: Column): Column = {
    val n = length(term)
    // guarded suffix slice: Spark and DuckDB disagree on substr semantics
    // at pos <= 0, so never evaluate one — short words yield "" (no match)
    def tail(k: Int) =
      when(n >= k, term.substr(n - (k - 1), lit(k))).otherwise(lit(""))
    def drop(k: Int) = term.substr(lit(1), n - k) // only used when n >= k
    // dispatch on the LONGEST matching suffix; its guard decides fire or
    // keep — a guarded word ("goes", "aies") must NOT fall through to a
    // shorter rule, or every guard would be defeated by the next rule
    when(tail(3) === "ies",
        when(tail(4) =!= "aies" && tail(4) =!= "eies",
          concat(drop(3), lit("y"))).otherwise(term))
      .when(tail(2) === "es",
        when(tail(3) =!= "aes" && tail(3) =!= "ees" && tail(3) =!= "oes",
          drop(1)).otherwise(term))
      .when(tail(1) === "s",
        when(tail(2) =!= "us" && tail(2) =!= "ss", drop(1)).otherwise(term))
      .otherwise(term)
  }

  /** Stemmed term statistics: [[termStats]] over [[sStem]]-normalized
    * tokens — the classic index-time conflation step (same shuffle shape;
    * the stem runs scan-side before the aggregate).
    */
  def stemmedTermStats(df: DataFrame, textCol: String, docIdCol: String,
      minCount: Long = 1L): DataFrame =
    termStatsOf(
      df.select(col(docIdCol).as("doc_id"), explode(tokens(col(textCol))).as("__w"))
        .select(col("doc_id"), sStem(col("__w")).as("term")),
      minCount)

  /** Corpus term statistics: one row per term with total occurrences and
    * document frequency. Single explode → groupBy(term) — one shuffle,
    * partial-aggregated map-side. `minCount` prunes the long tail before
    * the final sort.
    */
  def termStats(df: DataFrame, textCol: String, docIdCol: String,
      minCount: Long = 1L): DataFrame =
    termStatsOf(
      df.select(col(docIdCol).as("doc_id"), explode(tokens(col(textCol))).as("term")),
      minCount)

  /** Shared aggregate of [[termStats]] / [[stemmedTermStats]]: input is
    * (doc_id, term) rows, output the per-term occurrence/doc-frequency
    * stats — one definition so the aggregate contract cannot drift.
    */
  private def termStatsOf(termRows: DataFrame, minCount: Long): DataFrame =
    termRows
      .groupBy("term")
      .agg(count(lit(1)).as("occurrences"), countDistinct(col("doc_id")).as("doc_freq"))
      .where(col("occurrences") >= minCount)

  /** N-gram novelty: the share of a document's DISTINCT k-grams whose
    * corpus-wide first occurrence (minimum doc id) is this document —
    * the "marginal contribution" curation signal (a doc whose grams all
    * appeared earlier adds nothing; keep high-novelty docs first).
    *
    * Scale shape: one (doc, gram-hash) distinct table; first occurrence
    * is a map-side-combinable min aggregate on the hash; the join back
    * compares owner ids — grams ride as xxhash64, text never shuffles.
    */
  def noveltyScores(df: DataFrame, textCol: String, docIdCol: String,
      gramTokens: Int = 8): DataFrame = {
    require(gramTokens > 0, s"gramTokens must be positive: $gramTokens")
    val tk = df.select(col(docIdCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .where(graft.ops.Plans.noPushdown(size(col("__tk")) >= gramTokens))
    val grams = tk.select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("__tk")) - gramTokens),
          i => xxhash64(concat_ws(" ", slice(col("__tk"), i + 1, lit(gramTokens)))))))
          .as("h"))
    val g = graft.Caches.register(
      grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val first = g.groupBy("h").agg(min("doc_id").as("__first"))
    g.join(first, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
          .as("novel_grams"))
      .select(col("doc_id"), col("n_grams"), col("novel_grams"),
        round(col("novel_grams").cast("double") / col("n_grams"), 6)
          .as("novelty"))
  }

  /** RAKE keyword extraction (public method: Rose et al. 2010): candidate
    * phrases are maximal stopword-free token runs; each word scores
    * degree/frequency where degree sums the lengths of the phrases it
    * appears in (co-occurrence incl. self); a phrase scores the sum of
    * its member word scores. Returns the top `k` distinct phrases:
    * (phrase, n_words, occurrences, score).
    *
    * Scale shape: phrase segmentation is one doc-keyed window (cumulative
    * stopword count — the gaps-and-islands idiom); word scores are one
    * map-side-combinable aggregate; phrase scoring explodes members and
    * re-folds per instance in position order (deterministic doubles);
    * the final top-k is a TakeOrdered. No driver loops, no UDF.
    */
  def rakeKeywords(df: DataFrame, textCol: String, docIdCol: String,
      stopwords: Seq[String], k: Int): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    require(k > 0, s"k must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tok = df.select(col(docIdCol).as("doc_id"),
        posexplode(tokens(col(textCol))))
      .toDF("doc_id", "pos", "word")
      .withColumn("__st", col("word").isInCollection(stopwords))
      .withColumn("__grp", sum(when(col("__st"), 1).otherwise(0)).over(w))
    // ph feeds BOTH the word-score aggregate and the instance explode —
    // pin it so tokenize + window + phrase assembly run once (the
    // dual-consumer convention; released via graft.Caches)
    val ph = graft.Caches.register(tok.where(!col("__st"))
      .groupBy("doc_id", "__grp")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("word")))),
        x => x.getField("word")).as("terms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ws = ph.select(explode(col("terms")).as("word"),
        size(col("terms")).as("__L"))
      .groupBy("word")
      .agg(sum("__L").as("__degree"), count(lit(1)).as("__freq"))
      .withColumn("__score", col("__degree").cast("double") / col("__freq"))
    val inst = ph.select(col("doc_id"), col("__grp"),
      array_join(col("terms"), " ").as("phrase"),
      size(col("terms")).cast("long").as("n_words"),
      posexplode(col("terms")))
      .toDF("doc_id", "__grp", "phrase", "n_words", "__p", "word")
    inst.join(ws.select("word", "__score"), Seq("word"))
      .groupBy("doc_id", "__grp", "phrase", "n_words")
      .agg(sort_array(collect_list(struct(col("__p"), col("__score")))).as("__l"))
      .withColumn("__isc",
        aggregate(col("__l"), lit(0.0), (a, x) => a + x.getField("__score")))
      .groupBy("phrase")
      .agg(max("n_words").as("n_words"), count(lit(1)).as("occurrences"),
        round(max(col("__isc")), 6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }

  // Tiny built-in stopword lists per language family for the language-ID
  // heuristic and stopword-ratio quality metric. Deterministic and mirrored
  // verbatim in the oracle SQL.
  val stopwordsEn: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
  val stopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "von", "ein", "zu", "mit", "nicht")
  val stopwordsEs: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "los")
  val stopwordsFr: Seq[String] = Seq("le", "la", "de", "et", "un", "est", "dans", "que", "pour", "les")

  private def stopRatio(toks: Column, words: Seq[String]): Column = {
    val hits = size(filter(toks, t => t.isin(words.map(lit): _*)))
    when(size(toks) === 0, 0.0).otherwise(hits.cast("double") / size(toks))
  }

  /** Language-ID heuristic: stopword-family hit ratio per language, argmax
    * with a fixed priority order (en > de > es > fr) breaking ties; all-zero
    * scores → "und" (undetermined). At 100 TB this is a narrow projection —
    * no shuffle at all.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val sEn = stopRatio(toks, stopwordsEn)
    val sDe = stopRatio(toks, stopwordsDe)
    val sEs = stopRatio(toks, stopwordsEs)
    val sFr = stopRatio(toks, stopwordsFr)
    when(sEn === 0.0 && sDe === 0.0 && sEs === 0.0 && sFr === 0.0, "und")
      .when(sEn >= sDe && sEn >= sEs && sEn >= sFr, "en")
      .when(sDe >= sEs && sDe >= sFr, "de")
      .when(sEs >= sFr, "es")
      .otherwise("fr")
  }

  /** Per-document quality metrics (LLM data filtering): character length,
    * token count, mean token length, stopword ratio (en), non-alphanumeric
    * character ratio, and distinct-token ratio (repetition detector).
    * A narrow projection — apply before any shuffle so low-quality rows are
    * filtered at the scan.
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val totTokLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    df.withColumn("n_chars_q", length(t).cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_token_len",
        when(nTok === 0, 0.0).otherwise(round(totTokLen.cast("double") / nTok, 6)))
      .withColumn("stopword_ratio", round(stopRatio(toks, stopwordsEn), 6))
      .withColumn("non_alnum_ratio",
        when(length(t) === 0, 0.0).otherwise(round(
          (length(t) - length(regexp_replace(lower(t), "[^a-z0-9]", ""))).cast("double")
            / length(t), 6)))
      .withColumn("distinct_token_ratio",
        when(nTok === 0, 0.0).otherwise(
          round(size(array_distinct(toks)).cast("double") / nTok, 6)))
  }

  /** Per-document sentence statistics: sentence count (split on
    * `[.!?]+` runs, blank segments dropped) and mean tokens per sentence.
    * Scan-local per-document arithmetic — no shuffle; the split arrays are
    * bounded by document length and never leave the row.
    */
  /** Sentence count: non-blank segments split on `[.!?]+` runs. The split
    * regex and blank rule are an oracle-parity contract shared by
    * [[sentenceStats]] and [[readability]] (and mirrored in their SQL) —
    * ONE definition so the three can never desync.
    */
  def sentenceCount(text: Column): Column =
    size(filter(split(text, "[.!?]+"), s => trim(s) =!= ""))

  def sentenceStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nSent = sentenceCount(t)
    val nTok = size(tokens(t))
    df.withColumn("n_sentences", nSent.cast("long"))
      .withColumn("mean_sent_tokens",
        when(nSent === 0, 0.0)
          .otherwise(round(nTok.cast("double") / nSent, 6)))
  }

  /** Flesch-style readability per document: 206.835 − 1.015·(tokens/
    * sentences) − 84.6·(syllables/tokens), with syllables approximated as
    * vowel-group runs (the standard regex proxy). Pure IEEE arithmetic on
    * exact counts — no libm — and scan-local like the other per-doc
    * metrics. Docs with no sentences or no tokens yield null.
    */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nSent = sentenceCount(t)
    val nTok = size(tokens(t))
    val nSyl = size(regexp_extract_all(lower(t), lit("[aeiou]+"), lit(0)))
    df.withColumn("flesch",
      when(nSent === 0 || nTok === 0, lit(null).cast("double"))
        .otherwise(round(lit(206.835) - lit(1.015) * (nTok.cast("double") / nSent)
          - lit(84.6) * (nSyl.cast("double") / nTok), 6)))
  }

  /** Benchmark decontamination — flag corpus documents sharing any word
    * n-gram with a benchmark/eval set (the train-test contamination check
    * every LLM data pipeline runs before training). The benchmark's
    * n-gram hash set is tiny relative to the corpus, so it BROADCASTS and
    * the corpus side is a semi-join at the scan — the corpus's exploded
    * n-grams never shuffle. N-grams are md5'd so the broadcast rows are
    * fixed-width (and the set could be precomputed/persisted alongside
    * the benchmark at production scale).
    *
    * @return the distinct ids of contaminated corpus docs
    */
  def contaminatedDocs(corpus: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    // Gram hashing runs POST-explode: start positions are exploded first
    // and the slice/concat/md5 are top-level codegen'd expressions — an
    // md5 inside a transform() lambda is interpreted per element (3s -> 1s
    // at sf0.1 on the corpus side). Per-doc duplicate grams are harmless:
    // both outputs are DISTINCT. The size guard also keeps Spark's
    // descending sequence(0, -1) from firing on sub-n-token docs.
    def gramRows(df: DataFrame, text: String, keep: Seq[Column]) =
      df.select(keep :+ tokens(col(text)).as("__tk"): _*)
        .where(graft.ops.Plans.noPushdown(size(col("__tk")) >= n))
        .select(keep ++ Seq(col("__tk"),
          explode(sequence(lit(1), size(col("__tk")) - (n - 1))).as("__i")): _*)
        .select(keep :+ md5(concat_ws(" ",
          slice(col("__tk"), col("__i"), lit(n)))).as("__g"): _*)
    val bGrams = gramRows(benchmark, benchTextCol, Nil).distinct()
    gramRows(corpus, textCol, Seq(col(idCol)))
      .join(broadcast(bGrams), Seq("__g"), "left_semi")
      .select(idCol).distinct()
  }

  /** Winnowing fingerprints (the MOSS rolling-hash scheme): hash every
    * character `k`-gram, slide a window of `w` hashes, keep each window's
    * minimum, return the distinct set. Guarantee: any shared substring of
    * length ≥ k + w − 1 between two documents yields at least one shared
    * fingerprint — the local-similarity detector exact fingerprints and
    * whole-doc MinHash both miss. Scan-local per document (cost
    * O(len · w) inside the row, nothing shuffles); k-gram hashes use the
    * same 60-bit md5 trick as the MinHash base hash so the oracle can
    * mirror them exactly.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    // r13 rewrite: the previous array-based form computed every k-gram
    // hash inside a transform() lambda and folded the window minima with
    // zip_with — ALL higher-order-function lambdas run interpreted, so
    // the per-gram md5+conv paid interpreter dispatch per character
    // position (~5.8 s at sf0.1 for ~1.5M grams; dominated the query).
    // Instead explode the gram start positions and hash at TOP LEVEL
    // (whole-stage codegen, the contaminatedDocs lesson), take the
    // sliding w-window minimum with a ROWS window frame (bounded O(w)
    // per row, compiled expression evaluation), and re-aggregate the
    // distinct minima per doc. Scale shape: ONE shuffle — the window's
    // doc-keyed exchange — which the groupBy reuses (same key); the
    // left join restoring short/empty docs is id-keyed and
    // column-pruned. Hash values and the resulting fingerprint SET are
    // identical to the old form (same 60-bit md5-prefix hash, same
    // window minima); the array is now sorted rather than
    // first-occurrence ordered — no consumer depends on order (it is a
    // set by construction), and sorting makes the output deterministic
    // across partitionings.
    import org.apache.spark.sql.expressions.Window
    val t = df.select(col(idCol), lower(col(textCol)).as("__t"))
    // only docs long enough for at least one full w-window of grams
    // produce fingerprints (len >= k + w - 1 <=> nGrams >= w)
    val pos = t.where(length(col("__t")) >= k + w - 1)
      .select(col(idCol), col("__t"),
        (length(col("__t")) - (k - 1)).as("__n"),
        explode(sequence(lit(1), length(col("__t")) - (k - 1))).as("__i"))
      .select(col(idCol), col("__n"), col("__i"),
        expr(s"CAST(conv(substring(md5(substring(__t, __i, $k)), 1, 15), 16, 10) AS BIGINT)")
          .as("__h"))
    val win = Window.partitionBy(idCol).orderBy("__i")
      .rowsBetween(Window.currentRow, w - 1)
    val mins = pos.withColumn("__m", min(col("__h")).over(win))
      // trailing positions whose frame is shorter than w are not windows
      .where(col("__i") <= col("__n") - (w - 1))
      .groupBy(idCol).agg(sort_array(collect_set(col("__m"))).as("fingerprints"))
    t.select(col(idCol)).join(mins, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("fingerprints"),
        expr("CAST(array() AS ARRAY<BIGINT>)")).as("fingerprints"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text —
    * the canonical key for exact dedup across formatting variants.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  // PII patterns kept deliberately RE2-safe (no backrefs/lookaround) so the
  // DuckDB oracle applies the identical regex text. Order matters: emails
  // before phones (an email's digits must not be half-eaten by the phone
  // pattern).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction for training-data curation: replace emails, phone
    * numbers, and IPv4 addresses with typed placeholder tags. A narrow
    * projection (three chained codegen'd regexp_replace) — runs at the
    * scan, no shuffle; at 100 TB this is exactly where scrubbing must
    * happen, before any data moves.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Word n-grams WITH duplicates (unlike Dedup.shinglesFromTokens, which
    * is a distinct set for Jaccard) — the repeat structure is the signal
    * here. `toks` must be a materialized column (referenced per n-gram).
    */
  def ngramsRaw(toks: Column, n: Int): Column =
    when(size(toks) < n, array()).otherwise(
      transform(sequence(lit(1), size(toks) - n + 1),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Intra-document duplicate n-gram ratio — the C4/RefinedWeb-style
    * internal-repetition filter: share of n-gram occurrences that are
    * repeats of an earlier n-gram in the SAME document
    * (1 - distinct/total; 0 for docs shorter than n tokens). A narrow
    * per-row computation (tokenize → n-grams → two array sizes): runs at
    * the scan, no shuffle — apply before any data moves, like
    * [[qualityFilter]].
    */
  def dupNgramRatio(df: DataFrame, textCol: String, docIdCol: String,
      n: Int = 3): DataFrame =
    df.select(col(docIdCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .select(col("doc_id"), ngramsRaw(col("__tk"), n).as("__ng"))
      .select(col("doc_id"), size(col("__ng")).cast("long").as("n_ngrams"),
        when(size(col("__ng")) === 0, 0.0)
          .otherwise(round(lit(1.0) -
            size(array_distinct(col("__ng"))).cast("double") / size(col("__ng")), 6))
          .as("dup_ratio"))

  /** Per-document repetition statistics (boilerplate/spam detector): token
    * count, the most frequent token, and its share of all tokens. High
    * top-share = repeated boilerplate; composes with [[qualityFilter]]'s
    * distinct-token ratio. Shape: explode → groupBy(doc, term) (one
    * map-side-combinable shuffle) → per-doc top-1 via a window over the
    * (small) per-doc vocabulary; ties break to the lexicographically first
    * term so results hash-match across engines.
    */
  def repetitionStats(df: DataFrame, textCol: String, docIdCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(docIdCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"))
    val w = Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("term"))
    counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("term").as("top_term"),
        round(col("cnt").cast("double") / col("n_tokens"), 6).as("top_share"))
  }

  /** Quality gate for training-data curation: keep documents whose metrics
    * pass all thresholds. A narrow filter — apply directly after the scan,
    * before any shuffle, so rejected documents never move.
    */
  def qualityFilter(df: DataFrame, textCol: String,
      minTokens: Long = 10L, maxNonAlnumRatio: Double = 0.5,
      minDistinctTokenRatio: Double = 0.1, minMeanTokenLen: Double = 2.0): DataFrame = {
    val m = qualityMetrics(df, textCol)
    m.where(col("n_tokens") >= minTokens &&
        col("non_alnum_ratio") <= maxNonAlnumRatio &&
        col("distinct_token_ratio") >= minDistinctTokenRatio &&
        col("mean_token_len") >= minMeanTokenLen)
      .drop("n_chars_q", "n_tokens", "mean_token_len", "stopword_ratio",
        "non_alnum_ratio", "distinct_token_ratio")
  }

  /** TF-IDF, top-k terms per document.
    *
    * tf = term count in the doc; idf = ln((N+1)/(df+1)) rounded to 6
    * decimals BEFORE the multiply, so tf*idf is a product of an integer
    * and a fixed 6-dp constant — bit-identical across engines (raw ln()
    * can differ in the last ulp between libm implementations).
    *
    * Shape: one explode → groupBy(doc, term) for tf (map-side combinable),
    * a groupBy(term) for df joined back via broadcast (vocabulary is small
    * relative to the corpus), and a per-doc window for the top-k cut.
    */
  def tfidfTopK(df: DataFrame, textCol: String, docIdCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val tf = df.select(col(docIdCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf", round(log((lit(n) + 1.0) / (col("df") + 1.0)), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("tfidf", round(col("tf") * col("idf"), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "tfidf")
  }

  /** Bigram collocations scored by LIFT (the exp of PMI): how much more
    * often two tokens appear adjacent than independence predicts —
    *   lift = (n_ab / B) / ((n_a / U) * (n_b / U))
    * with U = total tokens, B = total bigrams (both counted BEFORE the
    * min-count cut). Lift is a pure ratio of IEEE divisions/multiplies on
    * exact counts, so unlike ln()-based PMI it is bit-identical across
    * engines; rank by lift, take ln() downstream if PMI units are wanted.
    *
    * Shape: tokens explode once into bigrams (adjacent zip — no shuffle;
    * bigrams never cross a row boundary), ONE groupBy(bigram) for n_ab,
    * one groupBy(term) for the unigram table joined back twice — no
    * broadcast hint: the surviving-bigram side is minCount-filtered and
    * small, so AQE broadcasts IT, never the (possibly corpus-vocabulary-
    * sized) unigram table. The two one-row totals cross-join in.
    */
  /** Compression-ratio quality signal: deflate(utf8(text)) length over
    * raw utf8 length. Highly repetitive boilerplate compresses to a small
    * fraction; natural prose sits in a mid band; high-entropy junk stays
    * near (or above) 1.0 — a standard web-corpus curation feature used to
    * screen both extremes. Genuine per-row imperative work (no expression
    * form of a codec — same justification as the image decode).
    * Scan-local, no shuffle. Deflate output length is a
    * deterministic function of the bytes for a fixed level, but it is NOT
    * SQL-expressible, so queries over this column register without an
    * oracle (rows-only check) and correctness is pinned by golden tests.
    */
  private val deflateLenUdf = udf((s: String) => {
    if (s == null) None
    else {
      val bytes = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, false)
      try {
        d.setInput(bytes); d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        Some(total)
      } finally d.end()
    }
  })

  /** Per-document compression stats: utf8 byte length, deflate length,
    * and their ratio (null for empty docs). See [[deflateLenUdf]].
    */
  def compressionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val nBytes = octet_length(encode(col(textCol), "UTF-8")).cast("long")
    df.select(col(idCol), nBytes.as("n_bytes"),
        deflateLenUdf(col(textCol)).as("n_deflate"))
      .withColumn("compress_ratio",
        when(col("n_bytes") > 0,
          col("n_deflate").cast("double") / col("n_bytes")))
  }

  def collocations(df: DataFrame, textCol: String,
      minCount: Long): DataFrame = {
    val tk = df.select(tokens(col(textCol)).as("tk"))
    val uni = tk.select(explode(col("tk")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_term"))
    val uTotal = uni.agg(sum(col("n_term")).cast("double").as("u_total"))
    val bigrams = tk.select(explode(
        when(size(col("tk")) < 2, typedLit(Seq.empty[String]))
          .otherwise(zip_with(
            slice(col("tk"), lit(1), size(col("tk")) - 1),
            slice(col("tk"), lit(2), size(col("tk")) - 1),
            (a, b) => concat_ws(" ", a, b)))).as("bigram"))
    val bCounts = bigrams.groupBy("bigram").agg(count(lit(1)).as("n_ab"))
    val bTotal = bCounts.agg(sum(col("n_ab")).cast("double").as("b_total"))
    bCounts.where(col("n_ab") >= minCount)
      .withColumn("term_a", split(col("bigram"), " ").getItem(0))
      .withColumn("term_b", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("term").as("term_a"), col("n_term").as("n_a")), "term_a")
      .join(uni.select(col("term").as("term_b"), col("n_term").as("n_b")), "term_b")
      .crossJoin(broadcast(uTotal))
      .crossJoin(broadcast(bTotal))
      .select(col("term_a"), col("term_b"), col("n_ab"),
        round((col("n_ab").cast("double") / col("b_total")) /
          ((col("n_a").cast("double") / col("u_total")) *
            (col("n_b").cast("double") / col("u_total"))), 6).as("lift"))
  }

  /** CROSS-document boilerplate detection (the CCNet/RefinedWeb line-dedup
    * signal, at chunk granularity): each document's tokens are cut into
    * disjoint `chunkTokens`-token chunks, chunks are hashed, and a chunk
    * appearing in more than one document is "boilerplate". Output per doc:
    * chunk count, boilerplate chunk count, and the duplicated fraction.
    * Documents shorter than one chunk are excluded (no chunks to judge).
    *
    * Shape at scale: the chunk rows shuffle ONCE on the chunk hash
    * (map-side-combinable count-distinct over doc ids would need exact
    * distinct — chunk×doc pairs are already distinct by construction per
    * doc position, so a two-level groupBy avoids the expensive
    * countDistinct), then a narrow hash-join back. No corpus-sized
    * broadcast; chunk-hash skew (a viral boilerplate chunk) lands on AQE's
    * skew-join handling.
    */
  def boilerplateChunks(df: DataFrame, textCol: String, docIdCol: String,
      chunkTokens: Int = 8): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    val tk = df.select(col(docIdCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .where(graft.ops.Plans.noPushdown(size(col("__tk")) >= chunkTokens))
    val chunks = tk.select(col("doc_id"),
      explode(transform(sequence(lit(0), (size(col("__tk")) / chunkTokens).cast("int") - 1),
        i => md5(concat_ws(" ",
          slice(col("__tk"), i * chunkTokens + 1, lit(chunkTokens)))))).as("ch"))
    // distinct (doc, chunk) first so the doc-frequency agg is a plain
    // count — keeps the aggregate partial/map-side combinable
    val docFreq = chunks.distinct()
      .groupBy("ch").agg(count(lit(1)).as("__ndocs"))
    chunks.join(docFreq, Seq("ch"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__ndocs") > 1, 1L).otherwise(0L)).as("dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
        round(col("dup_chunks").cast("double") / col("n_chunks"), 6)
          .as("dup_frac"))
  }

  /** C4-style boilerplate REMOVAL — the apply step to
    * [[boilerplateChunks]]'s detection: drop every disjoint
    * `chunkTokens`-token chunk whose corpus document-frequency exceeds
    * `maxDocFreq` (the public C4 paper removed any 3-sentence span that
    * appeared more than once; this is the token-chunk analogue, sharing
    * [[boilerplateChunks]]'s exact chunking so detect and apply agree),
    * then reassemble each document from its surviving chunks in original
    * order plus the unhashed sub-chunk tail. Output: (doc_id, n_chunks,
    * removed_chunks, text_clean) with text_clean = space-joined surviving
    * tokens.
    *
    * Scale shape: chunk rows shuffle once on the chunk hash for the
    * doc-frequency count; the viral-chunk set (df > maxDocFreq) is the
    * genuinely small side of a left-anti join (AQE broadcasts it when it
    * fits); reassembly is one doc-keyed aggregate whose per-group buffer
    * is bounded by document size. Token arrays never ride the frequency
    * shuffle — only (doc_id, hash) pairs do.
    */
  def removeBoilerplateChunks(df: DataFrame, textCol: String, docIdCol: String,
      chunkTokens: Int = 8, maxDocFreq: Long = 1): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1: $maxDocFreq")
    // persisted: `base` feeds the final reassembly select AND the chunk
    // rows (whose two consumers aggregate different column sets, so
    // exchange-reuse canonicalization cannot be relied on to share the
    // tokenize) — without the pin the regex tokenizer would run up to 3x
    // per query. Registered in graft.Caches per the operator convention.
    val base = graft.Caches.register(df
      .select(col(docIdCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .withColumn("__nc", (size(col("__tk")) / chunkTokens).cast("int"))
      .withColumn("__tail", concat_ws(" ",
        slice(col("__tk"), col("__nc") * chunkTokens + 1, lit(chunkTokens))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val chRows = base
      .where(col("__nc") > 0)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => concat_ws(" ", slice(col("__tk"), i * chunkTokens + 1, lit(chunkTokens))))))
      .toDF("doc_id", "idx", "chtext")
      .withColumn("__h", md5(col("chtext")))
    // distinct (doc, hash) first so doc-frequency is a plain map-side
    // combinable count — same shape as boilerplateChunks
    val viral = chRows.select("doc_id", "__h").distinct()
      .groupBy("__h").agg(count(lit(1)).as("__ndocs"))
      .where(col("__ndocs") > maxDocFreq)
      .select("__h")
    val kept = chRows.join(viral, Seq("__h"), "left_anti")
    val keptAgg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("__nkept"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("idx"), col("chtext")))),
          x => x.getField("chtext"))).as("__body"))
    base.select("doc_id", "__nc", "__tail")
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("__nc").cast("long").as("n_chunks"),
        (col("__nc") - coalesce(col("__nkept"), lit(0L))).cast("long")
          .as("removed_chunks"),
        concat_ws(" ",
          filter(array(coalesce(col("__body"), lit("")), col("__tail")),
            s => s =!= "")).as("text_clean"))
  }

  /** Per-document token Shannon entropy — the cheap perplexity proxy of
    * quality filtering (low entropy = repeated/templated text, high =
    * diverse vocabulary). H = log2(n) − (Σ c·log2 c)/n over per-term
    * counts c; the Σ folds left-to-right over the term-sorted count list
    * so an external oracle replaying the same fold gets the bit-identical
    * double. One map-side-combinable shuffle (doc,term) then a per-doc
    * agg — same shape as [[repetitionStats]].
    */
  def tokenEntropy(df: DataFrame, textCol: String, docIdCol: String): DataFrame = {
    val counts = df
      .select(col(docIdCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    counts.groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sort_array(collect_list(struct(col("term"), col("cnt")))).as("__l"))
      .select(col("doc_id"), col("n_tokens"), col("n_terms"),
        round(log2(col("n_tokens")) -
          aggregate(col("__l"), lit(0.0),
            (acc, x) => acc + x.getField("cnt").cast("double") *
              log2(x.getField("cnt"))) / col("n_tokens"), 6).as("entropy"))
  }

  /** Bigram language-model score — the KenLM-style perplexity proxy of
    * LLM data curation, self-trained on the corpus: per-doc mean negative
    * log2-likelihood under add-one-smoothed corpus bigram statistics
    * P(w2|w1) = (C(w1,w2)+1) / (C(w1·)+V). Low score = fluent/typical
    * text, high = noise. Docs with < 2 tokens have no bigrams and are
    * excluded.
    *
    * Determinism: counts and V are exact integers, each probability is
    * one exact-integer division, and the per-doc Σ log2 p folds
    * left-to-right in BIGRAM POSITION order (sorted collect) — the same
    * ordered-fold contract as [[tokenEntropy]], so an external oracle
    * replays the bit-identical double.
    *
    * Scale shape: two map-side-combinable bigram aggregations (corpus
    * stats), one V scalar, then one shuffle joining doc-bigrams to stats
    * — the tfidf shape. No driver loops; the stats tables scale with
    * vocabulary², not corpus size, and the hot join key is the bigram
    * (skew lands on AQE).
    */
  def lmScore(df: DataFrame, textCol: String, docIdCol: String): DataFrame = {
    val tk = df.select(col(docIdCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .where(graft.ops.Plans.noPushdown(size(col("__tk")) >= 2))
    val bg = tk.select(col("doc_id"),
      posexplode(ngramsRaw(col("__tk"), 2)).as(Seq("pos", "bg")))
    val bgCounts = bg.groupBy("bg").agg(count(lit(1)).as("c12"))
    val ctxCounts = bgCounts
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = df.select(explode(tokens(col(textCol))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val scored = bg
      .join(bgCounts, Seq("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(ctxCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__l", log2((col("c12") + 1).cast("double") /
        (col("c1") + col("v")).cast("double")))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("__l")))).as("__ll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-aggregate(col("__ll"), lit(0.0),
          (acc, x) => acc + x.getField("__l")) / col("n_bigrams"), 6)
          .as("lm_score"))
  }

  /** Feature hashing (the "hashing trick"): every token is bucketed by
    * md5 into a fixed `dim`-bucket space; output is the sparse term-
    * frequency vector as (doc_id, bucket, cnt) rows. The fixed dimension
    * makes downstream ML feature schemas data-independent — the classic
    * way to featurize unbounded vocabularies at corpus scale without a
    * dictionary build (no global vocab pass, no driver state). One
    * map-side-combinable shuffle.
    */
  /** The hashing-trick bucket of a term — md5-slice mod dim, the single
    * formula [[hashingTf]] and [[hashingTfCollisions]] (and their oracle
    * replays) share.
    */
  def tfBucket(term: Column, dim: Int): Column =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast("long"),
      lit(dim.toLong))

  def hashingTf(df: DataFrame, textCol: String, docIdCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    df.select(col(docIdCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .select(col("doc_id"), tfBucket(col("term"), dim).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Hashing-trick collision audit: how many distinct vocabulary terms
    * share each bucket — the dimension-sizing readout for
    * [[hashingTf]] (heavy collisions ⇒ the feature space is conflating
    * unrelated terms; grow `dim`). Output is a histogram: one row per
    * collision level (terms_in_bucket → n_buckets), including the
    * 0-terms row for never-hit buckets, so Σ n_buckets = dim exactly.
    * Wordcount-shaped: distinct terms → bucket counts → a ≤dim-row
    * rollup.
    */
  def hashingTfCollisions(df: DataFrame, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val perBucket = df
      .select(explode(tokens(col(textCol))).as("term")).distinct()
      .select(tfBucket(col("term"), dim).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("__t"))
    val hist = perBucket.groupBy(col("__t").as("terms_in_bucket"))
      .agg(count(lit(1)).as("n_buckets"))
    val zero = perBucket.agg(
      (lit(dim.toLong) - count(lit(1))).as("n_buckets"))
      .where(col("n_buckets") > 0L)
      .select(lit(0L).as("terms_in_bucket"), col("n_buckets"))
    hist.unionByName(zero).orderBy("terms_in_bucket")
  }

  /** The [[EmailRe]]/[[PhoneRe]]/[[Ipv4Re]] patterns as one ordered
    * (name, pattern, placeholder) list — the single source both
    * [[redactPii]] flavors and the oracle SQL build from.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", EmailRe, "<EMAIL>"),
    ("phone", PhoneRe, "<PHONE>"),
    ("ipv4", Ipv4Re, "<IP>"))

  /** PII audit + scrub in one projection — [[redactPii(text*]]'s
    * DataFrame flavor with per-document match COUNTS (taken on the
    * ORIGINAL text) next to the rewritten text: the redaction report a
    * curation pipeline logs, not just the rewrite. Placeholders contain
    * no digits or '@', so one redaction can never create a later
    * pattern's match.
    *
    * Scale shape: pure scan-local regex projection — codegen'd, no
    * shuffle, no state; the counts and the rewrite ride the same scan.
    */
  def redactPii(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = PiiPatterns.map { case (n, p, _) =>
      size(regexp_extract_all(col(textCol), lit(p), lit(0)))
        .cast("long").as(s"n_$n")
    }
    df.select(col(idCol) +: counts :+
      redactPii(col(textCol)).as("text_redacted"): _*)
  }

  /** Sliding TOKEN-window chunking with overlap — the RAG/embedding
    * ingestion splitter (LangChain/LlamaIndex's token splitter): windows
    * of `winSize` tokens starting every `stride` tokens, so consecutive
    * chunks share `winSize − stride` tokens of context and no token is
    * ever lost to a boundary (unlike [[Multimodal.chunkedHashes]]'s
    * disjoint byte blocks). The last window may be short; a doc shorter
    * than one window yields exactly one chunk.
    *
    * Scale shape: scan-local — tokens, window starts (one explode per
    * chunk, not per token) and the chunk fingerprint all happen in the
    * projection chain; no shuffle, no UDF. Downstream dedup/embedding
    * joins key on `chunk_fp` (md5 of the space-joined window).
    *
    * @return (doc_id aliased to idCol, chunk_idx 0-based, start_tok
    *         1-based, n_tokens, chunk_fp)
    */
  def tokenWindowChunks(df: DataFrame, textCol: String, idCol: String,
      winSize: Int = 64, stride: Int = 48): DataFrame = {
    require(winSize > 0 && stride > 0 && stride <= winSize,
      s"need 0 < stride <= winSize: $stride, $winSize")
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) > 0)
      .select(col("id"), col("tk"),
        explode(sequence(lit(0),
          floor((size(col("tk")) - 1) / lit(stride)).cast("int"))).as("chunk_idx"))
      .select(col("id"), col("chunk_idx"),
        (col("chunk_idx") * stride + 1).as("start_tok"),
        slice(col("tk"), col("chunk_idx") * stride + 1, lit(winSize)).as("__w"))
      .select(col("id"), col("chunk_idx"), col("start_tok"),
        size(col("__w")).as("n_tokens"),
        md5(concat_ws(" ", col("__w"))).as("chunk_fp"))
  }

  /** ROUGE-n overlap between paired texts (Lin 2004): clipped n-gram
    * multiset overlap with recall (vs the reference), precision (vs the
    * candidate) and F1 — the generation/summarization eval metric, run
    * at corpus scale over an id-paired table (reference = even id,
    * candidate = id+1, the deterministic pairing convention of
    * [[Similarity.pairCosineHistogram]]).
    *
    * Scale shape: per-doc n-gram counts are wordcount-shaped; the
    * overlap is ONE equi-join on (gram, reference id) with
    * Σ min(c_ref, c_cand) — integer counts throughout, the three ratios
    * one shared double DAG.
    *
    * @return (ref_id, cand_id, overlap, rouge_r, rouge_p, rouge_f
    *         round-6) per pair, ordered by ref_id
    */
  def rougeN(df: DataFrame, textCol: String, idCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 4, s"n must be in [1, 4]: $n")
    val grams = df
      .select(col(idCol).cast("long").as("id"),
        explode(ngramsRaw(tokens(col(textCol)), n)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
    val totals = grams.groupBy("id").agg(sum(col("c")).as("tot"))
    val ref = grams.where(col("id") % 2 === 0)
      .select(col("id").as("ref_id"), col("g"), col("c").as("__cr"))
    val cand = grams
      .select((col("id") - 1).as("ref_id"), col("g"), col("c").as("__cc"))
      .where(col("ref_id") % 2 === 0)
    val overlap = ref.join(cand, Seq("ref_id", "g"))
      .groupBy("ref_id")
      .agg(sum(least(col("__cr"), col("__cc"))).as("overlap"))
    // pairs where both sides have >= 1 gram; zero-overlap pairs keep a row
    val pairs = totals.where(col("id") % 2 === 0)
      .select(col("id").as("ref_id"), col("tot").as("__tr"))
      .join(totals.select((col("id") - 1).as("ref_id"), col("tot").as("__tc")),
        Seq("ref_id"))
      .join(overlap, Seq("ref_id"), "left")
      .na.fill(0L, Seq("overlap"))
    val r = col("overlap").cast("double") / col("__tr").cast("double")
    val p = col("overlap").cast("double") / col("__tc").cast("double")
    pairs.select(col("ref_id"), (col("ref_id") + 1).as("cand_id"),
        col("overlap"),
        round(r, 6).as("rouge_r"), round(p, 6).as("rouge_p"),
        round(when(col("overlap") > 0L,
          lit(2.0) * r * p / (r + p)).otherwise(lit(0.0)), 6).as("rouge_f"))
      .orderBy("ref_id")
  }

  /** Blocklist / taxonomy keyword tagging: every document whose token
    * stream hits the (small, broadcast) keyword dictionary, with the hit
    * count and the sorted distinct matched terms — the standard curation
    * stage for unsafe-content blocklists and topic taxonomies.
    *
    * Scale shape: tokenization stays scan-local; the dictionary join is
    * a BROADCAST hash join on the token (the corpus never shuffles), and
    * the per-doc aggregate's `collect_set` is bounded by the dictionary
    * size, never the document length. Docs with zero hits produce no row
    * (the common case at scale — emit-nothing beats emit-zero).
    *
    * @return (doc_id, n_matches, matched csv) for matched docs, by doc_id
    */
  def keywordTag(df: DataFrame, textCol: String, idCol: String,
      keywords: Seq[String]): DataFrame = {
    require(keywords.nonEmpty, "keywords must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val dict = broadcast(
      keywords.map(_.toLowerCase).distinct.toDF("term"))
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .join(dict, Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        concat_ws(",", sort_array(collect_set(col("term")))).as("matched"))
      .orderBy("doc_id")
  }

  /** Term BURSTINESS (Church & Gale '95): the variance-to-mean ratio of
    * a term's per-document count — VMR ≈ 1 means Poisson-like function
    * words, VMR ≫ 1 means bursty content words that clump into few
    * documents (the signal separating topical vocabulary from glue, and
    * a dedup/boilerplate tell: templated text makes glue words bursty).
    *
    * The subtlety is the ZEROS: the variance runs over ALL N documents,
    * including those where the term never occurs — materializing
    * (term × doc) zero cells would be |vocab|·N rows, so both moments
    * come from sufficient statistics instead: with per-doc counts c_d,
    * mean = Σc/N and population var = Σc²/N − mean², needing only the
    * observed (term, doc) count rows and a one-row N broadcast.
    */
  def burstiness(df: DataFrame, textCol: String, docIdCol: String,
      minCount: Long = 50L): DataFrame = {
    val perDoc = df
      .select(col(docIdCol).as("__d"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("__d")).agg(count(lit(1)).as("__c"))
    val byTerm = perDoc.groupBy(col("term")).agg(
      sum(col("__c")).as("total"),
      count(lit(1)).as("doc_freq"),
      sum(col("__c") * col("__c")).as("__sx2"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    byTerm.where(col("total") >= minCount)
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("total"), col("doc_freq"),
        round({
          val n = col("__n").cast("double")
          val m = col("total").cast("double") / n
          (col("__sx2").cast("double") / n - m * m) / m
        }, 6).as("vmr"))
      .orderBy("term")
  }

  /** Dunning log-likelihood KEYNESS (Dunning '93): which terms are
    * statistically over-represented in a FOCUS subcorpus vs the rest —
    * the standard corpus-comparison signal for "what makes this source/
    * language/time-slice different", more robust than raw frequency
    * ratios at low counts. G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)) with the
    * expected counts from the marginals; a zero cell contributes 0 (the
    * x·ln x → 0 limit).
    *
    * Scale: one (focus?, term) exploded count aggregate (map-side
    * combinable), a one-row totals broadcast, then a per-term
    * projection. Direction ties break by EXACT integer cross-
    * multiplication (a·B vs b·A), never double division. Output ordered
    * by term (no G²-rank cutoff — a rank boundary on a double statistic
    * is engine-portability risk; the min-count threshold bounds rows).
    */
  def keynessLLR(df: DataFrame, textCol: String, focus: Column,
      minCount: Long = 50L): DataFrame = {
    val t = df.select(focus.as("__f"), explode(tokens(col(textCol))).as("term"))
    val counts = t.groupBy(col("term")).agg(
      sum(when(col("__f"), 1L).otherwise(0L)).as("n_focus"),
      sum(when(col("__f"), 0L).otherwise(1L)).as("n_ref"))
    val tot = counts.agg(sum(col("n_focus")).as("__tf"),
      sum(col("n_ref")).as("__tr"))
    val af = col("n_focus").cast("double")
    val bf = col("n_ref").cast("double")
    val ta = col("__tf").cast("double")
    val tb = col("__tr").cast("double")
    val ea = (af + bf) * ta / (ta + tb)
    val eb = (af + bf) * tb / (ta + tb)
    val g2 = lit(2.0) * (
      when(col("n_focus") === 0, lit(0.0)).otherwise(af * log(af / ea)) +
      when(col("n_ref") === 0, lit(0.0)).otherwise(bf * log(bf / eb)))
    // the cross-multiplication runs in DECIMAL(18,0)×DECIMAL(18,0) →
    // DECIMAL(37,0): exact and overflow-free for any count below 10^18
    // (beyond every physical corpus) — a raw long×long would silently
    // WRAP past 2^63 and invert the direction label
    def d18(c: Column): Column = c.cast("decimal(18,0)")
    val lhs = d18(col("n_focus")) * d18(col("__tr"))
    val rhs = d18(col("n_ref")) * d18(col("__tf"))
    counts.where(col("n_focus") + col("n_ref") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("term"), col("n_focus"), col("n_ref"),
        round(g2, 6).as("g2"),
        when(lhs > rhs, lit("focus"))
          .when(lhs < rhs, lit("ref"))
          .otherwise(lit("even")).as("leans"))
      .orderBy("term")
  }
}
