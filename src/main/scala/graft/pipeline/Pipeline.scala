package graft.pipeline

import graft.expressions.{asColumn, asExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators over DataFrames: text analysis,
 * deduplication, similarity search. Everything here is a composition of
 * built-in (codegen'd) functions plus the native expressions in
 * [[graft.pipeline]] — no Scala UDFs — and every shape is
 * partition-local or partial+final so it scales out: dedup joins are
 * equi-joins on hash buckets (no cross joins except the explicitly
 * "brute" baselines), and candidate generation is LSH-bounded.
 */
object TextFunctions {
  def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column = asColumn(e)

  def tokens(text: Column): Column = split(text, " ")
  def token_count(text: Column): Column = size(tokens(text))
  def char_count(text: Column): Column = length(text)

  /** Ratio of non [a-z ] characters — punctuation/digit density. */
  def punct_ratio(text: Column): Column =
    length(regexp_replace(text, "[a-z ]", "")).cast("double") / length(text)

  /** Fraction of tokens in the stopword list. */
  def stopword_ratio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    size(array_intersect_count(toks, stopwords)).cast("double") / size(toks)
  }
  private def array_intersect_count(toks: Column, words: Seq[String]): Column =
    filter(toks, t => t.isin(words.map(lit(_).cast("string")): _*))

  /** Distinct-token / token ratio — low values indicate repetitive filler. */
  def distinct_ratio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Composite quality score in [0,1]: favors mid-length docs, lexical
    * diversity, low punctuation noise. Deterministic, fixed op order. */
  def quality_score(text: Column): Column = {
    val nTok = token_count(text).cast("double")
    val lenScore = least(nTok / lit(64.0), lit(1.0))
    val diversity = distinct_ratio(text)
    val punct = punct_ratio(text)
    (lenScore * lit(0.4)) + (diversity * lit(0.4)) + ((lit(1.0) - punct) * lit(0.2))
  }

  /** 64-bit rolling-hash document fingerprint. */
  def fingerprint(text: Column): Column = c(Fingerprint64(asExpr(text)))

  /** Stopword-profile language ID over a fixed profile table. Returns the
    * best-scoring language code ("und" when nothing matches). N-gram
    * heuristic: score = hits of language-characteristic tokens. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it",
      "was", "for", "on", "with", "as", "his", "they"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se",
      "del", "las", "por", "con", "una", "su", "para"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein", "zu",
      "ich", "sie", "mit", "den", "auf", "für", "es", "dem"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "en",
      "du", "que", "pour", "dans", "qui", "au", "pas"),
    "it" -> Seq("il", "di", "che", "la", "per", "non", "sono", "una",
      "con", "del", "gli", "nel", "si", "come", "anche", "dei"),
    "pt" -> Seq("o", "de", "que", "e", "do", "da", "em", "um", "para",
      "com", "não", "uma", "os", "no", "se", "na"),
    "nl" -> Seq("de", "het", "een", "van", "en", "dat", "is", "op",
      "te", "zijn", "voor", "met", "niet", "aan", "er", "maar"),
    "ru" -> Seq("и", "в", "не", "на", "что", "он", "с", "как", "это",
      "по", "но", "его", "из", "за", "от", "же"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他",
      "这", "中", "大", "来", "上", "国", "个"),
    "ja" -> Seq("の", "に", "は", "を", "た", "が", "で", "て", "と",
      "し", "れ", "さ", "ある", "いる", "も", "する"))
  def language_id(text: Column): Column = {
    val toks = tokens(text)
    val scores = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words.map(lit(_)): _*))).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  def minhash(text: Column, numHashes: Int = 32, shingle: Int = 3): Column =
    c(MinHashSignature(asExpr(tokens(text)), numHashes, shingle))
  def simhash(text: Column): Column = c(SimHash64(asExpr(tokens(text))))

  /** MOSS-style winnowing fingerprints: array<struct<pos,fp>> of the
    * rightmost-minimum gram hash per sliding window (see [[Winnow]]). */
  def winnow(text: Column, k: Int = 3, w: Int = 4): Column =
    c(Winnow(asExpr(tokens(text)), k, w))

  /** Gopher-style repetition signal: fraction of duplicate n-grams,
    * 1 − distinct/total (0 = no repetition). Integer counts → the
    * division is exact. Native expression ([[RepetitionRatio]]): the
    * HOF formulation (transform + slice + concat_ws + array_distinct)
    * allocates a gram array per row; this builds the distinct set in
    * one pass. */
  def repetition_ratio(text: Column, n: Int = 3): Column =
    c(RepetitionRatio(asExpr(tokens(text)), n))

  /** Adjacent character bigrams of a token — the unit the first BPE
    * merge iteration counts corpus-wide (q_bpe_pairs). Codegen'd HOF
    * chain, no UDF; empty for tokens shorter than 2 (Spark's `sequence`
    * REVERSES when start > stop, so the guard is load-bearing). */
  def char_pairs(tok: Column): Column =
    when(length(tok) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(tok) - 1),
        i => tok.substr(i, lit(2))))

  /** The token plus every single-character deletion — the classic
    * FastSS/SymSpell blocking key set: two tokens are within edit
    * distance 1 iff their variant sets intersect, so a vocabulary
    * self-match becomes an EQUI-join on variants (q_fuzzy_join)
    * instead of an all-pairs Levenshtein scan. */
  def deletion_variants(tok: Column): Column =
    when(length(tok) < 1, array(tok))
      .otherwise(concat(array(tok),
        transform(sequence(lit(1), length(tok)),
          i => concat(tok.substr(lit(1), i - 1),
            tok.substr(i + 1, length(tok) - i)))))
}

object Dedup {
  import TextFunctions.c

  /** Exact duplicate groups by content hash: (hash, cnt, keep_id). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))

  /**
   * Segment-level (CCNet/C4 "line dedup") exact dedup: drop every
   * segment whose corpus-wide frequency exceeds `maxDf` (boilerplate —
   * headers, footers, license blurbs — repeats across documents;
   * original prose doesn't), then reassemble each document from its
   * surviving segments in original order.
   *
   * A segment is `segTokens` consecutive whitespace tokens (the
   * line-dedup unit for corpora without newlines; pass text pre-split
   * on '\n' as single-token "segments" for literal line dedup).
   *
   * 100 TB shape: one partial+final count shuffled on the segment
   * string, then a BROADCAST anti-join — only segments with
   * `df > maxDf` (a tiny, boilerplate-sized set by construction) are
   * broadcast, never the full segment table — and one groupBy(doc) for
   * the ordered reassembly. Documents whose every segment is dropped
   * survive with empty text (left join back to the id spine).
   *
   * Everything is built-in codegen'd functions (transform/sequence/
   * slice/posexplode + sort_array(collect_list)) — no UDFs.
   *
   * Returns (id, clean_text, n_segments, n_dropped).
   */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 8, maxDf: Long = 1): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    // token array staged first: a bare split() inside the transform
    // lambda would re-tokenize the document once PER SEGMENT
    val segsArr = expr(
      s"""transform(sequence(0, CAST(ceil(size(__t) / ${segTokens}.0) AS INT) - 1),
         |  i -> array_join(slice(__t, i * $segTokens + 1, $segTokens), ' '))""".stripMargin)
    val tokenized = df.select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
    val segs = tokenized.select(col("id"), posexplode(segsArr).as(Seq("pos", "seg")))
    val hot = segs.groupBy("seg").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("seg")
    val kept = segs.join(broadcast(hot), Seq("seg"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(sort_array(collect_list(struct(pos, seg))), s -> s.seg)"), " ")
          .as("clean_text"))
    tokenized.select(col("id"), size(segsArr).as("n_segments"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_segments"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).cast("int").as("n_dropped"))
  }

  /**
   * WITHIN-document segment dedup (Gopher-style intra-doc repetition
   * removal): repeated n-token segments inside one document collapse to
   * their first occurrence; documents reassemble in order. Pure per-row
   * array work — `array_distinct` preserves first-occurrence order —
   * so unlike [[segmentDedup]] (corpus-level, needs the hot-segment
   * join) this op has NO shuffle at any scale.
   *
   * Returns (id, clean_text, n_segments, n_dropped).
   */
  def dedupeWithinDoc(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 8): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    // stage the token array first: a bare split() inside the transform
    // lambda would re-tokenize the document once PER SEGMENT
    val segsArr = expr(
      s"""transform(sequence(0, (size(__t) + ${segTokens - 1}) div $segTokens - 1),
         |  i -> array_join(slice(__t, i * $segTokens + 1, $segTokens), ' '))""".stripMargin)
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .select(col("id"), segsArr.as("__segs"))
      .select(col("id"), col("__segs"), array_distinct(col("__segs")).as("__kept"))
      .select(col("id"),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__segs")).as("n_segments"),
        (size(col("__segs")) - size(col("__kept"))).as("n_dropped"))
  }

  /**
   * One-row corpus summary card — the "dataset card" numbers a curation
   * run reports: document/char/token totals, language/source spread,
   * exact-duplicate rate, PII incidence, Gopher-rule pass rate. One
   * partial+final aggregate pass over the corpus; every metric is an
   * integer count or a single division of exact integers, so the report
   * replays bit-exactly in any engine (no order-dependent double sums).
   */
  /**
   * Per-source lexical-diversity report — the dataset-card metrics that
   * surface self-repetition (a synthetic or boilerplate-heavy source
   * shows a falling distinct share as volume grows): document/token
   * totals, distinct unigrams and bigrams, and the type-token ratios.
   *
   * Shapes: one exploded-token aggregation and one exploded-bigram
   * aggregation, both a single shuffle on (source, gram) for the
   * distinct then (source) for the rollup — map-side combine
   * throughout, no collect. Ratios are one double division over exact
   * integers, so the report is engine-exact (q_diversity).
   */
  def diversityReport(df: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(srcCol).as("source"),
      explode(split(col(textCol), " ")).as("g"))
    val uni = toks.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("g").as("distinct_tokens"))
    val bi = df.select(col(srcCol).as("source"),
        explode(graft.pipeline.NGramLM.bigrams(col(textCol))).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"), countDistinct("g").as("distinct_bigrams"))
    val docs = df.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    docs.join(uni, "source").join(bi, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("distinct_tokens"),
        (col("distinct_tokens").cast("double") / col("n_tokens")).as("ttr"),
        col("n_bigrams"), col("distinct_bigrams"),
        (col("distinct_bigrams").cast("double") / col("n_bigrams"))
          .as("bigram_ttr"))
  }

  /**
   * One-row dataset card. Each distinct count is its own branch, a
   * distinct of the one column then a count of its non-NULL values (the
   * [[Profile.profile]] shape): one aggregate with several distinct
   * counts would be rewritten into an Expand of every row.
   */
  def corpusReport(df: DataFrame, idCol: String, textCol: String,
      langCol: String, sourceCol: String): DataFrame = {
    val gopher = GopherRules.metrics(df, idCol, textCol)
      .agg(sum(col("gopher_pass").cast("long")).as("gopher_pass_docs"))
    def nDistinct(c: Column, name: String): DataFrame =
      broadcast(df.select(c.as("__v")).distinct()
        .agg(count(col("__v")).as(name)))
    df.agg(
      count(lit(1)).as("n_docs"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      sum(size(split(col(textCol), " ")).cast("long")).as("total_tokens"),
      sum((PII.piiCount(col(textCol)) > 0).cast("long")).as("pii_docs"))
      .crossJoin(nDistinct(col(langCol), "n_langs"))
      .crossJoin(nDistinct(col(sourceCol), "n_sources"))
      .crossJoin(nDistinct(md5(col(textCol)), "distinct_texts"))
      .select("n_docs", "total_chars", "total_tokens", "n_langs",
        "n_sources", "distinct_texts", "pii_docs")
      .withColumn("dup_rate",
        (col("n_docs") - col("distinct_texts")).cast("double") / col("n_docs"))
      .crossJoin(broadcast(gopher))
  }

  /**
   * Near-duplicate candidate pairs by shared winnowing fingerprints:
   * docs selecting >= `minShared` common fingerprints pair up, with the
   * shared count as the match-strength signal. Same scale shape as the
   * other dedup families — an equi-join on the fingerprint key, with
   * the [[Dedup.ngramJaccard]] skew guard: fingerprints selected by
   * more than `maxDocFreq` docs are boilerplate (a hot fingerprint
   * shared by 10^4 docs would emit 10^8 join rows) and carry ~no pair
   * signal, so they drop via a broadcast anti-join BEFORE the
   * self-join. Winnowing's local guarantee makes the recall concrete:
   * any shared run of w + k - 1 tokens contributes a shared
   * fingerprint. Returns (a_id, b_id, shared), a_id < b_id.
   */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDocFreq: Long = 20): DataFrame = {
    val sel = df.select(col(idCol).as("id"),
      explode(TextFunctions.winnow(col(textCol), k, w)).as("s"))
      .select(col("id"), col("s.fp").as("fp")).distinct()
    val hot = sel.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select("fp")
    val kept = sel.join(broadcast(hot), Seq("fp"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).cast("int").as("shared"))
      .where(col("shared") >= minShared)
  }

  /**
   * Exact substring dedup (Lee et al. 2022, arXiv:2107.06499 — the
   * "ExactSubstr" mode, at k-token-window granularity): remove every
   * token covered by a k-token window whose content occurs MORE THAN
   * ONCE in the corpus (within- or cross-document). Detection is
   * equivalent to the paper's suffix-array criterion for duplicated
   * runs of ≥ k tokens: such a run yields equal window fingerprints at
   * every alignment of both occurrences, so the union of flagged
   * windows is exactly the union of ≥k-token duplicated substrings
   * (64-bit fingerprints stand in for byte equality, like every other
   * hash-keyed dedup here).
   *
   * Distributed shape, vs the paper's single-node suffix array: window
   * fingerprints are ids-only (id, pos, fp) rows from one generator
   * pass ([[Winnow]] with w=1 — every window, no downsampling);
   * "occurs more than once" is one linear groupBy(fp); flagged windows
   * come back through a LEFT SEMI join on fp, so a boilerplate
   * fingerprint shared by 10^6 docs re-marks its own windows and
   * nothing else — no pair materialization, no hot-key blowup;
   * overlapping windows collapse per doc with the classic
   * cumulative-max interval merge (a window function bounded by doc
   * length). Every stage shuffles on fp or id — linear at 100 TB.
   *
   * Returns (id, n_tokens, n_dup_spans, n_removed_tokens,
   * cleaned_text): counts of merged duplicated spans / removed tokens,
   * and the text with flagged tokens dropped.
   */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val wins = df.select(col(idCol).as("id"),
        explode(TextFunctions.winnow(col(textCol), k, 1)).as("w"))
      .select(col("id"), col("w.pos").as("pos"), col("w.fp").as("fp"))
    val dupFp = wins.groupBy("fp").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("fp")
    val flagged = wins.join(dupFp, Seq("fp"), "left_semi")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val merged = flagged
      .withColumn("e", col("pos") + k)
      .withColumn("pmax",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("pos") > col("pmax"), 1).otherwise(0))
      .withColumn("grp",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("grp"))
      .agg(min("pos").as("s"), max("e").as("e"))
    val spans = merged.groupBy("id").agg(
      count(lit(1)).as("n_dup_spans"),
      sum(col("e") - col("s")).cast("long").as("n_removed_tokens"),
      sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_removed_tokens"), lit(0L)).as("n_removed_tokens"),
        when(col("spans").isNull, col("text")).otherwise(expr(
          "array_join(transform(filter(transform(split(text, ' '), " +
            "(x, i) -> named_struct('x', x, 'i', i)), " +
            "p -> NOT exists(spans, sp -> p.i >= sp.s AND p.i < sp.e)), " +
            "p -> p.x), ' ')")).as("cleaned_text"))
  }

  /**
   * Rational tf-idf top terms per document: score = tf * N / df with a
   * pinned multiply-then-divide, no logarithm — transcendental libm
   * calls are the one place engines drift by an ulp, so the rational
   * form keeps ranking AND scores bit-exact everywhere. Shapes: tf is
   * one partial+final count per (doc, term); df distinct-reduces per
   * term and joins back with a plain SHUFFLE equi-join on `term` — a
   * web-scale corpus has an OPEN vocabulary (typos, unicode junk, code
   * tokens: billions of distinct terms), so the df table must never be
   * broadcast; Catalyst picks SMJ/SHJ and both sides shuffle on the
   * same key the tf aggregation already produced. Only the single-row
   * corpus count is broadcast. The per-doc top-k window partitions by
   * doc (skew bounded by a doc's distinct terms).
   * Returns (id, term, tf, df, score, rank), rank 1..k.
   */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfc = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfc, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  /**
   * Okapi BM25 retrieval scoring (Robertson & Zaragoza '09, the
   * Lucene `(1 + …)` idf variant that never goes negative) of every
   * document against a fixed query term set — the ranking face of the
   * [[invertedIndex]] / [[tfidfTopTerms]] family:
   *
   *   score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
   *              · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
   *
   * k1 and b arrive as exact integer milli-values (1200 ≙ 1.2,
   * 750 ≙ 0.75) and are materialized as the SAME division expression on
   * both engines. Each (doc, term) contribution is rounded ONCE to
   * integer micro-points and the per-doc sum of longs is exact, so the
   * DuckDB oracle replays the ranking bit-for-bit (ln round-once parity,
   * the psi/trend recipe).
   *
   * Scale shape: tokens are filtered to the query terms BEFORE any
   * shuffle — the explode feeds a pushed-down isin, so only matching
   * postings ever exchange. One (doc, term) groupBy builds tf with the
   * doc length carried (max of a per-doc constant — no second join
   * against the corpus); df over the ≤|query| surviving terms and the
   * one-row (N, Σlen) total both BROADCAST. Global top-k is
   * TakeOrdered; rank is a window over the k survivors only.
   *
   * Returns (id, n_hit, score_micro, rank), rank 1..k by
   * (score desc, id).
   */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1Milli: Int = 1200, bPermille: Int = 750,
      k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms required")
    require(k1Milli >= 0 && bPermille >= 0 && bPermille <= 1000 && k > 0,
      s"bad bm25 params k1=$k1Milli b=$bPermille k=$k")
    val base = df.select(col(idCol).as("id"),
      size(filter(split(col(textCol), " "), t => t =!= "")).cast("long").as("__dl"),
      explode(split(col(textCol), " ")).as("__t"))
      .where(col("__t").isin(queryTerms: _*))
    val tf = base.groupBy("id", "__t")
      .agg(count(lit(1)).as("__tf"), max("__dl").as("__dl"))
    val dfc = base.select("id", "__t").distinct()
      .groupBy("__t").agg(count(lit(1)).as("__df"))
    val totals = df.agg(count(lit(1)).as("__n"),
      sum(size(filter(split(col(textCol), " "), t => t =!= "")).cast("long"))
        .as("__sumlen"))
    val k1 = lit(k1Milli).cast("double") / lit(1000.0)
    val b = lit(bPermille).cast("double") / lit(1000.0)
    val avgdl = col("__sumlen").cast("double") / col("__n").cast("double")
    val contrib = round(lit(1e6) *
      log(lit(1.0) + (col("__n").cast("double") - col("__df") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5))) *
      (col("__tf").cast("double") * (k1 + lit(1.0))) /
      (col("__tf").cast("double") +
        k1 * (lit(1.0) - b + b * (col("__dl").cast("double") / avgdl))))
      .cast("long")
    val scored = tf.join(broadcast(dfc), "__t")
      .crossJoin(broadcast(totals))
      .select(col("id"), contrib.as("__c"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_hit"), sum("__c").as("score_micro"))
      .orderBy(col("score_micro").desc, col("id")).limit(k)
    val w = Window.orderBy(col("score_micro").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("id"), col("n_hit"), col("score_micro"), col("rank"))
  }

  /**
   * Pairwise source-overlap audit: exact content Jaccard between every
   * ordered pair of corpus sources over 64-bit document fingerprints —
   * the "how much of source B is already in source A" report that
   * prices a new acquisition before it enters the mixture (cross-source
   * duplication is THE scaling risk of web-corpus unions).
   *
   *   jaccard_ppm(a,b) = |fp_a ∩ fp_b| · 10⁶ div (|fp_a| + |fp_b| − ∩)
   *
   * — exact integers end to end (truncating div, the rouge recipe).
   *
   * Scale shape: text reduces to (source, fingerprint) and distincts
   * BEFORE anything joins — payloads never shuffle twice. The
   * intersection is a fingerprint-keyed equi-SELF-join with `a < b`;
   * per-fingerprint fan-out is bounded by (#sources carrying it)², and
   * sources are metadata-sized, so the pair stream is O(|fps| · S²)
   * worst-case with tiny S — no hub cap needed (unlike open-vocabulary
   * pair miners). Per-source sizes join back via one broadcast.
   *
   * Returns (src_a, src_b, n_a, n_b, inter, jaccard_ppm), a < b.
   */
  def sourceOverlap(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val fps = df.select(col(sourceCol).as("src"),
      TextFunctions.fingerprint(col(textCol)).as("__fp")).distinct()
    val sizes = fps.groupBy("src").agg(count(lit(1)).as("n"))
    val l = fps.select(col("src").as("src_a"), col("__fp"))
    val r = fps.select(col("src").as("src_b"), col("__fp"))
    l.join(r, "__fp").where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("src").as("src_a"), col("n").as("n_a"))),
        "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("n_b"))),
        "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("inter"),
        expr("inter * 1000000 div (n_a + n_b - inter)").as("jaccard_ppm"))
  }

  /**
   * Crawl-to-crawl snapshot diff: classify every document id across two
   * corpus snapshots as `added` / `removed` / `changed` / `unchanged`
   * by content fingerprint — the incremental-maintenance primitive that
   * lets a recrawl feed DELTAS into dedup and index refresh instead of
   * full recomputes.
   *
   * ONE full-outer shuffle join on the id; both sides reduce to
   * (id, 64-bit fingerprint) before the exchange, so text payloads
   * never shuffle. Returns (id, status, old_fp, new_fp) with null fp on
   * the absent side.
   */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("old_fp"))
    val n = newDf.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("new_fp"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_fp"), col("new_fp"))
  }

  /**
   * Top co-occurring term pairs by rational PMI lift: for unordered
   * term pairs (a < b) co-occurring in at least `minSupport` documents,
   * `lift = n_ab * N / (n_a * n_b)` — the PMI argument WITHOUT the
   * logarithm: log is monotone, so the ranking is identical, and the
   * rational form stays bit-exact across engines (the [[tfidfTopTerms]]
   * rule — transcendental libm calls are where engines drift an ulp).
   *
   * Scale shape: the document-frequency filter runs BEFORE pairing and
   * is LOSSLESS — a pair's support is at most the smaller of its terms'
   * document frequencies, so `df < minSupport` terms cannot reach
   * `n_ab >= minSupport`. Per-doc pair expansion is the standard
   * O(distinct-kept-terms²) co-occurrence shape, thinned by that
   * filter; pair counting is one groupBy shuffle on the pair key; the
   * df table joins with plain shuffle equi-joins (open vocabulary —
   * never broadcast); only the one-row corpus count broadcasts. The
   * global top-k is sort+limit — Spark's TakeOrderedAndProject keeps a
   * k-row heap per partition, no full sort, no single-task window
   * (rank is then assigned over the k survivors only).
   *
   * Returns (a, b, n_ab, n_a, n_b, lift, rank), rank 1..k by
   * (lift desc, a, b).
   */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
      minSupport: Long = 5L, k: Int = 20): DataFrame = {
    require(minSupport > 0 && k > 0, s"minSupport and k must be positive")
    val toks = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("term")).distinct()
    val dfc = toks.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") >= minSupport)
    val kt = toks.join(dfc, "term")
    val l = kt.select(col("id"), col("term").as("a"), col("df").as("n_a"))
    val r = kt.select(col("id"), col("term").as("b"), col("df").as("n_b"))
    val pairs = l.join(r, "id").where(col("a") < col("b"))
      .groupBy("a", "b", "n_a", "n_b").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = pairs.crossJoin(broadcast(nDocs))
      .withColumn("lift",
        col("n_ab").cast("double") * col("n_docs") / (col("n_a") * col("n_b")))
      .orderBy(col("lift").desc, col("a"), col("b")).limit(k)
    // rank over the <= k survivors only — the empty-frame window is fine
    val w = Window.orderBy(col("lift").desc, col("a"), col("b"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift"), col("rank"))
  }

  /**
   * MinHash-LSH near-duplicate candidate pairs.
   * signature → `bands` bands of `numHashes/bands` rows → equi-join on
   * (band_idx, band_hash) — a shuffle hash join on bounded buckets, the
   * standard scale-out shape (no O(n²) compare).
   *
   * The band join and candidate dedup carry ONLY (id, band_idx,
   * band_hash) — never the `numHashes`-long signatures. A pair matching
   * in b bands would otherwise shuffle b duplicate copies of BOTH
   * signatures through the join and distinct over wide rows; instead the
   * (a_id, b_id) pair is distinct'ed narrow and each side's signature is
   * rejoined exactly once (the same shape as [[Similarity.lshTopK]]).
   *
   * Returns (a_id, b_id, est_jaccard) with a_id < b_id, est_jaccard =
   * fraction of matching signature positions.
   */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    val sigs = df.select(col(idCol).as("id"),
      TextFunctions.minhash(col(textCol), numHashes).as("sig"))
    val banded = sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))).as(Seq("band_idx", "band_hash")))
    val a = banded.select(col("id").as("a_id"), col("band_idx"), col("band_hash"))
    val b = banded.select(col("id").as("b_id"), col("band_idx"), col("band_hash"))
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    candidates
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y), x => x))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** SimHash near-dup candidates: 64-bit simhash, blocked on 16-bit
    * chunks (Hamming ≤ 3 ⇒ some chunk matches exactly — pigeonhole). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), TextFunctions.simhash(col(textCol)).as("sh"))
    val chunkArr = array((0 until 4).map(i =>
      shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xffffL))): _*)
    val chunked = sigs.select(col("id"), col("sh"),
      posexplode(chunkArr).as(Seq("chunk_idx", "chunk")))
    val a = chunked.select(col("id").as("a_id"), col("sh").as("a_sh"), col("chunk_idx"), col("chunk"))
    val b = chunked.select(col("id").as("b_id"), col("sh").as("b_sh"), col("chunk_idx"), col("chunk"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity for pairs within a blocking key
    * (e.g. source), computed by EQUI-JOINING on grams — the scale-out
    * shape: |intersection| falls out of a (block, gram) hash join +
    * count, never a per-pair array comparison; |union| = |A|+|B|−|∩|.
    * Counts are integers → the final division is one exact IEEE op.
    *
    * `maxDocFreq` guards against gram skew: the (blk, gram) self-join is
    * quadratic in a gram's document frequency, so a stop-gram shared by
    * 10⁴ docs in one block would emit 10⁸ join rows. Grams with
    * block-level doc frequency above the cutoff are dropped from BOTH the
    * join and the size counts, so the result is the exact Jaccard over
    * the retained (discriminative) gram universe — ubiquitous grams carry
    * ~no Jaccard signal. Default = no cutoff (fully exact). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, threshold: Double = 0.1,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val rawGrams = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      explode(TextFunctions.c(DistinctNGrams(
        asExpr(TextFunctions.tokens(col(textCol))), n))).as("gram"))
    val grams = {
      // materialized ONCE: the gram table feeds the per-doc size count
      // and both sides of the candidate self-join — without the
      // checkpoint the tokenize+ngram subtree inlines into every
      // consumer (r19 opt round, the jaccardPrefixPairs rationale)
      if (maxDocFreq == Int.MaxValue) rawGrams
      else {
        // Partial+final count on the SAME key the join shuffles on, then a
        // semi-join — no extra shuffle shape beyond the join itself.
        val keep = rawGrams.groupBy("blk", "gram")
          .agg(count(lit(1)).as("gdf"))
          .where(col("gdf") <= maxDocFreq)
          .select(col("blk"), col("gram"))
        rawGrams.join(keep, Seq("blk", "gram"), "left_semi")
      }
    }.localCheckpoint(true)
    val sizes = grams.groupBy("blk", "id").agg(count(lit(1)).cast("double").as("sz"))
    val common = grams.select(col("blk"), col("id").as("a_id"), col("gram"))
      .join(grams.select(col("blk"), col("id").as("b_id"), col("gram")), Seq("blk", "gram"))
      .where(col("a_id") < col("b_id"))
      .groupBy("blk", "a_id", "b_id").agg(count(lit(1)).cast("double").as("c"))
    common
      .join(sizes.select(col("blk"), col("id").as("a_id"), col("sz").as("sa")), Seq("blk", "a_id"))
      .join(sizes.select(col("blk"), col("id").as("b_id"), col("sz").as("sb")), Seq("blk", "b_id"))
      .select(col("blk"), col("a_id"), col("b_id"),
        (col("c") / (col("sa") + col("sb") - col("c"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /**
   * Jaccard threshold self-join with PREFIX FILTERING (Chaudhuri/
   * Ganti/Kaushik ICDE'06; Xiao et al.'s PPJoin family) — the
   * principled alternative to [[ngramJaccard]]'s attribute blocking
   * when no natural block column exists: two token SETS with
   * `J(a,b) >= t` must share a token within each other's
   * `|d| − ⌈t·|d|⌉ + 1` RAREST tokens (else even perfect overlap on
   * the rest cannot reach t), so candidates come from an equi-join on
   * prefix tokens only — the corpus's hot tokens sit at the END of the
   * frequency order and never generate pairs from long documents.
   *
   * Stages (all equi-joins, ids + small ints only): global element
   * doc-frequency (one groupBy), per-doc rare-first rank (window
   * partitioned by doc — a doc's element count bounds the sort),
   * prefix candidate join with the symmetric size filter
   * (`t·|a| ≤ 1000·|b|`, both ways), then an exact intersection count
   * per candidate pair and the division-free verify
   * `inter·1000 ≥ t·(|a|+|b|−inter)`. Output: `a_id, b_id, a_sz,
   * b_sz, inter, jaccard_permille`. Threshold in permille.
   *
   * The set elements are `shingle`-gram SHINGLES (distinct,
   * space-joined; `shingle = 1` gives plain token sets) — prefix
   * filtering needs a long-tail element frequency distribution, and a
   * natural-language corpus's raw unigram vocabulary can be tiny
   * (this synthetic corpus: 31 words — every "rare" token appears in
   * thousands of docs, so unigram prefixes prune nothing) while its
   * shingle vocabulary is combinatorial (27k 3-grams here, hottest
   * prefix shingle df = 7). Same reason minhash shingles. Shingling is
   * STRICT: a document with fewer than `shingle` tokens has no
   * `shingle`-gram window, contributes no set elements, and therefore
   * never pairs (the DuckDB oracle builds its grams the same way).
   *
   * Two candidate-side guards beyond the size filter:
   *  - PPJoin's POSITION filter: a match on prefix tokens at rare-first
   *    ranks `(i, j)` bounds the whole-set overlap by
   *    `1 + min(|a|−i, |b|−j)` when it is the pair's first shared
   *    prefix token, so a matched row survives only if
   *    `(1 + min(|a|−i, |b|−j))·(1000+t) ≥ t·(|a|+|b|)` — the
   *    permille form of `ubound ≥ ⌈t/(1+t)·(|a|+|b|)⌉`. A qualifying
   *    pair's FIRST shared prefix token always passes (no earlier
   *    shared token exists in either full list, so the bound is
   *    valid there), hence pruning per matched row before `distinct`
   *    keeps every true pair while discarding tail-of-prefix matches
   *    that could never verify.
   *  - a `hotCap` guard (same recipe as [[Joins.editDistancePairs]]):
   *    prefix-token blocks larger than `hotCap` docs are anti-joined
   *    away before the self-join, so one boilerplate shingle that
   *    lands in a million prefixes caps at a documented exclusion
   *    instead of an O(n²) reducer. Pairs whose ONLY shared prefix
   *    token is capped are missed — the standard blocked-matching
   *    trade-off; size the cap above the corpus's hottest legitimate
   *    prefix df (here: 7) so it only fires on degenerate spam.
   */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      thresholdPermille: Int, shingle: Int = 3, hotCap: Int = 1024): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1,1000], got $thresholdPermille")
    require(shingle >= 1, s"shingle must be >= 1, got $shingle")
    require(hotCap >= 1, s"hotCap must be >= 1, got $hotCap")
    val tp = thresholdPermille
    // materialized ONCE: the shingle table feeds the df count, the
    // rare-rank window, the size count and BOTH verify joins — without
    // the checkpoint the tokenize+shingle subtree inlines into every
    // consumer (the r19 plan audit counted 28 parquet scans / 56
    // exchanges in q_jaccard_join's single-run plan)
    val toks = df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= shingle)
      .select(col("id"),
        explode(TextFunctions.c(DistinctNGrams(asExpr(col("__t")), shingle))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("__df"), col("tok"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    // checkpointed: the prefix table (rare-rank window inside) feeds the
    // hot-block count AND the candidate self-join's two sides
    val pref = toks.join(freq, "tok")
      .withColumn("__rn", row_number().over(w))
      .join(sizes, "id")
      .where(col("__rn") <= col("sz") - expr(s"(sz * $tp + 999) div 1000") + 1L)
      .select(col("id"), col("sz"), col("tok"), col("__rn"))
      .localCheckpoint(true)
    val hot = pref.groupBy("tok").agg(count(lit(1)).as("__n"))
      .where(col("__n") > hotCap).select("tok")
    val cool = pref.join(broadcast(hot), Seq("tok"), "left_anti")
    val cand = cool.select(col("id").as("a_id"), col("sz").as("a_sz"),
        col("__rn").as("a_rn"), col("tok"))
      .join(cool.select(col("id").as("b_id"), col("sz").as("b_sz"),
        col("__rn").as("b_rn"), col("tok")), "tok")
      .where(col("a_id") < col("b_id") &&
        col("b_sz") * 1000 >= col("a_sz") * tp &&
        col("a_sz") * 1000 >= col("b_sz") * tp &&
        (lit(1L) + least(col("a_sz") - col("a_rn"), col("b_sz") - col("b_rn"))) *
          (1000L + tp) >= lit(tp.toLong) * (col("a_sz") + col("b_sz")))
      .select("a_id", "b_id", "a_sz", "b_sz")
      .distinct()
    val inter = cand
      .join(toks.select(col("id").as("a_id"), col("tok")), "a_id")
      .join(toks.select(col("id").as("b_id"), col("tok")), Seq("b_id", "tok"))
      .groupBy("a_id", "b_id", "a_sz", "b_sz")
      .agg(count(lit(1)).as("inter"))
    inter
      .where(col("inter") * 1000 >= lit(tp.toLong) *
        (col("a_sz") + col("b_sz") - col("inter")))
      .withColumn("jaccard_permille",
        expr("inter * 1000 div (a_sz + b_sz - inter)"))
  }

  /**
   * Set-CONTAINMENT threshold join with prefix filtering — the
   * asymmetric sibling of [[jaccardPrefixPairs]]: emit ordered pairs
   * `(a, b)` where `|A ∩ B| ≥ ⌈t·|A|⌉` (a's shingle set is mostly
   * inside b's), the primitive behind quote/boilerplate detection and
   * "is this doc a subset of that doc" dedup, where Jaccard fails
   * because a big superset drags the union down.
   *
   * Prefix bound (containment form): if A∩B misses all of a's
   * `|A| − ⌈t·|A|⌉ + 1` globally-RAREST elements, the overlap tops out
   * at `⌈t·|A|⌉ − 1 < ⌈t·|A|⌉` — so a's prefix must hit B somewhere.
   * Containment puts no upper bound on |B|, so the candidate join runs
   * a's prefix against b's FULL rare-ranked list (the index-probe
   * shape of set-containment joins: probe side slims to ~(1−t)·|A|
   * elements, index side stays whole) with the one-sided size filter
   * `|B| ≥ ⌈t·|A|⌉` and the position filter
   * `1 + min(|A|−i, |B|−j) ≥ ⌈t·|A|⌉` applied per matched row (valid
   * at the pair's first shared rare-ranked element, exactly as in
   * [[jaccardPrefixPairs]] — pruning before `distinct` is lossless).
   * Verify is the exact intersection count and the division-free
   * `inter·1000 ≥ t·|A|`. Shingling is STRICT (sub-`shingle`-token
   * docs contribute nothing and never pair); `hotCap` anti-joins
   * prefix/index blocks hotter than the cap before the self-join —
   * same documented trade-off as the Jaccard variant.
   *
   * Output: `a_id, b_id, a_sz, b_sz, inter, containment_permille`
   * with `a_id ≠ b_id` (ordered: a contained in b; near-identical
   * twins appear in both directions by design).
   */
  def containmentPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      thresholdPermille: Int, shingle: Int = 3, hotCap: Int = 1024): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1,1000], got $thresholdPermille")
    require(shingle >= 1, s"shingle must be >= 1, got $shingle")
    require(hotCap >= 1, s"hotCap must be >= 1, got $hotCap")
    val tp = thresholdPermille
    // materialized ONCE — same rationale as [[jaccardPrefixPairs]]: the
    // shingle table feeds df/size counts, the rank window and both
    // verify joins (the r19 plan audit counted 20 parquet scans / 36
    // exchanges in q_containment_join's un-checkpointed plan)
    val toks = df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= shingle)
      .select(col("id"),
        explode(TextFunctions.c(DistinctNGrams(asExpr(col("__t")), shingle))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("__df"), col("tok"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    // NOT checkpointed (measured +1 s at sf0.1): the index side streams
    // the full ranked list exactly once, and materializing the whole
    // string-keyed table costs more than recomputing the probe's prefix
    // slice from the checkpointed toks
    val ranked = toks.join(freq, "tok")
      .withColumn("__rn", row_number().over(w))
      .join(sizes, "id")
    // ⌈t·|A|⌉ in permille; needed twice (prefix length, size filter)
    val need = expr(s"(sz * $tp + 999) div 1000")
    val pref = ranked.where(col("__rn") <= col("sz") - need + 1L)
      .select(col("id"), col("sz"), col("tok"), col("__rn"))
    val hot = freq.where(col("__df") > hotCap).select("tok")
    val probe = pref.join(broadcast(hot), Seq("tok"), "left_anti")
    val index = ranked.select(col("id"), col("sz"), col("tok"), col("__rn"))
      .join(broadcast(hot), Seq("tok"), "left_anti")
    val cand = probe.select(col("id").as("a_id"), col("sz").as("a_sz"),
        col("__rn").as("a_rn"), col("tok"))
      .join(index.select(col("id").as("b_id"), col("sz").as("b_sz"),
        col("__rn").as("b_rn"), col("tok")), "tok")
      .where(col("a_id") =!= col("b_id") &&
        col("b_sz") * 1000 >= col("a_sz") * tp &&
        (lit(1L) + least(col("a_sz") - col("a_rn"), col("b_sz") - col("b_rn"))) *
          1000L >= lit(tp.toLong) * col("a_sz"))
      .select("a_id", "b_id", "a_sz", "b_sz")
      .distinct()
    cand
      .join(toks.select(col("id").as("a_id"), col("tok")), "a_id")
      .join(toks.select(col("id").as("b_id"), col("tok")), Seq("b_id", "tok"))
      .groupBy("a_id", "b_id", "a_sz", "b_sz")
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") * 1000 >= lit(tp.toLong) * col("a_sz"))
      .withColumn("containment_permille", expr("inter * 1000 div a_sz"))
  }

  /**
   * Sparse tf-idf COSINE similarity join via an inverted index — the
   * weighted complement of [[jaccardPrefixPairs]] (Jaccard treats
   * every token equally; cosine lets rare terms dominate, the classic
   * news-dedup / near-copy detector for texts that share vocabulary
   * but not shingles). All-integer weights: `idf_centi =
   * round(100·ln(N/df))` (one ln, one round — replayable), term weight
   * `w = tf·idf_centi`, so dot products and norms are EXACT integers
   * and the score is `cos²` in parts-per-million:
   * `cos2_ppm = floor(dot²·1e6 / (‖a‖²·‖b‖²))` (squaring avoids the
   * irrational sqrt; the caller's threshold t on cosine becomes t² on
   * this). The ×1e6 is applied as two ×1e3 steps AROUND the integral
   * division (exact — see the inline derivation) so no intermediate
   * exceeds `‖a‖²·‖b‖²·10³`: safe for per-doc norms up to ~3·10¹⁷,
   * i.e. 5 orders of magnitude past tf ≤ 10³ / 10⁴ distinct terms /
   * idf_centi ≤ 2500 (where a single-step `dot²·1e6` would exceed
   * DECIMAL(38,0) by ~40× and, under non-ANSI configs, silently NULL
   * out true-positive pairs). Pairs must share ≥ 1 indexed term.
   *
   * Scale shape: tf and df are two map-side-combinable groupBys;
   * candidate pairs form by equi-joining the posting list with itself
   * on the TERM (ids + weights only, never documents), after terms
   * with df > `dfCap` are dropped — the hub guard, principled here:
   * high-df terms carry the LOWEST idf, so the cap removes the most
   * expensive and least informative postings first (df = N terms have
   * idf exactly 0 and never matter). Per-pair verify is one aggregate;
   * norms join key-bounded. DECIMAL(38,0) products throughout.
   * Output: (a, b, common_terms, cos2_ppm), a < b,
   * cos2_ppm ≥ thresholdPermille² (a cosine threshold in permille).
   */
  def cosineSimJoin(df: DataFrame, idCol: String, textCol: String,
      thresholdPermille: Int, dfCap: Long = 1024L): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1,1000], got $thresholdPermille")
    require(dfCap >= 1, s"dfCap must be >= 1, got $dfCap")
    val tf = df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = broadcast(df.agg(count(lit(1)).as("__n")))
    // the weighted posting list is consumed FOUR times (both dot sides,
    // both norm joins): materialize it once — eager localCheckpoint,
    // the ivfTopK pattern — or the optimizer re-derives the tf/df
    // lineage per reference (measured: 22-join plan, 8 redundant scans)
    val weighted = tf.join(dfc.where(col("df") <= dfCap), "term")
      .crossJoin(n)
      .select(col("id"), col("term"),
        (col("tf") * round(lit(100.0) *
          log(col("__n").cast("double") / col("df"))).cast("long")).as("w"))
      .where(col("w") > 0L)
      .localCheckpoint(true)
    val norms = weighted.groupBy("id")
      .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("norm2"))
    val dots = weighted.select(col("id").as("a"), col("term"), col("w").as("wa"))
      .join(weighted.select(col("id").as("b"), col("term"), col("w").as("wb")),
        "term")
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common_terms"),
        sum(col("wa").cast("decimal(38,0)") * col("wb")).as("dot"))
    val thr2 = thresholdPermille.toLong * thresholdPermille
    // Exact overflow-free ppm: with A = dot², B = na·nb, q1 = A·10³ div B
    // and r1 = A·10³ mod B, A·10⁶ = (q1·B + r1)·10³, hence
    // floor(A·10⁶/B) = q1·10³ + floor(r1·10³/B). Peak intermediate is
    // max(A, r1)·10³ ≤ B·10³ (A ≤ B by Cauchy–Schwarz; r1 < B), so
    // nothing approaches DECIMAL(38,0) until B ~ 10³⁵. B ≥ 1 always
    // (w > 0 is enforced above, so every joined norm² ≥ 1). The filter
    // is exact too: floor(x) ≥ thr² ⟺ x ≥ thr² for integer thr².
    // A·10³ and B are named columns for readability. Measured (r16
    // README note 2): the optimizer pushes the ppm filter into the
    // last join's condition and re-inlines the aliases there either
    // way, so hoisted vs inlined is identical on the hot path
    // (sf0.1 A/B inside run noise: 1.95 vs 2.15 s medians).
    dots
      .join(norms.select(col("id").as("a"), col("norm2").as("na")), "a")
      .join(norms.select(col("id").as("b"), col("norm2").as("nb")), "b")
      .withColumn("__a3", expr("dot * dot * 1000"))
      .withColumn("__b", expr("na * nb"))
      .withColumn("cos2_ppm", expr(
        "cast((__a3 div __b) * 1000 + (__a3 % __b) * 1000 div __b as long)"))
      .where(col("cos2_ppm") >= thr2)
      .select(col("a"), col("b"), col("common_terms"), col("cos2_ppm"))
  }
}

object EmbeddingDedup {
  import TextFunctions.c

  /**
   * Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket
   * equi-join for candidates (ids only through the join + distinct, as
   * in Similarity.lshTopK) refined by exact cosine ≥ `threshold`.
   * Returns (a_id, b_id, sim) with a_id < b_id — the embedding-space
   * member of the dedup family (exact / MinHash / SimHash / n-gram /
   * embedding-cosine).
   */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, dim: Int = 64, planes: Int = 8,
      tables: Int = 8): DataFrame = {
    // exploded feeds both sides of the bucket self-join, but an eager
    // materialization LOSES here (r20 A/B: q_embed_dedup ~neutral,
    // q_knn_lsh +0.2 s with the same shape in lshTopK): the self-join
    // sides end in canonically-equal exchanges that AQE's runtime stage
    // reuse already dedups, so a checkpoint just adds a job.
    val exploded = df.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map(t =>
        c(HyperplaneBucket(asExpr(col(vecCol)), dim, planes, 0x5eed0000L + t))): _*))
        .as(Seq("table_idx", "bucket")))
    val a = exploded.select(col("id").as("a_id"), col("table_idx"), col("bucket"))
    val b = exploded.select(col("id").as("b_id"), col("table_idx"), col("bucket"))
    val candidates = a.join(b, Seq("table_idx", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("norm"))
    candidates
      .join(vecs.select(col("id").as("a_id"), col("vec").as("a_vec"), col("norm").as("a_norm")),
        Seq("a_id"))
      .join(vecs.select(col("id").as("b_id"), col("vec").as("b_vec"), col("norm").as("b_norm")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        when(col("a_norm") === 0.0 || col("b_norm") === 0.0, lit(0.0))
          .otherwise(Similarity.dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")))
          .as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Keep-decisions over embedding near-dups: connected components of
    * the accepted pair graph, min id per cluster. */
  def keepDecisions(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, maxIters: Int = 20): DataFrame = {
    val edges = cosinePairs(df, idCol, vecCol, threshold)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    Dedup2.connectedComponents(df.select(col(idCol).as("id")), edges, maxIters)
      .select(col("id"), col("label").as("keep_id"),
        (col("label") =!= col("id")).as("is_duplicate"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
   * k-means clustering + within-cluster cosine pruning. Every vector is
   * assigned to one of `nlist` cells by the same deterministic Lloyd
   * quantizer as [[Similarity.ivfTopK]]; within a cell, a document is
   * dropped when some cell-mate with higher keep priority sits at cosine
   * ≥ `threshold`. Keep priority follows the paper: LOW similarity to
   * the centroid wins (edge examples survive, cluster-core near-dups are
   * dropped), ties broken to the lower id — which makes the decision a
   * single EXISTS over ordered cell-mates, no iteration.
   *
   * Scale shape: the quantizer fit is the bounded sorted-prefix driver
   * sample; the centroid table (nlist×dim) rides inside the assignment
   * expression and one nlist-row broadcast join; candidate pairs are an
   * equi-join on the cell id. The O(|cell|²) refine is the operator's
   * semantic (SemDeDup picks nlist ~ √N so cells stay small) — there is
   * no corpus broadcast and no cross join anywhere.
   *
   * Returns (id, cell, csim, keep).
   */
  def semDedupKeep(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, threshold: Double = 0.97,
      fitSampleSize: Int = 100000, fitIters: Int = 10): DataFrame = {
    val sample = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(fitSampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    val cents = QuantizerKMeans.fit(sample, nlist, fitIters)
    val spark = df.sparkSession
    import spark.implicits._
    val centroids = broadcast(
      cents.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("cell", "centroid"))
    // one scalar assignment pass + one tiny join: (id, vec, cell, csim).
    // Materialized once — it feeds both sides of the pair join and the
    // final projection, and recomputing the assignment is a full corpus
    // scan per consumer (same contract as ivfTopK's assignment table).
    // EAGER localCheckpoint rather than persist(): an operator that
    // returns a lazy DataFrame has no safe place to unpersist, and a
    // persist() block stays pinned in the CacheManager until an explicit
    // unpersist — checkpoint blocks are instead reclaimed by the
    // ContextCleaner as soon as the result plan is dropped (the
    // RasterJoin.bucketed rationale).
    val scored = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        c(NearestCentroid(asExpr(col(vecCol)), cents)).as("cell"))
      .join(centroids, Seq("cell"))
      .select(col("cell"), col("id"), col("vec"),
        Similarity.cosine(col("vec"), col("centroid")).as("csim"))
      .localCheckpoint(true)
    // a (higher-priority a, lower-priority b) pair at sim ≥ τ drops b;
    // priority = (csim asc, id asc), evaluated directly in the join
    // condition — no per-cell window/rank shuffle
    val dropped = scored
      .select(col("cell"), col("id").as("a_id"), col("vec").as("a_vec"),
        col("csim").as("a_csim"))
      .join(scored.select(col("cell"), col("id").as("b_id"), col("vec").as("b_vec"),
        col("csim").as("b_csim")), Seq("cell"))
      .where(col("a_csim") < col("b_csim") ||
        (col("a_csim") === col("b_csim") && col("a_id") < col("b_id")))
      .where(Similarity.cosine(col("a_vec"), col("b_vec")) >= threshold)
      .select(col("b_id").as("id")).distinct()
    scored.select(col("id"), col("cell"), col("csim"))
      .join(dropped.select(col("id"), lit(true).as("dup")), Seq("id"), "left")
      .select(col("id"), col("cell"), col("csim"),
        coalesce(!col("dup"), lit(true)).as("keep"))
  }
}

object Dedup2 {
  /**
   * Connected components by iterative min-label propagation (HashMin) to
   * a (bounded) FIXPOINT — one-hop min-id splits A→B→C duplicate chains,
   * and at 100 TB near-dup chains are the norm, not the exception.
   * Each round is one equi-join + partial-aggregated groupBy on `id`;
   * rounds needed = component diameter (near-dup clusters are shallow).
   * `localCheckpoint` truncates lineage so plans don't grow per round.
   *
   * nodes: one column `id`; edges: columns `src`, `dst` (symmetrized
   * here). Returns (id, label) with label = min id of the component.
   */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 20): DataFrame = {
    // Materialize the symmetrized edge set ONCE. `edges` is typically the
    // output of the whole candidate-generation pipeline (MinHash-LSH or
    // n-gram-Jaccard joins) — without the checkpoint every fixpoint round
    // would re-execute that subplan from source, turning an O(diameter)
    // loop into O(diameter) re-runs of the most expensive stage.
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val idType = nodes.schema("id").dataType
    var labels = nodes.select(col("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint(true)
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      // One join per round: the previous label rides along through the
      // union (null on propagated rows, exactly one non-null per id), so
      // convergence is read off the checkpointed result with a cheap
      // filter+count instead of a second join over the propagation plan.
      val next = sym.join(labels.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"), lit(null).cast(idType).as("prev"))
        .union(labels.select(col("id"), col("label"), col("label").as("prev")))
        .groupBy("id").agg(min("label").as("label"), max("prev").as("prev"))
        .localCheckpoint(true)
      done = next.where(col("label") =!= col("prev")).count() == 0
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    labels
  }

  private def exactEdges(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ids = df.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
    // star edges to the group minimum — same components as all-pairs
    val exactKeep = ids.groupBy("h").agg(min(col("id")).as("exact_keep"))
    ids.join(exactKeep, Seq("h"))
      .select(col("id").as("src"), col("exact_keep").as("dst"))
      .where(col("src") =!= col("dst"))
  }

  private def decisions(df: DataFrame, idCol: String, edges: DataFrame,
      maxIters: Int): DataFrame =
    connectedComponents(df.select(col(idCol).as("id")), edges, maxIters)
      .select(col("id"), col("label").as("keep_id"),
        (col("label") =!= col("id")).as("is_duplicate"))

  /** The full two-stage dedup decision: exact groups by content hash +
    * MinHash-LSH near-dup candidates, clustered by connected components
    * so duplicate CHAINS collapse to one canonical keep id. */
  def keepDecisions(df: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.8, maxIters: Int = 20): DataFrame = {
    val near = Dedup.minhashPairs(df, idCol, textCol, threshold = 0.5)
      .where(col("est_jaccard") >= jaccardThreshold)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    decisions(df, idCol, edges = exactEdges(df, idCol, textCol).union(near),
      maxIters = maxIters)
  }

  /** Deterministic variant: near-dup edges from EXACT n-gram Jaccard
    * (equi-join on grams within a blocking key) instead of MinHash
    * estimates — fully oracle-checkable, same component clustering. */
  def keepDecisionsExact(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, jaccardThreshold: Double = 0.7,
      maxIters: Int = 20): DataFrame = {
    val near = Dedup.ngramJaccard(df, idCol, textCol, blockCol, n, jaccardThreshold)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    decisions(df, idCol, edges = exactEdges(df, idCol, textCol).union(near),
      maxIters = maxIters)
  }

  /**
   * Priority-keeper variant of [[keepDecisionsExact]]: identical
   * component clustering, but within each near-dup component the
   * keeper is the member with the GREATEST `(priority, -id)` — "keep
   * the best copy", not "keep the smallest id". The curation-grade
   * policy: a near-dup chain built from a full document and its
   * truncations/mutilations should retain the most complete one, which
   * min-id cannot promise.
   *
   * One extra keyed aggregation over the converged labels (the
   * map-side-combining `max_by`, same shape as
   * [[Joins.compactLatest]]) and one join back — nothing touches the
   * fixpoint loop. `priority` must be a numeric column on `df`; ties
   * resolve to the smaller id, so the result is total.
   */
  def keepDecisionsBy(df: DataFrame, idCol: String, textCol: String,
      priorityCol: String, blockCol: String, n: Int = 3,
      jaccardThreshold: Double = 0.7, maxIters: Int = 20): DataFrame = {
    val near = Dedup.ngramJaccard(df, idCol, textCol, blockCol, n, jaccardThreshold)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val labels = connectedComponents(df.select(col(idCol).as("id")),
      exactEdges(df, idCol, textCol).union(near), maxIters)
    // checkpointed: consumed by BOTH the per-component keeper argmax and
    // the final join-back — without it the label ⋈ priority subtree
    // (a corpus re-derivation) executes twice (r19 opt round)
    val withP = labels.join(
      df.select(col(idCol).as("id"), col(priorityCol).as("__graft_p")), "id")
      .localCheckpoint(true)
    val keepers = withP.groupBy("label")
      .agg(max_by(col("id"),
        struct(col("__graft_p"), (-col("id")).as("__graft_nid"))).as("keep_id"))
    withP.join(keepers, Seq("label"))
      .select(col("id"), col("keep_id"),
        (col("keep_id") =!= col("id")).as("is_duplicate"))
  }
}

object Similarity {
  import TextFunctions.c

  def cosine(a: Column, b: Column): Column = c(CosineSimilarity(asExpr(a), asExpr(b)))
  def dot(a: Column, b: Column): Column = c(VectorDot(asExpr(a), asExpr(b)))

  /** JL ±1 random projection to `outDim` exact-integer components (see
    * [[RandomProjection]]): the width reducer in front of exact refine
    * when full embeddings are too wide to shuffle. */
  def randomProjection(vec: Column, outDim: Int, seed: Long = 0x5eedL): Column =
    c(RandomProjection(asExpr(vec), outDim, seed))

  /** Euclidean norm, same index-order double accumulation as [[dot]]
    * (sqrt is IEEE correctly-rounded, so engines agree bit-exactly). */
  def l2_norm(v: Column): Column = sqrt(dot(v, v))

  /** Per-vector symmetric int8 scale: `max(|v_i|) / 127`, clamped to 1
    * for the all-zero vector so [[quantizeInt8]] never divides by zero.
    * All arithmetic in double (float inputs widen losslessly), so any
    * IEEE engine agrees bit-exactly. */
  def int8Scale(v: Column): Column = {
    val s = array_max(transform(v, x => abs(x.cast("double")))) / 127d
    when(s === 0d, 1d).otherwise(s)
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× storage shrink for billion-vector ANN corpora (codes
    * ride the shuffles, one double rides beside them for dequant).
    * `round(v_i / scale)` half-away-from-zero lands in [-127, 127].
    * Built-in higher-order functions only: per-row scalar, codegen'd,
    * no shuffle. Pair with [[dequantizeInt8]]; quantization error is
    * bounded by scale/2 per dimension.
    *
    * Pass the vector's [[int8Scale]] as a materialized column — inlining
    * it would re-reduce the array once per ELEMENT (O(d²) per row). */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x => round(x.cast("double") / scale).cast("int"))

  /** Inverse of [[quantizeInt8]] given the same vector's [[int8Scale]]:
    * `codes_i * scale`, in double. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, x => x.cast("double") * scale)

  /**
   * DETERMINISTIC mean pooling of vectors per group (chunk embeddings →
   * document embedding): distributed float sums are normally
   * order-dependent and thus irreproducible across runs and engines, so
   * this op pins the fold order — vectors collect per group, sort by
   * `orderCol`, and an aggregate HOF sums each dimension in that exact
   * sequence before one division by the count. Bit-identical on every
   * run, plan, partitioning, and engine (q_mean_pool replays it in SQL).
   * Group size is the bound (chunks per document), not corpus size; the
   * groupBy is one partial+final collect per group key.
   */
  def meanPool(df: DataFrame, groupCol: String, orderCol: String,
      vecCol: String): DataFrame =
    df.select(col(groupCol).as("g"), col(orderCol).as("o"),
        col(vecCol).cast("array<double>").as("v"))
      .groupBy("g")
      .agg(sort_array(collect_list(struct(col("o"), col("v")))).as("vs"))
      .select(col("g"),
        expr("""transform(sequence(1, size(vs[0].v)),
                  d -> aggregate(vs, 0D, (acc, x) -> acc + x.v[d - 1]) / size(vs))""")
          .as("mean_vec"))

  /** Bounded top-k-by aggregate ([[TopKByAggregate]]): map-side partial
    * top-k per group → shuffle O(groups·k), replacing the
    * sort-everything row_number window. */
  def topKBy(payload: Column, order: Column, k: Int): Column =
    c(TopKByAggregate(asExpr(payload), asExpr(order), k).toAggregateExpression())

  /** (query_id, neighbor_id, sim) pairs → per-query (sim desc,
    * neighbor_id) top-k with a rank column — the shared tail of the
    * brute/LSH/IVF top-k paths. */
  private[pipeline] def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy("query_id")
      .agg(topKBy(col("neighbor_id"), col("sim"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.sim").as("sim"), (col("pos") + 1).cast("int").as("rank"))

  /**
   * Brute-force cosine top-k (the exact baseline): broadcast the right
   * side, nested-loop join, per-query window top-k. O(n²·d) — correct at
   * any scale where one side broadcasts; the LSH variant below is the
   * 100 TB path.
   */
  def bruteTopK(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms are precomputed once per side: the O(n²) inner loop pays one
    // dot product per pair instead of three
    val a = df.select(col(idCol).as("query_id"), col(vecCol).as("a_vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("a_norm"))
    val b = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("b_vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("b_norm"))
    rankTopK(a.crossJoin(broadcast(b))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("a_norm") === 0.0 || col("b_norm") === 0.0, lit(0.0))
          .otherwise(dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))).as("sim")),
      k)
  }

  /**
   * IVF (inverted-file) approximate top-k: a k-means coarse quantizer
   * (Spark ML, seeded) assigns every vector to one of `nlist` cells;
   * each query probes its `nprobe` nearest cells and refines exactly
   * within them. The centroid table is tiny (nlist×dim) and broadcast;
   * the candidate join is an equi-join on the cell id — the classic
   * billion-scale ANN layout.
   */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, fitSampleSize: Int = 100000,
      fitIters: Int = 10): DataFrame = {
    // Deterministic quantizer fit ([[QuantizerKMeans]]): the first
    // `fitSampleSize` vectors BY ID — a portable sorted-prefix sample
    // (TakeOrderedAndProject, no full sort) — are collected to the driver
    // (bounded by construction) and Lloyd-iterated there. This replaces
    // Spark ML's kmeans||: the fit costs milliseconds instead of 10+
    // distributed passes over the corpus, and every arithmetic step is
    // pinned, so the centroids are bit-reproducible by the DuckDB oracle.
    val sample = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(fitSampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    val cents = QuantizerKMeans.fit(sample, nlist, fitIters)
    // Assignment is one scalar pass with the centroids shipped in the
    // expression ([[NearestCentroid]]) — materialized ONCE because both
    // the probe side and the candidate join consume it. Eager
    // localCheckpoint, not persist(): blocks are reclaimed by the
    // ContextCleaner once the result plan is dropped, where a persist()
    // from inside an operator would stay pinned with no unpersist site
    // (see semDedupKeep).
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      c(NearestCentroid(asExpr(col(vecCol)), cents)).as("cell")).localCheckpoint(true)
    // nprobe nearest cells per query vector: a single scalar pass
    // ([[NearestCells]], centroids shipped in the expression) — no
    // N×nlist cross-join rows, no per-id window shuffle; the probe SET
    // (ordered -dot then cell) is identical to the windowed formulation
    val probes = assigned.select(col("id").as("query_id"), col("vec").as("a_vec"),
      explode(c(NearestCells(asExpr(col("vec")), cents, nprobe))).as("cell"))
    // a pair surfacing through several probes carries identical sims, and
    // the top-k aggregate dedups by neighbor in-buffer — no pre-distinct
    rankTopK(probes
      .join(assigned.select(col("id").as("neighbor_id"), col("vec").as("b_vec"), col("cell")),
        Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("a_vec"), col("b_vec")).as("sim")),
      k)
  }

  /**
   * Contrastive hard-negative mining — per anchor vector, the most
   * similar SAME-label neighbor (the positive) and the most similar
   * DIFFERENT-label neighbor (the hard negative) among its IVF-cell
   * mates: the batch-construction pass of contrastive/triplet training
   * (SimCLR-style pipelines mine hardest negatives near the anchor,
   * which is exactly what cell co-membership bounds). Ties break to
   * the smallest neighbor id via a lexicographic struct max — never a
   * nondeterministic max_by.
   *
   * Scale shape: the same deterministic quantizer fit + one-pass
   * assignment as [[ivfTopK]] (bounded sorted-prefix sample, centroids
   * shipped in the expression), then ONE cell equi-self-join and ONE
   * per-anchor aggregate — no corpus broadcast, no all-pairs. Anchors
   * whose cell has no same-label (resp. different-label) mate carry
   * NULL positive (resp. negative); anchors alone in their cell emit
   * nothing.
   *
   * `maxCellMates` is the hub guard every pair-miner here carries
   * (adamicAdar maxDegree, coMembership maxItems, PPJoin hotCap): the
   * neighbor side of the cell self-join is capped to the `maxCellMates`
   * LOWEST-ID members of each cell (deterministic — a row_number over
   * (cell ORDER BY id)), bounding the pair stream at O(N · maxCellMates)
   * regardless of nlist. Anchors are never dropped — only the mates they
   * are compared against. With skewed cells a hot cell otherwise goes
   * quadratic: nlist=16 over 10⁹ rows is 4·10¹⁵ pairs without the cap.
   */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nlist: Int = 16, fitSampleSize: Int = 100000,
      fitIters: Int = 10, maxCellMates: Int = 4096): DataFrame = {
    require(maxCellMates >= 1, s"maxCellMates must be >= 1, got $maxCellMates")
    val sample = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(fitSampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    val cents = QuantizerKMeans.fit(sample, nlist, fitIters)
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(labelCol).as("lbl"),
      c(NearestCentroid(asExpr(col(vecCol)), cents)).as("cell")).localCheckpoint(true)
    // hub guard: mates = the maxCellMates lowest-id members per cell
    val mates = assigned
      .withColumn("__r", row_number().over(Window.partitionBy("cell").orderBy("id")))
      .where(col("__r") <= maxCellMates)
    val pairs = assigned.select(col("id").as("query_id"), col("lbl").as("label"),
        col("vec").as("a_vec"), col("cell"))
      .join(mates.select(col("id").as("neighbor_id"), col("lbl").as("n_label"),
        col("vec").as("b_vec"), col("cell")), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("label"), col("neighbor_id"), col("n_label"),
        cosine(col("a_vec"), col("b_vec")).as("sim"))
    // struct max orders by (sim, Long.MaxValue - id): highest sim wins,
    // ties to the SMALLEST neighbor id; payload fields ride behind
    val key = struct(col("sim"),
      (lit(Long.MaxValue) - col("neighbor_id")).as("nk"),
      col("neighbor_id").as("nid"), col("n_label").as("nlbl"),
      col("sim").as("s2"))
    pairs.groupBy("query_id", "label").agg(
        max(when(col("n_label") === col("label"), key)).as("__p"),
        max(when(col("n_label") =!= col("label"), key)).as("__n"))
      .select(col("query_id"), col("label"),
        col("__p.nid").as("pos_id"), col("__p.s2").as("pos_sim"),
        col("__n.nid").as("neg_id"), col("__n.nlbl").as("neg_label"),
        col("__n.s2").as("neg_sim"))
  }

  /**
   * LSH-bucketed approximate top-k: `tables` independent random-
   * hyperplane signatures; candidates = vectors sharing a bucket in any
   * table; refine exactly within candidates. Equi-join on (table,
   * bucket) — shuffle-bounded, no broadcast of the full corpus.
   */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      dim: Int = 64, planes: Int = 8, tables: Int = 8): DataFrame = {
    // Bucket join and candidate dedup carry ONLY (id, table, bucket) —
    // never the d-dim vectors. A candidate pair found in t tables would
    // otherwise shuffle t duplicate copies of both payloads through the
    // join + distinct; instead distinct the id pair and join the vectors
    // back exactly once per side.
    // exploded feeds both sides of the bucket self-join; NOT
    // materialized — measured a 0.2-1.7 s LOSS across q_knn_lsh/rrf/ndcg
    // in the r20 A/B (AQE runtime stage reuse already dedups the
    // canonically-equal bucket exchanges; the checkpoint only adds a job)
    val exploded = df.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map(t =>
        c(HyperplaneBucket(asExpr(col(vecCol)), dim, planes, 0x5eed0000L + t))): _*))
        .as(Seq("table_idx", "bucket")))
    val a = exploded.select(col("id").as("query_id"), col("table_idx"), col("bucket"))
    val b = exploded.select(col("id").as("neighbor_id"), col("table_idx"), col("bucket"))
    val candidates = a.join(b, Seq("table_idx", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    rankTopK(candidates
      .join(vecs.select(col("id").as("query_id"), col("vec").as("a_vec")), Seq("query_id"))
      .join(vecs.select(col("id").as("neighbor_id"), col("vec").as("b_vec")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("a_vec"), col("b_vec")).as("sim")),
      k)
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse
   * ranked candidate lists — different ANN indexes, or ANN + lexical —
   * by `score(q,n) = Σ_lists 1/(rrfK + rank)`. Scores are integer
   * micros (`1e6 div (rrfK + rank)`), so fusion is exact under any
   * union/aggregation order; per-query top-k ties break to the lower
   * neighbor id.
   *
   * Each input needs (query_id, neighbor_id, rank). Scale shape:
   * union of ids+rank rows (no vectors), ONE groupBy on the
   * (query, neighbor) pair with map-side partial sums, then the
   * bounded O(groups·k) top-k aggregate — never a global sort.
   */
  def rrfFuse(lists: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "at least one ranked list required")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val u = lists.map(_.select(col("query_id"), col("neighbor_id"),
        expr(s"1000000L div (${rrfK}L + rank)").as("__graft_c")))
      .reduce(_.unionByName(_))
    u.groupBy("query_id", "neighbor_id")
      .agg(sum("__graft_c").as("rrf_unats"))
      .groupBy("query_id")
      .agg(topKBy(col("neighbor_id"), col("rrf_unats").cast("double"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.sim").cast("long").as("rrf_unats"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Graded nDCG@k of a ranked result list against a ranked ground
   * truth — the retrieval-quality metric that complements recall
   * (q_knn_recall): position matters, so a fused list that ranks the
   * true best neighbor first scores above one that buries it at k.
   * `rel(neighbor) = k+1 − truth_rank` (0 when absent from the truth
   * top-k); discounts are INTEGER micros `round(1e6 / log2(i+1))`
   * fixed at plan time, so per-query DCG is an exact integer sum and
   * `ndcg_permille = dcg·1000 div idcg` is bit-reproducible.
   *
   * Both inputs need (query_id, neighbor_id, rank). One left
   * equi-join on the (query, neighbor) pair + a per-query sum —
   * ids-only rows, map-side combinable.
   */
  def ndcgK(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in [1,100], got $k")
    val disc: Array[Long] =
      (1 to k).map(i => Math.round(1e6 * math.log(2) / math.log(i + 1))).toArray
    val idcg = (1 to k).map(i => (k + 1 - i).toLong * disc(i - 1)).sum
    val t = truth.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__graft_tr"))
    results.where(col("rank") <= k)
      .join(t, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        (coalesce(lit(k + 1) - col("__graft_tr"), lit(0)).cast("long") *
          element_at(lit(disc), col("rank"))).as("__graft_g"))
      .groupBy("query_id").agg(sum("__graft_g").as("dcg_unats"))
      .withColumn("ndcg_permille", expr(s"dcg_unats * 1000 div ${idcg}L"))
  }

  /**
   * MRR@k of a ranked result list against a relevance set — the third
   * leg of the retrieval-eval family (recall counts hits, nDCG grades
   * positions, MRR isolates the FIRST hit: the metric for "did the
   * answer surface near the top"). Per query,
   * `rr_ppm = 1e6 div first_rel_rank` (a truncating integer division —
   * exact on any engine) with `first_rel_rank` the smallest result
   * rank ≤ k whose neighbor appears in the truth set; queries with no
   * relevant hit in the top k report NULL rank and rr_ppm 0.
   *
   * Both inputs need (query_id, neighbor_id) and results a rank. One
   * LEFT SEMI-shaped equi-join on the pair + a per-query min —
   * ids-only rows, map-side combinable. Queries absent from `results`
   * are absent here (there is nothing to rank).
   */
  def mrrK(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000], got $k")
    val t = truth.select(col("query_id"), col("neighbor_id"))
      .withColumn("__graft_rel", lit(1))
    results.where(col("rank") <= k)
      .join(t, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(min(when(col("__graft_rel").isNotNull, col("rank")))
        .cast("long").as("first_rel_rank"))
      .withColumn("rr_ppm", expr(
        "cast(coalesce(1000000 div first_rel_rank, 0) as long)"))
  }

  /**
   * Rank-biased overlap (Webber et al. TOIS '10) between two top-k
   * rankings at persistence p = ½ — the ranking-DRIFT eval the
   * set-based recall/MRR/nDCG family can't give: it weights agreement
   * at the TOP, so an index rebuild that keeps the same neighbor set
   * but reorders rank 1 and rank 10 scores below a same-order one.
   *
   *   RBO@k = (1−p) Σ_{d=1..k} p^(d−1) · |A_d ∩ B_d| / d
   *
   * With p = ½ the weight is exactly 2^−d, so every depth contribution
   * is the EXACT integer `X_d · 10⁶ div (d · 2^d)` (X_d = overlap of
   * the two depth-d prefixes via max(rank_A, rank_B) ≤ d) and the sum
   * of longs is engine-replayable; truncation loses < k ppm.
   *
   * Scale shape: both rankings reduce to (query, neighbor, rank) and
   * meet in ONE equi-join; the depth expansion is a ≤ k-row BROADCAST
   * table (metadata-sized); per-(query, depth) counts map-side combine.
   * Queries sharing nothing keep a 0 row via the left join from A's
   * distinct queries.
   *
   * Returns (query_id, n_common, rbo_ppm).
   */
  def rboTopK(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 62, s"k must be in [1,62], got $k")
    // `a` has three consumers in this plan and `common` two — the
    // pre-AQE plan duplicates both subtrees (q_rbo's committed r19 plan
    // shows the IVF pipeline 3x and the brute O(n²) truth 2x) — but
    // materializing them is a measured NO-OP (r20 A/B: 4.24 → 4.20 s):
    // each ranking pipeline ends in aggregate exchanges that AQE's
    // runtime stage reuse shares across the consumers, so only the cheap
    // post-exchange tails actually re-execute. Left unmaterialized.
    val ar = a.where(col("rank") <= k).select(col("query_id"),
      col("neighbor_id"), col("rank").cast("long").as("__ra"))
    val br = b.where(col("rank") <= k).select(col("query_id"),
      col("neighbor_id"), col("rank").cast("long").as("__rb"))
    val common = ar.join(br, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), greatest(col("__ra"), col("__rb")).as("__m"))
    val depths = a.sparkSession.createDataFrame(
      (1 to k).map(d => Tuple1(d.toLong))).toDF("__d")
    val perQuery = common.join(broadcast(depths), col("__m") <= col("__d"))
      .groupBy("query_id", "__d").agg(count(lit(1)).as("__x"))
      .select(col("query_id"), expr(
        "__x * 1000000 div (__d * shiftleft(cast(1 as bigint), cast(__d as int)))")
        .as("__contrib"))
      .groupBy("query_id").agg(sum("__contrib").as("rbo_ppm"))
    val nCommon = common.groupBy("query_id").agg(count(lit(1)).as("n_common"))
    a.select("query_id").distinct()
      .join(nCommon, Seq("query_id"), "left")
      .join(perQuery, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_common", "rbo_ppm"))
  }

  /**
   * Product-quantization ADC top-k by inner product (the compressed
   * complement of IVF): each vector is encoded as `m` per-subspace
   * centroid codes (~`m` bytes — [[PQCodes]]). Each query precomputes
   * its ADC table of query-to-centroid inner products once
   * ([[PQDistTable]]), and the scan scores every candidate with `m`
   * array lookups ([[PQAdc]], codegen'd) — no per-pair float dot
   * products anywhere.
   *
   * CORPUS-SIZE BOUND: this variant broadcasts the full (id, codes)
   * table and scans every query×candidate pair, so it is the exhaustive
   * compressed baseline — correct while the code table fits a broadcast
   * (~10⁸ vectors at m=4; at 10⁹ the ~12 GB table exceeds Spark's
   * broadcast ceiling and the O(n²) scan dominates regardless). The
   * scale path is [[ivfpqTopK]], which bounds candidates with the IVF
   * cell join and ships codes through a shuffle instead.
   *
   * The quantizer fit mirrors [[ivfTopK]]: a sorted-prefix sample,
   * driver-side deterministic Lloyd per subspace ([[QuantizerKMeans]]),
   * every arithmetic step pinned so the DuckDB oracle replays the
   * centroids, codes and scores bit-exactly.
   */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      dim: Int = 64, subspaces: Int = 4, codebook: Int = 16,
      fitSampleSize: Int = 100000, fitIters: Int = 5): DataFrame = {
    require(dim % subspaces == 0, "dim must divide evenly into subspaces")
    val subDim = dim / subspaces
    val sample = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(fitSampleSize)
      .collect().map(_.getSeq[Double](1).toArray.padTo(dim, 0.0))
    val cents: Array[Array[Array[Double]]] = Array.tabulate(subspaces) { j =>
      QuantizerKMeans.fit(sample.map(v => v.slice(j * subDim, (j + 1) * subDim)),
        codebook, fitIters)
    }
    val codes = df.select(col(idCol).as("neighbor_id"),
      c(PQCodes(asExpr(col(vecCol)), cents)).as("codes"))
    val queries = df.select(col(idCol).as("query_id"),
      c(PQDistTable(asExpr(col(vecCol)), cents)).as("dt"))
    rankTopK(queries.crossJoin(broadcast(codes))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        c(PQAdc(asExpr(col("dt")), asExpr(col("codes")), codebook)).as("sim")),
      k)
  }

  /**
   * IVF+PQ composed top-k — the billion-scale ANN serving layout: the
   * IVF coarse quantizer bounds WHICH pairs are scored (each query
   * probes its `nprobe` nearest cells; candidates come from an
   * equi-join on the cell id), and PQ-ADC bounds WHAT each candidate
   * costs (`subspaces` small codes + table lookups instead of d-dim
   * float dot products). Unlike [[pqTopK]] there is no corpus-wide
   * broadcast and no O(n²) scan: the candidate side of the cell join
   * carries (id, cell, codes) — a few bytes per vector — and the probe
   * side carries each query's precomputed ADC table
   * (subspaces×codebook doubles, ≤ nprobe copies). Only the
   * nlist-row centroid table broadcasts.
   *
   * Both quantizer fits reuse the pinned sorted-prefix sample +
   * driver-side Lloyd ([[QuantizerKMeans]]); every arithmetic step is
   * deterministic, so the DuckDB oracle replays cells, probes, codes
   * and ADC scores bit-exactly (q_knn_ivfpq). A neighbor belongs to
   * exactly one cell, so a (query, neighbor) pair surfaces through at
   * most one probe — no dedup pass is needed before the bounded top-k.
   */
  def ivfpqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      dim: Int = 64, nlist: Int = 16, nprobe: Int = 4,
      subspaces: Int = 4, codebook: Int = 16,
      fitSampleSize: Int = 100000, coarseIters: Int = 10,
      pqIters: Int = 5): DataFrame = {
    require(dim % subspaces == 0, "dim must divide evenly into subspaces")
    val subDim = dim / subspaces
    val sample = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(fitSampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    val cents = QuantizerKMeans.fit(sample, nlist, coarseIters)
    val padded = sample.map(_.padTo(dim, 0.0))
    val pqCents: Array[Array[Array[Double]]] = Array.tabulate(subspaces) { j =>
      QuantizerKMeans.fit(padded.map(v => v.slice(j * subDim, (j + 1) * subDim)),
        codebook, pqIters)
    }
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      c(NearestCentroid(asExpr(col(vecCol)), cents)).as("cell"),
      c(PQCodes(asExpr(col(vecCol)), pqCents)).as("codes")).localCheckpoint(true)
    // probe selection as one scalar pass (see ivfTopK) — the ADC
    // distance table is computed once per surviving probe row
    val probes = assigned.select(col("id"), col("vec"))
      .select(col("id").as("query_id"),
        c(PQDistTable(asExpr(col("vec")), pqCents)).as("dt"),
        explode(c(NearestCells(asExpr(col("vec")), cents, nprobe))).as("cell"))
    rankTopK(probes
      .join(assigned.select(col("id").as("neighbor_id"), col("codes"), col("cell")),
        Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        c(PQAdc(asExpr(col("dt")), asExpr(col("codes")), codebook)).as("sim")),
      k)
  }
}

/**
 * Slice-level embedding statistics — the "did the representation move"
 * monitors a multimodal/training pipeline runs between sources,
 * snapshots or label slices.
 */
object EmbeddingDrift {
  /**
   * Pairwise centroid cosine between label slices of an
   * integer-quantized embedding column — the drift scalar for "are
   * source A's vectors pointing somewhere else than source B's".
   * Cosine is scale-invariant, so the mean vectors' 1/n factors cancel
   * and the statistic is the cosine of the per-slice SUM vectors —
   * which are EXACT longs, making the whole report order-free: the dot
   * and squared norms are DECIMAL(38,0) products of exact sums, and
   * the only float ops are two correctly-rounded sqrts and one
   * round-once ppm division, bit-replayable by a HUGEINT oracle.
   *
   * `vec` must be integer units (the [[graft.pipeline.Stats.covarianceMatrix]]
   * milli-quantization contract). Zero-sum slices yield NULL cosine.
   *
   * Scale shape: one posexplode + (label, dim) groupBy (map-side
   * combined — shuffle carries |labels|·d rows, never the corpus), a
   * dim equi-join of the label-sum table with itself (metadata-sized),
   * two broadcast-scale per-label rollups.
   *
   * Returns (label_a, label_b, n_a, n_b, cos_ppm) for label_a < label_b.
   */
  def centroidCosine(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val sums = df.select(col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("lbl", "i").agg(sum("x").as("s"), count(lit(1)).as("n"))
    val norms = sums.groupBy("lbl")
      .agg(sum(col("s").cast(dec) * col("s")).as("n2"), max("n").as("n"))
    val a = sums.select(col("lbl").as("la"), col("i"), col("s").as("sa"))
    val b = sums.select(col("lbl").as("lb"), col("i"), col("s").as("sb"))
    val dots = a.join(b, "i").where(col("la") < col("lb"))
      .groupBy("la", "lb")
      .agg(sum(col("sa").cast(dec) * col("sb")).as("dot"))
    dots
      .join(norms.select(col("lbl").as("la"), col("n2").as("na2"), col("n").as("n_a")), "la")
      .join(norms.select(col("lbl").as("lb"), col("n2").as("nb2"), col("n").as("n_b")), "lb")
      .select(col("la").as("label_a"), col("lb").as("label_b"),
        col("n_a"), col("n_b"),
        when(col("na2") === 0 || col("nb2") === 0, lit(null))
          .otherwise(round((lit(1e6) * col("dot").cast("double")) /
            (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
            .cast("long")).as("cos_ppm"))
  }
}
