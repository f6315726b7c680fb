package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a large-scale training-data pipeline:
  * tokenization, quality stats, stopword ratios, language ID,
  * fingerprinting. All pure `Column` compositions (codegen'd, no UDFs) —
  * at 100 TB these run embarrassingly parallel inside the scan stage with
  * zero shuffles.
  */
object TextFns {

  /** Whitespace tokens. Single-space split keeps parity with simple
    * tokenizers; use `bpeIshTokens` for a subword-ish count.
    */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric marks — the usual pre-tokenizer regex shape.
    */
  val BpeIshPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeIshTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeIshPattern), lit(0)))

  /** Flesch reading-ease of a document, from the three classic scan-
    * stage counts: words W (whitespace tokens), sentences S (runs of
    * `.!?`, floored at 1 — headline-like fragments still count as one
    * sentence), syllables Y (vowel-group runs `[aeiouy]+` over the
    * lowercased text, floored at 1 — the standard cheap approximation;
    * silent-e handling would need a dictionary).
    * flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W); higher = easier.
    * All codegen'd string ops — no UDF, no shuffle.
    */
  def fleschEase(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    val s = greatest(lit(1), size(regexp_extract_all(text,
      lit("[.!?]+"), lit(0)))).cast("double")
    val y = greatest(lit(1), size(regexp_extract_all(lower(text),
      lit("[aeiouy]+"), lit(0)))).cast("double")
    lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w)
  }

  /** Flesch–Kincaid grade level from the same counts:
    * 0.39·(W/S) + 11.8·(Y/W) − 15.59.
    */
  def fkGrade(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    val s = greatest(lit(1), size(regexp_extract_all(text,
      lit("[.!?]+"), lit(0)))).cast("double")
    val y = greatest(lit(1), size(regexp_extract_all(lower(text),
      lit("[aeiouy]+"), lit(0)))).cast("double")
    lit(0.39) * (w / s) + lit(11.8) * (y / w) - lit(15.59)
  }

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Count of stopword tokens (higher-order filter, stays in codegen). */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords.map(lit): _*)))

  /** Average token length for a single-space-separated text, computed
    * closed-form (chars minus separators over token count) so the oracle
    * can reproduce it exactly without aggregation.
    */
  def avgTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    (length(text) - (n - 1)).cast("double") / n
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, moderate
    * average token length, and presence of stopwords — the standard cheap
    * heuristics (C4-style) expressed as arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(length(text).cast("double") / 500.0, lit(1.0))
    val tokScore  = when(avgTokenLen(text).between(3.0, 10.0), 1.0).otherwise(0.5)
    val stopScore = least(stopwordCount(text).cast("double") / 5.0, lit(1.0))
    round((lenScore + tokScore + stopScore) / 3.0, 6)
  }

  /** DuckDB SQL reproducing [[qualityScore]] exactly — generated from
    * the same constants so the definitions cannot drift (the
    * langIdOracleSql pattern). `c` is the text column name.
    */
  def qualityScoreOracleSql(c: String): String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(",")
    val avgTok = s"CAST(length($c) - (len(string_split($c, ' ')) - 1) AS DOUBLE)" +
      s" / len(string_split($c, ' '))"
    s"""round((least(CAST(length($c) AS DOUBLE) / 500.0, 1.0)
        + CASE WHEN $avgTok BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END
        + least(CAST(len(list_filter(string_split($c, ' '), x -> x IN ($stop))) AS DOUBLE) / 5.0, 1.0)
        ) / 3.0, 6)"""
  }

  /** All word n-grams WITH duplicates — repetition analysis needs the
    * multiset (`graft.dedup.Dedup.shingles` is the distinct variant for
    * dedup). Short docs collapse to one whole-text gram, mirroring
    * shingles' behavior.
    *
    * Backed by the native codegen [[graft.functions.WordNgrams]]
    * expression — one pass over the string. The equivalent builtin
    * composition survives as [[allNgramsViaBuiltins]], the
    * differential reference for the spec (and a reminder of the
    * O(tokens²) lambda re-split trap it has to dodge via the
    * single-element-transform binding).
    */
  def allNgrams(text: Column, n: Int): Column =
    graft.functions.WordNgrams.wordNgrams(text, n)

  /** Builtin-composed reference for [[allNgrams]] — spec-only. The
    * outer single-element transform binds the token array once: lambda
    * variables are materialized values, while a plain
    * `val toks = split(...)` referenced inside the inner lambda
    * re-splits the string at every n-gram position — O(tokens²) per
    * document (codegen subexpression elimination does not reach inside
    * LambdaFunction bodies; measured 10× on the bench corpus).
    */
  private[graft] def allNgramsViaBuiltins(text: Column, n: Int): Column =
    flatten(transform(array(split(text, " ")), toks =>
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))))

  /** Gopher/C4-style repetition signals per document: total / distinct
    * bigram counts, duplicate-bigram fraction, and the mass of the single
    * most frequent bigram. Shape: explode bigrams, then BOTH aggregation
    * levels run after ONE explicit repartition on the doc id —
    * hash(doc_id) satisfies the (doc_id, gram) clustering too, so Spark
    * plans no further exchange (one narrow shuffle total at any scale).
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                      idCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("__id"), explode(allNgrams(lower(col(textCol)), 2)).as("__g"))
      .repartition(col("__id"))
      .groupBy(col("__id"), col("__g")).agg(count(lit(1)).as("__n"))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("__n")).as("__top"))
      .select(col("__id").as(idCol),
        col("n_bigrams"), col("n_distinct_bigrams"),
        round(lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"), 6)
          .as("dup_bigram_frac"),
        round(col("__top").cast("double") / col("n_bigrams"), 6).as("top_bigram_frac"))

  /** The same repetition signals with ZERO shuffle: per-document stats
    * need no cross-row data, so the top-bigram run is found by a fold
    * over the doc's own sorted bigram array — embarrassingly parallel in
    * the scan stage at any scale. The fold is an interpreted
    * higher-order function, but it runs over one doc's grams, not the
    * corpus; `repetitionStats` (the exploded single-shuffle form) remains
    * as the differential reference. SQL-string lambda because
    * named_struct keeps field names where the Column-API struct() inside
    * a lambda loses them.
    */
  def repetitionStatsScanOnly(df: org.apache.spark.sql.DataFrame, textCol: String,
                              idCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), allNgrams(lower(col(textCol)), 2).as("__g"))
      .withColumn("__top", expr("""
        aggregate(sort_array(__g),
          named_struct('prev', '', 'run', 0L, 'best', 0L),
          (acc, x) -> named_struct('prev', x,
            'run', IF(x = acc.prev, acc.run + 1, 1L),
            'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1L)))).best"""))
      .select(col(idCol),
        size(col("__g")).cast("long").as("n_bigrams"),
        size(array_distinct(col("__g"))).cast("long").as("n_distinct_bigrams"),
        round(lit(1.0) - size(array_distinct(col("__g"))).cast("double") / size(col("__g")), 6)
          .as("dup_bigram_frac"),
        round(col("__top").cast("double") / size(col("__g")), 6).as("top_bigram_frac"))

  /** Per-document unigram token entropy (nats) and type-token ratio —
    * the cheap lexical-diversity signals a corpus-quality gate keys on
    * (boilerplate and keyword-stuffed docs sit at the low-entropy tail).
    * Entropy via the ln(N) − Σ n·ln(n)/N identity so only per-token
    * COUNTS aggregate, never probabilities. Same one-narrow-shuffle
    * shape as [[repetitionStats]]: explode tokens, repartition once on
    * the doc id, both aggregate levels reuse that clustering.
    */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, textCol: String,
                   idCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("__id"), explode(tokens(lower(col(textCol)))).as("__t"))
      .repartition(col("__id"))
      .groupBy(col("__id"), col("__t")).agg(count(lit(1)).as("__n"))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__n").cast("double") * log(col("__n").cast("double"))).as("__nlogn"))
      .select(col("__id").as(idCol),
        col("n_tokens"), col("n_types"),
        round(log(col("n_tokens").cast("double"))
          - col("__nlogn") / col("n_tokens").cast("double"), 6).as("entropy"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("type_token_ratio"))

  /** Corpus TF-IDF: token term frequency per group weighted by inverse
    * document frequency over the WHOLE corpus — the standard salient-term
    * extractor. Shape: one explode, a distinct-doc aggregate for df
    * (map-side partial), a tf aggregate per (group, token), one broadcast
    * join of the (small) token-df table, a ranking window per group.
    * N is computed distributed; nothing collects.
    */
  def tfidfTopTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                     idCol: String, groupCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(groupCol), col(idCol).as("__doc"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val n = df.select(countDistinct(col(idCol)).as("__n"))
    val dfreq = toks.groupBy(col("tok")).agg(countDistinct(col("__doc")).as("__df"))
    val tf = toks.groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(n))
      .select(col(groupCol), col("tok"), col("tf"),
        round(col("tf") * log(col("__n").cast("double") / col("__df")), 6).as("tfidf"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= k)
  }

  /** PII redaction patterns — restricted to syntax that Java regex and
    * RE2-family engines (the oracle) interpret identically, so redaction
    * is bit-reproducible across engines.
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\b555[0-9]{4,}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhonePattern), lit(0)))

  /** Marker vocabularies for the n-gram/stopword language-ID heuristic.
    * Order encodes the deterministic tiebreak priority (earlier wins).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language ID: score = count of marker-token hits per language; argmax
    * with fixed priority tiebreak, via array_max over (score, priority,
    * lang) structs. For zh the markers are single characters, so we count
    * character occurrences — all five markers in ONE translate pass
    * (chars removed = total marker occurrences, since the markers are
    * distinct single chars), instead of one regexp_replace pass per
    * marker.
    */
  def langId(text: Column): Column = {
    val lowered = lower(text)
    val toks = tokens(lowered)
    val scored = LangMarkers.zipWithIndex.map { case ((lang, markers), i) =>
      val score =
        if (lang == "zh")
          (length(lowered) - length(translate(lowered, markers.mkString, ""))).cast("int")
        else
          size(filter(toks, t => t.isin(markers.map(lit): _*)))
      struct(score.as("score"), lit(LangMarkers.size - i).as("prio"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** DuckDB SQL fragment computing the same langId over column `c` —
    * generated from the same marker constants (single source of truth for
    * the oracle).
    */
  /** Top-k PMI collocations — adjacent-token bigrams whose pointwise
    * mutual information ln(p(ab) / (p(a)·p(b))) is highest, the classic
    * multi-word-expression / named-entity signal (and, in a curation
    * pipeline, the "boilerplate phrase" detector: templated corpora
    * have abnormally many high-PMI bigrams).
    *
    * Scale shape: bigrams materialize only inside the explode (scan
    * stage), collapse map-side before ONE exchange on the bigram; the
    * two unigram lookups are shuffle joins on token whose probe side is
    * the already-aggregated bigram table (vocabulary-sized, not
    * corpus-sized — the [[graft.text.Curation.unigramLogProb]] skew
    * argument). `minCount` prunes the hapax tail BEFORE the joins; the
    * final top-k is TakeOrderedAndProject. Output: `bigram`, `c_ab`,
    * `c_a`, `c_b`, `pmi` (rounded, ranked with id tiebreak).
    */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                      minCount: Long = 5L, topK: Int = 20): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad pmi params $minCount/$topK")
    val t = split(lower(col(textCol)), " ")
    val uni = df.select(explode(t).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // native one-pass bigram expression; strict mode returns an empty
    // array for 1-token docs, so the explode drops them with no second
    // split for a length filter
    val bi = df
      .select(explode(graft.functions.WordNgrams.wordNgramsStrict(
        lower(col(textCol)), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val nUni = uni.agg(sum(col("cnt")).as("__nu"))
    val nBi = bi.agg(sum(col("c_ab")).as("__nb"))
    bi.filter(col("c_ab") >= minCount)
      .withColumn("__t1", split(col("bigram"), " ").getItem(0))
      .withColumn("__t2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("token").as("__t1"), col("cnt").as("c_a")), "__t1")
      .join(uni.select(col("token").as("__t2"), col("cnt").as("c_b")), "__t2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        round(log((col("c_ab").cast("double") / col("__nb"))
          / ((col("c_a").cast("double") / col("__nu"))
            * (col("c_b").cast("double") / col("__nu")))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("bigram"))
      .limit(topK)
  }

  /** Zipf-law fit over the corpus token distribution: regress
    * ln(frequency) on ln(rank) — natural text sits near slope −1 with
    * high r²; templated/bot corpora bend the curve (flat head from
    * boilerplate, truncated tail from a small generator vocabulary), so
    * the (slope, r2) pair is a one-row corpus-health signal.
    *
    * The exact global frequency rank is a unique-key prefix sum through
    * [[graft.operators.RankedStats.withCumulative]]: tokens ordered by
    * `struct(-cnt, token)` (frequency descending, ties by token), each
    * counting `1L`, so the cumulative count IS the 1-based rank and no
    * single-task global sort exists at any vocabulary size. The
    * regression itself is one moment aggregate.
    * Output (1 row): `vocab`, `n_tokens`, `slope`, `intercept`, `r2`.
    */
  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df.select(explode(split(lower(col(textCol)), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .select(struct(-col("cnt"), col("token")).as("__k"), col("cnt"), lit(1L).as("__one"))
    val lnF = log(col("cnt").cast("double"))
    val lnR = log(col("__cum___one").cast("double"))
    graft.operators.RankedStats.withCumulative(counts, Nil, "__k", Seq("__one"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("cnt")).as("n_tokens"),
        round(regr_slope(lnF, lnR), 6).as("slope"),
        round(regr_intercept(lnF, lnR), 6).as("intercept"),
        round(regr_r2(lnF, lnR), 6).as("r2"))
  }

  def langIdOracleSql(c: String): String = {
    val scores = LangMarkers.map { case (lang, markers) =>
      val s =
        if (lang == "zh")
          s"(length(lower($c)) - length(translate(lower($c), '${markers.mkString}', '')))"
        else
          s"len(list_filter(string_split(lower($c), ' '), x -> x IN (${markers.map(m => s"'$m'").mkString(",")})))"
      lang -> s
    }
    val structs = scores.zipWithIndex.map { case ((lang, s), i) =>
      s"{'score': CAST($s AS INT), 'prio': ${LangMarkers.size - i}, 'lang': '$lang'}"
    }
    s"list_max([${structs.mkString(", ")}])['lang']"
  }
}
