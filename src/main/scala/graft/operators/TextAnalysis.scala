package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.TextFunctions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * All per-document map-side column expressions — zero shuffles, so they
  * scale linearly with input splits and stay inside whole-stage codegen.
  * Ratios divide exact integer counts, hence cross-engine bit-deterministic.
  */
object TextAnalysis {

  /** Per-language stopword markers for the n-gram/stopword language-ID
    * heuristic (tiny on purpose: broadcastable as literals into codegen).
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "la", "de", "los", "las", "y", "es", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  private def markerCount(ws: Column, lang: String): Column =
    size(filter(ws, w => w.isin(markers(lang).map(lit(_)): _*)))

  /** Language ID: argmax of per-language marker-word counts with a fixed
    * priority order on ties; 'und' when nothing matches. */
  def langId(docs: DataFrame, textCol: String): DataFrame = {
    val ws = words(col(textCol))
    val langs = Seq("en", "fr", "es", "de", "zh")
    val withScores = langs.foldLeft(docs.withColumn("_ws", ws)) {
      case (df, l) => df.withColumn(s"score_$l", markerCount(col("_ws"), l))
    }
    val best = greatest(langs.map(l => col(s"score_$l")): _*)
    val predicted = langs.foldRight(lit("und"): Column) {
      case (l, alt) => when(best > 0 && col(s"score_$l") === best, l).otherwise(alt)
    }
    // foldRight gives priority en > fr > es > de > zh on ties
    withScores.withColumn("predicted_lang", predicted).drop("_ws")
  }

  /** Quality metrics: lengths, word stats, character-class ratios, a
    * composite score. All ratios are exact-int divisions (deterministic).
    * Denominators null out at zero (empty/degenerate text → null ratios,
    * null score) instead of tripping ANSI DIVIDE_BY_ZERO — callers like
    * [[Curate]] treat a null score as unusable. */
  def quality(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    def nz(c: Column): Column = when(c =!= 0, c) // null when zero
    val nChars = length(t)
    val nWords = size(ws)
    val alphaChars = length(regexp_replace(t, "[^A-Za-z]", ""))
    val digitChars = length(regexp_replace(t, "[^0-9]", ""))
    val punctChars = length(regexp_replace(t, "[A-Za-z0-9\\s]", ""))
    val stopCount = size(filter(ws, w => w.isin(markers("en").map(lit(_)): _*)))
    docs
      .withColumn("n_chars", nChars)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len",
        aggregate(ws, lit(0), (acc, w) => acc + length(w)).cast("double") / nz(nWords))
      .withColumn("alpha_ratio", alphaChars.cast("double") / nz(nChars))
      .withColumn("digit_ratio", digitChars.cast("double") / nz(nChars))
      .withColumn("punct_ratio", punctChars.cast("double") / nz(nChars))
      .withColumn("stopword_ratio", stopCount.cast("double") / nz(nWords))
      // Composite: long-enough, alphabetic, low-punctuation text wins.
      .withColumn("quality_score",
        when(col("n_words") >= 5, lit(1.0)).otherwise(lit(0.0)) *
        col("alpha_ratio") * (lit(1.0) - col("punct_ratio")))
  }

  /** Token counts: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val re = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    docs
      .withColumn("ws_tokens", size(words(t)))
      .withColumn("re_tokens", size(regexp_extract_all(lower(t), lit(re), lit(0))))
      .withColumn("chars_per_token",
        length(t).cast("double") / when(col("re_tokens") =!= 0, col("re_tokens")))
  }

  /** Training-data text cleaning: redact URLs and email addresses, collapse
    * whitespace. Counts of removals ride along so a pipeline can filter or
    * audit. Pure map-side; regexes kept to the Java∩RE2 common dialect so
    * the oracle matches. */
  def clean(docs: DataFrame, textCol: String): DataFrame = {
    val urlRe = "https?://[^\\s]+"
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val t = col(textCol)
    docs
      .withColumn("n_urls", size(regexp_extract_all(t, lit(urlRe), lit(0))))
      .withColumn("n_emails", size(regexp_extract_all(t, lit(emailRe), lit(0))))
      .withColumn("clean_text",
        trim(regexp_replace(
          regexp_replace(regexp_replace(t, urlRe, "<URL>"), emailRe, "<EMAIL>"),
          "\\s+", " ")))
  }

  /** HTML → text extraction — the web-corpus step BEFORE [[c4Clean]]:
    * `<script>`/`<style>` blocks go first (their CONTENT is code, not
    * prose — stripping tags alone would leak it into the text), then all
    * remaining tags, then the six entities that actually occur at corpus
    * frequency (`&amp;` decoded LAST so `&amp;lt;` yields the literal
    * `&lt;` per the HTML spec, not a double-decode), then whitespace
    * collapse. Tag/script counts ride along for filtering ("mostly markup"
    * pages have high tag-to-text ratios). Pure map-side; regexes in the
    * Java∩RE2 common dialect (non-greedy spans, inline (?is) flags) so
    * the oracle matches. A full parser this is not — boilerplate DOM
    * extraction (readability/trafilatura class) needs a tree, which is a
    * per-document library call behind the [[Multimodal]] decode seam, not
    * a column expression. */
  def htmlExtract(docs: DataFrame, textCol: String): DataFrame = {
    val scriptRe = "(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>"
    val tagRe = "(?s)<[^>]+>"
    val t = col(textCol)
    val noScript = regexp_replace(t, scriptRe, " ")
    val noTags = regexp_replace(noScript, tagRe, " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        // LITERAL find/replace (StringReplace) — six regex-engine passes
        // for fixed strings would tax the map-side hot path for nothing
        replace(c, lit(ent), lit(ch)) }
    // size(null) is -1 in non-ANSI Spark — propagate null honestly instead
    // of a sentinel that would slip through an 'n_tags > threshold' filter
    def cnt(c: org.apache.spark.sql.Column) =
      when(t.isNotNull, size(c))
    docs
      .withColumn("n_scripts", cnt(regexp_extract_all(t, lit(scriptRe), lit(0))))
      .withColumn("n_tags", cnt(regexp_extract_all(noScript, lit(tagRe), lit(0))))
      .withColumn("extracted_text",
        trim(regexp_replace(decoded, "\\s+", " ")))
  }

  /** The C4 line/page cleaning rules proper (Raffel et al. 2020, §2.2 —
    * [[gopherSignals]] carries linear PROXIES of some of these; this is
    * the cleaning operator that actually EDITS the document):
    * keep only lines that end in terminal punctuation (`. ! ? "`), have
    * at least `minLineWords` words, and do not mention javascript; drop
    * the whole page when it contains `lorem ipsum` or a `{`, or fewer
    * than `minLinesKept` lines survive (the paper's 3-sentence floor).
    * The word-list profanity rule is omitted (list-based, not
    * semantics). Everything is array HOFs over the line split — linear
    * per doc, map-side, zero shuffles; rides the scan at any scale. */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minLinesKept: Int = 3): DataFrame = {
    require(minLineWords >= 1 && minLinesKept >= 0,
      s"minLineWords=$minLineWords minLinesKept=$minLinesKept")
    val t = col(textCol)
    val lines = filter(transform(split(t, "\n"), l => trim(l)),
      l => length(l) > 0)
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
      size(split(l, "\\s+")) >= minLineWords &&
      !lower(l).contains("javascript"))
    docs
      .withColumn("c4_lines_kept", size(kept))
      .withColumn("c4_lines_removed", size(lines) - size(kept))
      .withColumn("c4_page_keep",
        !lower(t).contains("lorem ipsum") &&
        !t.contains("{") &&
        size(kept) >= minLinesKept)
      .withColumn("clean_text", array_join(kept, "\n"))
  }

  /** Repetition / document-shape signals from the public Gopher (Rae et
    * al. 2021, Appendix A) and C4 curation rules, each a linear map-side
    * expression (no per-doc quadratic n-gram scans, no shuffles):
    * duplicate-line and duplicate-word fractions, symbol-to-word ratio
    * (# and ellipses), bullet-/ellipsis-line fractions, alphabetic-word
    * fraction, distinct-stopword hits — plus a composite `gopher_keep`
    * verdict with thresholds adapted to short web documents. All ratios
    * divide exact integer counts (cross-engine deterministic). */
  def gopherSignals(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    val lw = transform(ws, w => lower(w))
    val lines = filter(transform(split(t, "\n"), l => trim(l)),
      l => length(l) > 0)
    def nz(c: Column): Column = when(c =!= 0, c)
    val nWords = size(ws)
    val nLines = size(lines)
    val symbolCount =
      (length(t) - length(regexp_replace(t, "#", ""))) +
      size(regexp_extract_all(t, lit("\\.\\.\\."), lit(0)))
    val stopHits = size(filter(
      array(markers("en").map(lit(_)): _*), m => array_contains(lw, m)))
    val out = docs
      .withColumn("n_words", nWords)
      .withColumn("n_lines", nLines)
      .withColumn("mean_word_len",
        aggregate(ws, lit(0), (a, w) => a + length(w)).cast("double") / nz(nWords))
      .withColumn("dup_word_frac",
        lit(1.0) - size(array_distinct(lw)).cast("double") / nz(nWords))
      .withColumn("dup_line_frac",
        lit(1.0) - size(array_distinct(lines)).cast("double") / nz(nLines))
      .withColumn("symbol_word_ratio", symbolCount.cast("double") / nz(nWords))
      .withColumn("bullet_line_frac",
        size(filter(lines, l => substring(l, 1, 1).isin("-", "*", "•")))
          .cast("double") / nz(nLines))
      .withColumn("ellipsis_line_frac",
        size(filter(lines, l => l.endsWith("..."))).cast("double") / nz(nLines))
      .withColumn("alpha_word_frac",
        size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / nz(nWords))
      .withColumn("n_stop_hits", stopHits)
    out.withColumn("gopher_keep",
      col("n_words") >= 5 &&
      col("mean_word_len").between(2.0, 12.0) &&
      col("symbol_word_ratio") <= 0.1 &&
      col("dup_word_frac") <= 0.5 &&
      coalesce(col("dup_line_frac") <= 0.3, lit(true)) &&
      coalesce(col("bullet_line_frac") <= 0.9, lit(true)) &&
      coalesce(col("ellipsis_line_frac") <= 0.3, lit(true)) &&
      col("alpha_word_frac") >= 0.7 &&
      col("n_stop_hits") >= 2)
  }

  /** The Gopher repetition filter proper: the fraction of a document's
    * word n-grams taken by its single most frequent n-gram (high = looping
    * or boilerplate text). Unlike [[gopherSignals]]' linear per-row
    * proxies this needs per-(doc, gram) counts — two shuffles over the
    * gram rows, both shrinking. Grams ride an index explode (the
    * generator's child is a cheap int sequence; exploding HOF-built
    * shingle arrays measures ~7× slower). Docs with fewer than `n` words
    * emit no row. */
  def topGramFraction(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    // guard, don't clamp: sequence(1, 0) is a DESCENDING [1, 0] in Spark,
    // which would feed slice a start of 0 on short docs
    val idxs = when(size(col("_ws")) >= n,
      sequence(lit(1), size(col("_ws")) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val grams = docs
      .select(col(idCol), normWords(col(textCol)).as("_ws"))
      .select(col(idCol), col("_ws"), explode(idxs).as("_i"))
      .select(col(idCol),
        concat_ws(" ", slice(col("_ws"), col("_i"), lit(n))).as("gram"))
    grams
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"), max(col("cnt")).as("top_count"))
      .withColumn("top_gram_frac",
        col("top_count").cast("double") / col("n_grams"))
  }

  /** PII redaction for training corpora: emails, URLs, IPv4 addresses,
    * phone-shaped numbers, and long id-like digit runs are counted and
    * replaced with typed placeholder tags, in a fixed order on the
    * progressively redacted text (so a phone never re-matches as an id
    * run). Regexes stay in the Java∩RE2 common dialect; counts are exact
    * ints. Pure map-side — linear at 100 TB. */
  def piiRedact(docs: DataFrame, textCol: String): DataFrame = {
    val urlRe = "https?://[^\\s]+"
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phoneRe = "\\+?[0-9]{0,2}[- ]?\\(?[0-9]{3}\\)?[- ][0-9]{3}[- ][0-9]{4}"
    val idRe = "\\b[0-9]{13,19}\\b"
    val t = col(textCol)
    val afterUrl = regexp_replace(regexp_replace(t, urlRe, "<URL>"),
      emailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterUrl, ipRe, "<IP>")
    val afterPhone = regexp_replace(afterIp, phoneRe, "<PHONE>")
    docs
      .withColumn("n_urls", size(regexp_extract_all(t, lit(urlRe), lit(0))))
      .withColumn("n_emails", size(regexp_extract_all(t, lit(emailRe), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(afterUrl, lit(ipRe), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(afterIp, lit(phoneRe), lit(0))))
      .withColumn("n_idnums",
        size(regexp_extract_all(afterPhone, lit(idRe), lit(0))))
      .withColumn("redacted_text",
        trim(regexp_replace(regexp_replace(afterPhone, idRe, "<NUM>"),
          "\\s+", " ")))
  }

  /** Per-source corpus statistics: the summary a pipeline reports after
    * ingest (doc counts, length distribution, language spread). */
  def corpusStats(docs: DataFrame, sourceCol: String, textCol: String,
                  langCol: String): DataFrame =
    docs
      .withColumn("_len", length(col(textCol)))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("_len")).as("min_chars"),
        max(col("_len")).as("max_chars"),
        avg(col("_len")).as("avg_chars"),
        countDistinct(col(langCol)).as("n_langs"),
        countDistinct(md5(normalized(col(textCol)))).as("n_unique_texts"))

  /** Document fingerprints: md5 of normalized text (exact identity) plus
    * 4 min-wise shingle hashes (stable near-identity sketch). */
  def fingerprints(docs: DataFrame, textCol: String): DataFrame = {
    val sh = shingles(normWords(col(textCol)), 3)
    (0 until 4).foldLeft(
        docs.withColumn("fp", md5(normalized(col(textCol))))
            .withColumn("_sh", sh)) {
      case (df, k) => df.withColumn(s"mh$k", minhash(col("_sh"), k))
    }.drop("_sh")
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    * algorithm): hash every `k`-token gram, slide a window of `w`
    * consecutive gram hashes, and select each window's minimum (ties
    * broken RIGHTMOST, the paper's rule). The selected set is the
    * document's fingerprint, with the winnowing guarantee: any shared
    * token run of length >= `w + k - 1` between two documents shares at
    * least one fingerprint — the local, position-robust alternative to
    * global minhash for overlap detection.
    *
    * The (hash, rightmost-pos) window argmin rides ONE engine-portable
    * sortable string: `md5hex || lpad(10^10 - pos)` — string min ==
    * (hash ASC, pos DESC), so Spark and the SQL oracle select literally
    * identical fingerprints. Window starts are clamped to full windows
    * (`pos <= max(1, n_grams - w + 1)`; a short doc gets one window over
    * everything), so truncated suffix windows never add spurious picks.
    *
    * Scale shape: one explode to gram grain, then a DOC-PARTITIONED
    * window ordered by position (doc-local, bounded by doc length — the
    * `chunk_docs`/`dedup_substring` pattern) and a distinct that shrinks
    * to the selected fingerprints (~2/(w+1) of grams, the paper's
    * density). Nothing corpus-wide ever sorts. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, window: Int = 5): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(window >= 1, s"window=$window must be >= 1")
    val nGrams = size(col("_ws")) - (k - 1)
    val grams = docs
      .select(col(idCol), normWords(col(textCol)).as("_ws"))
      .where(size(col("_ws")) >= k)
      .select(col(idCol), col("_ws"), nGrams.as("n_grams"),
        explode(sequence(lit(1), nGrams)).as("pos"))
      .select(col(idCol), col("n_grams"), col("pos"),
        concat(
          md5(concat_ws(" ", slice(col("_ws"), col("pos"), lit(k)))),
          lpad((lit(9999999999L) - col("pos")).cast("string"), 10, "0"))
          .as("_comb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, window - 1)
    grams
      .withColumn("_sel", min(col("_comb")).over(w))
      .where(col("pos") <= greatest(lit(1), col("n_grams") - (window - 1)))
      .select(col(idCol), col("_sel")).distinct()
      .select(col(idCol),
        substring(col("_sel"), 1, 32).as("fp"),
        (lit(9999999999L) - substring(col("_sel"), 33, 10).cast("long"))
          .cast("int").as("pos"))
  }

  /** Per-document salient terms: top `k` by smoothed tf-idf
    * (`tf × (ln((N+1)/(df+1)) + 1)` — the scikit-style formulation, always
    * positive so common-everywhere terms rank low without vanishing).
    *
    * Scale shape: three shrinking shuffles — (doc, term) counts, the
    * document-frequency rollup (distinct terms only), and the per-doc
    * top-k window (doc-partitioned, k rows out per doc). The corpus size N
    * rides a broadcast one-row join; df joins back on the term key. ln of
    * an exact rational is IEEE-identical across engines, so tfidf is
    * oracle-comparable after round(6). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val terms = docs
      .select(col(idCol), explode(normWords(col(textCol))).as("term"))
      .where(col("term") =!= "")
    // tf feeds BOTH the scoring join and the df rollup: without a
    // pin Catalyst plans the corpus explode twice — one token scan
    // vs two is the dominant cost at scale, and (doc, term) counts are far
    // smaller than raw tokens
    val tf = Materialize.pin(terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    // tf rows are distinct per (doc, term) by construction, so df is a
    // plain count — countDistinct planned a second distinct aggregate
    // over an already-distinct relation
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0)), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Per-document salient terms under Okapi BM25 — the retrieval-grade
    * sibling of [[tfidfTopTerms]]: term saturation (`k1`) stops a
    * 50-occurrence term from scoring 50× a single occurrence, and length
    * normalization (`b`) stops long documents from dominating purely by
    * repetition. `idf = ln(1 + (N - df + 0.5)/(df + 0.5))` (the
    * non-negative Robertson–Spärck Jones form);
    * `score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
    *
    * Scale shape: identical to tf-idf — the (doc, term) count relation is
    * computed ONCE (pinned) and feeds the df rollup, the
    * per-document length rollup (`dl = Σ tf`, derived from tf so the raw
    * token explode is never re-scanned), and the scoring join; N and
    * avgdl ride a broadcast one-row join. Every input to the score is an
    * exact integer or a quotient of exact integers, so the double math is
    * IEEE-identical across engines and `round(6)` is oracle-safe
    * (SURVEY §4); the expression tree mirrors the oracle SQL's
    * association order token for token. */
  def bm25TopTerms(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val terms = docs
      .select(col(idCol), explode(normWords(col(textCol))).as("term"))
      .where(col("term") =!= "")
    val tf = Materialize.pin(terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    // tf rows are distinct per (doc, term) — plain count, no second
    // distinct aggregate (see tfidfTopTerms)
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("bm25").desc, col("term"))
    tf.join(dfreq, "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("bm25",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / col("avgdl")))), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("dl"),
        round(col("idf"), 6).as("idf"), col("bm25"), col("rank"))
  }

  /** Corpus-trained unigram log-probability per document — the tractable
    * stand-in for the CCNet/Wiki-LM perplexity filter: documents whose
    * tokens are atypical FOR THIS CORPUS (very low mean log-prob) are
    * likely noise, boilerplate, or another register; unusually high means
    * repetitive common-word soup. Laplace-smoothed:
    * `lp(term) = ln((count+1) / (T+V))`, score = mean lp over the doc's
    * tokens (sum rounded, then divided — the SURVEY §4 rule, so the score
    * is oracle-comparable).
    *
    * Scale shape: the (doc, term) counts ride ONE corpus explode (pinned,
    * shared by the vocabulary rollup and the scoring join); vocabulary
    * and the (T, V) totals are shrinking aggregates, the
    * totals a broadcast one-row join; the per-doc mean weights by tf so
    * the join is (doc, DISTINCT term) grain, not raw tokens. */
  /** @param carryCols doc-level columns to thread through to the output
    *                   (functionally dependent on `idCol`, e.g. the
    *                   language) — carried inside the aggregation keys so
    *                   callers needing them skip a doc-grain join; `Nil`
    *                   leaves the plan untouched. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     carryCols: Seq[String] = Nil): DataFrame = {
    val keyCols = (idCol +: carryCols).map(col)
    val terms = docs
      .select(keyCols :+ explode(normWords(col(textCol))).as("term"): _*)
      .where(col("term") =!= "")
    val tf = Materialize.pin(terms.groupBy(keyCols :+ col("term"): _*).agg(count(lit(1)).as("tf")))
    val freq = Materialize.pin(tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt")))
    val tot = freq.agg(sum(col("cnt")).as("t_total"), count(lit(1)).as("v"))
    tf.join(freq, "term")
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        log((col("cnt") + lit(1.0)) / (col("t_total") + col("v"))))
      .groupBy(keyCols: _*)
      .agg(sum(col("tf")).as("n_tokens"),
        (round(sum(col("tf") * col("lp")), 6) / sum(col("tf"))).as("avg_logprob"))
  }

  /** Fixed-size token chunking with overlap — the step between "curated
    * document" and "training sequence": each document's normalized tokens
    * split into windows of `chunkTokens` advancing by
    * `chunkTokens - overlap`, the last window short rather than dropped
    * (truncation loses tail text; padding is the trainer's business).
    * `n_chunks = ceil(max(n - overlap, 1) / stride)` so every token is
    * covered and no chunk is a suffix of its predecessor. Empty documents
    * yield no rows.
    *
    * Scale shape: one map-side index explode (the decontaminate gram
    * pattern — a cheap int sequence under the generator, each chunk
    * assembled once per output row from the materialized array), zero
    * shuffles; output rows = Σ n_chunks, linear in corpus tokens. */
  /** @param carryCols doc-level columns threaded through to every chunk
    *                   row map-side (stratum, license, url, …) — callers
    *                   re-attaching them with a doc-grain join would pay
    *                   a shuffle for a projection.
    * @param lowercase  `true` (default) tokenizes with [[normWords]]
    *                   (lowercased — the oracle-checked path); `false`
    *                   splits on whitespace only, preserving case for
    *                   training text. Either way `chunk_text` is the
    *                   SPACE-JOINED tokens: original whitespace runs and
    *                   newlines are collapsed (byte-exact chunking would
    *                   need offset slicing, a different operator). */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, overlap: Int = 0,
                carryCols: Seq[String] = Nil,
                lowercase: Boolean = true): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens=$chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap=$overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val n = size(col("_ws"))
    val nChunks = ceil(greatest(n - overlap, lit(1)).cast("double") / stride)
      .cast("int")
    val toks =
      if (lowercase) normWords(col(textCol))
      else split(trim(col(textCol)), "\\s+")
    val keys = col(idCol) +: carryCols.map(col)
    docs.select(keys :+ toks.as("_ws"): _*)
      .where(size(col("_ws")) > 0 && col("_ws") =!= array(lit("")))
      .select(keys ++ Seq(col("_ws"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id")): _*)
      .select(keys ++ Seq(col("chunk_id"),
        concat_ws(" ",
          slice(col("_ws"), col("chunk_id") * stride + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("_ws")) - col("chunk_id") * stride)
          .as("n_tokens")): _*)
  }

  /** Corpus-level data card: the one-stop health summary a training-data
    * owner reads before anything trains — document/unique counts, exact
    * duplicate rate, token volume and mean document length, mean
    * heuristic quality. ONE aggregation pass over the corpus (partial
    * map-side; the distinct rides the same shuffle), exploded to
    * (metric, value) rows so downstream tooling diffs cards cheaply.
    * Double means follow the §4 rule (round the sum, then divide). */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val q = quality(docs, textCol)
    val agg = q.agg(
      count(lit(1)).cast("double").as("n_docs"),
      countDistinct(md5(normalized(col(textCol)))).cast("double").as("n_unique"),
      sum(col("n_words").cast("long")).cast("double").as("total_tokens"),
      round(sum(col("quality_score")), 6).as("q_sum"))
    agg.select(explode(array(
        struct(lit("n_docs").as("metric"), col("n_docs").as("value")),
        struct(lit("n_unique_texts").as("metric"), col("n_unique").as("value")),
        struct(lit("dup_rate").as("metric"),
          round(lit(1.0) - col("n_unique") / col("n_docs"), 6).as("value")),
        struct(lit("total_tokens").as("metric"), col("total_tokens").as("value")),
        struct(lit("mean_doc_tokens").as("metric"),
          (col("total_tokens") / col("n_docs")).as("value")),
        struct(lit("mean_quality").as("metric"),
          (col("q_sum") / col("n_docs")).as("value")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
  }

  /** Corpus-trained BIGRAM log-probability per document — one order up
    * from [[unigramLogProb]] and the closer CCNet-perplexity stand-in:
    * word-soup documents whose unigrams are all common but whose
    * TRANSITIONS are corpus-atypical now score low. Laplace-smoothed
    * conditional: `lp(ctx→nxt) = ln((bg_count+1) / (ctx_count+V))` where
    * `ctx_count` counts ctx AS A CONTEXT (bigrams starting with it) and
    * `V` is the prediction vocabulary (distinct next-tokens); score =
    * tf-weighted mean over the doc's bigrams (sum rounded, then divided —
    * the SURVEY §4 rule).
    *
    * Scale shape: the (doc, bigram) counts ride ONE corpus explode (pinned,
    * shared by the corpus-frequency rollup, the
    * context-count rollup, and the scoring join); both rollups shrink to
    * distinct bigrams / contexts; V is a broadcast one-row; scoring joins
    * at (doc, DISTINCT bigram) grain, never raw tokens. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val idxs = when(size(col("_ws")) >= 2, sequence(lit(1), size(col("_ws")) - 1))
      .otherwise(array().cast("array<int>"))
    val bigrams = docs
      .select(col(idCol), normWords(col(textCol)).as("_ws"))
      .select(col(idCol), col("_ws"), explode(idxs).as("_i"))
      .select(col(idCol),
        element_at(col("_ws"), col("_i")).as("ctx"),
        element_at(col("_ws"), col("_i") + 1).as("nxt"))
      .where(col("ctx") =!= "" && col("nxt") =!= "")
    val tf = Materialize.pin(bigrams.groupBy(col(idCol), col("ctx"), col("nxt"))
      .agg(count(lit(1)).as("tf")))
    // every model rollup derives from the TYPE-grain bgFreq relation
    // (strictly smaller than the (doc,bigram) tf relation), and the
    // model is assembled at type grain BEFORE touching tf — the former
    // formulation joined the doc-grain relation twice (once per rollup
    // key), paying a doc-grain exchange per join. Integer sums/distincts
    // recombine exactly, so every lp input is bit-identical.
    val bgFreq = Materialize.pin(tf.groupBy(col("ctx"), col("nxt"))
      .agg(sum(col("tf")).as("bg_cnt")))
    val ctxFreq = bgFreq.groupBy(col("ctx")).agg(sum(col("bg_cnt")).as("ctx_cnt"))
    val vocab = bgFreq.agg(countDistinct(col("nxt")).as("v"))
    val model = bgFreq.join(ctxFreq, Seq("ctx"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        log((col("bg_cnt") + lit(1.0)) / (col("ctx_cnt") + col("v"))))
      .select(col("ctx"), col("nxt"), col("lp"))
    tf.join(model, Seq("ctx", "nxt"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        (round(sum(col("tf") * col("lp")), 6) / sum(col("tf"))).as("avg_logprob"))
  }

  /** Corpus-trained INTERPOLATED KNESER-NEY bigram log-probability per
    * document — the smoothing KenLM implements, i.e. the model family the
    * published CCNet filter (Wenzek et al. 2020) actually scores with,
    * replacing [[bigramLogProb]]'s Laplace stand-in. With absolute
    * discount `d`:
    *
    * {{{ P(nxt|ctx) = max(c(ctx,nxt)-d, 0)/c(ctx·)
    *                + (d·N1+(ctx·)/c(ctx·)) · (N1+(·nxt)/B) }}}
    *
    * where `N1+(ctx·)` = distinct continuations of ctx, `N1+(·nxt)` =
    * distinct contexts preceding nxt (the continuation probability —
    * KN's insight: "Francisco" is frequent but follows almost nothing
    * except "San"), and `B` = distinct bigram types. Score = tf-weighted
    * mean log-prob over the doc's bigrams (sum rounded, then divided —
    * the SURVEY §4 rule).
    *
    * Scale shape: identical to [[bigramLogProb]] — ONE corpus explode
    * (pinned), with the refinement that every model rollup
    * derives from the TYPE-grain `bgFreq` relation (strictly smaller than
    * the (doc,bigram) tf relation): c(ctx·) and N1+(ctx·) ride one
    * ctx-keyed pass, N1+(·nxt) one nxt-keyed pass, B a one-row broadcast.
    * Scoring joins at (doc, DISTINCT bigram) grain, never raw tokens. */
  def knLogProb(docs: DataFrame, idCol: String, textCol: String,
                discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount=$discount out of (0,1)")
    val idxs = when(size(col("_ws")) >= 2, sequence(lit(1), size(col("_ws")) - 1))
      .otherwise(array().cast("array<int>"))
    val bigrams = docs
      .select(col(idCol), normWords(col(textCol)).as("_ws"))
      .select(col(idCol), col("_ws"), explode(idxs).as("_i"))
      .select(col(idCol),
        element_at(col("_ws"), col("_i")).as("ctx"),
        element_at(col("_ws"), col("_i") + 1).as("nxt"))
      .where(col("ctx") =!= "" && col("nxt") =!= "")
    val tf = Materialize.pin(bigrams.groupBy(col(idCol), col("ctx"), col("nxt"))
      .agg(count(lit(1)).as("tf")))
    val bgFreq = Materialize.pin(tf.groupBy(col("ctx"), col("nxt"))
      .agg(sum(col("tf")).as("bg_cnt")))
    val ctxStats = bgFreq.groupBy(col("ctx"))
      .agg(sum(col("bg_cnt")).as("ctx_cnt"), count(lit(1)).as("n1_fwd"))
    val contStats = bgFreq.groupBy(col("nxt")).agg(count(lit(1)).as("n1_bwd"))
    val bTypes = bgFreq.agg(count(lit(1)).as("b_types"))
    // parenthesization is load-bearing for cross-engine parity: the
    // oracle re-derives this exact association order. The model (lp per
    // bigram type) is assembled ENTIRELY at type grain — the former
    // formulation joined the doc-grain tf relation three times (ctx-,
    // nxt- and broadcast-keyed), paying a doc-grain exchange per join;
    // now tf crosses exactly one join. Same doubles, same lp.
    val model = bgFreq.join(ctxStats, Seq("ctx"))
      .join(contStats, Seq("nxt"))
      .crossJoin(broadcast(bTypes))
      .withColumn("lp", log(
        (greatest(col("bg_cnt") - lit(discount), lit(0.0)) / col("ctx_cnt")) +
          (((lit(discount) * col("n1_fwd")) / col("ctx_cnt")) *
            (col("n1_bwd") / col("b_types")))))
      .select(col("ctx"), col("nxt"), col("lp"))
    tf.join(model, Seq("ctx", "nxt"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        (round(sum(col("tf") * col("lp")), 6) / sum(col("tf"))).as("avg_logprob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    * every document with the corpus-trained unigram LM
    * ([[unigramLogProb]] — the declared CCNet-perplexity stand-in), then
    * split each language into `nBuckets` equal-count buckets by score —
    * bucket 1 ("head") = most corpus-typical, bucket `nBuckets` ("tail")
    * = least. Downstream mixing then samples head/middle heavily and
    * tail lightly (CCNet's published recipe). Ties and exact boundaries
    * are deterministic: the per-language order is (score DESC, id), so
    * the same corpus always buckets identically on any engine.
    *
    * Scale shape: scoring is [[unigramLogProb]]'s one-explode pattern;
    * attaching the language is one doc-grain hash join (id-keyed, both
    * sides doc-grain — at 100 TB this co-partitions, never skews); the
    * EXACT split is a per-language `ntile` window, i.e. a per-language
    * total sort — right for the oracle and for modest corpora. At real
    * scale use [[perplexityBucketsApprox]]: identical semantics modulo
    * boundary ties, zero sorts. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets: need >= 2 for head/tail to differ")
    // the language rides the LM aggregation keys (carryCols) — no
    // doc-grain join to re-attach it
    val scored = unigramLogProb(docs, idCol, textCol, carryCols = Seq(langCol))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(langCol))
      .orderBy(col("avg_logprob").desc, col(idCol))
    scored
      .withColumn("bucket", ntile(nBuckets).over(w))
      .withColumn("bucket_name",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === nBuckets, "tail")
          .otherwise("middle"))
  }

  /** The 100 TB path for [[perplexityBuckets]]: per-language APPROXIMATE
    * quantile cut points (`percentile_approx`, a shrinking aggregate —
    * one row per language) broadcast back, bucket assignment map-side
    * (`1 + #cuts strictly above the score`, cuts ascending). No window,
    * no per-language sort — the corpus is touched by one aggregation and
    * one broadcast join. Buckets agree with the exact split except for
    * documents tied at (or within sketch error of) a cut point, which is
    * the documented CCNet trade: the thresholds themselves are computed
    * on a sketch. `accuracy` is `percentile_approx`'s knob (higher =
    * tighter cuts, more sketch memory). Degenerate distributions are the
    * other edge of that trade: when over `1/nBuckets` of a language's
    * docs share ONE score, adjacent quantile cuts coincide and a middle
    * bucket can come out structurally EMPTY (every doc jumps head→tail);
    * the exact path splits such ties arbitrarily by id instead. Check
    * per-bucket counts before relying on a mixture that samples a
    * specific bucket. */
  def perplexityBucketsApprox(docs: DataFrame, idCol: String, textCol: String,
                              langCol: String, nBuckets: Int = 3,
                              accuracy: Int = 10000): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets: need >= 2 for head/tail to differ")
    val scored = unigramLogProb(docs, idCol, textCol, carryCols = Seq(langCol))
    // ascending interior quantiles: q_{1/n} .. q_{(n-1)/n}
    val qs = array((1 until nBuckets).map(i =>
      lit(i.toDouble / nBuckets)): _*)
    val cuts = scored.groupBy(col(langCol))
      .agg(percentile_approx(col("avg_logprob"), qs, lit(accuracy)).as("cuts"))
    // bucket 1 = head = HIGHEST score, so count ascending cuts above it
    scored.join(broadcast(cuts), Seq(langCol))
      .withColumn("bucket",
        (lit(1) + size(filter(col("cuts"),
          c => col("avg_logprob") < c))).cast("int"))
      .withColumn("bucket_name",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === nBuckets, "tail")
          .otherwise("middle"))
      .drop("cuts")
  }

  /** Cross-document boilerplate line removal — the C4/RefinedWeb cleanup
    * step: a line whose content appears in at least `minDocs` DISTINCT
    * documents is boilerplate (nav bars, license banners, headers) and is
    * removed from EVERY document; remaining lines are rejoined in their
    * original order. Documents whose every line was boilerplate survive
    * with empty text (the caller decides whether to drop them — that is a
    * filtering policy, not a dedup decision).
    *
    * Scale shape: lines explode map-side with their position; boilerplate
    * detection is one shuffle keyed on the line hash (shrinking to
    * DISTINCT lines); membership is a hash anti-join on the same key
    * (never a window over the corpus); the rebuild groups by document with
    * an in-group `array_sort` — no global ordering anywhere. Skew note: a
    * truly universal line (a banner on billions of docs) makes its `lkey`
    * hot on the anti-join's PROBE side — benign for a broadcast anti-join,
    * and under a shuffled sort-merge anti-join it is AQE's skew-join case
    * (probe rows stream; only the build side must fit). The boilerplate
    * SET itself stays small: one row per distinct line, however many
    * occurrences. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2 (1 would drop every line)")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "pos", "line")
      .where(trim(col("line")) =!= "")
      .withColumn("lkey", md5(lower(trim(col("line")))))
    val boiler = lines.groupBy(col("lkey"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("lkey"))
    val kept = lines.join(boiler, Seq("lkey"), "left_anti")
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("_n_lines"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (coalesce(col("_n_lines"), lit(0L)) - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"))
  }

  /** In-document repetition signals — the Gopher repetition filters (Rae
    * et al. 2021, §A1.1): documents dominated by repeated lines are
    * low-quality (boilerplate loops, scraper glitches, spam). Per doc:
    * `dup_line_frac` = fraction of non-empty lines whose normalized
    * content already occurred in the SAME document, `dup_line_char_frac`
    * = the same fraction weighted by characters — the paper's by-count /
    * by-character pair. Cross-document boilerplate is [[dedupLines]]'s
    * job; these are within-doc FILTER signals (null fracs for line-less
    * docs, the [[quality]] null-at-zero convention).
    *
    * Scale shape: two keyed, shrinking shuffles — (doc, line-content)
    * then doc. No corpus window, and deliberately NOT an array-functions
    * formulation (counting occurrences inside an array column is
    * O(lines²) per document — a 100k-line doc would die; the exploded
    * groupBy is linear and distributes). */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val lines = docs
      .select(col(idCol), explode(split(col(textCol), "\n")).as("_line"))
      .where(trim(col("_line")) =!= "")
      .select(col(idCol), lower(trim(col("_line"))).as("_l"))
      // identity = line HASH so the exchange carries a fixed-width key
      // plus an int, never arbitrary-length line text (the dedupLines
      // lkey convention); length rides as an agg input
      .select(col(idCol), md5(col("_l")).as("_lk"), length(col("_l")).as("_len"))
    val per = lines.groupBy(col(idCol), col("_lk"))
      .agg(count(lit(1)).as("_cnt"), max(col("_len")).as("_len"))
    val sig = per.groupBy(col(idCol))
      .agg(sum(col("_cnt")).as("n_lines"),
        (sum(col("_cnt")) - count(lit(1))).as("n_dup_lines"),
        sum(col("_cnt") * col("_len")).as("_chars"),
        sum((col("_cnt") - 1) * col("_len")).as("_dup_chars"))
    docs.select(col(idCol))
      .join(sig, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
        (col("n_dup_lines").cast("double") /
          when(col("n_lines") =!= 0, col("n_lines"))).as("dup_line_frac"),
        (col("_dup_chars").cast("double") /
          when(col("_chars") =!= 0, col("_chars"))).as("dup_line_char_frac"))
  }

  /** Duplicate n-gram character fraction — the last member of the Gopher
    * repetition family (Rae et al. §A1.1 uses it for n = 5..10, next to
    * [[topGramFraction]]'s top-gram fractions for n = 2..4): per doc, the
    * fraction of word characters covered by a NON-FIRST occurrence of any
    * within-doc duplicated n-gram, overlapping windows counting each
    * position once. Character weight = normalized word length (the same
    * convention on both gate sides).
    *
    * Scale shape: doc-local throughout — the occurrence count/first-
    * occurrence election windows over (doc, wkey), covered positions
    * shrink through a (doc, pos) distinct, and the char rollup is one
    * doc-keyed aggregation. The corpus-global sibling of this machinery
    * is [[dedupSubstrings]]; here nothing crosses a document boundary. */
  def dupNgramStats(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5): DataFrame = {
    require(n >= 2, s"n=$n must be >= 2")
    val starts = when(size(col("_ws")) >= n, sequence(lit(0), size(col("_ws")) - n))
      .otherwise(array().cast("array<int>"))
    val windows = docs
      .select(col(idCol), normWords(col(textCol)).as("_ws"))
      .select(col(idCol), col("_ws"), explode(starts).as("s"))
      .select(col(idCol), col("s"),
        md5(concat_ws(" ", slice(col("_ws"), col("s") + 1, lit(n)))).as("wkey"))
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("wkey"))
    val covered = windows
      .withColumn("_n_occ", count(lit(1)).over(byKey))
      .withColumn("_min_s", min(col("s")).over(byKey))
      .where(col("_n_occ") >= 2 && col("s") =!= col("_min_s"))
      .select(col(idCol),
        explode(sequence(col("s"), col("s") + lit(n - 1))).as("pos"))
      .distinct()
    val toks = docs
      .select(col(idCol), posexplode(normWords(col(textCol))))
      .toDF(idCol, "pos", "tok")
      .where(col("tok") =!= "")
    val totals = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(length(col("tok"))).as("_chars"))
    val dup = toks.join(covered, Seq(idCol, "pos"))
      .groupBy(col(idCol))
      .agg(sum(length(col("tok"))).as("_dup_chars"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(dup, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("_dup_chars"), lit(0L)).cast("double") /
          when(col("_chars") =!= 0, col("_chars"))).as("dup_ngram_char_frac"))
  }

  /** Exact substring deduplication — the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" step, token-granular
    * sibling of [[dedupLines]]: any `windowTokens`-token run whose content
    * occurs at least `minCount` times across the corpus (including twice
    * within one document) is a duplicated substring; every occurrence
    * EXCEPT the canonical first one — lowest (doc, position) — loses its
    * covered tokens, and each document is rebuilt from its surviving
    * tokens in original order. Tokens covered by a canonical occurrence
    * are PROTECTED from removal, so a self-overlapping run ('a a a a')
    * keeps exactly its canonical window instead of eroding to the first
    * token. A long shared run is a chain of overlapping duplicated
    * windows, so the whole run survives verbatim in the canonical
    * document and disappears from every other — the keep-one-copy
    * semantics of the paper, without its suffix array.
    *
    * Scale shape: windows explode map-side (one row per token, the same
    * cost class as the paper's suffix array construction); duplicate
    * detection + canonical election is ONE shuffle keyed on the window
    * hash (count + min(struct(doc, pos)) over wkey partitions, whose
    * width is the duplicate multiplicity — never the corpus); covered
    * positions explode from DROPPED windows only (the duplicated
    * fraction, not the corpus), shrink through a (doc, pos) distinct, and
    * leave via a (doc, pos)-keyed anti-join; the rebuild groups by
    * document with an in-group array_sort — no corpus window, no
    * all-pairs, no global sort. The universal-boilerplate skew note on
    * [[dedupLines]] applies to a window content repeated on billions of
    * docs: hot on the anti-join probe side (AQE skew-join territory), but
    * the duplicate-key relation itself stays one row per distinct window.
    */
  def dedupSubstrings(docs: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int = 50, minCount: Int = 2,
                      preserveCase: Boolean = false): DataFrame = {
    require(windowTokens >= 2, s"windowTokens=$windowTokens must be >= 2")
    require(minCount >= 2, s"minCount=$minCount must be >= 2 (1 would drop all text)")
    val w = windowTokens
    // stride-1 window hashes via the decontaminate index-explode pattern:
    // the generator child is a cheap int sequence; each window string is
    // assembled once per output row from the materialized words array
    val starts = when(size(col("_ws")) >= w, sequence(lit(0), size(col("_ws")) - w))
      .otherwise(array().cast("array<int>"))
    val windows = docs
      .select(col(idCol), normWords(col(textCol)).as("_ws"))
      .select(col(idCol), col("_ws"), explode(starts).as("s"))
      .select(col(idCol), col("s"),
        md5(concat_ws(" ", slice(col("_ws"), col("s") + 1, lit(w)))).as("wkey"))
    // ONE wkey-keyed shuffle elects the canonical occurrence and counts
    // multiplicity — a window function, not a groupBy + join-back, so the
    // window relation is scanned once
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col("wkey"))
    val dup = windows
      .withColumn("_n_occ", count(lit(1)).over(byKey))
      .withColumn("_can", min(struct(col(idCol), col("s"))).over(byKey))
      .where(col("_n_occ") >= minCount)
    // positions covered by a DROPPED occurrence go, UNLESS a canonical
    // occurrence also covers them: a self-overlapping run ('a a a a',
    // w=2 — every window the same content) would otherwise erode its own
    // canonical copy down to the first token, because the dropped
    // occurrences at s=1,2 cover position 1 of the canonical window at
    // s=0. One (doc, pos) aggregation decides both membership and
    // protection
    val covered = dup
      .select(col(idCol),
        (col(idCol) === col("_can")(idCol) && col("s") === col("_can")("s"))
          .as("_is_can"),
        explode(sequence(col("s"), col("s") + lit(w - 1))).as("pos"))
      .groupBy(col(idCol), col("pos"))
      .agg(max(col("_is_can")).as("_prot"))
      .where(!col("_prot"))
      .select(col(idCol), col("pos"))
    // the rebuild tokenization: duplicate DETECTION always keys on
    // normalized windows (case/whitespace noise must not defeat it), but
    // `preserveCase=true` rebuilds clean_text from the ORIGINAL-case
    // whitespace words — positions align 1:1 with normWords because both
    // split the same whitespace-separated word sequence (normWords only
    // case-folds content, never changes word boundaries). This is the
    // publish-path mode: TrainingMix must not case-fold what it publishes.
    val rebuildToks = if (preserveCase) words(col(textCol)) else normWords(col(textCol))
    val toks = docs
      .select(col(idCol), posexplode(rebuildToks))
      .toDF(idCol, "pos", "tok")
      .where(col("tok") =!= "")
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    val totals = toks.groupBy(col(idCol)).agg(count(lit(1)).as("_n_toks"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_tokens_kept"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        (coalesce(col("_n_toks"), lit(0L)) - coalesce(col("n_tokens_kept"), lit(0L)))
          .as("n_tokens_removed"))
  }
}
