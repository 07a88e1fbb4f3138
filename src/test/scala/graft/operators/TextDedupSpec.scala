package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  // doc3 chosen so its shingle signature provably band-collides with doc1
  // under the md5 scheme (jaccard 7/13, est_sim 10/12 — precomputed).
  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  quick brown fox jumps over the lazy dog"), // exact dup after normalize
    (3L, "the quick brown fox jumps over the lazy dog and then it ran away fast"),
    (4L, "completely different words appear here now")
  ).toDF("doc_id", "text")

  test("Dedup.exact groups normalized duplicates") {
    val rows = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(rows(2L) == 1L && rows(1L) == 1L && rows(3L) == 3L && rows(4L) == 4L)
  }

  test("MinHash: identical docs est_sim 1.0; near-dups are candidates") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    val m = cand.map { case (i, j, s) => (i, j) -> s }.toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m((1L, 3L)) == 10.0 / 12.0) // near-dup bucketed, est matches sim
    assert(!m.keySet.exists { case (i, j) => i == 4L || j == 4L })
  }

  test("ngramJaccard verifies true overlap") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 0.3)
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, v) => (i, j) -> v }.toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc3 = doc1 + 6-word tail: 7 shared shingles of 13 union
    assert(math.abs(pairs((1L, 3L)) - 7.0 / 13.0) < 1e-9)
    assert(!pairs.keySet.exists { case (i, j) => i == 4L || j == 4L })
  }

  test("clusters: transitive near-dups collapse to one canonical id") {
    // 1≡2 (exact dup) and 1~3 (near dup) → {1,2,3} one cluster, 4 singleton
    val out = Dedup.clusters(docs, "doc_id", "text", 0.3)
      .select("doc_id", "cluster_id", "is_canonical")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (1L, true))
    assert(out(2L) == (1L, false))
    assert(out(3L) == (1L, false))
    assert(out(4L) == (4L, true))
  }

  test("simhash: identical docs equal, unrelated docs differ") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(4L))
  }

  test("clustersFromEdges labels each component with its minimum id") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val labels = Dedup.clustersFromEdges(ids, edges, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(labels == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true), (6L, 5L, false)))
  }

  test("simhashPairs: banding loses no pair within the hamming threshold (pigeonhole)") {
    val real = spark.read.parquet(s"$sf001/documents.parquet")
    val sigs = Dedup.simhash(real, "doc_id", "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect()
    val expected = (for {
      (i, si) <- sigs.iterator
      (j, sj) <- sigs.iterator if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 3
    } yield (i, j) -> h).toMap
    val got = Dedup.simhashPairs(real, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
      .map { case (i, j, h) => (i, j) -> h }.toMap
    assert(got == expected) // exact: candidates via bands, nothing missed
    assert(expected.nonEmpty, "corpus should contain near-dup pairs")
  }

  test("simhashPairs plan is a bucket-local equi-join, never BroadcastNestedLoop") {
    val real = spark.read.parquet(s"$sf001/documents.parquet")
    val plan = Dedup.simhashPairs(real, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(real, "doc_id", "text", maxHamming = 4)) // needs > 4 bands
  }

  test("simhash bit convention: single-token doc equals its md5-nibble hash") {
    // one token = one vote: the sketch IS the token's 64-bit hash, so this
    // pins the bit convention the DuckDB oracle reads from the hex string
    val d = Seq((1L, "hello")).toDF("doc_id", "text")
    val got = Dedup.simhash(d, "doc_id", "text").select("simhash").as[Long].head()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("hello".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    var expected = 0L
    for (i <- 0 until 64) {
      val nib = Integer.parseInt(hex.substring(i / 4, i / 4 + 1), 16)
      if (((nib >> (i % 4)) & 1) == 1) expected |= 1L << i
    }
    assert(got == expected)
  }

  test("langId predicts marker-dominant language") {
    val d = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "le chat et la maison des amis"),
      (3L, "qwerty zzz xxx")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(d, "text")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "fr", 3L -> "und"))
  }

  test("quality ratios on crafted text") {
    val d = Seq((1L, "abc 123 x!")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(d, "text").collect()(0)
    assert(r.getAs[Int]("n_chars") == 10)
    assert(r.getAs[Int]("n_words") == 3)
    assert(r.getAs[Double]("alpha_ratio") == 0.4)   // a,b,c,x
    assert(r.getAs[Double]("digit_ratio") == 0.3)   // 1,2,3
    assert(r.getAs[Double]("punct_ratio") == 0.1)   // !
    assert(r.getAs[Double]("quality_score") == 0.0) // < 5 words
  }

  test("tokenCounts: regex segmentation") {
    val d = Seq((1L, "Hello42 world!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(d, "text").collect()(0)
    assert(r.getAs[Int]("ws_tokens") == 2)
    assert(r.getAs[Int]("re_tokens") == 4) // hello | 42 | world | !
  }

  test("clean: redacts URLs and emails, counts removals") {
    val d = Seq((1L, "see https://example.com/x and mail bob@test.org  now"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.clean(d, "text").collect()(0)
    assert(r.getAs[Int]("n_urls") == 1 && r.getAs[Int]("n_emails") == 1)
    assert(r.getAs[String]("clean_text") == "see <URL> and mail <EMAIL> now")
  }

  test("corpusStats aggregates per source") {
    val d = Seq(
      (1L, "a b c", "en", "s1"), (2L, "a  b C", "fr", "s1"), (3L, "xyz", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.corpusStats(d, "source", "text", "lang")
      .orderBy("source").collect()
    assert(r(0).getAs[Long]("n_docs") == 2)
    assert(r(0).getAs[Long]("n_langs") == 2)
    assert(r(0).getAs[Long]("n_unique_texts") == 1) // "a b c" ≡ "a  b C" normalized
    assert(r(1).getAs[Long]("n_docs") == 1)
  }

  test("fingerprints stable under whitespace/case noise") {
    val d = Seq((1L, "a b c d"), (2L, "A  b   c d")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d, "text")
      .orderBy("doc_id").select("doc_id", "fp", "mh0").collect()
    assert(fp(0).getAs[String]("fp") == fp(1).getAs[String]("fp"))
  }

  test("gopherSignals: repetition and shape filters discriminate") {
    val d = Seq(
      // clean English prose: keep
      (1L, "the cat sat on the mat and it is a good day in the sun"),
      // same line over and over: dup_line_frac kills it
      (2L, Seq.fill(10)("the cat is in the hat today").mkString("\n")),
      // same word over and over: dup_word_frac kills it
      (3L, ("the " * 40).trim),
      // symbol soup: symbol_word_ratio kills it
      (4L, "the # is ## a ### in ... it ... and ... of ... to #"),
      // numeric table: alpha_word_frac kills it
      (5L, "the 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20 is"),
      // no stopwords: n_stop_hits kills it
      (6L, "quantum flux resonator calibrates phased emitter arrays nicely"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherSignals(d, "text")
      .select("doc_id", "gopher_keep").as[(Long, Boolean)].collect().toMap
    assert(r == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false))
    val sig = TextAnalysis.gopherSignals(d, "text").where($"doc_id" === 2L)
      .select("dup_line_frac").as[Double].head()
    assert(sig == 0.9) // 10 identical lines -> 1 distinct
  }

  test("topGramFraction: looping text scores high, varied text low") {
    val d = Seq(
      (1L, "buy now buy now buy now buy now"), // "buy now"/"now buy" loop
      (2L, "the quick brown fox jumps over a lazy dog"), // all 2-grams unique
      (3L, "one")) // < n words -> no row
      .toDF("doc_id", "text")
    val r = TextAnalysis.topGramFraction(d, "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "top_count", "top_gram_frac")
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 7L, 4L, 4.0 / 7))) // 7 grams, "buy now" x4
    assert(r(2L)._4 == 1.0 / 8)
    assert(!r.contains(3L))
  }

  test("piiRedact: every class redacts and counts, in order") {
    val d = Seq((1L,
      "mail bob@x.io visit https://x.io/a?b=1 call +1 555-123-4567 " +
        "from 192.168.0.1 card 4111111111111111 end")).toDF("doc_id", "text")
    val row = TextAnalysis.piiRedact(d, "text").head()
    assert(row.getAs[Int]("n_emails") == 1 && row.getAs[Int]("n_urls") == 1 &&
      row.getAs[Int]("n_ips") == 1 && row.getAs[Int]("n_phones") == 1 &&
      row.getAs[Int]("n_idnums") == 1)
    assert(row.getAs[String]("redacted_text") ==
      "mail <EMAIL> visit <URL> call <PHONE> from <IP> card <NUM> end")
    // clean text passes through untouched
    val clean = TextAnalysis.piiRedact(
      Seq((2L, "no sensitive content here")).toDF("doc_id", "text"), "text").head()
    assert(clean.getAs[String]("redacted_text") == "no sensitive content here")
    assert(clean.getAs[Int]("n_phones") == 0 && clean.getAs[Int]("n_idnums") == 0)
  }

  test("dedupLines strips cross-document boilerplate, keeps order, keeps emptied docs") {
    val lined = Seq(
      (1L, "unique first line\nCopyright Notice 2024\nmiddle content one\nfooter nav bar"),
      (2L, "copyright notice 2024\nother middle content\nFooter Nav Bar"),
      // doc 3 is ALL boilerplate: must survive with empty text, not vanish
      (3L, "Copyright Notice 2024\nfooter nav bar"),
      // doc 4 repeats a line INSIDE itself only — within-doc repetition is
      // not cross-doc boilerplate and must be kept (both copies)
      (4L, "solo line\nsolo line")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(lined, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_lines_kept", "n_lines_removed")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out(0) == ((1L, "unique first line\nmiddle content one", 2L, 2L)))
    assert(out(1) == ((2L, "other middle content", 1L, 2L)))
    assert(out(2) == ((3L, "", 0L, 2L)))
    assert(out(3) == ((4L, "solo line\nsolo line", 2L, 0L)))
  }

  test("dedupSubstrings: keep-one-copy at token granularity, order-preserving") {
    val docs = Seq(
      // canonical copy of the 8-token run — survives verbatim
      (1L, "a b c d e f g h"),
      // same run embedded mid-document — the run is stripped, context kept
      (2L, "x y a b c d e f g h z"),
      // WITHIN-doc repeat: second copy of "p q r" dropped, first kept
      (3L, "p q r p q r"),
      // shorter than the window: no windows, survives untouched
      (4L, "u v"),
      // case/whitespace noise only — normalization makes it a pure
      // duplicate of doc 1's run, so it empties (keep-one, doc 1 wins)
      (5L, "A  B c D e F g H")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSubstrings(docs, "doc_id", "text",
        windowTokens = 3, minCount = 2)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out(0) == ((1L, "a b c d e f g h", 8L, 0L)))
    assert(out(1) == ((2L, "x y z", 3L, 8L)))
    assert(out(2) == ((3L, "p q r", 3L, 3L)))
    assert(out(3) == ((4L, "u v", 2L, 0L)))
    assert(out(4) == ((5L, "", 0L, 8L)))
  }

  test("dedupSubstrings: preserveCase rebuilds original-case text, detection unchanged") {
    val docs = Seq(
      (1L, "The QUICK Brown Fox Jumps Over It"),
      // case-noised duplicate of doc 1's run — detection is normalized, so
      // it still collapses; only the REBUILD changes under preserveCase
      (2L, "x y the quick BROWN fox jumps over it z")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSubstrings(docs, "doc_id", "text",
        windowTokens = 3, minCount = 2, preserveCase = true)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out(0) == ((1L, "The QUICK Brown Fox Jumps Over It", 7L, 0L)),
      s"canonical case-folded: ${out(0)}")
    assert(out(1) == ((2L, "x y z", 3L, 7L)), s"got ${out(1)}")
  }

  test("dedupSubstrings: self-overlapping runs keep their canonical window intact") {
    // every w=2 window of 'a a a a' hashes the same content; the dropped
    // occurrences at s=1,2 cover position 1 — INSIDE the canonical window
    // at s=0. Without canonical protection the doc erodes to 'a', breaking
    // the keep-one-copy contract
    val docs = Seq(
      (1L, "a a a a"),
      // a DISTINCT self-overlapping run embedded in context (its canonical
      // lives here): canonical 'x x' survives whole, the overlap tail goes
      (2L, "b x x x x c"),
      // pure inter-doc duplicate of doc 1's run: no canonical occurrence
      // here, so it still empties
      (3L, "a a a a")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSubstrings(docs, "doc_id", "text",
        windowTokens = 2, minCount = 2)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out(0) == ((1L, "a a", 2L, 2L)), s"canonical eroded: ${out(0)}")
    assert(out(1) == ((2L, "b x x c", 4L, 2L)), s"got ${out(1)}")
    assert(out(2) == ((3L, "", 0L, 4L)), s"got ${out(2)}")
  }

  test("unigramLogProb: corpus-atypical docs score below typical ones") {
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "alpha beta gamma beta alpha"),
      (3L, "alpha beta gamma alpha beta"),   // identical to doc 1
      (4L, "qq ww ee rr tt")                 // every token is rare
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .select("doc_id", "n_tokens", "avg_logprob")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.values.forall(_._1 == 5L))
    // identical docs, identical scores; the all-rare doc is the outlier
    assert(out(1L) == out(3L))
    assert(out(4L)._2 < out(1L)._2 && out(4L)._2 < out(2L)._2)
    // hand check: common terms have corpus count 4-6 of T=20, V=8;
    // rare terms count 1 -> lp = ln(2/28), well below ln(5/28)
    assert(math.abs(out(4L)._2 - math.log(2.0 / 28.0)) < 1e-6)
  }

  test("repetitionSignals: exact within-doc duplicate-line fractions") {
    val docs = Seq(
      // 'xx' twice + 'yyy' once: 1/3 of lines dup, 2/7 of chars dup
      (1L, "xx\nxx\nyyy"),
      // case/whitespace noise normalizes to a dup; blank lines don't count
      (2L, "Hello\n\n  hello \nworld"),
      // no repetition
      (3L, "a\nb\nc"),
      // no non-empty lines: zero counts, null fracs (quality convention)
      (4L, "\n \n")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_dup_lines", "dup_line_frac",
        "dup_line_char_frac")
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(out(0) == ((1L, 3L, 1L, Some(1.0 / 3), Some(2.0 / 7))))
    // hello(5)*2 + world(5): 10+5=15 chars, 5 dup
    assert(out(1) == ((2L, 3L, 1L, Some(1.0 / 3), Some(5.0 / 15))))
    assert(out(2) == ((3L, 3L, 0L, Some(0.0), Some(0.0))))
    assert(out(3) == ((4L, 0L, 0L, None, None)))
  }

  test("c4Clean: terminal-punctuation/min-words/javascript line rules, page drops") {
    val docs = Seq(
      (1L, "the cat sat down.\nno punct line here\nthe dog ran far!"),
      (2L, "contains javascript code today.\nreal sentence stays put."),
      (3L, "lorem ipsum dolor sit amet.\ngood sentence here."),
      (4L, "function() { return; }\nshort."),
      (5L, "a fine sentence indeed.")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(docs, "doc_id", "text",
        minLineWords = 3, minLinesKept = 2)
      .orderBy("doc_id")
      .select("doc_id", "c4_lines_kept", "c4_lines_removed", "c4_page_keep",
        "clean_text")
      .as[(Long, Int, Int, Boolean, String)].collect().toSeq
    // terminal punctuation required; the javascript line goes; words < 3 go
    assert(out(0) == ((1L, 2, 1, true, "the cat sat down.\nthe dog ran far!")))
    // one survivor < minLinesKept=2 floor -> page dropped
    assert(out(1) == ((2L, 1, 1, false, "real sentence stays put.")))
    // lorem ipsum kills the page even though its lines pass
    assert(out(2) == ((3L, 2, 0, false, "lorem ipsum dolor sit amet.\ngood sentence here.")))
    // brace page + nothing survives
    assert(out(3) == ((4L, 0, 2, false, "")))
    assert(out(4) == ((5L, 1, 0, false, "a fine sentence indeed.")))
  }

  test("dupNgramStats: exact duplicate-5-gram char fractions, overlap counted once") {
    val docs = Seq(
      // 'a b c d e' repeats: the second occurrence covers tokens 5..9,
      // 5 of 10 chars
      (1L, "a b c d e a b c d e"),
      // no within-doc duplicate 5-gram
      (2L, "v w x y z"),
      // self-overlapping repeat ('a' x 7, n=5): windows s=0,1,2 share one
      // gram; non-first s=1,2 cover positions 1..6 — counted ONCE each,
      // 6 of 7 chars
      (3L, "a a a a a a a"),
      // shorter than n: no windows, zero fraction
      (4L, "p q"),
      // empty: zero tokens, null fraction
      (5L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dupNgramStats(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "dup_ngram_char_frac")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out(0) == ((1L, 10L, Some(0.5))))
    assert(out(1) == ((2L, 5L, Some(0.0))))
    assert(out(2) == ((3L, 7L, Some(6.0 / 7))))
    assert(out(3) == ((4L, 2L, Some(0.0))))
    assert(out(4) == ((5L, 0L, None)))
  }

  test("corpusReport: exact data-card arithmetic on a hand corpus") {
    val docs = Seq(
      (1L, "the cat and the dog runs fast"),
      (2L, "The cat and the dog runs  fast"), // normalized dup of 1
      (3L, "x")                               // sub-5-words: quality 0
    ).toDF("doc_id", "text")
    val card = TextAnalysis.corpusReport(docs, "doc_id", "text")
      .as[(String, Double)].collect().toMap
    assert(card("n_docs") == 3.0 && card("n_unique_texts") == 2.0)
    assert(card("dup_rate") == 0.333333) // round(1 - 2/3, 6)
    assert(card("total_tokens") == 15.0 && card("mean_doc_tokens") == 5.0)
    // quality = alpha ratio here (no punct): doc 1 = 23/29, doc 2 = 23/30
    // (its extra space counts toward raw length), doc 3 = 0
    val expected = BigDecimal(23.0 / 29 + 23.0 / 30)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble / 3
    assert(math.abs(card("mean_quality") - expected) < 1e-12)
  }

  test("bigramLogProb: atypical TRANSITIONS score low even when unigrams are common") {
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta gamma"),
      (2L, "alpha beta gamma alpha beta gamma"),
      (3L, "alpha beta gamma alpha beta gamma"),
      // same unigrams, reversed transitions — unigram scoring can't see
      // the difference; bigram scoring must
      (4L, "gamma beta alpha gamma beta alpha")
    ).toDF("doc_id", "text")
    val bi = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
      .select("doc_id", "avg_logprob").as[(Long, Double)].collect().toMap
    assert(bi(4L) < bi(1L),
      s"reversed-transition doc must score below typical: ${bi(4L)} vs ${bi(1L)}")
    val uni = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .select("doc_id", "avg_logprob").as[(Long, Double)].collect().toMap
    assert(math.abs(uni(4L) - uni(1L)) < 1e-9,
      "unigram scoring is blind to transitions (same bag of words)")
  }

  test("knLogProb: continuation probability separates equally-frequent tokens; exact vs brute-force") {
    // 'francisco' and 'the' have IDENTICAL unigram counts (11 each), but
    // 'francisco' follows almost nothing except 'san' while 'the' follows
    // many contexts — Kneser-Ney's continuation term must prefer
    // 'zz the' over 'zz francisco' (both singleton bigrams, same ctx);
    // Laplace bigram scoring is blind to it (same bg_cnt, same ctx_cnt)
    val docsSeq = (1 to 10).map(i => (100L + i, "san francisco")) ++
      (1 to 10).map(i => (200L + i, s"ctx$i the")) ++
      Seq((1L, "zz the"), (2L, "zz francisco"))
    val corpus = docsSeq.toDF("doc_id", "text")
    val out = TextAnalysis.knLogProb(corpus, "doc_id", "text")
      .select("doc_id", "n_bigrams", "avg_logprob")
      .as[(Long, Long, Double)].collect().map(r => (r._1, (r._2, r._3))).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L)
    assert(out(1L)._2 > out(2L)._2,
      s"KN must score 'zz the' above 'zz francisco': ${out(1L)._2} vs ${out(2L)._2}")
    val laplace = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
      .select("doc_id", "avg_logprob").as[(Long, Double)].collect().toMap
    assert(math.abs(laplace(1L) - laplace(2L)) < 1e-12,
      "Laplace is blind to continuation diversity (same counts both docs)")

    // exact arithmetic: brute-force the interpolated-KN formula in Scala
    val toks = docsSeq.map { case (id, t) => id -> t.split(" ").toSeq }
    val docBgs = toks.map { case (id, ws) =>
      id -> ws.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))).toSeq }
    val bgCnt = docBgs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val ctxCnt = bgCnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1Fwd = bgCnt.groupBy(_._1._1).view.mapValues(_.size).toMap
    val n1Bwd = bgCnt.groupBy(_._1._2).view.mapValues(_.size).toMap
    val b = bgCnt.size
    def lp(bg: (String, String)): Double = math.log(
      (math.max(bgCnt(bg) - 0.75, 0.0) / ctxCnt(bg._1)) +
        (((0.75 * n1Fwd(bg._1)) / ctxCnt(bg._1)) * (n1Bwd(bg._2).toDouble / b)))
    docBgs.foreach { case (id, bgs) =>
      val expected = BigDecimal(bgs.map(lp).sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble / bgs.size
      assert(math.abs(out(id)._2 - expected) < 1e-12,
        s"doc $id: spark=${out(id)._2} reference=$expected")
    }
  }

  test("winnowFingerprints: the w+k-1 guarantee, rightmost ties, disjoint docs disjoint") {
    // k=4, w=5: any shared run of >= 8 tokens must share a fingerprint
    val shared = (1 to 8).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha bravo charlie delta echo $shared foxtrot golf"),
      (2L, s"$shared zulu yankee xray whiskey victor uniform tango sierra"),
      (3L, "completely different words with no overlap at all in here")
    ).toDF("doc_id", "text")
    val byDoc = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
      .select("doc_id", "fp").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "8-token shared run must produce a shared fingerprint (the winnowing guarantee)")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty)

    // all-identical grams: every window's min ties on hash, the paper's
    // rule picks the RIGHTMOST — window starts 1..3 select positions 5,6,7
    val rep = Seq((9L, Array.fill(10)("x").mkString(" "))).toDF("doc_id", "text")
    val picks = TextAnalysis.winnowFingerprints(rep, "doc_id", "text")
      .select("pos").as[Int].collect().toSet
    assert(picks == Set(5, 6, 7), s"rightmost tie-break: got $picks")

    // a doc shorter than one full window still fingerprints (one window
    // over everything); a doc under k tokens yields nothing
    val short = Seq((10L, "only five words right here"), (11L, "too few now"))
      .toDF("doc_id", "text")
    val sfp = TextAnalysis.winnowFingerprints(short, "doc_id", "text")
      .select("doc_id").as[Long].collect()
    assert(sfp.count(_ == 10L) == 1 && !sfp.contains(11L))
  }

  test("tfidfTopTerms: rare terms outrank ubiquitous ones; exactly k rows per doc") {
    val corpus = Seq(
      (1L, "common zebra"),
      (2L, "common words here again"),
      (3L, "common words here too"),
      (4L, "common words here too")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", k = 2)
    val byDoc = out.select("doc_id", "term", "rank").as[(Long, String, Int)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // doc 1: 'zebra' (df=1) beats 'common' (df=4) despite tf 1 vs 3
    assert(byDoc(1L).head == "zebra")
    assert(byDoc.forall(_._2.size == 2))
    // deterministic tie-break: docs 3 and 4 are identical -> identical ranking
    assert(byDoc(3L) == byDoc(4L))
  }

  test("ngramContainment finds a short-inside-long pair that Jaccard misses") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val excerpt = (20 to 29).map(i => s"tok$i").mkString(" ") // 10 of 60 words
    val docs = Seq((1L, base), (2L, excerpt),
      (3L, (100 to 140).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.ngramContainment(docs, "doc_id", "text", threshold = 0.9)
      .select("i", "j", "containment_i", "containment_j")
      .as[(Long, Long, Double, Double)].collect()
    assert(pairs.length == 1)
    val (i, j, ci, cj) = pairs.head
    assert((i, j) == (1L, 2L))
    assert(cj == 1.0, "every excerpt shingle is in the container")
    assert(ci < 0.2, "the container is NOT contained in the excerpt")
    // the symmetric Jaccard path at the same bar finds nothing: the pair
    // is invisible to a Jaccard threshold (and to minhash banding)
    val jac = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.9).count()
    assert(jac == 0L)
  }

  test("ngramContainment == plain-Scala reference on random corpora") {
    val rnd = new scala.util.Random(61)
    for (_ <- 1 to 5) {
      val docs = (1L to 10L).map(i =>
        (i, List.fill(8 + rnd.nextInt(25))(s"w${rnd.nextInt(15)}").mkString(" ")))
      def shOf(t: String) = t.split(" ").toList.sliding(3)
        .filter(_.size == 3).map(_.mkString(" ")).toSet
      val expected = (for {
        (i, ti) <- docs; (j, tj) <- docs if i < j
        si = shOf(ti); sj = shOf(tj)
        inter = (si & sj).size
        if si.nonEmpty && sj.nonEmpty
        ci = inter.toDouble / si.size; cj = inter.toDouble / sj.size
        if math.max(ci, cj) >= 0.5
      } yield (i, j) -> ((ci, cj))).toMap
      val got = Dedup.ngramContainment(docs.toDF("doc_id", "text"),
          "doc_id", "text", threshold = 0.5, maxDf = 10)
        .as[(Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      // maxDf = corpus size → no candidate is ever df-pruned here
      assert(got == expected, s"docs: $docs")
    }
  }

  test("htmlExtract: script/style content vanishes, entities decode in spec order") {
    val docs = Seq(
      (1L, "<html><script>var secret = 1;</script><p>Hello <b>world</b></p></html>"),
      (2L, "<style>body { background: url(x) }</style>Tom &amp; Jerry"),
      (3L, "a &amp;lt;tag&amp;gt; literal"),   // &amp; LAST: no double decode
      (4L, "no markup at all"),
      (5L, "<SCRIPT TYPE=\"a\">upper</SCRIPT>case")) // (?i) on the block regex
      .toDF("doc_id", "text")
    val out = TextAnalysis.htmlExtract(docs, "text")
      .select("doc_id", "n_scripts", "n_tags", "extracted_text")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 == "Hello world" && out(1L)._2 == 1 && out(1L)._3 == 6)
    assert(out(2L)._4 == "Tom & Jerry" && out(2L)._2 == 1)
    assert(out(3L)._4 == "a &lt;tag&gt; literal") // spec-correct single decode
    assert(out(4L)._4 == "no markup at all" && out(4L)._2 == 0 && out(4L)._3 == 0)
    assert(out(5L)._4 == "case" && out(5L)._2 == 1)
  }

  test("chunkDocs == plain-Scala sliding reference across sizes and overlaps") {
    val rnd = new scala.util.Random(53)
    for ((chunk, ov) <- Seq((5, 0), (5, 2), (8, 7), (40, 8))) {
      val stride = chunk - ov
      val docs = (1L to 30L).map(i =>
        (i, List.fill(rnd.nextInt(100))(s"w${rnd.nextInt(20)}").mkString(" ")))
      val expected = docs.flatMap { case (id, text) =>
        val ws = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        if (ws.isEmpty) Nil
        else {
          val nChunks = math.ceil(math.max(ws.length - ov, 1) / stride.toDouble).toInt
          (0 until nChunks).map { c =>
            val piece = ws.slice(c * stride, c * stride + chunk)
            (id, c, piece.mkString(" "), piece.length)
          }
        }
      }.toSet
      val got = TextAnalysis.chunkDocs(
          docs.toDF("doc_id", "text"), "doc_id", "text", chunk, ov)
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
        .as[(Long, Int, String, Int)].collect().toSet
      assert(got == expected, s"chunk=$chunk overlap=$ov")
    }
  }

  test("chunkDocs edges: empty doc yields no rows; short doc yields one full-copy chunk") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "only three words"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, "doc_id", "text", 10, 2)
      .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
      .as[(Long, Int, String, Int)].collect().toSeq
    assert(out == Seq((3L, 0, "only three words", 3)))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(docs, "doc_id", "text", 10, overlap = 10)
    }
  }
}
