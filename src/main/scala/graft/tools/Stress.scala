package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.{Dedup, Pq, Scd2, Sessionize, Similarity}

/** Scale-shape stress: replicate the test corpus 20-50× and run the
  * dedup/ANN paths end-to-end. Verifies the operators' complexity claims
  * empirically (bucket-local joins, map-side sketches) — the shapes that
  * must hold at 100 TB. `runMain graft.tools.Stress`.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"${(System.nanoTime() - t0) / 1e9}%7.1fs  $name")
      r
    }

    // 100k docs: 20 replicas of the 5k corpus; replica 0 keeps the original
    // text, others get a per-replica token appended (near-dups of the
    // original, exact dups of nothing) → realistic cluster structure.
    val docs = Tables.read(spark, "/root/testdata/sf0.1/documents.parquet")
    // pinned (not persisted): the corpus is FABRICATED via a crossJoin,
    // and a cached plan would leak that BroadcastNestedLoop into every
    // downstream executedPlan string, tripping the plan-shape asserts
    // below on the wrong join.
    val big = Materialize.pinNow(docs.crossJoin(spark.range(20).select(col("id").as("rep")))
      .select(
        (col("doc_id") * 20 + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("rep"))).as("text"))
      .repartition(32))
    println(s"docs: ${big.count()}")

    val cand = time("minhashCandidates on 100k docs") {
      val c = Dedup.minhashCandidates(big, "doc_id", "text").persist()
      println(s"   candidates: ${c.count()}")
      c
    }
    time("ngram-verified pairs") {
      println("   verified>=0.8: " +
        Dedup.ngramJaccard(big, "doc_id", "text", 0.8).count())
    }
    time("clusters on 100k docs") {
      val cl = Dedup.clusters(big, "doc_id", "text", 0.8)
      println("   clusters: " + cl.select("cluster_id").distinct().count() +
        " canonical: " + cl.where(col("is_canonical")).count())
    }
    time("exact dedup on 100k docs") {
      println("   groups: " + Dedup.exact(big, "doc_id", "text")
        .select("fp").distinct().count())
    }
    time("corpus_curate end-to-end on 100k docs") {
      val out = graft.operators.Curate.curate(big, "doc_id", "text",
        minQuality = 0.5, lang = Some("en"), jaccardThreshold = 0.8)
      val byReason = out.groupBy("reason").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"   verdicts: $byReason")
    }
    time("decontaminate 100k docs vs 200-doc eval set") {
      val eval = big.where(col("doc_id") % 500 === 0)
      val hits = graft.operators.CorpusOps.decontaminate(
        big, eval, "doc_id", "text", "doc_id", "text", n = 3, minOverlap = 2)
        .where(col("doc_id") =!= col("eval_id"))
      val plan = hits.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), "decontaminate went all-pairs!")
      println("   contaminated pairs: " + hits.count() +
        " (gram equi-join; doc x eval space = " + (100000L * 200L) + ")")
    }
    time("stratifiedSample + packShards over 100k docs") {
      val sampled = graft.operators.CorpusOps.stratifiedSample(
        big.withColumn("src", (col("doc_id") % 16).cast("string")),
        "doc_id", "src", Map("0" -> 0.9, "1" -> 0.1), defaultRate = 0.5)
      val packed = graft.operators.CorpusOps.packShards(
        sampled, "doc_id", "text", "src", budgetTokens = 100000L)
      println("   sampled: " + sampled.count() + " shards: " +
        packed.select("src", "shard_id").distinct().count())
    }
    time("simhashPairs (hamming<=3) on 100k docs") {
      val p = Dedup.simhashPairs(big, "doc_id", "text", maxHamming = 3)
      val plan = p.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), "simhashPairs went all-pairs!")
      println("   pairs: " + p.count() + " (band equi-join; all-pairs space = " +
        (100000L * 99999L / 2) + ")")
    }
    time("ngramContainment (>=0.9, maxDf=25) on 100k docs") {
      // replicas make ~20-doc families; the df cap bounds the rare-gram
      // join's per-key fan-out at 25² while family containment survives
      val p = Dedup.ngramContainment(big, "doc_id", "text",
        threshold = 0.9, maxDf = 25)
      val plan = p.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), "containment went all-pairs!")
      println("   pairs: " + p.count() + " (df-capped shingle equi-join; " +
        "all-pairs space = " + (100000L * 99999L / 2) + ")")
    }
    time("tfidfTopTerms (k=5) on 100k docs") {
      val tt = graft.operators.TextAnalysis.tfidfTopTerms(big, "doc_id", "text", k = 5)
      println("   rows: " + tt.count())
    }
    time("dedupLines on 100k docs (8-word synthesized lines)") {
      import graft.functions.TextFunctions.normWords
      val ws = normWords(col("text"))
      val lined = big.select(col("doc_id"),
        concat_ws("\n", transform(
          sequence(lit(0L), floor((size(ws) - lit(1)) / lit(8.0)).cast("long")),
          i => concat_ws(" ", slice(ws, (i * lit(8L) + lit(1L)).cast("int"), lit(8)))))
          .as("text"))
      val out = graft.operators.TextAnalysis.dedupLines(lined, "doc_id", "text")
      val removed = out.agg(sum(col("n_lines_removed"))).head().getLong(0)
      println(s"   boilerplate lines removed: $removed")
    }
    time("dedupSubstrings (12-token windows) on 100k docs") {
      // replicas are near-verbatim copies, so virtually every window of a
      // non-canonical replica is duplicated — the WORST duplication case:
      // the covered-position explode runs over ~the whole corpus. The
      // shape must stay hash-keyed: window election partitioned by wkey
      // (never an unpartitioned window), membership an anti-join.
      val out = graft.operators.TextAnalysis.dedupSubstrings(
        big, "doc_id", "text", windowTokens = 12)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), "dedupSubstrings went all-pairs!")
      // assert on rendered Window nodes ('No Partition Defined' is only a
      // log warning): every one must carry the wkey partition spec
      val winLines = plan.split("\n").filter(_.contains("Window "))
      assert(winLines.nonEmpty && winLines.forall(
          _.contains("windowspecdefinition(wkey#")),
        "dedupSubstrings window lost its wkey partitioning!")
      val removed = out.agg(sum(col("n_tokens_removed"))).head().getLong(0)
      println(s"   duplicated tokens removed: $removed")
    }
    time("repetitionSignals on 100k docs (8-word lines, every 3rd echoed)") {
      // within-doc duplicate-line fractions: the exchange must carry the
      // fixed-width line HASH, never raw line text
      import graft.functions.TextFunctions.normWords
      val ws = normWords(col("text"))
      val lineArr = transform(
        sequence(lit(0L), floor((size(ws) - lit(1)) / lit(8.0)).cast("long")),
        i => concat_ws(" ", slice(ws, (i * lit(8L) + lit(1L)).cast("int"), lit(8))))
      val lined = big.select(col("doc_id"),
        concat_ws("\n", concat(lineArr,
          filter(lineArr, (_, i) => i % lit(3) === lit(0)))).as("text"))
      val out = graft.operators.TextAnalysis.repetitionSignals(
        lined, "doc_id", "text")
      val dup = out.agg(sum(col("n_dup_lines"))).head().getLong(0)
      println(s"   within-doc duplicate lines: $dup")
    }
    time("dupNgramStats (n=5) on 100k docs, first 16 words echoed") {
      // doc-local duplicate-5-gram char fractions; the election window
      // must stay (doc, wkey)-partitioned — never corpus-wide
      import graft.functions.TextFunctions.normWords
      val ws = normWords(col("text"))
      val echoed = big.select(col("doc_id"),
        concat_ws(" ", concat(ws, slice(ws, 1, 16))).as("text"))
      val out = graft.operators.TextAnalysis.dupNgramStats(
        echoed, "doc_id", "text", n = 5)
      val plan = out.queryExecution.executedPlan.toString
      val winLines = plan.split("\n").filter(_.contains("Window "))
      assert(winLines.nonEmpty && winLines.forall(
          _.contains("windowspecdefinition(doc_id#")),
        "dupNgramStats window lost its doc-local partitioning!")
      val pos = out.where(col("dup_ngram_char_frac") > 0).count()
      println(s"   docs with positive dup-5-gram fraction: $pos")
    }
    time("BpeTokens (40-merge table) over 100k docs") {
      // trained once driver-side on a 500-doc sample, applied distributed:
      // the fused expression + per-thread word cache must hold throughput
      // on a corpus where every word is a cache hit after the first row
      val merges = graft.functions.Bpe.trainOn(
        big.orderBy("doc_id"), "text", numMerges = 40, maxDocs = 500).toSeq
      val n = big.select(sum(size(
        graft.functions.TextFunctions.bpeTokens(col("text"), merges))))
        .head().getLong(0)
      println(s"   bpe tokens: $n")
    }
    time("fuzzyJoin selfJoin k=1 over 2.02M entity names (20k planted twins)") {
      // the scale claim: symmetric-deletion blocking turns the 2×10^12
      // all-pairs levenshtein join into one variant equi-join — ~20
      // map-side keys per name, candidates ≈ the true answer
      val base = spark.range(2000000L).select(col("id"),
        concat_ws("_",
          substring(md5(col("id").cast("string")), 1, 6),
          substring(md5((col("id") + 7).cast("string")), 1, 6),
          (col("id") % 1000).cast("string")).as("name"))
      // twins: first char substituted with 'z' (hex never 'z' → dist 1)
      val twins = base.where(col("id") % 100 === 0).select(
        (col("id") + 2000000L).as("id"),
        concat(lit("z"), substring(col("name"), 2, 100)).as("name"))
      val names = Materialize.pinNow(base.unionByName(twins).repartition(32))
      val pairs = graft.operators.FuzzyJoin
        .selfJoin(names, "id", "name", maxDist = 1).count()
      assert(pairs >= 20000, s"planted twins missed: $pairs")
      println(s"   pairs: $pairs (2.02M names — all-pairs would be 2.0e12 " +
        "levenshtein evals; blocking emitted ~20 keys/name)")
    }
    time("incremental dedup: 5k-doc shard vs 95k-doc fingerprint store") {
      val storePath = java.nio.file.Files
        .createTempDirectory("graft-stress-store").toString
      graft.operators.DedupStore.save(
        big.where(col("doc_id") % 20 =!= 0), "doc_id", "text", storePath)
      val shard = big.where(col("doc_id") % 20 === 0)
      val cand = graft.operators.DedupStore.incrementalCandidates(
        shard, "doc_id", "text",
        graft.operators.DedupStore.load(spark, storePath))
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), "incremental dedup went all-pairs!")
      println("   candidate pairs: " + cand.count() +
        " (band equi-join vs store; history x history never forms)")
    }
    time("incremental dedup via bloom prefilter (same shard/store)") {
      // this corpus is the prefilter's WORST case — every shard doc is a
      // near-dup of history, so most bands genuinely hit — and the value
      // under test is the invariant: candidates identical to the plain
      // path while novel bands (see DedupStoreSpec) die at the scan
      val storePath = java.nio.file.Files
        .createTempDirectory("graft-stress-bloom").toString
      val hist = big.where(col("doc_id") % 20 =!= 0)
      graft.operators.DedupStore.save(hist, "doc_id", "text", storePath)
      val store = graft.operators.DedupStore.load(spark, storePath)
      val bloom = graft.operators.DedupStore.bloomOf(store,
        expectedItems = 95000L * 4)
      val shard = big.where(col("doc_id") % 20 === 0)
      val n = graft.operators.DedupStore.incrementalCandidatesBloom(
        shard, "doc_id", "text", store, bloom).count()
      println(s"   candidate pairs: $n (== plain path; bloom = " +
        f"${bloom.length / 1048576.0}%.1f MiB for 380k band keys)")
    }
    time("mixturePlan + mixtureSample over 100k docs") {
      val strat = big.withColumn("src", (col("doc_id") % 4).cast("string"))
      val plan = graft.operators.CorpusOps.mixturePlan(strat, "text", "src",
        Map("0" -> 0.5, "1" -> 0.3, "2" -> 0.2), budgetTokens = 2000000L)
      val sampled = graft.operators.CorpusOps.mixtureSample(strat, "doc_id", "src", plan)
      println("   sampled: " + sampled.count())
    }
    time("perplexityBucketsApprox on 100k docs (map-side CCNet split)") {
      // the scale path's claim: NO window, NO per-language sort — cut
      // points are a per-language aggregate broadcast back, assignment a
      // map-side array scan
      val lang = big.withColumn("lang", (col("doc_id") % 3).cast("string"))
      val out = graft.operators.TextAnalysis.perplexityBucketsApprox(
        lang, "doc_id", "text", "lang")
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.split("\n").exists(_.contains("Window ")),
        "approx bucketing leaked a window/sort!")
      val byBucket = out.groupBy("bucket").count().orderBy("bucket").collect()
        .map(r => s"b${r.getInt(0)}=${r.getLong(1)}").mkString(" ")
      println(s"   $byBucket (window-free plan)")
    }
    time("contaminationReport: 100k docs vs 200-doc eval set") {
      val eval = big.where(col("doc_id") % 500 === 0)
      val rep = graft.operators.CorpusOps.contaminationReport(
        big, eval, "doc_id", "text", "doc_id", "text", n = 3, minOverlap = 2,
        excludeSelf = true)
      val plan = rep.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), "contamination report went all-pairs!")
      val hit = rep.where(col("contaminated")).count()
      println(s"   contaminated eval samples: $hit of 200 (output grain = |eval|)")
    }
    time("chunkDocs (40 tokens, 8 overlap) on 100k docs") {
      val out = graft.operators.TextAnalysis.chunkDocs(
        big, "doc_id", "text", chunkTokens = 40, overlap = 8)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"chunking must ride the scan, found a shuffle:\n$plan")
      println("   chunks: " + out.count() + " (map-side explode, zero exchanges)")
    }
    time("gopher topGramFraction on 100k docs (full gram shuffle)") {
      val tg = graft.operators.TextAnalysis.topGramFraction(big, "doc_id", "text")
      // the claim: two shrinking shuffles — (doc, gram) counts, then per-doc
      // rollup — and nothing else. A third exchange means the gram explode
      // leaked a shuffle.
      val nExchanges = "Exchange hashpartitioning".r
        .findAllIn(tg.queryExecution.executedPlan.toString).length
      assert(nExchanges == 2, s"topGramFraction should shuffle exactly twice, saw $nExchanges")
      println("   docs scored: " + tg.count() + s" (exchanges: $nExchanges)")
    }

    // 2M events over 30k users: 20 replicas with DISJOINT user spaces, so
    // per-user window width stays the original ~670 events — replication
    // widens the shuffle, not the window, which is how real user growth
    // behaves.
    val ev = graft.queries.StarQueries.events(spark, "/root/testdata/sf0.1")
    val bigEv = Materialize.pinNow(ev.crossJoin(spark.range(20).select(col("id").as("rep")))
      .select((col("user_id") * 20 + col("rep")).as("user_id"),
        col("ts"), col("event_type"))
      .repartition(32))
    println(s"events: ${bigEv.count()}")
    time("funnel view->click->purchase over 2M events (per-step 12h windows)") {
      val f = graft.operators.Behavior.funnel(bigEv, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), within = Some("12 hours"),
        anchor = graft.operators.Behavior.AnchorPrevStep)
      println("   " + f.orderBy("step").collect()
        .map(r => s"${r.getString(1)}=${r.getLong(2)}").mkString(" "))
    }
    time("cohortRetention over 2M events") {
      val c = graft.operators.Behavior.cohortRetention(bigEv, "user_id", "ts")
      println("   cohort cells: " + c.count())
    }
    time("sessionize 2M events / 30k users (30-min gap)") {
      // per-user window only: replication widened the key space, so the
      // per-partition sort stays the original ~670 events per user
      val s = Sessionize.sessionize(
        bigEv.withColumn("value", (col("user_id") % 100).cast("double")),
        "user_id", "ts", "value", 30, "event_type")
      val nEx = "Exchange hashpartitioning".r
        .findAllIn(s.queryExecution.executedPlan.toString).length
      println(s"   sessions: ${s.count()} (hash exchanges: $nEx)")
    }
    time("scd2 fromHistory over 2M events (state = event_type)") {
      // change-detection + interval build are both (user)-keyed windows;
      // version count is bounded by events, work linear per user
      val d = Scd2.fromHistory(bigEv, "user_id", "ts", "event_type",
        Seq("event_type"))
      println("   versions: " + d.count())
    }
    time("pitJoin: 2M facts against their own 1.6M-version SCD2 dim") {
      // half-open [eff, exp) intervals tile each user's timeline from the
      // first event on, so EVERY fact matches exactly one version — the
      // count is the correctness oracle at this scale
      val dim = Scd2.fromHistory(bigEv, "user_id", "ts", "event_type",
          Seq("event_type"))
        .select(col("user_id").as("d_user"), col("effective_ts"),
          col("expiration_ts"))
      val joined = graft.operators.PointInTime.pitJoin(
        bigEv.select(col("user_id"), col("ts")), dim, "user_id", "d_user", "ts")
      val n = joined.count()
      assert(n == 2000000L, s"each fact must match exactly one version, got $n")
      println(s"   matched: $n of 2000000 (key equi-join + residual interval filter)")
    }
    time("Z-order 2M events on (user_id, value): layout write + skip ratio, 32 files") {
      val root = java.nio.file.Files.createTempDirectory("graft-stress-z").toString
      // a value dimension independent of user, so 2-D skipping has to come
      // from the curve, not a lucky correlation
      val data = bigEv.select(col("user_id"),
        pmod(hash(col("ts")), lit(1000)).cast("double").as("value"), col("ts"))
      data.repartitionByRange(32, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(s"$root/naive")
      graft.operators.ZOrder.writeClustered(data, Seq("user_id", "value"),
        s"$root/z", nFiles = 32)
      val qs = data.selectExpr("CAST(user_id AS DOUBLE) AS u", "value")
        .stat.approxQuantile(Array("u", "value"), Array(0.2, 0.35, 0.1, 0.3), 0.001)
      def scanRows(p: String): Long = {
        val q = Tables.read(spark, p).where(
          col("user_id").between(qs(0)(0).toLong, qs(0)(1).toLong) &&
          col("value").between(qs(1)(2), qs(1)(3)))
        q.collect()
        q.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.head.metrics("numOutputRows").value
      }
      val naive = scanRows(s"$root/naive")
      val z = scanRows(s"$root/z")
      assert(z * 2 <= naive, s"z-order skipped too little: $z of $naive")
      println(f"   scan materialized: naive=$naive z=$z " +
        f"(${z.toDouble / naive}%.2f of naive; ~3%% selectivity box)")
    }
    time("Scd2Stream: 2M-event CDC feed in 4 out-of-order batches + 1 point update") {
      val root = java.nio.file.Files.createTempDirectory("graft-stress-cdc").toString
      val feed = bigEv.select(col("user_id"), col("ts"), col("event_type"))
      def apply(batch: org.apache.spark.sql.DataFrame, id: Long): Double = {
        val t0 = System.nanoTime()
        graft.streaming.Scd2Stream.applyBatch(batch, id, s"$root/raw", s"$root/dim",
          "user_id", "ts", "event_type", tieBreak = Seq("event_type"), nBuckets = 64)
        (System.nanoTime() - t0) / 1e9
      }
      // 4 bulk batches split by hash(ts): every batch arrives out of order
      // relative to event time, and every batch touches ~all 64 buckets —
      // the worst case (full-dim rebuild per batch)
      val bulk = (0 until 4).map { b =>
        apply(feed.where(pmod(hash(col("ts")), lit(4)) === b), b.toLong)
      }
      // a single-user point update touches ONE bucket: the rebuild prunes
      // to 1/64th of the raw log
      val oneUser = Materialize.pinNow(feed.orderBy("user_id").limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 400 DAYS")))
      val tPoint = apply(oneUser, 4L)
      val dim = graft.streaming.Scd2Stream.readDim(spark, s"$root/dim")
      val want = Scd2.fromHistory(
        feed.unionByName(oneUser), "user_id", "ts", "event_type",
        tieBreak = Seq("event_type"))
      val (nd, nw) = (dim.count(), want.count())
      assert(nd == nw, s"incremental dim $nd != full rebuild $nw")
      // raw-log compaction: one observation per (key, change) — the
      // re-read every future rebuild pays shrinks to the version count
      val rawRowsBefore = Tables.read(spark, s"$root/raw").count()
      val tc0 = System.nanoTime()
      graft.streaming.Scd2Stream.compactBuckets(spark, s"$root/raw",
        0L until 64L, "user_id", "ts", "event_type",
        tieBreak = Seq("event_type"))
      val tCompact = (System.nanoTime() - tc0) / 1e9
      val rawRowsAfter = Tables.read(spark, s"$root/raw").count()
      assert(rawRowsAfter < rawRowsBefore,
        s"compaction did not shrink the log: $rawRowsAfter vs $rawRowsBefore")
      // a post-compaction point update must still match the full rebuild
      val oneUser2 = Materialize.pinNow(
        oneUser.withColumn("ts", col("ts") + expr("INTERVAL 1 DAYS")))
      val tPoint2 = apply(oneUser2, 5L)
      val nd2 = graft.streaming.Scd2Stream.readDim(spark, s"$root/dim").count()
      val nw2 = Scd2.fromHistory(
        feed.unionByName(oneUser).unionByName(oneUser2),
        "user_id", "ts", "event_type", tieBreak = Seq("event_type")).count()
      assert(nd2 == nw2, s"post-compaction dim $nd2 != full rebuild $nw2")
      println(f"   bulk batches: ${bulk.map(t => f"$t%.1f").mkString("/")}s " +
        f"point update: $tPoint%.1fs versions: $nd (== full-history rebuild); " +
        f"compaction $tCompact%.1fs shrank raw $rawRowsBefore -> $rawRowsAfter " +
        f"rows (${(100.0 * rawRowsAfter / rawRowsBefore).round}%%), " +
        f"post-compaction point update $tPoint2%.1fs (== full rebuild)")
    }
    time("datamart maintenance: 2M-row fact — one-day delta vs full rebuild") {
      // the reference's nightly loop at scale: maintaining both datamarts
      // for ONE arrived day must cost the day, not the warehouse.
      // fact: 2M lines / ~667k orders / 400 days / 30k customers / 50 parts
      val root = java.nio.file.Files.createTempDirectory("graft-stress-dm").toString
      val fact = Materialize.pinNow(spark.range(2000000L).select(
          (col("id") / 3).cast("long").as("order_id"),
          date_add(lit("1995-01-01").cast("date"),
            ((col("id") / 3) % 400).cast("int")).as("order_date"),
          concat(lit("c"),
            ((col("id") / 3) % 30000).cast("long").cast("string")).as("customer_sk"),
          concat(lit("p"), (col("id") % 50).cast("string")).as("part_sk"),
          ((col("id") % 7) + 1).cast("double").as("quantity"),
          ((col("id") % 1000) + 0.5).as("net_amount"))
        .repartition(32))
      val dimP = Materialize.pinNow(spark.range(50).select(
        concat(lit("p"), col("id").cast("string")).as("part_sk"),
        concat(lit("cat"), (col("id") % 5).cast("string")).as("category"),
        lit(true).as("is_current")))
      val dates = Materialize.pinNow(graft.operators.DateDim
        .fromTableSpan(fact, "order_date"))
      val day = "1995-02-03"

      // sales_summary: full rebuild vs one touched-date refresh, both
      // committed as manifest generations
      val (sum, sumGens) = (s"$root/sum", s"$root/sum/_stats_gens")
      val allDates = graft.operators.DatamartIncr.touchedDates(fact)
      var t0 = System.nanoTime()
      graft.operators.DatamartIncr.refreshSalesSummaryVersioned(
        sum, sumGens, fact, dimP, dates, allDates)
      val tFull = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      graft.operators.DatamartIncr.refreshSalesSummaryVersioned(
        sum, sumGens, fact, dimP, dates, Seq(day))
      val tDay = (System.nanoTime() - t0) / 1e9

      // customer_analytics state: full-fact landing vs one-day landing in
      // the `_batch_id` state log
      val state = s"$root/state"
      t0 = System.nanoTime()
      graft.streaming.DatamartStream.writeBatch(fact, 0L, state)
      val tState = (System.nanoTime() - t0) / 1e9
      val dayRows = fact.where(col("order_date") === lit(day).cast("date"))
      t0 = System.nanoTime()
      graft.streaming.DatamartStream.writeBatch(dayRows, 1L, state)
      val tDelta = (System.nanoTime() - t0) / 1e9
      // replay convergence rides along: re-landing the same batch id
      // replaces its slice, so the merged state is unchanged
      val n1 = graft.streaming.DatamartStream.mergedState(spark, state).count()
      graft.streaming.DatamartStream.writeBatch(dayRows, 1L, state)
      val n2 = graft.streaming.DatamartStream.mergedState(spark, state).count()
      assert(n1 == n2, s"replayed state landing changed the state: $n1 -> $n2")
      println(f"   sales_summary: full $tFull%.1fs vs one-day refresh $tDay%.1fs " +
        f"(${tFull / tDay}%.1fx); analytics state: full landing $tState%.1fs vs " +
        f"one-day landing $tDelta%.1fs, $n1 merged state rows")
    }
    time("bloom-fed mergeInto: 2M-row table, 6-key point-update batch") {
      // the point-update MERGE regime: min/max can prune nothing (keys
      // scatter uniformly across every file), so without blooms ALL of
      // the touched partition's files enter the merge's key shuffle —
      // with them, only the files that might hold the 60 keys do.
      val root = java.nio.file.Files.createTempDirectory("graft-stress-mi").toString
      val (tNo, tBl) = (s"$root/plain", s"$root/bloomed")
      val base = spark.range(2000000L).select(
          col("id").as("order_id"),
          concat(lit("d"), (col("id") % 4).cast("string")).as("day"),
          (col("id") % 1000).cast("double").as("amount"))
        .repartition(16) // 16 files per day-partition, ids scattered
      base.write.partitionBy("day").parquet(tNo)
      base.write.partitionBy("day").parquet(tBl)
      val (idx, bl) = (s"$root/idx", s"$root/blooms")
      graft.sources.StatsIndex.save(
        graft.sources.StatsIndex.build(spark, tBl), idx)
      graft.sources.StatsIndex.saveBlooms(graft.sources.StatsIndex
        .buildBlooms(spark, tBl, Seq("order_id"),
          expectedItemsPerFile = 200000), bl)
      // 6 point updates, all against day d0 (keys ≡ 0 mod 4 land there by
      // construction) — the point-update regime the split exists for:
      // FEWER keys than files, so most files provably hold none of them
      // (60 keys over 16 round-robin files would touch ~every file)
      val updates = spark.range(6L).select(
        (col("id") * 333332).as("order_id"), lit("d0").as("day"),
        lit(-1.0).as("amount"))
      val files = graft.sources.StatsIndex.partitionFiles(
        graft.sources.StatsIndex.load(spark, idx), "day", Seq("d0"))
      val (mrg, pass) = graft.operators.Upsert.splitByBlooms(spark, files,
        updates, Some(bl), Seq("order_id"), 100000)
      var t0 = System.nanoTime()
      graft.operators.Upsert.mergeInto(tNo, updates, Seq("order_id"), "day")
      val tPlain = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      graft.operators.Upsert.mergeInto(tBl, updates, Seq("order_id"), "day",
        statsIndexPath = Some(idx), bloomsPath = Some(bl),
        bloomColumns = Seq("order_id"))
      val tBloom = (System.nanoTime() - t0) / 1e9
      val rowsPerFile = 2000000.0 / 4 / files.size
      assert(Tables.read(spark, tNo).count() ==
        Tables.read(spark, tBl).count())
      println(f"   split: ${mrg.size} merge / ${pass.size} pass-through of " +
        f"${files.size} files (~${(rowsPerFile * mrg.size).toLong} vs " +
        f"${(rowsPerFile * files.size).toLong} rows into the key shuffle); " +
        f"listing merge $tPlain%.1fs vs bloom-fed $tBloom%.1fs")
    }
    time("dfpJoin: 2M-row scattered-key fact x 5-key dim (dynamic file pruning)") {
      // keys scatter round-robin across every file, so min/max stats
      // prune NOTHING — only the dim-key bloom probe can shrink the scan
      val root = java.nio.file.Files.createTempDirectory("graft-stress-dfp").toString
      spark.range(2000000L).select(col("id").as("k"),
          (col("id") % 1000).cast("double").as("v"))
        .repartition(16).write.parquet(s"$root/t")
      val stats = graft.sources.StatsIndex.build(spark, s"$root/t")
      val blooms = graft.sources.StatsIndex.buildBlooms(spark, s"$root/t",
        Seq("k"), expectedItemsPerFile = 200000)
      val dim = Materialize.pinNow(spark.range(5).select((col("id") * 399999L).as("k"),
        concat(lit("tag"), col("id")).as("tag")))
      def run(withBloom: Boolean): (Long, Double) = {
        val fact = graft.sources.IndexedScan.readIndexedFrom(spark,
          s"$root/t", stats, if (withBloom) Some(blooms) else None)
        val j = graft.sources.IndexedScan.dfpJoin(fact, "k", dim, "k")
        val t0 = System.nanoTime()
        val n = j.collect().length
        assert(n == 5, s"join rows $n")
        // descend AQE query stages: their plans are fields, invisible
        // to a plain TreeNode collect (the IndexedScanSpec helper shape)
        def scans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(scans)
        }
        val files = scans(j.queryExecution.executedPlan)
          .map(_.metrics("numFiles").value).min
        (files, (System.nanoTime() - t0) / 1e9)
      }
      val (f0, t0) = run(withBloom = false)
      val (f1, t1) = run(withBloom = true)
      assert(f0 == 16L && f1 <= 6L,
        s"stats-only $f0, bloom-fed $f1 of 16 files")
      println(f"   stats-only: 16/16 files (range-hopeless keys) $t0%.1fs; " +
        f"bloom-fed: $f1/16 files $t1%.1fs — the scan shrank to the files " +
        "actually holding the dim's 5 keys")
    }
    time("StarStream: 2M-row fact feed + 200k-obs CDC feed (continuous star)") {
      // the full always-on star (#33l) at scale: four out-of-order bulk
      // batches per feed (the backfill regime), then the steady-state
      // batches the pipeline actually lives in — ONE day's fact arrivals
      // and ONE customer's CDC observation. The claim under test: a
      // steady-state batch costs its own slice (one date partition / one
      // key bucket), not the warehouse — and the maintained tables equal
      // their batch-engine rebuilds exactly.
      val root = java.nio.file.Files.createTempDirectory("graft-stress-star").toString
      val layout = graft.streaming.StarStream.Layout(root)
      val cfg = graft.streaming.StarStream.Config(
        stateKeepRecent = 2, stateCompactEvery = 2)
      // fact: 2M lines / ~667k orders / 400 days / 30k customers, sk =
      // md5(natural key) — the contract dimCustomersCurrent publishes
      val fact = Materialize.pinNow(spark.range(2000000L).select(
          (col("id") / 3).cast("long").as("order_id"),
          date_add(lit("1995-01-01").cast("date"),
            ((col("id") / 3) % 400).cast("int")).as("order_date"),
          md5(((col("id") / 3) % 30000).cast("long").cast("string")).as("customer_sk"),
          concat(lit("p"), (col("id") % 50).cast("string")).as("part_sk"),
          ((col("id") % 7) + 1).cast("double").as("quantity"),
          ((col("id") % 1000) + 0.5).as("net_amount"))
        .repartition(32))
      val dimP = Materialize.pinNow(spark.range(50).select(
        concat(lit("p"), col("id").cast("string")).as("part_sk"),
        concat(lit("cat"), (col("id") % 5).cast("string")).as("category"),
        lit(true).as("is_current")))
      val dates = Materialize.pinNow(graft.operators.DateDim
        .fromTableSpan(fact, "order_date"))
      // CDC: ~6.7 observations per customer, every one a tracked-segment
      // change (so versions == observations), unique ts per (key, obs)
      val baseEpoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
        .getTime / 1000
      val cdc = Materialize.pinNow(spark.range(200000L).select(
          (col("id") % 30000).as("customer_id"),
          concat(lit("n"), (col("id") % 30000).cast("string")).as("name"),
          (lit(baseEpoch) + (col("id") / 30000) * (17L * 86400) +
            (col("id") % 24) * 3600).cast("timestamp").as("ts"),
          concat(lit("seg"), ((col("id") / 30000) % 5).cast("string"))
            .as("mkt_segment"))
        .repartition(32))

      def tsec(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // bulk backfill, both feeds in 4 out-of-order batches: CDC split by
      // observation hash; fact split into 100-day chunks applied 2,0,3,1
      val tCdcBulk = (0 until 4).map { b =>
        tsec(graft.streaming.StarStream.applyCdcBatch(
          cdc.where(pmod(hash(col("ts")), lit(4)) === b), b.toLong, layout, cfg))
      }
      val tFactBulk = Seq(2, 0, 3, 1).zipWithIndex.map { case (chunk, i) =>
        val lo = chunk * 100
        val b = fact.where(
          datediff(col("order_date"), lit("1995-01-01").cast("date"))
            .between(lo, lo + 99))
        var touched: Seq[String] = Nil
        val t = tsec { touched = graft.streaming.StarStream.applyFactBatch(
          b, i.toLong, layout, dimP, dates, cfg) }
        assert(touched.size == 100, s"chunk $chunk touched ${touched.size} dates")
        t
      }
      // steady state: one NEW day's ~5k arrivals; one customer's new obs
      val newDay = Materialize.pinNow(spark.range(5000L).select(
          (lit(700000L) + (col("id") / 3).cast("long")).as("order_id"),
          lit("1996-02-05").cast("date").as("order_date"),
          md5((col("id") % 30000).cast("long").cast("string")).as("customer_sk"),
          concat(lit("p"), (col("id") % 50).cast("string")).as("part_sk"),
          lit(2.0).as("quantity"), lit(10.5).as("net_amount")))
      var dayTouched: Seq[String] = Nil
      val tDay = tsec { dayTouched = graft.streaming.StarStream.applyFactBatch(
        newDay, 4L, layout,
        dimP, graft.operators.DateDim.fromTableSpan(
          fact.select(col("order_date"))
            .unionByName(newDay.select(col("order_date"))), "order_date"),
        cfg) }
      assert(dayTouched == Seq("1996-02-05"),
        s"steady-state batch touched $dayTouched")
      val onePoint = Materialize.pinNow(cdc.orderBy("customer_id", "ts").limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 500 DAYS"))
        .withColumn("mkt_segment", lit("segX")))
      val tPoint = tsec(graft.streaming.StarStream.applyCdcBatch(
        onePoint, 4L, layout, cfg))

      // convergence: every maintained table == its batch-engine rebuild
      val nDim = graft.streaming.StarStream
        .dimCustomersHistory(spark, layout).count()
      val nWant = graft.operators.Scd2.fromHistory(
        cdc.unionByName(onePoint), "customer_id", "ts", "mkt_segment").count()
      assert(nDim == nWant, s"streamed dim $nDim != batch rebuild $nWant")
      val summary = graft.streaming.StarStream.salesSummary(spark, layout)
      val factAll = graft.streaming.StarStream.factOrders(spark, layout)
      val wantSummary = graft.operators.Datamart.salesSummary(
        factAll, dimP, graft.operators.DateDim.fromTableSpan(factAll, "order_date"))
      val (nS, nSW) = (summary.count(), wantSummary.count())
      assert(nS == nSW, s"streamed summary $nS != batch rebuild $nSW")
      val qS = summary.agg(sum("total_quantity")).head().getDouble(0)
      val qW = wantSummary.agg(sum("total_quantity")).head().getDouble(0)
      assert(qS == qW, s"summary quantity $qS != $qW") // integral doubles: exact
      val nA = graft.streaming.StarStream.customerAnalytics(spark, layout,
        graft.operators.Datamart.anchorOf(factAll, "order_date"), cfg).count()
      assert(nA == 30000L, s"analytics rows $nA != 30000 customers")
      println(f"   cdc bulk ${tCdcBulk.map(t => f"$t%.1f").mkString("/")}s, " +
        f"fact bulk ${tFactBulk.map(t => f"$t%.1f").mkString("/")}s; " +
        f"steady state: one-day fact batch $tDay%.1fs (touched 1 of 401 dates), " +
        f"one-customer CDC $tPoint%.1fs (1 of 64 buckets); " +
        f"dim $nDim versions, summary $nS rows, analytics $nA rows " +
        "— all == batch rebuilds")
    }
    time("StatsIndex: 2M rows / 32 z-ordered files — footer pass + box prune") {
      // the metadata layer over the Z-order layout: ONE distributed
      // footer pass into a (file × column) relation, then query-time
      // pruning filters that relation instead of opening 32 footers —
      // the shape that removes the per-query footer pass at millions
      // of files
      val root = java.nio.file.Files.createTempDirectory("graft-stress-si").toString
      val data = bigEv.select(col("user_id"),
        pmod(hash(col("ts")), lit(1000)).cast("double").as("value"), col("ts"))
      graft.operators.ZOrder.writeClustered(data, Seq("user_id", "value"),
        s"$root/z", nFiles = 32)
      val t0 = System.nanoTime()
      val stats = Materialize.pinNow(graft.sources.StatsIndex.build(spark, s"$root/z"))
      val nStats = stats.count()
      val tBuild = (System.nanoTime() - t0) / 1e9
      val qs = data.selectExpr("CAST(user_id AS DOUBLE) AS u", "value")
        .stat.approxQuantile(Array("u", "value"), Array(0.2, 0.35, 0.1, 0.3), 0.001)
      val ranges = Map("user_id" -> (qs(0)(0), qs(0)(1)),
        "value" -> (qs(1)(2), qs(1)(3)))
      val t1 = System.nanoTime()
      val surviving = graft.sources.StatsIndex.pruneFiles(stats, ranges)
      val tPrune = (System.nanoTime() - t1) / 1e9
      assert(surviving.nonEmpty && surviving.size * 2 <= 32,
        s"index pruned too little: ${surviving.size} of 32")
      val pred = col("user_id").between(qs(0)(0), qs(0)(1)) &&
        col("value").between(qs(1)(2), qs(1)(3))
      val full = Tables.read(spark, s"$root/z").where(pred).count()
      val pruned = graft.sources.StatsIndex.prunedRead(spark, stats, ranges)
        .where(pred).count()
      assert(pruned == full, s"pruned read lost rows: $pruned vs $full")
      println(f"   stats rows=$nStats build=$tBuild%.1fs prune=$tPrune%.2fs " +
        f"files=${surviving.size}/32 rows=$full (identical either path)")
    }
    time("packSequences: 2M docs into 4096-token windows across 64 strata") {
      // per-stratum exact stream order: 64 windows of ~31k docs each —
      // the sharded shape the operator documents (strata parallelize,
      // the global order inside one is the deliberate serialization)
      val docs = spark.range(2000000).select(
        col("id").as("doc_id"),
        pmod(col("id"), lit(64)).as("stratum"),
        (pmod(hash(col("id")), lit(400)) + 21).cast("long").as("len"))
      val packed = graft.operators.SequencePack.packSequences(
        docs, "doc_id", "len", 4096, strataCols = Seq("stratum"))
      val fill = graft.operators.SequencePack.sequenceFill(
        packed, 4096, strataCols = Seq("stratum"))
      val (nSpans, nSeqs, nShort) = (packed.count(), fill.count(),
        fill.where(!col("full")).count())
      assert(nShort <= 64, s"only stratum-final sequences may be short: $nShort")
      println(s"   spans: $nSpans sequences: $nSeqs " +
        s"(short: $nShort of <= 64 allowed — zero padding elsewhere)")
      // the no-split twin on the same corpus: FFD bins per stratum, fill
      // ratio audited against the per-stratum lower bound
      val t0 = System.nanoTime()
      val greedy = graft.operators.SequencePack.packGreedy(
        docs, "doc_id", "len", 4096, strataCols = Seq("stratum"))
      val gFill = greedy.groupBy("stratum", "seq_id")
        .agg(sum(col("len")).as("filled"))
        .agg(count(lit(1)).as("bins"), sum(col("filled")).as("total"))
        .collect()(0)
      val tG = (System.nanoTime() - t0) / 1e9
      val (bins, total) = (gFill.getLong(0), gFill.getLong(1))
      val lb = (total + 4095) / 4096
      assert(bins <= (11 * lb) / 9 + 64,
        s"FFD bound broken at scale: $bins bins vs LB $lb")
      println(f"   packGreedy (no-split): $tG%.1fs $bins bins, fill " +
        f"${total.toDouble / (bins * 4096)}%.3f (LB $lb)")
    }
    time("HeavyHitters.frequent: 2M rows, 5 hot keys over ~500k cold keys") {
      val keys = spark.range(2000000).select(
        when(pmod(col("id"), lit(10)) === 0,
            concat(lit("hot_"), pmod(col("id") / 10, lit(5)).cast("int")))
          .otherwise(concat(lit("cold_"), pmod(hash(col("id")), lit(500000))))
          .as("k"))
      val got = graft.operators.HeavyHitters.frequent(keys, "k", 0.01)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.size == 5 && got.values.forall(_ == 40000L),
        s"expected 5 hot keys at exactly 40000: $got")
      println(s"   exact heavy hitters: ${got.size} keys of ~500k distinct " +
        "(MG screen bounded at ceil(1/s) counters/partition, exact verify)")
    }
    time("StatsIndex.listDataFiles: 10k files / 100 dirs, 2ms simulated LIST RTT") {
      // the planning-cost half of the millions-of-files problem: on an
      // object store each directory listing is a round-trip, so the walk
      // must hide latency, not chase local syscall throughput — simulate
      // the RTT with a delaying FileSystem and measure the fan-out win
      val root = java.nio.file.Files.createTempDirectory("graft-stress-ls")
      for (d <- 0 until 100) {
        val dir = root.resolve(f"part=$d%03d")
        java.nio.file.Files.createDirectory(dir)
        for (f <- 0 until 100)
          java.nio.file.Files.createFile(dir.resolve(f"f$f%03d.parquet"))
      }
      spark.sparkContext.hadoopConfiguration.set("fs.slowls.impl",
        classOf[SlowListingFs].getName)
      val uri = s"slowls://$root"
      val t0 = System.nanoTime()
      val seq = graft.sources.StatsIndex.listDataFiles(spark, uri,
        listParallelism = 1)
      val tSeq = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val par = graft.sources.StatsIndex.listDataFiles(spark, uri,
        listParallelism = 16)
      val tPar = (System.nanoTime() - t1) / 1e9
      assert(seq.size == 10000 && par == seq,
        s"parallel listing diverged: ${par.size} vs ${seq.size}")
      assert(tPar * 3 < tSeq,
        f"parallel walk hid too little latency: $tPar%.2fs vs $tSeq%.2fs")
      println(f"   10000 files: sequential $tSeq%.2fs, 16-way $tPar%.2fs " +
        f"(${tSeq / tPar}%.1fx; 2ms/LIST models object-store RTT)")
    }
    time("asofJoin: 2M events each carrying the user's latest purchase") {
      // union-tag-window: must stay join-free — one exchange of the
      // unioned relation on the key, per-key work linear in that key's rows
      val purch = bigEv.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val out = graft.operators.AsOf.asofJoin(
        bigEv.select("user_id", "ts", "event_type"), purch,
        "user_id", "p_user", "ts", "p_ts", valueCols = Nil)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), "asofJoin formed a join!")
      val matched = out.where(col("asof_p_ts").isNotNull).count()
      println(s"   events with a prior purchase: $matched of 2000000 (join-free)")
    }
    time("asofJoinSplit: ONE key owning 2M rows (the mega-key regime)") {
      // every row on a single key: the unsplit window serializes all 2M
      // rows through one partition; the split path slices the timeline
      // into census-driven subs and fixes the boundaries up with a tiny
      // broadcast relation — output pinned identical on a 200k sample
      val one = Materialize.pinNow(
        bigEv.select(lit(1L).as("user_id"), col("ts"), col("event_type")))
      val purch = one.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      // count the MATCHED rows, not the rows: a bare count() lets column
      // pruning drop the carry window entirely and times only the filter
      val t0 = System.nanoTime()
      val unsplit = graft.operators.AsOf.asofJoin(
        one, purch, "user_id", "p_user", "ts", "p_ts", valueCols = Nil)
      val nU = unsplit.where(col("asof_p_ts").isNotNull).count()
      val tU = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val split = graft.operators.AsOf.asofJoinSplit(
        one, purch, "user_id", "p_user", "ts", "p_ts", valueCols = Nil,
        maxKeyRows = 100000)
      val nS = split.where(col("asof_p_ts").isNotNull).count()
      val tS = (System.nanoTime() - t1) / 1e9
      val plan = split.queryExecution.executedPlan.toString
      val carryWin = plan.linesIterator
        .filter(l => l.contains("Window ") && l.contains("_m_local")).toSeq
      assert(carryWin.nonEmpty && carryWin.forall(l =>
        l.contains("windowspecdefinition(_k#") && l.contains("_sub#")),
        "split carry window is not (key, sub)-partitioned")
      assert(nU == nS, s"row counts diverged: $nU vs $nS")
      val cmp = unsplit.orderBy("ts", "event_type", "asof_p_ts").limit(200000)
        .collect().toSeq
      val cmpS = split.orderBy("ts", "event_type", "asof_p_ts").limit(200000)
        .collect().toSeq
      assert(cmp == cmpS, "split output diverged from unsplit")
      println(f"   unsplit 1-partition window: $tU%.1f s; " +
        f"split (20 subs, boundary fix-up): $tS%.1f s — identical output")
    }
    time("top-3-per-group over 2M events: window vs bounded-heap aggregate") {
      // the heap's regime is FEW, LARGE groups (partial state = k x groups
      // x tasks nears the input when groups are many — there the window's
      // codegen'd sort wins; both regimes measured, identity asserted)
      def scored(grp: org.apache.spark.sql.Column) = bigEv.select(
        grp.as("g"), col("ts").cast("long").as("t"),
        (col("ts").cast("long") % 997).cast("double").as("score"))
      for ((name, grp) <- Seq(
          ("50 groups of ~40k rows", col("user_id") % 50),
          ("30k groups of ~67 rows", col("user_id")))) {
        val df = scored(grp)
        val t0 = System.nanoTime()
        val nWin = graft.operators.Analytics.topKPerGroup(
          df, Seq("g"), "score", "t", 3).count()
        val winS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nAgg = graft.operators.Analytics.topKPerGroupAgg(
          df, Seq("g"), "score", "t", 3).count()
        val aggS = (System.nanoTime() - t1) / 1e9
        assert(nWin == nAgg, s"$name: heap top-k $nAgg != window $nWin")
        println(f"   $name: window $winS%.1f s vs heap $aggS%.1f s " +
          f"($nAgg rows, identical)")
      }
    }
    time("rangeJoin: 2M event values x 50 overlapping bands") {
      // keyless point-in-interval — the raw predicate would be a 100M-pair
      // nested loop; binning turns it into a bin equi-join
      val bands = spark.range(50).select(col("id").as("band_id"),
        (col("id") * 2.0).as("lo"), (col("id") * 2.0 + 6.0).as("hi"))
      val out = graft.operators.RangeJoin.rangeJoin(
        bigEv.select(col("user_id"),
          (col("user_id") % 100).cast("double").as("value")), bands,
        "value", "lo", "hi", binWidth = 2.0)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), "rangeJoin went all-pairs!")
      println(s"   matches: ${out.count()} (bin equi-join; " +
        s"all-pairs space = ${2000000L * 50})")
    }

    // 40k vectors: 20 replicas of the 2k embeddings (float jitter via
    // deterministic per-replica scale so replicas are near-parallel).
    val emb = Tables.read(spark, "/root/testdata/sf0.1/embeddings.parquet")
    val bigEmb = Materialize.pinNow(emb.crossJoin(spark.range(20).select(col("id").as("rep")))
      .select((col("vec_id") * 20 + col("rep")).as("vec_id"),
              col("embedding"))
      .repartition(32))
    println(s"vectors: ${bigEmb.count()}")
    val q = bigEmb.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    time("brute-force top-10 over 40k vectors") {
      println("   rows: " + Similarity.bruteForceTopK(
        bigEmb, q, "vec_id", "embedding", "q_id", "q_vec", 10).count())
    }
    time("LSH top-10 over 40k vectors (multi-probe)") {
      println("   rows: " + Similarity.lshTopK(
        bigEmb, q, "vec_id", "embedding", "q_id", "q_vec", 10,
        nTables = 12, planesPerTable = 4, dim = 64, multiProbe = true).count())
    }
    time("IVF-PQ build+probe over 40k vectors (16 cells, m=16, ksub=64)") {
      // identical replicas share a cell (identical centroid distances) and
      // a residual code; the query's own cell is its nearest probe — so the
      // exact-replica truth set must survive the full two-level pipeline
      val idx = graft.operators.IvfPq.build(bigEmb, "vec_id", "embedding",
        nCells = 16, m = 16, ksub = 64, seed = 42L)
      val out = Materialize.pinNow(graft.operators.IvfPq.probe(idx, bigEmb, "embedding",
        q, "q_id", "q_vec", k = 10, nProbe = 4))
      val wrong = out.where(expr("vec_id div 20") =!= 0L).count()
      assert(wrong == 0L, s"$wrong results outside the exact-replica group")
      println(s"   rows: ${out.count()} (all from the cos=1.0 replica group; " +
        "probed 4 of 16 cells, codes-only candidate scan)")

      // the deployment twin: persist the index id-clustered, then probe
      // with the pushed-predicate point-fetch — same truth set, and the
      // re-rank's vector scan materializes a fraction of the 40k rows
      val dir = java.nio.file.Files.createTempDirectory("graft-stress-ivfpq").toString
      graft.operators.IvfPq.save(idx, spark, dir)
      graft.operators.IvfPq.saveVectors(bigEmb, "vec_id", "embedding", dir, nFiles = 32)
      idx.unpersist()
      time("  probeSaved off the persisted id-clustered index") {
        val saved = Materialize.pinNow(graft.operators.IvfPq.probeSaved(spark, dir, "vec_id",
          "embedding", q, "q_id", "q_vec", k = 10, nProbe = 4))
        val wrongS = saved.where(expr("vec_id div 20") =!= 0L).count()
        assert(wrongS == 0L, s"$wrongS probeSaved results outside the replica group")
        println(s"   rows: ${saved.count()} (shortlist ids pushed into the " +
          "vector scan as a predicate; id-range files prune)")
      }
    }
    time("PQ fit+encode+ADC+rerank over 40k vectors (m=16, ksub=64)") {
      // every query (a replica of original 0) has 19 EXACT replicas at
      // cos 1.0, and k=10 < 19 — so a correct PQ+rerank must return ONLY
      // replica-group members (identical vectors ⇒ identical codes ⇒ the
      // shortlist can't miss them; the exact rerank ranks them at 1.0)
      val cbS = Pq.fit(bigEmb, "embedding", m = 16, ksub = 64, seed = 42L)
      val codes = Materialize.pinNow(Pq.encode(bigEmb, "vec_id", "embedding", cbS))
      val out = Materialize.pinNow(Pq.topKRerank(codes, cbS, "vec_id", bigEmb, "embedding",
        q, "q_id", "q_vec", k = 10, shortlistFactor = 5))
      val wrong = out.where(expr("vec_id div 20") =!= 0L).count()
      assert(wrong == 0L, s"$wrong results outside the exact-replica group")
      println(s"   rows: ${out.count()} (all from the cos=1.0 replica group; " +
        "shortlist scan reads 32 B codes, not 256 B vectors)")
    }

    // Embedding near-dup at self-join scale: every vector has 19 EXACT
    // replicas (cos = 1.0), distinct originals top out near cos 0.55 — so
    // the θ=0.9 truth set is exactly 2000 × C(20,2) = 380,000 pairs.
    // Self-join LSH needs more planes than the 8-query ANN path: 2^12
    // buckets/table bounds occupancy (identical vectors still share every
    // bucket, so duplicate recall stays 1.0 by construction).
    time("decontaminateSemantic: 40k vectors vs 200-vector eval, broadcast-only") {
      val eval = bigEmb.where(col("vec_id") % 200 === 0)
      val hits = Similarity.decontaminateSemantic(bigEmb, eval,
        "vec_id", "embedding", "vec_id", "embedding", threshold = 0.9)
        .where(col("vec_id") =!= col("eval_id"))
      val plan = hits.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "semantic decontamination shuffled the corpus!")
      println("   contaminated pairs: " + hits.count() +
        " (eval broadcast; corpus scanned once, zero shuffles)")
    }
    time("neardupPairsLsh (cos>=0.9) over 40k vectors, 8x12 config") {
      val p = Similarity.neardupPairsLsh(bigEmb, "vec_id", "embedding",
        threshold = 0.9, nTables = 8, planesPerTable = 12, dim = 64)
      val plan = p.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), "neardupPairsLsh went all-pairs!")
      val n = p.count()
      println(s"   pairs: $n of 380000 expected (recall ${n / 380000.0}); " +
        s"all-pairs space = ${40000L * 39999L / 2}")
    }
    // SemDeDup at self-join scale: identical vectors quantize to identical
    // cells, so every 20-replica group MUST collapse to one canonical —
    // exactly 38,000 dups — regardless of where k-means drew the cell
    // boundaries. Cell-locality is load-bearing: 64 cells of ~625 vectors
    // bound the rescore at ~12.5M pairs vs 800M all-pairs.
    time("semanticDedup (cos>=0.9, 64 cells) over 40k vectors") {
      val out = Similarity.semanticDedup(bigEmb, "vec_id", "embedding",
        nCells = 64, threshold = 0.9)
      val dups = out.where(col("is_dup")).count()
      assert(dups == 38000L, s"expected 38000 dups, got $dups")
      println(s"   dups: $dups of 40000 (every replica group collapsed; " +
        "cell-local rescore, never all-pairs)")
    }
    spark.stop()
  }
}

/** [[org.apache.hadoop.fs.RawLocalFileSystem]] under the `slowls://`
  * scheme with a fixed per-`listStatus` delay — models an object
  * store's LIST round-trip so [[Stress]]'s parallel-walk datapoint
  * measures latency hiding (the quantity that matters at millions of
  * files), not local syscall throughput. */
class SlowListingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowls"
  override def getUri: java.net.URI = java.net.URI.create("slowls:///")
  override def listStatus(p: org.apache.hadoop.fs.Path
                         ): Array[org.apache.hadoop.fs.FileStatus] = {
    Thread.sleep(2)
    super.listStatus(p)
  }
}
