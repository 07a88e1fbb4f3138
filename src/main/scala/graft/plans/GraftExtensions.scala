package graft.plans

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.SparkConf
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.StaticSQLConf

import graft.functions.{BloomBuildAgg, BpeTokens, CmsBuildAgg, CmsMergeAgg, CosineSimilarity, DotProduct, MinHashSignature, ShingleSet, SimHash64, Sq8Dot, Sq8Encode, TopKRows}

/** SparkSessionExtensions registration for graft's native expressions
  * (SURVEY.md §2 #35). Activate with either:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *
  * after which `graft_cosine(a, b)` is available in SQL and via
  * `call_function("graft_cosine", ...)` in the DataFrame API.
  *
  * Either way it also sizes Spark's compiled-class cache for graft's
  * plans ([[GraftExtensions.installCodegenCache]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.installCodegenCache()
    // opt-in optimizer rewrite: window top-k idiom → bounded-heap
    // aggregate (spark.graft.rewrite.topk=true; no-op otherwise)
    ext.injectOptimizerRule(_ => TopKRewrite())
    // opt-in automatic dynamic file pruning over GraftFileIndex scans
    // (spark.graft.rewrite.dfp=true; no-op otherwise)
    ext.injectOptimizerRule(_ => DfpRewrite())
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine(a, b) takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(a, b) takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_minhash(words, numHashes, shingleSize) takes 3 arguments")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(s"$what must be an int literal")
        }
        MinHashSignature(children.head,
          intLit(children(1), "numHashes"), intLit(children(2), "shingleSize"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_simhash(words) takes exactly 1 argument")
        SimHash64(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe"),
      new ExpressionInfo(classOf[BpeTokens].getName, "graft_bpe"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_bpe(text, merges) takes 2 arguments; merges = array of 'left right' strings")
        val mergesExpr = children(1)
        require(mergesExpr.foldable,
          "graft_bpe merges must be a literal array of 'left right' strings " +
            "(the merge table is query-constant, like minhash's salts)")
        val evaluated = mergesExpr.eval(null)
        require(evaluated != null, "graft_bpe merges must not be NULL")
        val arr =
          evaluated.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val merges = (0 until arr.numElements()).map { i =>
          require(!arr.isNullAt(i),
            s"graft_bpe merges must not contain NULL (element $i)")
          val s = arr.getUTF8String(i).toString
          val sp = s.indexOf(' ')
          require(sp > 0 && sp < s.length - 1,
            s"graft_bpe merge '$s' must be 'left right' (one space)")
          (s.substring(0, sp), s.substring(sp + 1))
        }
        BpeTokens(children.head, merges)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKRows].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_topk(sortStruct, k) takes 2 arguments")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException("k must be an int literal")
        }
        TopKRows(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_build"),
      new ExpressionInfo(classOf[BloomBuildAgg].getName, "graft_bloom_build"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_bloom_build(col, expectedItems, fpp) takes 3 arguments")
        val items = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
          case _ => throw new IllegalArgumentException(
            "expectedItems must be an integral literal")
        }
        val fpp = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
          case org.apache.spark.sql.catalyst.expressions.Literal(d: org.apache.spark.sql.types.Decimal, _) =>
            d.toDouble
          case _ => throw new IllegalArgumentException("fpp must be a double literal")
        }
        BloomBuildAgg(children.head, items, fpp).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_build"),
      new ExpressionInfo(classOf[CmsBuildAgg].getName, "graft_cms_build"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          "graft_cms_build(col, eps, confidence, seed) takes 4 arguments")
        def dbl(e: Expression, what: String): Double = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
          case org.apache.spark.sql.catalyst.expressions.Literal(d: org.apache.spark.sql.types.Decimal, _) =>
            d.toDouble
          case _ => throw new IllegalArgumentException(s"$what must be a double literal")
        }
        val seed = children(3) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException("seed must be an int literal")
        }
        CmsBuildAgg(children.head, dbl(children(1), "eps"),
          dbl(children(2), "confidence"), seed).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_merge"),
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "graft_cms_merge"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          "graft_cms_merge(sketchBytes) takes 1 argument")
        CmsMergeAgg(children.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_shingles(words, k) takes 2 arguments")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException("k must be an int literal")
        }
        ShingleSet(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sq8_encode"),
      new ExpressionInfo(classOf[Sq8Encode].getName, "graft_sq8_encode"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          "graft_sq8_encode(unitVec) takes exactly 1 argument")
        Sq8Encode(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sq8_dot"),
      new ExpressionInfo(classOf[Sq8Dot].getName, "graft_sq8_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_sq8_dot(code, unitVec) takes exactly 2 arguments")
        Sq8Dot(children.head, children(1))
      }))
  }
}

/** The size of Spark's compiled-class cache in graft's sessions.
  *
  * Spark keeps one LRU of compiled generated classes per JVM. It is built
  * at the JVM's first compile, sized by the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100) of the SQL conf that
  * compile sees, and never resized. A session that cycles through more
  * classes than that gets no hits: the seven starbench `query_mix` queries
  * generate 146 classes, so at 100 every pass compiled all 146 again.
  * Sized to graft's working set, a warm session compiles nothing it
  * already ran.
  */
object GraftExtensions extends Logging {

  val CodegenCacheKey: String = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** Entries for graft's plan working set: one `graft.Bench` sweep of the
    * 159 gate queries compiles 1607 distinct classes at sf0.1, so the
    * cache holds a whole sweep with room for the few classes a steady
    * pass adds. */
  val CodegenCacheEntries: Int = 2048

  private val installed = new AtomicBoolean(false)

  /** Put graft's cache size into `conf` unless it already sets one: a
    * deployment's own value always wins. */
  def defaultCodegenCache(conf: SparkConf): SparkConf =
    conf.setIfMissing(CodegenCacheKey, CodegenCacheEntries.toString)

  /** Default the cache size where the next session's SQL conf will read
    * it, before that conf is built:
    *
    *  - with a running context (`spark.sql.extensions`: Spark applies the
    *    extension after it starts the context and before it builds any
    *    session state), in that context's own conf;
    *  - with no context yet (`withExtensions`: the builder applies the
    *    extension at once, then starts the context), in the `spark.*` JVM
    *    system properties, which the builder's `SparkConf` reads as
    *    defaults under the builder's own settings.
    *
    * Only the JVM's first compile reads the value, so if classes were
    * compiled before graft's extensions were first installed, the cache
    * keeps the size it was built with; that is logged once. */
  private[graft] def installCodegenCache(): Unit = {
    Bridge.activeContextConf match {
      case Some(conf) => defaultCodegenCache(conf)
      case None =>
        if (System.getProperty(CodegenCacheKey) == null)
          System.setProperty(CodegenCacheKey, CodegenCacheEntries.toString)
    }
    if (installed.compareAndSet(false, true)) {
      val compiled = Bridge.codegenCompiles._1
      if (compiled > 0)
        logWarning(s"$compiled generated classes were compiled in this JVM " +
          "before graft's extensions were installed; Spark's codegen cache " +
          s"keeps the size it was built with, whatever $CodegenCacheKey says")
    }
  }
}
