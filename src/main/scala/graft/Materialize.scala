package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.DataFrame

/** The engine's one materialization policy: how an operator pins an
  * intermediate relation that several branches, joins or actions read.
  *
  * A pin is a checkpoint, not a `persist`. A persisted relation holds a
  * CacheManager entry until someone unpersists it, so an operator called
  * over and over piles up pinned relations. Checkpoint data is released
  * by the ContextCleaner as soon as the returned plan is unreferenced.
  * A checkpoint also cuts the lineage: the plan downstream reads the
  * stored data, so an iterative loop keeps a plan of constant size.
  *
  * The mode comes from the conf the context started with, not from
  * anything an operator or caller sets:
  *  - [[Local]] when it has no `spark.checkpoint.dir` (every bench, spec
  *    and gate session). [[pin]] is a lazy `localCheckpoint`: the first
  *    action that reads the relation stores it as it computes it, so the
  *    pin costs no job of its own (under AQE the pinned plan's shuffle map
  *    stages still run at the call). The blocks live on the executor that
  *    computed them. If that executor is lost, the next read fails with
  *    Spark's "Checkpoint block ... not found" error: loudly, never with
  *    wrong rows.
  *  - [[Reliable]] when the deployment set `spark.checkpoint.dir`, which
  *    Spark itself makes the context's checkpoint dir at start. Both
  *    entries then write an eager `checkpoint()` under that dir, so the
  *    data is durable before anything depends on it and a lost executor
  *    costs a re-read, not the job. Pair it with
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`, or the
  *    checkpoint files accumulate.
  *
  * `setCheckpointDir` at run time does not switch the mode: one caller
  * setting a dir on a shared context must not change every operator.
  *
  * The jobs a pin starts are labelled with the caller's `file:line`
  * (`localCheckpoint at Dedup.scala:160`), as Spark labels a direct
  * checkpoint call, so profiles keep naming the operator. */
object Materialize {
  sealed trait Mode
  case object Local extends Mode
  case object Reliable extends Mode

  // SparkContext sets its checkpoint dir from this key when it starts
  private val DirKey = "spark.checkpoint.dir"
  // CallSite.SHORT_FORM, which Spark keeps package-private
  private val CallSiteProp = "callSite.short"

  /** The mode of a context started with `conf`. */
  def modeOf(conf: SparkConf): Mode = if (conf.contains(DirKey)) Reliable else Local

  /** Pin `df` before its first read: lazy in [[Local]] mode, eager in
    * [[Reliable]] mode. */
  def pin(df: DataFrame): DataFrame = pinIn(sessionMode(df), df, eager = false)

  /** Pin `df` now, in either mode: for a caller that overwrites the
    * relation's own source before it reads the relation again, or that
    * times the work downstream of the pin apart from the pin's own. */
  def pinNow(df: DataFrame): DataFrame = pinIn(sessionMode(df), df, eager = true)

  private def sessionMode(df: DataFrame): Mode = modeOf(df.sparkSession.sparkContext.getConf)

  /** [[pin]] (`eager = false`) or [[pinNow]] in an explicit mode. */
  private[graft] def pinIn(mode: Mode, df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val previous = sc.getLocalProperty(CallSiteProp)
    sc.setCallSite(s"${if (mode == Local) "localCheckpoint" else "checkpoint"} at $caller")
    try if (mode == Local) df.localCheckpoint(eager) else df.checkpoint()
    finally sc.setLocalProperty(CallSiteProp, previous)
  }

  /** `file:line` of the first frame outside this object. */
  private def caller: String =
    StackWalker.getInstance().walk(_.filter { f =>
      val c = f.getClassName
      c != "graft.Materialize$" && c != "graft.Materialize"
    }.findFirst()).map(f => s"${f.getFileName}:${f.getLineNumber}").orElse("unknown")
}
