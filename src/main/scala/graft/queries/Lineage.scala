package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** How the query packs cut lineage and drive an iteration to its fixpoint —
  * the one piece of execution policy graft owns above Catalyst.
  *
  * A cut materializes a frame and truncates its lineage, so later rounds
  * and consumers read the stored rows instead of re-running the plan below
  * them. By default a cut is a `localCheckpoint`: right for a single JVM,
  * where losing an executor is losing the process anyway. On a cluster
  * (dynamic allocation, spot nodes) those executor-local blocks die with
  * their executor, so `spark.graft.checkpointDir`, set to an HDFS or
  * object-store path, makes every cut in every pack reliable, with
  * identical results. The reliable cut is a parquet round trip that
  * computes and writes in ONE job; an RDD checkpoint writes in a second job
  * that recomputes the frame (and a persist before it, the textbook fix,
  * measured slower on l30: its columnar cache encode costs more than the
  * one round it saves). The cuts of a run land under `<dir>/<runId>` and
  * stay there: frames read them lazily, so nothing here can tell when they
  * are dead, and removing that tree is the caller's job once the results
  * are consumed.
  */
object Lineage {
  val CheckpointDirKey = "spark.graft.checkpointDir"

  // reliable cuts of this JVM go under <dir>/<runId>, so runs sharing a
  // directory never collide
  private val runId = java.util.UUID.randomUUID().toString
  private val cutSeq = new java.util.concurrent.atomic.AtomicLong()

  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(CheckpointDirKey)

  /** Eager cut: one job materializes `df` now. */
  def cut(df: DataFrame): DataFrame = reliableDir(df) match {
    case Some(dir) =>
      val path = s"$dir/$runId/cut_${cutSeq.incrementAndGet()}"
      df.write.parquet(path)
      df.sparkSession.read.parquet(path)
    case None => df.localCheckpoint()
  }

  /** Lazy cut: the same truncation, but materialized inside the NEXT
    * action's job instead of a job of its own. For loop bodies whose next
    * step is an action anyway (the BPE merge pick) this halves the loop's
    * action count, and per-action driver latency is what dominates those
    * loops (~37 ms per action). Not for a frame whose Observation must be
    * read before the next action: that read would wait for a job that never
    * comes, so [[fixpoint]] cuts eagerly. Reliable mode is always eager: a
    * lazy reliable checkpoint is written only by a later job that reaches
    * it with no other marked RDD in between, so a chain of lazy cuts joined
    * by shuffles (l62's rounds) would write only its topmost round.
    */
  def cutLazy(df: DataFrame): DataFrame =
    if (reliableDir(df).isDefined) cut(df) else df.localCheckpoint(eager = false)

  /** The packs' `.cut()` / `.cutLazy()` syntax. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Lineage.cut(df)
    def cutLazy(): DataFrame = Lineage.cutLazy(df)
  }

  /** One [[fixpoint]] round: the next state, which the driver cuts; the
    * named aggregates observed on that cut's own job; and whether their
    * values mean the fixpoint is reached.
    */
  final case class Round(next: DataFrame, observe: Seq[Column],
      done: Map[String, Any] => Boolean)

  /** The state a [[fixpoint]] converged to and the rounds it took. */
  final case class Fixpoint(state: DataFrame, rounds: Int)

  /** Iterates `round` from `init` until a round reports done. `round` sees
    * the current state and the previous round's observed values (None
    * before round 1). A round costs one job: the cut that materializes the
    * next state also computes its convergence aggregate, so reading it
    * starts no job of its own. Fails naming `name` when `maxRounds` rounds
    * do not converge.
    */
  def fixpoint(name: String, init: DataFrame, maxRounds: Int)(
      round: (DataFrame, Option[Map[String, Any]]) => Round): Fixpoint = {
    var state = init
    var last = Option.empty[Map[String, Any]]
    var rounds = 0
    var done = false
    while (!done) {
      require(rounds < maxRounds, s"$name did not converge in $maxRounds rounds")
      val r = round(state, last)
      val (next, seen) = step(r)
      state = next
      last = Some(seen)
      done = r.done(seen)
      rounds += 1
    }
    Fixpoint(state, rounds)
  }

  /** One [[fixpoint]] step: `r.next` cut with `r.observe` riding the cut's
    * job, and the observed values.
    */
  private[queries] def step(r: Round): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val next = cut(r.next.observe(obs, r.observe.head, r.observe.tail: _*))
    (next, obs.get)
  }
}
