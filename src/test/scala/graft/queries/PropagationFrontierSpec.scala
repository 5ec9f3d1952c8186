package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Round-by-round equivalence of the semi-naive ("delta-frontier") label
  * propagation behind l14/l33/l61 (LlmQueries.propagationRound) with the
  * full join it replaces. After every round k, each node's label must be
  * the min of its own and all its neighbors' round k-1 labels, computed
  * here on the driver. Both frontier arms run: the broadcast arm (default
  * threshold: the frontier is broadcast from round 2 on) and the shuffle
  * arm (threshold -1: no frontier fits).
  */
class PropagationFrontierSpec extends AnyFunSuite with SharedSpark {

  private val bcast = "spark.sql.autoBroadcastJoinThreshold"

  /** Labels after each production round 1..k, and whether the round's
    * plan broadcast the frontier.
    */
  private def productionRounds(edges: Seq[(Long, Long)], k: Int)
      : Seq[(Map[Long, Long], Boolean)] = {
    import spark.implicits._
    val sym = Lineage.cut((edges ++ edges.map(_.swap)).toDF("src", "dst"))
    var labels = LlmQueries.propagationStart(sym)
    var last = Option.empty[Map[String, Any]]
    (1 to k).map { _ =>
      val round = LlmQueries.propagationRound(sym, labels, last)
      val broadcast = round.next.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      val (next, seen) = Lineage.step(round)
      labels = next
      last = Some(seen)
      (labels.select(col("doc_id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap, broadcast)
    }
  }

  /** The full-join reference: round k sets every node to the min of its
    * own and all its neighbors' round k-1 labels.
    */
  private def referenceRounds(edges: Seq[(Long, Long)], k: Int): Seq[Map[Long, Long]] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    Iterator.iterate(nbrs.keys.map(u => u -> u).toMap) { prev =>
      prev.map { case (u, l) => u -> (l +: nbrs(u).map(prev)).min }
    }.slice(1, k + 1).toSeq
  }

  private def checkBothArms(edges: Seq[(Long, Long)], k: Int): Unit = {
    val want = referenceRounds(edges, k)
    val saved = spark.conf.getOption(bcast)
    def arm(threshold: Option[String]) = {
      threshold.fold(spark.conf.unset(bcast))(spark.conf.set(bcast, _))
      try productionRounds(edges, k)
      finally saved.fold(spark.conf.unset(bcast))(spark.conf.set(bcast, _))
    }
    val broadcastArm = arm(None)
    val shuffleArm = arm(Some("-1"))
    for ((got, name) <- Seq(broadcastArm -> "broadcast", shuffleArm -> "shuffle");
         ((labels, _), r) <- got.zipWithIndex)
      assert(labels == want(r), s"$name arm, round ${r + 1}")
    assert(broadcastArm.drop(1).forall(_._2), "broadcast arm never broadcast the frontier")
    assert(shuffleArm.forall(!_._2), "shuffle arm broadcast the frontier")
  }

  test("chain: per-round labels equal the full-join rounds, both frontier arms") {
    // label 0 walks one hop per round; rounds past convergence must hold
    val chain = (0L until 8L).map(i => (i, i + 1))
    checkBothArms(chain, 10)
  }

  test("seeded random graph: per-round labels equal the full-join rounds, both frontier arms") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(50)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    checkBothArms(edges, 6)
  }
}
