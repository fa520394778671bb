package graft

import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

/** Pins the accelerated CC operator: correctness against a BFS oracle
  * on random graphs, and the ROUND BOUND on the adversarial deep-chain
  * shape — the pointer jump must converge in ~⌈log₂ diameter⌉ rounds
  * where plain propagation pays one round per hop (VERDICT r7 #5).
  * These cases pin the DISTRIBUTED fixpoint, so they call it directly,
  * past the r18 small-graph driver cutover; the last case pins
  * local ≡ distributed on randomized graphs. */
class ConnectedComponentsSpec extends SparkSpec {

  private def sym(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  test("deep chain: all nodes label 0, rounds ~ log2(diameter) not diameter") {
    val n = 64
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val (labels, rounds) = ConnectedComponents.fixpoint(sym(chain))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), s"non-zero labels: ${got.filter(_._2 != 0)}")
    // plain propagation needs ~63 rounds on a 64-chain; the jump form
    // must land in log territory (6) + slack for the convergence round
    assert(rounds <= 10, s"deep chain took $rounds rounds — jump not effective")
  }

  test("two components + correctness vs BFS oracle on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 40
    val pairs = Seq.tabulate(50)(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(p => p._1 != p._2)
    // BFS oracle
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    for ((a, b) <- pairs) {
      adj(a) = b :: adj.getOrElse(a, Nil); adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !expected.contains(start)) {
      var frontier = List(start); val seen = scala.collection.mutable.Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)).filterNot(seen.contains)
        seen ++= frontier
      }
      val root = seen.min
      seen.foreach(v => expected(v) = root)
    }
    val (labels, rounds) = ConnectedComponents.fixpoint(sym(pairs))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap, "labels differ from BFS oracle")
    assert(rounds >= 1 && rounds <= 8)
  }

  test("degenerate inputs: empty edge list and self-loops are total") {
    import spark.implicits._
    // empty graph → empty labels, terminates
    val (empty, emptyRounds) = ConnectedComponents.fixpoint(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty.count() == 0 && emptyRounds >= 1)
    // self-loops only: every node is its own singleton component
    // (the default small-graph path — exercises the cutover's
    // degenerate inputs too)
    val loops = Seq((5L, 5L), (9L, 9L)).toDF("src", "dst")
    val (labels, _) = ConnectedComponents.minLabel(loops)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 9L -> 9L))
  }

  test("isolated pairs converge in the minimum rounds (1 improve + 1 confirm)") {
    val pairs = Seq.tabulate(10)(i => (2L * i, 2L * i + 1))
    val (labels, rounds) = ConnectedComponents.fixpoint(sym(pairs))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.forall { case (a, b) => got(a) == a && got(b) == a })
    assert(rounds <= 2, s"pairs took $rounds rounds")
  }

  test("driver union-find cutover: labels identical to the distributed fixpoint") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 30
      val pairs = Seq.tabulate(n * 2)(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(p => p._1 != p._2)
      val (loc, locRounds) = ConnectedComponents.minLabel(sym(pairs))
      assert(locRounds == 0, "small graph must take the driver path")
      val (dist, _) = ConnectedComponents.fixpoint(sym(pairs))
      val a = loc.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val b = dist.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(a.sameElements(b), s"trial $trial: local != distributed")
    }
  }
}
