package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

/** Fixed-point integer PageRank pins: hand-graph equality against an
  * in-test Scala replay of the arithmetic contract, dangling-mass routing,
  * determinism across partitionings, and guard rails. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val S = 1000000000000L

  /** The reference replay of the documented iteration — same floor
    * arithmetic, driver-side. */
  private def replay(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
      .withDefaultValue(0L)
    var pr = nodes.map(_ -> S / n).toMap
    (0 until iters).foreach { _ =>
      val dang = nodes.filter(deg(_) == 0L).map(pr).sum
      val share = dang / n
      val inc = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => pr(e._1) / deg(e._1)).sum
      }.withDefaultValue(0L)
      pr = nodes.map(v => v -> ((S / n) * 15 / 100 + 85L * (inc(v) + share) / 100)).toMap
    }
    pr
  }

  test("pageRank matches the arithmetic replay on a skewed graph with dangling mass") {
    import spark.implicits._
    // star onto 'hub' + a chain + a dangling sink that only receives
    val edges = Seq(
      "a" -> "hub", "b" -> "hub", "c" -> "hub", "d" -> "hub",
      "hub" -> "chain1", "chain1" -> "chain2", "chain2" -> "sink",
      "a" -> "b", "b" -> "c")
    val df = edges.toDF("src", "dst").repartition(7)
    val got = Graph.pageRank(df, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = replay(edges, 5)
    assert(got == want, s"got $got\nwant $want")
    // the hub outranks every spoke; the dangling sink still holds rank
    assert(got("hub") > got("a") && got("sink") > 0L)
    // fixed-point mass stays within n units of resolution per round's floors
    val drift = S - got.values.sum
    assert(drift >= 0L && drift < 100L * got.size * 5,
      s"mass drift $drift beyond floor-residue bound")
  }

  test("pageRank is bit-identical across partitionings and multi-edges weight") {
    import spark.implicits._
    val edges = (0L until 200L).map(i => (s"n${i % 23}", s"n${(i * i + 5) % 23}"))
    val r1 = Graph.pageRank(edges.toDF("src", "dst").repartition(1), 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val r32 = Graph.pageRank(edges.toDF("src", "dst").repartition(32), 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(r1 == r32, "partitioning changed the fixed-point result")
    assert(r1 == replay(edges, 4).toSeq.sorted, "replay mismatch")
  }

  test("pageRank: the distributed round-loop and the small-graph fold agree bitwise") {
    import spark.implicits._
    // production takes the fold below its node gate, so the loop is only
    // reached on large graphs: force both regimes on one small graph with
    // multi-edges, a self-loop and a dangling sink
    val edges = (0L until 300L).map(i => (s"d${i % 31}", s"d${(i * i + 3) % 37}")) ++
      Seq("d5" -> "d5", "d1" -> "sink")
    val df = edges.toDF("src", "dst").repartition(5)
    def run(fold: Boolean): Seq[(String, Long)] =
      Graph.pageRankImpl(df, 6, 85L, 100L, S, forceFold = Some(fold))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val loop = run(fold = false)
    assert(loop == run(fold = true), "loop and fold regimes disagree")
    assert(loop == replay(edges, 6).toSeq.sorted, "replay mismatch")
  }

  test("guards: empty graph, iteration and scale bounds") {
    import spark.implicits._
    val e = Seq("a" -> "b").toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(e, -1))
    intercept[IllegalArgumentException](Graph.pageRank(e, 5, dampNum = 101L))
    intercept[IllegalArgumentException](Graph.pageRank(e, 5, scale = Long.MaxValue))
    intercept[IllegalArgumentException](
      Graph.pageRank(e.filter("src = 'zz'"), 1).collect())
    // iters = 0 returns the uniform initialization
    val r0 = Graph.pageRank(e, 0).collect().map(r => r.getLong(1)).toSeq
    assert(r0 == Seq(S / 2, S / 2))
  }
}
