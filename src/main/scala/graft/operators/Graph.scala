package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph scoring — the authority-ranking side of the curation
  * toolchain. Training-data pipelines rank web hosts by link-graph
  * centrality (the public recipe: PageRank/harmonic centrality over the
  * Common Crawl host graph, used as a document quality prior); the engine
  * already walks graphs for dedup (connected components, `Dedup.scala`),
  * this adds the scoring walk.
  *
  * Arithmetic contract: FIXED-POINT INTEGER PageRank. Floating-point
  * iterative PageRank is not reproducible across engines (per-partition sum
  * order changes low bits every run); here every rank is a non-negative
  * scaled BIGINT, every redistribution is a floor division, and every sum is
  * integer — bit-identical on any partitioning, any engine, any run. The
  * dropped division residues (at most deg-1 per node per round) make total
  * mass drift below the scale's resolution — determinism is the contract,
  * conservation-to-the-last-unit is not (documented, same trade as the
  * decimal-exact oracle contract in `core/Exact`).
  */
object Graph {

  /** Fixed-point integer PageRank over an edge list `(src, dst)` — multi-
    * edges act as weights. Per iteration, with N = |nodes(src) ∪ nodes(dst)|
    * and S = `scale`:
    *
    *   pr'(v) = (S div N) * (dampDen - dampNum) div dampDen
    *          + dampNum * ( Σ_{u→v} pr(u) div deg(u)  +  dangling div N )
    *            div dampDen
    *
    * where dangling = Σ pr(u) over out-degree-0 nodes. All terms BIGINT;
    * with the default S = 10^12 and damp 85/100 the largest intermediate is
    * dampNum * S ≈ 2^46.3 — no overflow at any graph size.
    *
    * Scale shape: edges persist once and shuffle-join the node-sized rank
    * frame per round on `src` (AQE broadcasts the rank side while it fits —
    * a host-graph rank frame at 100M nodes exceeds that and the join
    * becomes the standard co-partitioned shuffle); contributions reduce
    * map-side by `dst`. The dangling mass folds in as a broadcast one-row
    * aggregate, so the WHOLE iteration is declarative — no per-round driver
    * action; the single final materialization drives every round, each
    * round's lazy `localCheckpoint` cutting the iterative lineage as it
    * computes. Node count is the one up-front driver scalar. */
  def pageRank(edges: DataFrame, iters: Int, dampNum: Long = 85L,
               dampDen: Long = 100L, scale: Long = 1000000000000L): DataFrame =
    pageRankImpl(edges, iters, dampNum, dampDen, scale, forceFold = None)

  /** [[pageRank]] with the regime dispatch overridable — package-private so
    * the specs can force the loop and the fold on the same small graph and
    * pin them equal; production callers always take the size-gated
    * default. */
  private[graft] def pageRankImpl(edges: DataFrame, iters: Int, dampNum: Long,
                                  dampDen: Long, scale: Long,
                                  forceFold: Option[Boolean]): DataFrame = {
    require(iters >= 0 && iters <= 100, s"iters must be in [0, 100], got $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"need 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    require(scale >= 1L && scale <= (1L << 50),
      s"scale must be in [1, 2^50] so dampNum * scale stays far from 2^63")
    val e = Scale.fanOutScan(edges)
      .select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val deg = nodes.join(
        e.groupBy(col("src").as("node")).agg(count(lit(1)).cast("bigint").as("deg")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count() // one up-front scalar: the node count
    require(n > 0, "pageRank needs a non-empty graph")
    val init = scale / n
    val base = init * (dampDen - dampNum) / dampDen
    if (forceFold.getOrElse(n <= PageRankFoldMaxNodes))
      return pageRankFolded(e, deg, n, iters, dampNum, dampDen, init, base)
    var pr = deg.select(col("node"), col("deg"), lit(init).as("pr"))
      .localCheckpoint(false)
    var i = 0
    while (i < iters) {
      // dangling mass folds in as a broadcast ONE-ROW frame, not a driver
      // scalar — the whole iteration stays declarative, so one final action
      // drives every round (each round's lazy localCheckpoint materializes
      // once on first touch and serves both its consumers: this aggregate
      // and the contribution join)
      val dangling = pr.filter(col("deg") === 0L)
        .agg(coalesce(sum(col("pr")), lit(0L)).cast("bigint").as("dang"))
      val inc = e.join(pr.filter(col("deg") > 0L), col("src") === col("node"))
        .select(col("dst").as("node"), expr("pr div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).cast("bigint").as("inc"))
      pr = deg.join(inc, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("deg"),
          (lit(base) +
            expr(s"$dampNum * (coalesce(inc, 0L) + dang div ${n}L) div $dampDen"))
            .cast("bigint").as("pr"))
      // per-round lazy checkpoint is LOAD-BEARING, not just a lineage cut:
      // pr is referenced twice per round (dangling aggregate + contribution
      // join), so an uncheckpointed chain recomputes the whole upstream per
      // consumer — measured 2.9 s vs 2.0 s at the gate scale when cut only
      // every 4 rounds
      pr = pr.localCheckpoint(false)
      i += 1
    }
    // materialize the final checkpoint while inputs are still cached, then
    // release them — the returned frame reads the checkpoint, not the chain
    pr.count()
    e.unpersist()
    deg.unpersist()
    pr.select(col("node"), col("pr").as("rank"))
  }

  /** Node-count gate for the folded small-graph regime: up to this many
    * nodes, every round folds inside one mapPartitions over the contracted
    * WEIGHTED edge table (the domainMixtureWeights fold precedent) — a
    * domain-prior graph has tens-to-thousands of nodes, so the per-round
    * dangling aggregate + contribution join + checkpoint (~4 stage jobs x
    * iters of pure floor) collapse to one task. Past the gate (host graphs,
    * 100M+ nodes) the distributed round-loop runs unchanged. */
  private val PageRankFoldMaxNodes = 2048L

  /** The folded regime: ONE corpus-scale aggregate contracts multi-edges to
    * (src, dst, w) — at most n² rows under the node gate — then all rounds
    * run sequentially over the n-sized rank array. Arithmetic parity with
    * the loop is exact: inc(v) = Σ_edges pr(u) div deg(u) equals
    * Σ_pairs w·(pr(u) div deg(u)) term-for-term, 64-bit addition is
    * associative/commutative, and every `div` has non-negative operands so
    * Scala `/` matches (GraphSpec pins the regimes equal; min-of-6 at the
    * gate shape 1.54 -> 0.70 s, PageRankProbe in CLAUDE.md's probe lessons).
    * Stays a PLAN (mapPartitions over the union-packed frame), so
    * composition semantics are unchanged. */
  private def pageRankFolded(e: DataFrame, deg: DataFrame, n: Long, iters: Int,
                             dampNum: Long, dampDen: Long, init: Long,
                             base: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ew = e.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("bigint").as("w"))
    val dstType = e.schema("dst").dataType
    val packed = deg
      .select(col("node"), col("deg"), lit(null).cast(dstType).as("dst"),
        lit(0L).as("w"), lit(true).as("is_node"))
      .unionByName(ew.select(col("src").as("node"), lit(0L).as("deg"),
        col("dst"), col("w"), lit(false).as("is_node")))
    val outSchema = StructType(Seq(
      deg.schema("node").copy(name = "node"),
      StructField("rank", LongType, nullable = false)))
    val res = packed.coalesce(1).mapPartitions { it =>
      val nodesB = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
      val edgesB = scala.collection.mutable.ArrayBuffer.empty[(Any, Any, Long)]
      it.foreach { r =>
        if (r.getBoolean(4)) nodesB += ((r.get(0), r.getLong(1)))
        else edgesB += ((r.get(0), r.get(2), r.getLong(3)))
      }
      val idx = nodesB.iterator.map(_._1).zipWithIndex.toMap
      val degA = nodesB.iterator.map(_._2).toArray
      var pr = Array.fill(nodesB.length)(init)
      var round = 0
      while (round < iters) {
        var dang = 0L
        var i = 0
        while (i < degA.length) { if (degA(i) == 0L) dang += pr(i); i += 1 }
        val inc = new Array[Long](degA.length)
        edgesB.foreach { case (s, d, w) =>
          val si = idx(s)
          inc(idx(d)) += w * (pr(si) / degA(si))
        }
        val next = new Array[Long](degA.length)
        i = 0
        while (i < degA.length) {
          next(i) = base + dampNum * (inc(i) + dang / n) / dampDen
          i += 1
        }
        pr = next
        round += 1
      }
      nodesB.iterator.zipWithIndex.map { case ((node, _), i) =>
        org.apache.spark.sql.Row(node, pr(i))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .localCheckpoint(false)
    res.count()
    e.unpersist()
    deg.unpersist()
    res
  }
}
