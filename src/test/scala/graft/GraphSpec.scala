package graft

import org.apache.spark.sql.functions._

import graft.ext.Graph

/**
 * [[graft.ext.Graph]] vs local single-threaded references: PageRank's
 * integer floor arithmetic replayed directly (so the distributed join
 * shape is pinned against the exact spec the q234 oracle replays), and
 * triangle counts vs a brute triple enumeration — including the star
 * graph the degree orientation exists for, duplicate/self-loop
 * tolerance, and the refusal surface.
 */
class GraphSpec extends SparkSpec {

  import Graph.RankScale

  /** Local reference for pageRank's exact integer semantics. */
  private def refPr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var pr: Map[Long, Long] = nodes.map(_ -> RankScale / n).toMap
    val base = (RankScale * 15L / 100L) / n
    for (_ <- 1 to iters) {
      val ds = nodes.filterNot(outdeg.contains).map(pr).sum
      val dTerm = (ds * 85L) / (100L * n)
      val contrib = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => (pr(u) * 85L) / (100L * outdeg(u)) }.sum
      }
      pr = nodes.map(v => v -> (base + dTerm + contrib.getOrElse(v, 0L))).toMap
    }
    pr
  }

  private def prOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRank matches the integer reference on a small digraph") {
    // 1 -> {2,3}, 2 -> 3, 3 -> 1, 4 -> 3, and 5 dangling (dst only)
    val edges = Seq[(Long, Long)]((1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 5))
    for (iters <- Seq(1, 3, 7))
      assert(prOf(edges, iters) === refPr(edges, iters))
  }

  test("pageRank: parallel edges carry multiplicity; self-loops are edges") {
    val edges = Seq[(Long, Long)]((1, 2), (1, 2), (2, 1), (3, 3), (2, 3))
    assert(prOf(edges, 4) === refPr(edges, 4))
  }

  test("pageRank: all-dangling target keeps total mass bounded by scale") {
    val edges = Seq[(Long, Long)]((1, 2), (3, 2), (4, 2))
    val pr = prOf(edges, 5)
    assert(pr === refPr(edges, 5))
    assert(pr.values.sum <= RankScale)
  }

  test("pageRank refusals: NULL endpoint, bad iters, missing column") {
    import spark.implicits._
    val bad = Seq((Some(1L), None: Option[Long])).toDF("src", "dst")
    val e1 = intercept[Exception] { Graph.pageRank(bad, iters = 2).collect() }
    assert(e1.getMessage.contains("NULL dst"))
    val ok = Seq((1L, 2L)).toDF("src", "dst")
    assertThrows[IllegalArgumentException] { Graph.pageRank(ok, iters = 0) }
    assertThrows[IllegalArgumentException] {
      Graph.pageRank(ok.withColumnRenamed("src", "s"), iters = 1)
    }
  }

  /** Local reference for personalizedPageRank's integer semantics. */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Seq[Long],
                     iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ seeds).distinct.sorted
    val s = seeds.toSet
    val nS = seeds.size.toLong
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var pr: Map[Long, Long] =
      nodes.map(v => v -> (if (s(v)) RankScale / nS else 0L)).toMap
    val base = (RankScale * 15L / 100L) / nS
    for (_ <- 1 to iters) {
      val ds = nodes.filterNot(outdeg.contains).map(pr).sum
      val dTerm = (ds * 85L) / (100L * nS)
      val contrib = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => (pr(u) * 85L) / (100L * outdeg(u)) }.sum
      }
      pr = nodes.map(v => v ->
        ((if (s(v)) base + dTerm else 0L) + contrib.getOrElse(v, 0L))).toMap
    }
    pr
  }

  test("personalizedPageRank matches its integer reference; all-nodes seeds = pageRank") {
    import spark.implicits._
    val edges = Seq[(Long, Long)]((1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 5))
    val df = edges.toDF("src", "dst")
    for (seeds <- Seq(Seq(1L), Seq(2L, 5L), Seq(9L))) { // 9 is off-graph
      val got = Graph.personalizedPageRank(df, seeds, iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === refPpr(edges, seeds, 4), s"seeds=$seeds")
    }
    val all = (1L to 5L).toSeq
    val ppr = Graph.personalizedPageRank(df, all, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr === refPr(edges, 3), "uniform seeds degenerate to pageRank")
    assertThrows[IllegalArgumentException] {
      Graph.personalizedPageRank(df, Seq.empty, iters = 2)
    }
    assertThrows[IllegalArgumentException] {
      Graph.personalizedPageRank(df, Seq(1L, 1L), iters = 2)
    }
  }

  test("pageRank and personalizedPageRank: one action per iteration, the round's cut") {
    import spark.implicits._
    val df = Seq[(Long, Long)]((1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 5))
      .toDF("src", "dst")
    val runs = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (i => Graph.pageRank(df, iters = i)),
      "personalizedPageRank" ->
        (i => Graph.personalizedPageRank(df, Seq(2L, 5L), iters = i)))
    for ((op, run) <- runs) {
      def actions(iters: Int): Seq[String] =
        recordActions(run(iters).collect())._2.map(_._1)
      val two = actions(2)
      val five = actions(5)
      // three more rounds cost exactly three more actions, and each is
      // a lineage cut (the dangling mass rides the cut's observe metric)
      assert(five.size - two.size === 3, s"$op: $two vs $five")
      assert(five.diff(two) === Seq.fill(3)("localCheckpoint"),
        s"$op: $two vs $five")
    }
  }

  /** Local reference: Bellman-Ford, exactly `rounds` relaxation rounds. */
  private def refSp(edges: Seq[(Long, Long, Long)], src: Long,
                    rounds: Int): Map[Long, Long] = {
    var d = Map(src -> 0L)
    for (_ <- 1 to rounds) {
      val relaxed = edges.flatMap { case (u, v, w) =>
        d.get(u).map(du => v -> (du + w))
      }
      d = (d.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    d
  }

  private def spOf(edges: Seq[(Long, Long, Long)], src: Long,
                   rounds: Int, hops: Boolean = false): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst", "w")
    Graph.shortestPaths(df, wCol = if (hops) None else Some("w"),
        sourceId = src, rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("shortestPaths matches the Bellman-Ford reference; bound semantics; omission") {
    // 0->1 (10), 0->2 (1), 2->1 (2), 1->3 (1), 4 unreachable from 0,
    // parallel edge 0->2 (5) loses to the cheaper one
    val edges = Seq[(Long, Long, Long)](
      (0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 1), (4, 0, 7), (0, 2, 5))
    for (rounds <- Seq(1, 2, 3, 6)) {
      val got = spOf(edges, 0L, rounds)
      assert(got === refSp(edges, 0L, rounds), s"rounds=$rounds")
    }
    // at rounds=1 only direct edges: 1 via 0->1 costs 10 (the 2-hop
    // cheaper path needs round 2); node 3 needs 3 hops; 4 never appears
    assert(spOf(edges, 0L, 1) === Map(0L -> 0L, 1L -> 10L, 2L -> 1L))
    assert(spOf(edges, 0L, 3)(1L) === 3L && spOf(edges, 0L, 3)(3L) === 4L)
    assert(!spOf(edges, 0L, 6).contains(4L))
    // hop-count mode (no weight column)
    assert(spOf(edges, 0L, 6, hops = true) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("shortestPaths refusals: negative weight, NULL weight, rounds range") {
    import spark.implicits._
    val neg = Seq((0L, 1L, -1L)).toDF("src", "dst", "w")
    val e1 = intercept[Exception] {
      Graph.shortestPaths(neg, wCol = Some("w"), sourceId = 0L, rounds = 2).collect()
    }
    assert(e1.toString.contains("negative weight") ||
      Option(e1.getCause).exists(_.getMessage.contains("negative weight")))
    val nw = Seq((Some(0L), Some(1L), None: Option[Long])).toDF("src", "dst", "w")
    val e2 = intercept[Exception] {
      Graph.shortestPaths(nw, wCol = Some("w"), sourceId = 0L, rounds = 2).collect()
    }
    assert(e2.toString.contains("NULL weight") ||
      Option(e2.getCause).exists(_.getMessage.contains("NULL weight")))
    val ok = Seq((0L, 1L, 1L)).toDF("src", "dst", "w")
    assertThrows[IllegalArgumentException] {
      Graph.shortestPaths(ok, wCol = Some("w"), rounds = 0)
    }
  }

  /** Brute per-node triangle counts over canonical distinct edges. */
  private def refTri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = (und.map(_._1) ++ und.map(_._2)).toSeq.sorted
    val cnt = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if und((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.length
      if und((nodes(j), nodes(k))) && und((nodes(i), nodes(k)))
    } { cnt(nodes(i)) += 1; cnt(nodes(j)) += 1; cnt(nodes(k)) += 1 }
    nodes.map(v => v -> cnt(v)).toMap
  }

  private def triOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.triangleCounts(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangleCounts matches brute enumeration incl. zero-triangle nodes") {
    // two triangles sharing edge (2,3) + a pendant node 6
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (2, 4), (3, 4), (5, 6))
    val got = triOf(edges)
    assert(got === refTri(edges))
    assert(got(5) === 0L && got(6) === 0L)
  }

  test("triangleCounts: duplicates, reversed orientation and self-loops collapse") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3))
    assert(triOf(edges) === refTri(edges))
  }

  test("triangleCounts: star graph (the degree-orientation case) and K5") {
    val star = (2L to 40L).map(i => (1L, i))
    assert(triOf(star) === refTri(star)) // all zeros
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val got = triOf(k5)
    assert(got === refTri(k5))
    assert(got.values.forall(_ === 6L)) // each K5 node is in C(4,2) triangles
  }

  test("triangleCounts: deterministic across partitionings") {
    import spark.implicits._
    val edges = (1L to 200L).map(i => (i % 23, (i * 7) % 23))
    val df = edges.toDF("src", "dst")
    val a = Graph.triangleCounts(df.repartition(1)).collect().toSet
    val b = Graph.triangleCounts(df.repartition(7)).collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("connectedComponents: brute union-find twin, direction/self-loop tolerance") {
    import spark.implicits._
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (5, 4), (7, 7), (9, 8), (8, 10))
    // brute: min reachable id per node over the symmetric closure
    val sym = edges.flatMap(e => Seq(e, e.swap)).distinct
    val nodes = sym.map(_._1).distinct
    def reach(n: Long): Set[Long] = {
      var seen = Set(n); var frontier = Set(n)
      while (frontier.nonEmpty) {
        val next = sym.filter(e => frontier(e._1)).map(_._2).toSet -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    val exp = nodes.map(n => n -> reach(n).min).toMap
    val got = Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exp)
    assert(got(7L) === 7L && got(10L) === 8L && got(4L) === 4L)
  }

  test("coOccurrence: brute twin, duplicate collapse, hub cap refusal") {
    import spark.implicits._
    val edges = Seq[(Long, Long)](
      (1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 12), (1, 10), (2, 10))
    val got = Graph.coOccurrence(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // src 1 -> {10,11,12}: 3 pairs; src 2 -> {10,11}: 1 pair; src 3 singleton
    assert(got === Set((10L, 11L, 2L), (10L, 12L, 1L), (11L, 12L, 1L)))
    val eCap = intercept[Exception] {
      Graph.coOccurrence(edges.toDF("src", "dst"), maxSrcDegree = 2).collect()
    }
    assert(eCap.toString.contains("maxSrcDegree") ||
      Option(eCap.getCause).exists(_.getMessage.contains("maxSrcDegree")))
    assertThrows[IllegalArgumentException] {
      Graph.coOccurrence(edges.toDF("src", "dst"), maxSrcDegree = 1)
    }
  }

  test("triangleCounts refusal: NULL endpoint") {
    import spark.implicits._
    val bad = Seq((Some(1L), None: Option[Long])).toDF("src", "dst")
    val e = intercept[Exception] { Graph.triangleCounts(bad).collect() }
    assert(e.getMessage.contains("NULL dst"))
  }
}
