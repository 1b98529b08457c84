package graft.ext

import graft.core.Checkpoints
import graft.core.Checkpoints.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/**
 * Distributed GRAPH ANALYTICS over plain edge tables — the iterative
 * siblings of [[Dedup.components]] (which already gives weakly-connected
 * components for the dedup family). The reference has no graph surface;
 * these exist for the corpus-graph workloads a training-data pipeline
 * runs on 100 TB link/citation/co-occurrence tables: rank pages before
 * sampling (PageRank), measure local clustering before graph-aware
 * dedup (triangle counts).
 *
 * Both operators are expressed as slim-frame hash joins + aggregates —
 * no custom plans, no driver-side adjacency:
 *
 *  - [[pageRank]] moves only `(node, rank, dangling flag)` rows per
 *    iteration (the edge table is joined pre-partitioned on `src`, so
 *    each of the fixed `iters` rounds pays ONE shuffle of the slim rank
 *    frame into the edge partitioning plus ONE aggregate shuffle on
 *    `dst`, in ONE Spark action: the round's lineage cut);
 *  - [[triangleCounts]] uses the degree-ordered orientation (compact-
 *    forward; Latapy 2008): every edge points from its lower-(degree,
 *    id) endpoint, so per-node out-degree is O(√m) on ANY graph and the
 *    wedge join's intermediate is bounded by Σ outdeg² — the classic
 *    guard against the star-graph blowup a naive id-orientation hits
 *    when one hub has 10⁸ neighbors.
 *
 * EXACTNESS: PageRank here is integer arithmetic end to end. Ranks are
 * BIGINT micro-units of 10⁻¹² (`pr` = rank × 10¹², floored), every
 * division is integral (`div`), and the damping split is 85/100 —
 * so the result is bit-identical on any engine that replays the same
 * floor arithmetic (the q234 oracle does, in DuckDB `//`), immune to
 * double summation order and decimal encodings. Floors leak ≤ 1
 * micro-unit of mass per edge per round — documented, deterministic,
 * and irrelevant at 10⁻¹² granularity. Dangling mass (nodes with no
 * out-edges) is redistributed uniformly each round, the standard
 * Brin-Page 1998 treatment.
 *
 * FAULT TOLERANCE: every iterative operator here cuts lineage once per
 * round through [[graft.core.Checkpoints.cut]]. The local-mode default
 * (`localCheckpoint`) stores the cut blocks on executors — fine at
 * `local[n]`, unrecoverable on a cluster if an executor dies mid-job.
 * For cluster runs set `spark.graft.checkpointDir` to a fault-tolerant
 * path and every round's cut becomes a reliable `checkpoint()` whose
 * partitions survive executor loss (row-identical either way — pinned
 * by spec).
 */
object Graph {

  /** Rank unit: `pr` column = PageRank × RANK_SCALE, floored. */
  final val RankScale: Long = 1000000000000L

  private def refusedLong(df: DataFrame, c: String, op: String): org.apache.spark.sql.Column =
    when(col(c).isNull,
      raise_error(lit(s"$op: NULL $c — a silently dropped edge endpoint " +
        "would redistribute its mass to the wrong nodes")).cast(LongType))
      .otherwise(col(c).cast(LongType))

  /**
   * PageRank with damping 0.85 over a directed edge table, run for a
   * FIXED `iters` rounds (fixed rounds, not a convergence test, keep
   * the result replayable by an external oracle and the job count
   * static). Parallel edges count with multiplicity (adjacency-matrix
   * semantics — dedup upstream if unwanted); self-loops are ordinary
   * edges; NULL endpoints are refused loudly.
   *
   * Returns `(node BIGINT, pr BIGINT)` for every node that appears as
   * src or dst, where `pr` is rank × 10¹² under floor semantics:
   *
   *   pr⁰(v)   = RankScale div N
   *   contrib(u→v) = (pr(u) * 85) div (100 * outdeg(u))   per edge
   *   pr¹(v)  = (RankScale * 15 div 100) div N
   *            + (danglingSum * 85) div (100 * N)
   *            + Σ_in-edges contrib
   *
   * Scale: the edge table (+ per-src out-degree) is materialized ONCE,
   * repartitioned on `src`, and reused every round; the per-round
   * moving parts are the (node, pr) frame (shuffled into that
   * partitioning) and the contribution aggregate on `dst`. Each round
   * is ONE action, its lineage cut, which also observes the dangling
   * mass the next round redistributes. At 10⁹ nodes the rank frame is ~16 GB spread over the cluster;
   * nothing here is proportional to edge count on the driver.
   */
  def pageRank(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", iters: Int = 10): DataFrame = {
    require(iters >= 1 && iters <= 100,
      s"pageRank: iters must be in [1, 100], got $iters")
    Seq(srcCol, dstCol).foreach { c =>
      require(edges.columns.contains(c),
        s"pageRank: column '$c' missing from ${edges.columns.mkString("[", ",", "]")}")
    }
    val e = edges.select(
        refusedLong(edges, srcCol, "pageRank").as("src"),
        refusedLong(edges, dstCol, "pageRank").as("dst"))
    rankLoop(e, None, iters, "pageRank")
  }

  /**
   * PERSONALIZED PageRank: [[pageRank]] with the teleport restricted
   * to a source set — the "rank relative to these seeds" query behind
   * seed-expansion dedup and related-document mining. Identical
   * integer floor semantics with the teleport terms redirected:
   *
   *   pr⁰(v)  = RankScale div |S|  if v ∈ S else 0
   *   pr'(v)  = [v ∈ S] · ((RankScale·15 div 100) div |S|
   *             + (danglingSum · 85) div (100 · |S|))
   *            + Σ contrib   (contrib as in [[pageRank]])
   *
   * (dangling mass teleports back to the seeds — the standard PPR
   * treatment). Sources need not appear in the edge table; unknown
   * seeds still hold teleport mass. Same scale shape as [[pageRank]];
   * same engine-replayable exactness (the q244 oracle).
   */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Long],
                           srcCol: String = "src", dstCol: String = "dst",
                           iters: Int = 10): DataFrame = {
    require(iters >= 1 && iters <= 100,
      s"personalizedPageRank: iters must be in [1, 100], got $iters")
    require(sources.nonEmpty && sources.distinct.size == sources.size,
      "personalizedPageRank: sources must be non-empty and distinct")
    Seq(srcCol, dstCol).foreach { c =>
      require(edges.columns.contains(c),
        s"personalizedPageRank: column '$c' missing from ${edges.columns.mkString("[", ",", "]")}")
    }
    val e = edges.select(
        refusedLong(edges, srcCol, "personalizedPageRank").as("src"),
        refusedLong(edges, dstCol, "personalizedPageRank").as("dst"))
    rankLoop(e, Some(sources), iters, "personalizedPageRank")
  }

  /**
   * The fixed-round loop behind [[pageRank]] (`seeds` = None: every
   * node is a seed) and [[personalizedPageRank]] over the `(src, dst)`
   * edge frame `e`. Each rank frame carries a `_dang` flag (no
   * out-edges) set once from `nodes LEFT JOIN deg`, and each round's
   * cut observes the frame's dangling mass `sum(pr where _dang)` — the
   * next round's teleport term — so a round is ONE action, the cut
   * ([[graft.core.Checkpoints.cutObserved]]).
   */
  private def rankLoop(e: DataFrame, seeds: Option[Seq[Long]],
                       iters: Int, op: String): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val es = e.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    // out-degree per src, co-partitioned with the edge frame
    val deg = es.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every node (seeds need not appear in the edge table), flagged
    // dangling when it has no out-edges: its mass redistributes to the
    // seeds every round
    val nodeRefs = es.select(col("src").as("node"))
      .union(es.select(col("dst").as("node")))
    val nodes = seeds.map(s => nodeRefs.union(s.toDF("node")))
      .getOrElse(nodeRefs).distinct()
      .join(deg.select(col("src").as("node"), lit(false).as("_dang")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("_dang"), lit(true)).as("_dang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val isSeed = seeds.map(s => col("node").isin(s: _*)).getOrElse(lit(true))
    val nS = seeds.map(_.size.toLong).getOrElse(nodes.count())
    require(nS > 0, s"$op: empty edge table")
    val eDeg = es.join(deg, Seq("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = (RankScale * 15L / 100L) / nS // exact: both operands positive
    def cutRound(ranks: DataFrame, i: Int): (DataFrame, Long) = {
      val name = s"rank_round_$i"
      val (cut, m) = Checkpoints.cutObserved(ranks.observe(name,
          coalesce(sum(when(col("_dang"), col("pr"))), lit(0L)).as("dangling")),
        op, name)
      (cut, m(name).getLong(0))
    }
    var (ranks, ds) = cutRound(nodes.select(col("node"),
      when(isSeed, lit(RankScale / nS)).otherwise(lit(0L)).as("pr"),
      col("_dang")), 0)
    for (i <- 1 to iters) {
      val dTerm = (ds * 85L) / (100L * nS)
      val contrib = eDeg
        .join(ranks.select(col("node").as("src"), col("pr")), Seq("src"))
        .select(col("dst").as("node"),
          expr("(pr * 85) div (100 * outdeg)").as("c"))
        .groupBy("node").agg(sum("c").as("cs"))
      val (next, nextDs) = cutRound(nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (when(isSeed, lit(base + dTerm)).otherwise(lit(0L)) +
            coalesce(col("cs"), lit(0L))).as("pr"),
          col("_dang")), i)
      ranks = next; ds = nextDs
    }
    Seq(es, nodes, deg, eDeg).foreach(_.unpersist())
    ranks.select(col("node"), col("pr"))
  }

  /**
   * Weakly-CONNECTED COMPONENTS over an edge table — the first-class
   * graph-family entry point for the machinery [[Dedup.components]]
   * has run under the dedup pipelines since round 3 (min-label
   * propagation with pointer doubling; converges in O(log d) rounds of
   * slim (node, rep) joins). Directions are ignored (weak
   * connectivity); self-loops are fine; every node that appears in
   * the edge table gets a row. Returns `(node, rep)` where `rep` is
   * the component's minimum node id — deterministic under any
   * parallelism.
   */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst",
                          maxIter: Int = 20): DataFrame = {
    Seq(srcCol, dstCol).foreach { c =>
      require(edges.columns.contains(c),
        s"connectedComponents: column '$c' missing from ${edges.columns.mkString("[", ",", "]")}")
    }
    Dedup.components(edges.select(
      refusedLong(edges, srcCol, "connectedComponents").as("id"),
      refusedLong(edges, dstCol, "connectedComponents").as("id2")), maxIter)
  }

  /**
   * CO-OCCURRENCE projection of a bipartite edge table (docs × terms,
   * users × items): every unordered pair of DISTINCT right endpoints
   * sharing a left endpoint, with the number of shared lefts — the
   * corpus co-occurrence graph that feeds PMI / embedding-adjacent
   * pipelines. Pairs are canonical (`a < b`); a (src, dst) edge
   * counted once regardless of input duplicates.
   *
   * The quadratic hazard is structural: one hub src with 10⁶ dsts
   * yields 5·10¹¹ pairs. Like every candidate-generating operator in
   * this repo the cap is LOUD, not silent: a src whose distinct-dst
   * degree exceeds `maxSrcDegree` REFUSES with the id and count —
   * sample or drop hubs explicitly upstream (they are stopword-class
   * evidence anyway), never lose pairs silently. Scale: one shuffle
   * to group by src, pairs generated map-side from each src's bounded
   * dst set, one aggregate shuffle on the pair key.
   */
  def coOccurrence(edges: DataFrame, srcCol: String = "src",
                   dstCol: String = "dst",
                   maxSrcDegree: Int = 10000): DataFrame = {
    require(maxSrcDegree >= 2,
      s"coOccurrence: maxSrcDegree must be >= 2, got $maxSrcDegree")
    Seq(srcCol, dstCol).foreach { c =>
      require(edges.columns.contains(c),
        s"coOccurrence: column '$c' missing from ${edges.columns.mkString("[", ",", "]")}")
    }
    val e = edges.select(
        refusedLong(edges, srcCol, "coOccurrence").as("s"),
        refusedLong(edges, dstCol, "coOccurrence").as("d"))
      .distinct()
    // the hub guard runs on a COUNT aggregate BEFORE any dst set is
    // materialized — raising from inside the collect_set projection
    // would OOM on a 10^8-degree hub before the check ever evaluated
    val deg = e.groupBy("s").agg(count(lit(1)).as("_deg"))
      .select(
        when(col("_deg") > maxSrcDegree,
          raise_error(concat(lit("coOccurrence: src "), col("s").cast("string"),
            lit(" has "), col("_deg").cast("string"),
            lit(s" distinct dsts > maxSrcDegree ($maxSrcDegree) — drop or " +
              "sample hub sources explicitly upstream"))).cast("long"))
        .otherwise(col("s")).as("s"))
    val grouped = e.join(deg, Seq("s"), "left_semi")
      .groupBy("s")
      .agg(sort_array(collect_set(col("d"))).as("ds"))
    // all ordered index pairs (i < j) of the sorted per-src dst set —
    // canonical (a < b) for free, generated map-side
    grouped
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
  }

  /**
   * Single-source SHORTEST PATHS bounded to `rounds` edges (Bellman-
   * Ford relaxation run a FIXED number of rounds — fixed, like
   * [[pageRank]]'s, to keep the result replayable by an external
   * oracle and the job count static): the minimum total weight over
   * all paths from `sourceId` using AT MOST `rounds` edges. With
   * `rounds >= |V| - 1` this is the full shortest-path distance;
   * smaller bounds are the "within k hops" query a corpus-graph
   * pipeline usually wants. Unreached nodes are OMITTED (absence IS
   * infinity — materializing every node at +inf would make the frame
   * |V|-sized from round 0 for no benefit).
   *
   * Weights are BIGINT and must be >= 0 (refused loudly — bounded-
   * round semantics under negative weights answers a question nobody
   * asks); omit `wCol` for hop counts (weight 1 per edge). Addition
   * is overflow-checked: a wrapped distance raises instead of
   * winning the min. Integer end to end — bit-identical on any
   * engine replaying the same relaxation (the q238 oracle does).
   *
   * Scale: round i joins the CURRENT distance frame (slim (node,
   * dist) longs) against the edge table on src and min-merges — two
   * shuffles of frames bounded by the reached set; the edge table is
   * repartitioned ONCE on src and reused. Nothing is collected.
   */
  def shortestPaths(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst", wCol: Option[String] = None,
                    sourceId: Long = 0L, rounds: Int = 10): DataFrame = {
    require(rounds >= 1 && rounds <= 200,
      s"shortestPaths: rounds must be in [1, 200], got $rounds")
    (Seq(srcCol, dstCol) ++ wCol).foreach { c =>
      require(edges.columns.contains(c),
        s"shortestPaths: column '$c' missing from ${edges.columns.mkString("[", ",", "]")}")
    }
    val wExpr = wCol match {
      case Some(w) =>
        when(col(w).isNull,
          raise_error(lit("shortestPaths: NULL weight — a silently " +
            "dropped edge would misreport a distance")).cast(LongType))
        .when(col(w).cast(LongType) < 0L,
          raise_error(lit("shortestPaths: negative weight — bounded-round " +
            "relaxation is only meaningful for non-negative weights"))
            .cast(LongType))
        .otherwise(col(w).cast(LongType))
      case None => lit(1L)
    }
    val e = edges.select(
        refusedLong(edges, srcCol, "shortestPaths").as("src"),
        refusedLong(edges, dstCol, "shortestPaths").as("dst"),
        wExpr.as("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    import spark.implicits._
    var dist = Seq((sourceId, 0L)).toDF("node", "dist").lineageCut()
    var i = 0
    while (i < rounds) {
      val relaxed = e.join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          when(col("dist") + col("w") < col("dist"),
            raise_error(lit("shortestPaths: distance overflow — weights " +
              "too large for the round bound")).cast(LongType))
          .otherwise(col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
        .lineageCut()
      i += 1
    }
    e.unpersist()
    dist
  }

  /**
   * Per-node TRIANGLE COUNTS over an undirected graph given as an edge
   * table (either orientation, duplicates and self-loops tolerated:
   * edges are canonicalized to `least/greatest` pairs, deduplicated,
   * and self-loops dropped — a self-loop is not a triangle under any
   * standard definition). Returns `(node BIGINT, triangles BIGINT)`
   * for every node with at least one NON-self-loop edge, zero
   * included; a node whose only edges are self-loops has no incident
   * canonical edge and is omitted (it cannot be in a triangle, so
   * callers that need such nodes listed should union the raw node set
   * with `coalesce(triangles, 0)`).
   *
   * Algorithm: degree-ordered orientation + wedge join (compact-
   * forward). Each undirected edge points from the endpoint with the
   * smaller (degree, id) to the larger; a triangle {a,b,c} then has
   * exactly one node with two out-edges, so the wedge join
   * (u→v, u→w, key(v) < key(w)) followed by an existence join on the
   * oriented edge (v→w) finds each triangle EXACTLY ONCE — no /3
   * correction, no multiset dedup. The orientation bounds out-degree
   * by O(√m), so the wedge intermediate is Σ outdeg² = O(m^1.5) even
   * when the raw graph has a 10⁸-degree hub — that, not the join
   * order, is what survives 100 TB edge tables. Three hash joins +
   * two aggregates; no driver-side adjacency, nothing collected.
   */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    Seq(srcCol, dstCol).foreach { c =>
      require(edges.columns.contains(c),
        s"triangleCounts: column '$c' missing from ${edges.columns.mkString("[", ",", "]")}")
    }
    val raw = edges.select(
      refusedLong(edges, srcCol, "triangleCounts").as("a0"),
      refusedLong(edges, dstCol, "triangleCounts").as("b0"))
    val und = raw.filter(col("a0") =!= col("b0"))
      .select(least(col("a0"), col("b0")).as("a"),
              greatest(col("a0"), col("b0")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node"))).distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // orient: u -> v iff (deg(u), u) < (deg(v), v)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
    val o = withDeg.select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("da").as("ku"), col("db").as("kv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("db").as("ku"), col("da").as("kv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"),
              col("e.kv").as("kv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges u -> {v, w} with key(v) < key(w); triangle iff v -> w oriented
    val e1 = o.select(col("u"), col("v").as("x"), col("kv").as("kx"))
    val e2 = o.select(col("u"), col("v").as("y"), col("kv").as("ky"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("kx") < col("ky") ||
              (col("kx") === col("ky") && col("x") < col("y")))
    val tris = wedges.join(
        o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perNode = tris.select(col("u").as("node"))
      .union(tris.select(col("x").as("node")))
      .union(tris.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val out = nodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
      .lineageCut()
    Seq(und, o, tris).foreach(_.unpersist())
    out
  }
}
