package graft.core

import graft.core.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Planar DISTANCE (radius) join via grid binning — the spatial sibling
 * of [[graft.plans.BinnedRangeJoin]]: "every (left, right) pair within
 * `radius`" without the cross join Spark would otherwise plan for a
 * non-equi spatial predicate. Points are binned to square grid cells
 * of side `cellSize >= radius`; the right side replicates into its
 * 3×3 cell neighborhood, the join is a plain HASH join on the cell
 * key, and the exact `dx² + dy² <= radius²` predicate verifies every
 * candidate — correctness never depends on the binning (any true pair
 * is at most one cell apart on each axis because `cellSize >= radius`;
 * the left point's cell appears exactly once in the right point's nine,
 * so no pair can duplicate).
 *
 * Coordinates are PLANAR (a projected CRS — metres in 3857/UTM via
 * [[GeoOps]] transforms, or any affine plane). Distance is pure
 * `-`/`*`/`+` arithmetic, so results are bit-deterministic across
 * engines (no trig; a haversine variant would inherit `sin`/`cos` ulp
 * classes at the radius boundary). NULL/NaN coordinates are REFUSED
 * loudly — a null cell key would silently drop the point from every
 * pair, which is a wrong answer, not a missing one.
 *
 * Scale: shuffle carries each left row once and each right row 9×
 * (cells are slim longs); the join is hash-partitioned on cell keys,
 * so density skew (a hot city cell) is ordinary join skew —
 * [[graft.ext.Skew.saltedJoin]] composes on the cell key if one cell
 * dominates, and `cellSize` trades replication (larger cells, fewer
 * duplicates of dense borders) against candidate-verify fan-in.
 */
object DistanceJoin {

  /**
   * All (left, right) pairs with planar distance <= `radius`. Returns
   * `left.* ++ right.* ++ (dist2, dist)` — `dist2` exact arithmetic,
   * `dist` its IEEE-correctly-rounded sqrt. Column names must be
   * disjoint (refused loudly otherwise).
   */
  def radiusJoin(left: DataFrame, right: DataFrame,
                 lx: String, ly: String, rx: String, ry: String,
                 radius: Double, cellSize: Option[Double] = None,
                 saltCells: Int = 0): DataFrame = {
    require(radius > 0 && !radius.isInfinite, s"radius must be finite > 0, got $radius")
    require(saltCells == 0 || saltCells >= 2,
      s"saltCells: 0 (off) or >= 2, got $saltCells")
    val cs = cellSize.getOrElse(radius)
    require(cs >= radius,
      s"cellSize ($cs) must be >= radius ($radius) — smaller cells would " +
      "need a wider neighborhood than 3x3 and silently lose pairs")
    Seq(lx -> left, ly -> left, rx -> right, ry -> right).foreach {
      case (c, df) => require(df.columns.contains(c),
        s"radiusJoin: column '$c' missing from ${df.columns.mkString("[", ",", "]")}")
    }
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"radiusJoin: overlapping column names ${overlap.mkString(",")} — " +
      "rename one side (the output carries both sides' columns)")
    Seq("_gcx", "_gcy", "_dx", "_dy", "dist2", "dist").foreach { c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"radiusJoin: reserved output column '$c' already present — rename it")
    }
    def cell(x: Column, axis: String): Column =
      when(x.isNull || isnan(x),
        raise_error(concat(lit(s"radiusJoin: NULL/NaN $axis coordinate — "),
          lit("a null cell would silently drop the point from every pair")))
          .cast("long"))
        .otherwise(floor(x / cs).cast("long"))
    val l = left
      .withColumn("_gcx", cell(col(lx), "x"))
      .withColumn("_gcy", cell(col(ly), "y"))
    val r = right
      .withColumn("_dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gcx", cell(col(rx), "x") + col("_dx"))
      .withColumn("_gcy", cell(col(ry), "y") + col("_dy"))
      .drop("_dx", "_dy")
    val ddx = col(lx) - col(rx)
    val ddy = col(ly) - col(ry)
    // saltCells routes the cell-key join through the explicit skew
    // tool: the LEFT side salts (deterministic row hash), the
    // replicated right side explodes saltCells more ways — for corpora
    // where one cell (a hot city) dominates the left. Row-identical to
    // the plain join by saltedJoin's contract.
    val joined =
      if (saltCells >= 2)
        graft.ext.Skew.saltedJoin(l, r, Seq("_gcx", "_gcy"), saltCells)
      else l.join(r, Seq("_gcx", "_gcy"))
    joined
      .withColumn("dist2", ddx * ddx + ddy * ddy)
      .filter(col("dist2") <= lit(radius * radius))
      .withColumn("dist", sqrt(col("dist2")))
      .drop("_gcx", "_gcy")
  }

  /**
   * NEAREST-neighbor join: for every left point, its single closest
   * right point (ties to the smallest `rIdCol`). Exact, via ITERATIVE
   * RADIUS DOUBLING over [[radiusJoin]]: probe at `startRadius`,
   * resolve the lefts that found any candidate (all pairs within r are
   * present, so the per-left minimum at radius r IS the true nearest),
   * re-probe only the unresolved lefts at 2r, up to `maxRadius` —
   * log2(maxRadius/startRadius) rounds, each a hash join that carries
   * only the still-unmatched lefts. Lefts with no right point within
   * `maxRadius` are OMITTED (the bound is the caller's contract; an
   * unbounded search against an empty right side would never
   * terminate). VALUE-duplicate left rows collapse to one output row —
   * the group key is the whole left row; pass `lIdCol` (a unique id)
   * to group on a slim key instead, which both preserves duplicates-
   * by-payload and keeps wide left payloads out of the per-round
   * shuffles (the payload joins back once at the end).
   *
   * Scale: round i costs |unmatched_i| × (right density within 3×3
   * cells at radius 2^i) — geometrically fewer lefts against
   * geometrically larger cells; for realistic densities almost
   * everything resolves in round 1 and the tail pays the doubling.
   * Each round lineage-cuts the shrinking unmatched set ([[Checkpoints.cut]]) to stop
   * plan growth.
   */
  /**
   * k-NEAREST-neighbors join: for every left point, its k closest
   * right points with ranks (ties (dist2, right id) — the repo's
   * bounded-heap convention). Same iterative radius doubling as
   * [[nearestJoin]], with the resolution rule generalized: a left
   * resolves at the first radius where it has >= k candidates (all
   * pairs within r are present, so its k nearest are among them —
   * radiusJoin is exact); lefts with fewer than k candidates anywhere
   * within `maxRadius` are resolved AT maxRadius with however many
   * they have (never silently padded). Per-left top-k rides the
   * bounded-heap aggregate — no window, no sort. Right ids must be
   * integral (the heap's id slot); VALUE-duplicate left rows collapse
   * like [[nearestJoin]]'s unless `lIdCol` names a unique left id
   * (slim loop key + one payload join-back).
   *
   * Returns `left.* ++ (rIdCol, dist2, dist, rank)`.
   */
  def knnJoin(left: DataFrame, right: DataFrame,
              lx: String, ly: String, rx: String, ry: String,
              rIdCol: String, k: Int,
              startRadius: Double, maxRadius: Double,
              lIdCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"knnJoin: k must be >= 1, got $k")
    require(startRadius > 0 && maxRadius >= startRadius,
      s"need 0 < startRadius ($startRadius) <= maxRadius ($maxRadius)")
    require(right.columns.contains(rIdCol),
      s"knnJoin: id column '$rIdCol' missing from right side")
    if (lIdCol.isDefined) {
      // slim-key path: loop on (id, x, y), payload back in one join —
      // see [[slimLeft]] for the contract (unique non-NULL ids)
      val id = lIdCol.get
      requireDisjointForJoinBack(left, id, right,
        Seq("dist2", "dist", "rank"), "knnJoin")
      val slim = slimLeft(left, id, lx, ly, "knnJoin")
      // direct knnLoop call so the loop knows the slimLeft uniqueness
      // contract and takes the fused one-job-per-round shape (r16)
      val res = knnLoop(slim, rIdCol, k, startRadius, maxRadius,
          (u, r) => radiusJoin(u, right, lx, ly, rx, ry, r), "dist2",
          uniqueLeft = true)
        .withColumn("dist", sqrt(col("dist2")))
        .select(slim.columns.map(col) ++
          Seq(col(rIdCol), col("dist2"), col("dist"), col("rank")): _*)
        .drop(lx, ly)
      return left.join(res, Seq(id))
    }
    knnLoop(left, rIdCol, k, startRadius, maxRadius,
        (u, r) => radiusJoin(u, right, lx, ly, rx, ry, r), "dist2")
      .withColumn("dist", sqrt(col("dist2")))
      .select(left.columns.map(col) ++
        Seq(col(rIdCol), col("dist2"), col("dist"), col("rank")): _*)
  }

  /** The shared >= k-candidates doubling loop behind [[knnJoin]] and
    * [[geoKnnJoin]]: returns `left.* ++ (rIdCol, tieDist, rank)`. A
    * left resolves at the first radius with >= k candidates (the probe
    * is exact within r, so its k nearest are among them); per-left
    * top-k rides the bounded heap on score `-tieDist` with ties to the
    * smaller right id. */
  private def knnLoop(left: DataFrame, rIdCol: String, k: Int,
                      startRadius: Double, maxRadius: Double,
                      probe: (DataFrame, Double) => DataFrame,
                      tieDist: String,
                      uniqueLeft: Boolean = false): DataFrame = {
    val leftCols = left.columns.map(col)
    var unmatched = left
    var out: Option[DataFrame] = None
    var r = startRadius
    var done = false
    var round = 0
    // explode the round's heap into (rIdCol, tieDist, rank) rows
    def explodeTop(df: DataFrame): DataFrame = df
      .select(leftCols :+ posexplode(col("_top")): _*)
      .select(leftCols ++ Seq(col("col.id").as(rIdCol),
        (-col("col.score")).as(tieDist),
        (col("pos") + 1).cast("int").as("rank")): _*)
    while (!done) {
      val atMax = r >= maxRadius
      val cand = probe(unmatched, r)
      // bounded heap per left: score = -dist (largest = closest),
      // ties to the smaller right id — the TopKAggregate convention
      val grouped = cand.groupBy(leftCols: _*)
        .agg(count(lit(1)).as("_ncand"),
          graft.ext.TopKAggregate.topk_by_score(
            col(rIdCol), -col(tieDist), k).as("_top"))
      if (uniqueLeft && atMax) {
        // FINAL round: one consumer (the union), no unmatched set
        // needed — no join-back, no cut (see nearestLoop)
        val resolved = explodeTop(grouped)
        out = Some(out.map(_.unionByName(resolved)).getOrElse(resolved))
        done = true
      } else if (uniqueLeft) {
        // fused round (optimization r16, same argument as
        // [[nearestLoop]]): ONE materialization carries the resolved
        // heaps, the next round's unmatched set, and the miss metric;
        // grouping columns aliased to fresh names (self-join ambiguity)
        val keyed = grouped.select(
          unmatched.columns.map(c => col(c).as("_k_" + c))
            ++ Seq(col("_ncand"), col("_top")): _*)
        val merged = unmatched.join(keyed,
            unmatched.columns.map(c => unmatched(c) <=> keyed("_k_" + c))
              .reduce(_ && _), "left")
          .select(unmatched.columns.map(unmatched(_))
            ++ Seq(col("_ncand"), col("_top")): _*)
          .observe(s"knn_round_$round",
            count(when(coalesce(col("_ncand"), lit(0L)) < k, 1)).as("miss"),
            count(lit(1)).as("total"))
        val cut = merged.lineageCut()
        val m = merged.queryExecution.observedMetrics(s"knn_round_$round")
        val (miss, total) = (m.getLong(0), m.getLong(1))
        val resolved = explodeTop(cut.filter(col("_ncand") >= k))
        out = Some(out.map(_.unionByName(resolved)).getOrElse(resolved))
        if (miss == 0L) done = true
        else {
          unmatched = cut.filter(coalesce(col("_ncand"), lit(0L)) < k)
            .select(leftCols: _*)
          r = nextRadius(r, maxRadius, miss, total)
        }
      } else {
        // the round's heap frame feeds BOTH the returned union and the
        // anti-join below — cut it once (r16; this loop missed the r15
        // nearestLoop argmin cut, so every consumer re-executed the
        // probe join)
        val resolved = explodeTop(
          if (atMax) grouped else grouped.filter(col("_ncand") >= k))
          .lineageCut()
        out = Some(out.map(_.unionByName(resolved)).getOrElse(resolved))
        if (atMax) done = true
        else {
          val resolvedKeys = resolved.filter(col("rank") === 1)
            .select(leftCols: _*)
          val next = unmatched.join(resolvedKeys,
            unmatched.columns.map(c => unmatched(c) <=> resolvedKeys(c))
              .reduce(_ && _), "left_anti").lineageCut()
          if (next.isEmpty) done = true
          else { unmatched = next; r = math.min(r * 2, maxRadius) }
        }
      }
      round += 1
    }
    out.get
  }

  /**
   * `lIdCol` variants of [[nearestJoin]]/[[knnJoin]]: when the caller
   * names a UNIQUE left id column, the doubling loop runs on a slim
   * `(id, x, y)` projection — the per-round shuffles, anti-joins and
   * per-round lineage cuts carry three columns instead of the whole left
   * payload (which at 100 TB rides EVERY round otherwise), and the
   * payload joins back ONCE at the end by id. Duplicate or NULL ids
   * are REFUSED loudly (a duplicate id would multiply output rows in
   * the payload join — a wrong answer; the whole-row variants instead
   * collapse VALUE-duplicate lefts, their documented semantic).
   */
  private def slimLeft(left: DataFrame, lIdCol: String, lx: String,
                       ly: String, op: String): DataFrame = {
    require(left.columns.contains(lIdCol),
      s"$op: id column '$lIdCol' missing from left side")
    left.groupBy(col(lIdCol)).agg(
      count(lit(1)).as("_gn"), first(col(lx)).as(lx), first(col(ly)).as(ly))
      .select(
        when(col(lIdCol).isNull,
          raise_error(lit(s"$op: NULL left id — the payload join-back " +
            "cannot restore a NULL-keyed row")).cast(left.schema(lIdCol).dataType))
          .when(col("_gn") > 1,
            raise_error(concat(lit(s"$op: duplicate left id "),
              col(lIdCol).cast("string"),
              lit(" — the payload join-back would multiply rows; " +
                "deduplicate or drop lIdCol")))
              .cast(left.schema(lIdCol).dataType))
          .otherwise(col(lIdCol)).as(lIdCol),
        col(lx), col(ly))
  }

  /** The slim-key paths skip the probe's own overlap refusal (the slim
    * frame carries no payload), so the payload join-back must check the
    * FULL left's columns against everything the loop result adds — a
    * silent duplicate-named column is exactly what the whole-row
    * variants refuse loudly. */
  private def requireDisjointForJoinBack(left: DataFrame, lIdCol: String,
                                         right: DataFrame,
                                         resultCols: Seq[String],
                                         op: String): Unit = {
    val overlap = (left.columns.toSet - lIdCol)
      .intersect(right.columns.toSet ++ resultCols)
    require(overlap.isEmpty,
      s"$op: left column names ${overlap.mkString(",")} collide with the " +
      "right side / result columns — the lIdCol payload join-back would " +
      "emit ambiguous duplicates; rename them")
  }

  /** The radius schedule shared by [[nearestLoop]] and [[knnLoop]]
    * (optimization r16). Any schedule returns IDENTICAL rows — a left
    * resolved at radius r has its true nearest (top-k) within r, so the
    * argmin/heap is the same at any larger radius; only the final
    * radius must be exactly maxRadius (the boundary-inclusion rule).
    * The schedule only changes how many rounds (probe jobs + cuts) the
    * tail pays, so it is tuned from the round's OWN observed counts
    * (guide §8 "decide with small rows"): a mostly-missing round means
    * startRadius was far too small — jump ×4; a small absolute tail
    * goes straight to maxRadius (its probe is misses × one cover — the
    * cheapest way to finish); otherwise the classic ×2. */
  private def nextRadius(r: Double, maxRadius: Double,
                         miss: Long, total: Long): Double = {
    val frac = if (total > 0) miss.toDouble / total else 0.0
    if (miss <= 2000L) maxRadius
    else if (frac >= 0.5) math.min(r * 4, maxRadius)
    else math.min(r * 2, maxRadius)
  }

  /** The shared radius-doubling argmin loop: `probe(unmatched, r)` must
    * return all (left, right) candidate pairs within `r` carrying
    * `right.*` plus the distance columns; `tieDist` orders the per-left
    * argmin (ties to the smaller `rIdCol`).
    *
    * `uniqueLeft` (the slimLeft contract: unique non-NULL left keys —
    * every lIdCol caller) takes the FUSED round shape (optimization
    * r16, guide §1.2/§8): ONE job per round materializes unmatched
    * LEFT-JOIN argmin, so the SAME action yields the round's matches,
    * the next round's unmatched set, and (via an observe() metric) the
    * miss count that both terminates the loop and adapts the radius
    * schedule — the r15 shape paid a second anti-join job + isEmpty
    * action per round. Rows returned are identical: with unique left
    * keys the left join emits exactly one row per unmatched left, and
    * filter(_best nullness) splits it into the r15 shape's `best` and
    * anti-join results. The whole-row path (duplicate lefts collapse —
    * a left join would instead duplicate matches) keeps the r15 shape.
    */
  private def nearestLoop(left: DataFrame, right: DataFrame,
                          rIdCol: String,
                          startRadius: Double, maxRadius: Double,
                          probe: (DataFrame, Double) => DataFrame,
                          distCols: Seq[String],
                          uniqueLeft: Boolean = false): DataFrame = {
    val tieDist = distCols.head
    var unmatched = left
    var out: Option[DataFrame] = None
    var r = startRadius
    var done = false
    var round = 0
    while (!done) {
      val cand = probe(unmatched, r)
      // per-left argmin: (dist asc, right id asc) through the bounded
      // min_by struct — no window, no sort
      val leftCols = unmatched.columns.map(col)
      val bestAgg = cand.groupBy(leftCols: _*)
        .agg(min_by(
          struct(right.columns.map(col) ++ distCols.map(col): _*),
          struct(col(tieDist), col(rIdCol))).as("_best"))
      if (uniqueLeft && r >= maxRadius) {
        // FINAL round: nothing downstream needs the unmatched set or
        // the miss count, and the argmin has exactly one consumer (the
        // returned union) — no join-back, no cut, no extra job at all.
        // Single-round gates (startRadius >= maxRadius) hit only this.
        val best = bestAgg.select(leftCols :+ col("_best.*"): _*)
        out = Some(out.map(_.unionByName(best)).getOrElse(best))
        done = true
      } else if (uniqueLeft) {
        // fused round: one materialization carries matches AND misses.
        // The argmin's grouping columns keep their input attribute ids,
        // so alias them to fresh names before joining back onto the
        // SAME unmatched frame they derive from (self-join ambiguity)
        val keyed = bestAgg.select(
          unmatched.columns.map(c => col(c).as("_k_" + c)) :+ col("_best"): _*)
        val merged = unmatched.join(keyed,
            unmatched.columns.map(c => unmatched(c) <=> keyed("_k_" + c))
              .reduce(_ && _), "left")
          .select(unmatched.columns.map(unmatched(_)) :+ col("_best"): _*)
          .observe(s"nl_round_$round",
            count(when(col("_best").isNull, 1)).as("miss"),
            count(lit(1)).as("total"))
        val cut = merged.lineageCut()
        val m = merged.queryExecution.observedMetrics(s"nl_round_$round")
        val (miss, total) = (m.getLong(0), m.getLong(1))
        val best = cut.filter(col("_best").isNotNull)
          .select(leftCols :+ col("_best.*"): _*)
        out = Some(out.map(_.unionByName(best)).getOrElse(best))
        if (miss == 0L) done = true
        else {
          unmatched = cut.filter(col("_best").isNull).drop("_best")
          r = nextRadius(r, maxRadius, miss, total)
        }
      } else {
        // the round's argmin frame is consumed TWICE — the anti-join
        // deriving the next round's unmatched set, and the returned
        // union — and each un-cut consumption re-executes the whole
        // probe join; cut once, both consumers read the slim rows
        val best = bestAgg
          .select(leftCols :+ col("_best.*"): _*)
          .lineageCut()
        out = Some(out.map(_.unionByName(best)).getOrElse(best))
        // null-SAFE anti join: a left row with a NULL payload column
        // must still recognize itself as matched (EqualTo would
        // re-probe and re-emit it every round)
        val bestKeys = best.select(leftCols: _*)
        val next = unmatched.join(bestKeys,
          unmatched.columns.map(c => unmatched(c) <=> bestKeys(c))
            .reduce(_ && _), "left_anti")
        if (r >= maxRadius) done = true
        else {
          val remaining = next.lineageCut()
          if (remaining.isEmpty) done = true
          else { unmatched = remaining; r = math.min(r * 2, maxRadius) }
        }
      }
      round += 1
    }
    out.get
  }

  def nearestJoin(left: DataFrame, right: DataFrame,
                  lx: String, ly: String, rx: String, ry: String,
                  rIdCol: String,
                  startRadius: Double, maxRadius: Double,
                  lIdCol: Option[String] = None): DataFrame = {
    require(startRadius > 0 && maxRadius >= startRadius,
      s"need 0 < startRadius ($startRadius) <= maxRadius ($maxRadius)")
    require(right.columns.contains(rIdCol),
      s"nearestJoin: id column '$rIdCol' missing from right side")
    lIdCol match {
      case Some(id) =>
        requireDisjointForJoinBack(left, id, right,
          Seq("dist2", "dist"), "nearestJoin")
        val slim = slimLeft(left, id, lx, ly, "nearestJoin")
        val res = nearestLoop(slim, right, rIdCol, startRadius, maxRadius,
          (u, r) => radiusJoin(u, right, lx, ly, rx, ry, r),
          Seq("dist2", "dist"), uniqueLeft = true).drop(lx, ly)
        left.join(res, Seq(id)) // payload back in ONE hash join
      case None =>
        nearestLoop(left, right, rIdCol, startRadius, maxRadius,
          (u, r) => radiusJoin(u, right, lx, ly, rx, ry, r),
          Seq("dist2", "dist"))
    }
  }

  /**
   * SPATIOTEMPORAL radius join — the CO-LOCATION shape (contact
   * tracing, co-occurrence mining): every (left, right) pair within
   * planar `radius` AND within `tau` time units of each other. The
   * [[radiusJoin]] recipe with a third binned axis: square cells of
   * side >= radius, time buckets of width >= tau, the right side
   * replicated into its 3x3 spatial neighborhood and the LEFT side into
   * its ±1 time-bucket neighborhood (the r15 fan-out rebalance — 9|R| +
   * 3|L| exchanged rows instead of 27|R| + |L|), hash join on the three
   * slim keys, exact `dx²+dy² <= r²  AND  |Δt| <= tau`
   * verify — pure `-`/`*`/`+`/abs arithmetic, bit-portable. Exactly-once
   * structurally: a true pair's (dx, dy, dt) bin-alignment triple is
   * unique, so it meets exactly one (replica, replica) combination (no
   * modular wrap on any axis). NULL/NaN coordinates or timestamps
   * REFUSED loudly.
   *
   * Scale: the right side shuffles 9x and the left 3x (three slim longs
   * + payload each — the r15 rebalance figures above) —
   * the price of never comparing across-bucket pairs; a co-location
   * query where `tau` spans most of the data's time range wants the
   * plain [[radiusJoin]] plus a residual time filter instead (the
   * time axis stops pruning). Dense (cell, bucket) hot spots are
   * ordinary join skew — `saltCells` composes [[graft.ext.Skew.saltedJoin]].
   * Returns `left.* ++ right.* ++ (dist2, dist, dt)`.
   */
  def spaceTimeJoin(left: DataFrame, right: DataFrame,
                    lx: String, ly: String, lt: String,
                    rx: String, ry: String, rt: String,
                    radius: Double, tau: Double,
                    cellSize: Option[Double] = None,
                    bucketWidth: Option[Double] = None,
                    saltCells: Int = 0): DataFrame = {
    require(radius > 0 && !radius.isInfinite, s"radius must be finite > 0, got $radius")
    require(tau > 0 && !tau.isInfinite, s"tau must be finite > 0, got $tau")
    require(saltCells == 0 || saltCells >= 2,
      s"saltCells: 0 (off) or >= 2, got $saltCells")
    val cs = cellSize.getOrElse(radius)
    require(cs >= radius,
      s"cellSize ($cs) must be >= radius ($radius) — smaller cells would " +
      "need a wider neighborhood than 3x3 and silently lose pairs")
    val bw = bucketWidth.getOrElse(tau)
    require(bw >= tau,
      s"bucketWidth ($bw) must be >= tau ($tau) — smaller buckets would " +
      "need more than 3 neighbors and silently lose pairs")
    Seq(lx -> left, ly -> left, lt -> left,
        rx -> right, ry -> right, rt -> right).foreach {
      case (c, df) => require(df.columns.contains(c),
        s"spaceTimeJoin: column '$c' missing from ${df.columns.mkString("[", ",", "]")}")
    }
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"spaceTimeJoin: overlapping column names ${overlap.mkString(",")} — " +
      "rename one side (the output carries both sides' columns)")
    Seq("_gcx", "_gcy", "_gct", "_dx", "_dy", "_dt", "dist2", "dist", "dt").foreach { c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"spaceTimeJoin: reserved output column '$c' already present — rename it")
    }
    def binOf(x: Column, w: Double, what: String): Column =
      when(x.isNull || isnan(x.cast("double")),
        raise_error(lit(s"spaceTimeJoin: NULL/NaN $what — a null key would " +
          "silently drop the row from every pair")).cast("long"))
        .otherwise(floor(x.cast("double") / w).cast("long"))
    // fan-out REBALANCE (optimization r15): ±1 neighbor axes split
    // across the sides — time x3 on the left, spatial 3x3 on the right —
    // instead of 3x3x3 all on the right. A pair still fires exactly once
    // (its (dx, dy, dt) alignment triple is unique; l time + dt == r time
    // covers the same |Δbucket| <= 1 matches), but the exchange carries
    // 9|R| + 3|L| rows instead of 27|R| + |L| — §2.3 "shuffle fewer
    // bytes" (2.3x fewer for balanced sides)
    val l = left
      .withColumn("_dt", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gcx", binOf(col(lx), cs, "left x"))
      .withColumn("_gcy", binOf(col(ly), cs, "left y"))
      .withColumn("_gct", binOf(col(lt), bw, "left time") + col("_dt"))
      .drop("_dt")
    val r = right
      .withColumn("_dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gcx", binOf(col(rx), cs, "right x") + col("_dx"))
      .withColumn("_gcy", binOf(col(ry), cs, "right y") + col("_dy"))
      .withColumn("_gct", binOf(col(rt), bw, "right time"))
      .drop("_dx", "_dy")
    val ddx = col(lx) - col(rx)
    val ddy = col(ly) - col(ry)
    val joined =
      if (saltCells >= 2)
        graft.ext.Skew.saltedJoin(l, r, Seq("_gcx", "_gcy", "_gct"), saltCells)
      else l.join(r, Seq("_gcx", "_gcy", "_gct"))
    joined
      .withColumn("dist2", ddx * ddx + ddy * ddy)
      .withColumn("dt", abs(col(lt).cast("double") - col(rt).cast("double")))
      .filter(col("dist2") <= lit(radius * radius) && col("dt") <= lit(tau))
      .withColumn("dist", sqrt(col("dist2")))
      .drop("_gcx", "_gcy", "_gct")
  }

  /**
   * STREAM-STREAM spatiotemporal co-location join — [[spaceTimeJoin]]
   * over two UNBOUNDED streams (real-time contact tracing): every
   * (left, right) pair within planar `radius` AND `tau` seconds, as a
   * watermarked Structured Streaming stream-stream inner join. The
   * binning is the same split 3×3-right/3-left recipe (stateless
   * projections, so they stream as-is); the join carries the three equi bin keys PLUS the
   * event-time range `|lt − rt| <= tau` expressed on TIMESTAMP
   * columns, which is what lets Spark BOUND the join state — each
   * side retains only `watermarkDelay + tau` of history instead of
   * the whole stream. `lt`/`rt` are epoch SECONDS (integral or
   * double); rows later than `watermarkDelay` behind the max seen
   * event time are DROPPED by the state machinery — that is the
   * documented streaming contract (use the batch operator for late
   * corpora), not a silent bug. Corollary: Structured Streaming's
   * INITIAL watermark is epoch 0, so a row with event time AT epoch 0
   * arriving after the first micro-batch is already "late" — real
   * epoch-seconds data is unaffected, synthetic small-integer
   * timestamps should be shifted off zero. Output = batch spaceTimeJoin's
   * (`left.* ++ right.* ++ dist2, dist, dt`) minus the internal
   * timestamp scratch; on a bounded AvailableNow stream the result
   * equals the batch join exactly (the q249 gate pins it).
   */
  def spaceTimeJoinStream(left: DataFrame, right: DataFrame,
                          lx: String, ly: String, lt: String,
                          rx: String, ry: String, rt: String,
                          radius: Double, tau: Double,
                          watermarkDelay: String,
                          cellSize: Option[Double] = None,
                          bucketWidth: Option[Double] = None): DataFrame = {
    require(radius > 0 && !radius.isInfinite, s"radius must be finite > 0, got $radius")
    require(tau > 0 && !tau.isInfinite, s"tau must be finite > 0, got $tau")
    val cs = cellSize.getOrElse(radius)
    require(cs >= radius,
      s"cellSize ($cs) must be >= radius ($radius) — smaller cells would " +
      "need a wider neighborhood than 3x3 and silently lose pairs")
    val bw = bucketWidth.getOrElse(tau)
    require(bw >= tau,
      s"bucketWidth ($bw) must be >= tau ($tau) — smaller buckets would " +
      "need more than 3 neighbors and silently lose pairs")
    Seq(lx -> left, ly -> left, lt -> left,
        rx -> right, ry -> right, rt -> right).foreach {
      case (c, df) => require(df.columns.contains(c),
        s"spaceTimeJoinStream: column '$c' missing from ${df.columns.mkString("[", ",", "]")}")
    }
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"spaceTimeJoinStream: overlapping column names ${overlap.mkString(",")} — " +
      "rename one side (the output carries both sides' columns)")
    Seq("_gcx", "_gcy", "_gct", "_lets", "_rets", "_dx", "_dy", "_dt",
        "dist2", "dist", "dt").foreach { c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"spaceTimeJoinStream: reserved column '$c' already present — rename it")
    }
    def binOf(op: String)(x: Column, w: Double, what: String): Column =
      when(x.isNull || isnan(x.cast("double")),
        raise_error(lit(s"$op: NULL/NaN $what — a null key would " +
          "silently drop the row from every pair")).cast("long"))
        .otherwise(floor(x.cast("double") / w).cast("long"))
    val bin = binOf("spaceTimeJoinStream") _
    // fan-out REBALANCE (optimization r15): the three ±1 neighbor axes
    // used to explode entirely on the right (3x3x3 = 27x its rows into
    // join state); splitting them — spatial 3x3 on the right, time x3 on
    // the left — keeps the fired-pair set IDENTICAL (a pair fires once,
    // at the unique (dx, dy, dt) aligning its bins; l._gct + dt == r._gct
    // ranges over the same |Δbin| <= 1 matches as r._gct + dt did) while
    // shrinking state + shuffle from 27|R| + |L| to 9|R| + 3|L| rows —
    // 2.3x fewer for balanced sides, the §2.3 "shuffle fewer bytes" rule
    // applied to the join-state store
    val l = left
      .withColumn("_dt", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gcx", bin(col(lx), cs, "left x"))
      .withColumn("_gcy", bin(col(ly), cs, "left y"))
      .withColumn("_gct", bin(col(lt), bw, "left time") + col("_dt"))
      .drop("_dt")
      .withColumn("_lets", timestamp_seconds(col(lt).cast("double")))
      .withWatermark("_lets", watermarkDelay)
    val r = right
      .withColumn("_dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gcx", bin(col(rx), cs, "right x") + col("_dx"))
      .withColumn("_gcy", bin(col(ry), cs, "right y") + col("_dy"))
      .withColumn("_gct", bin(col(rt), bw, "right time"))
      .drop("_dx", "_dy")
      .withColumn("_rets", timestamp_seconds(col(rt).cast("double")))
      .withWatermark("_rets", watermarkDelay)
    val ddx = l(lx) - r(rx)
    val ddy = l(ly) - r(ry)
    val tauInterval = expr(s"INTERVAL ${tau.toLong + 1} SECONDS")
    val cond =
      l("_gcx") === r("_gcx") && l("_gcy") === r("_gcy") &&
      l("_gct") === r("_gct") &&
      // event-time range: the state-cleanup contract (slightly wider
      // than tau — the exact |dt| <= tau filter below decides rows)
      l("_lets") >= r("_rets") - tauInterval &&
      l("_lets") <= r("_rets") + tauInterval &&
      ddx * ddx + ddy * ddy <= lit(radius * radius) &&
      abs(l(lt).cast("double") - r(rt).cast("double")) <= lit(tau)
    l.join(r, cond, "inner")
      .withColumn("dist2",
        (col(lx) - col(rx)) * (col(lx) - col(rx)) +
        (col(ly) - col(ry)) * (col(ly) - col(ry)))
      .withColumn("dt", abs(col(lt).cast("double") - col(rt).cast("double")))
      .withColumn("dist", sqrt(col("dist2")))
      .drop("_gcx", "_gcy", "_gct", "_lets", "_rets")
  }

  // ------------------------------------------------------------------
  // GEODESIC (haversine) variants — lat/lon degrees on the sphere.
  // ------------------------------------------------------------------

  /** IUGG mean Earth radius (metres) — the haversine convention. */
  val EarthRadiusMeters: Double = 6371008.8

  /**
   * All (left, right) pairs within `radiusMeters` GREAT-CIRCLE metres —
   * the geodesic sibling of [[radiusJoin]] for lat/lon corpora. Same
   * hash-join + exact-verify recipe, with the grid replaced by
   * LATITUDE-BANDED cells: bands of height `radius/R` radians (a pair
   * within r can never sit more than one band apart, because
   * great-circle distance >= R·|Δlat|), and per-band longitude cells
   * whose width comes from inverting the haversine bound
   * `sin(Δλ/2) <= sin(r/2R)/cos(φmax)` at the band family's worst
   * latitude (φmax spans the band AND its neighbors — the paired point
   * may sit one band away). Cell widths therefore GROW toward the
   * poles (`1/cos`), exactly compensating meridian convergence; a band
   * whose bound saturates (polar caps) collapses to whole-circle
   * cells. Longitude cells tile the circle exactly
   * (`nCells = max(1, floor(360/Δλmax))`, so actual width >= Δλmax)
   * and neighbor indices wrap `mod nCells` — antimeridian pairs are
   * ordinary neighbors, no seam handling in the verify (haversine is
   * wrap-invariant).
   *
   * The right side replicates into the 3 band × 3 cell neighborhood
   * (indices computed under EACH neighbor band's own width); the exact
   * haversine `2R·asin(sqrt(a))` verifies every candidate, so the
   * binning is never load-bearing for false positives — only the
   * coverage argument above is, and it holds with real slack (the
   * φmax envelope over three bands over-widens every cell). UNLIKE
   * the planar join, the boundary `dist <= r` rides `sin/asin/sqrt`
   * whose last-ulp rounding is NOT pinned across engines/libms: a pair
   * within ~1e-9 relative of the radius is in the portable-ulp class —
   * callers comparing engines should keep data off the exact boundary
   * (the planar join's pure `-`/`*`/`+` arithmetic has no such class).
   *
   * Coordinates: lat in [-90, 90], lon in [-180, 180], NULL/NaN/out-of-
   * range REFUSED loudly (a misindexed cell silently drops pairs).
   * Returns `left.* ++ right.* ++ dist_m` (great-circle metres).
   */
  def geoRadiusJoin(left: DataFrame, right: DataFrame,
                    lLat: String, lLon: String, rLat: String, rLon: String,
                    radiusMeters: Double,
                    earthRadiusMeters: Double = EarthRadiusMeters,
                    saltCells: Int = 0): DataFrame = {
    val bigR = earthRadiusMeters
    require(radiusMeters > 0 && radiusMeters < math.Pi * bigR,
      s"geoRadiusJoin: radius in (0, pi*R) metres, got $radiusMeters")
    require(saltCells == 0 || saltCells >= 2,
      s"saltCells: 0 (off) or >= 2, got $saltCells")
    Seq(lLat -> left, lLon -> left, rLat -> right, rLon -> right).foreach {
      case (c, df) => require(df.columns.contains(c),
        s"geoRadiusJoin: column '$c' missing from ${df.columns.mkString("[", ",", "]")}")
    }
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"geoRadiusJoin: overlapping column names ${overlap.mkString(",")} — " +
      "rename one side (the output carries both sides' columns)")
    Seq("_gband", "_gcell", "_glat", "_glon", "_gk", "dist_m").foreach { c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"geoRadiusJoin: reserved column '$c' already present — rename it " +
        "(scratch columns would silently overwrite and drop it)")
    }
    val hRad = radiusMeters / bigR          // band height, radians
    val hDeg = math.toDegrees(hRad)
    val sinHalf = math.sin(hRad / 2)        // sin(r / 2R)
    def checked(c: Column, lo: Double, hi: Double, what: String): Column =
      when(c.isNull || isnan(c) || c < lo || c > hi,
        raise_error(concat(lit(s"geoRadiusJoin: $what out of [$lo, $hi] " +
          s"(or NULL/NaN) — a misindexed cell silently drops pairs, got "),
          c.cast("string"))).cast("double"))
        .otherwise(c)
    def band(lat: Column): Column = floor(lat / lit(hDeg)).cast("long")
    // worst |lat| any point of a pair touching band b can have: the
    // band's own edges widened by one band each way (the partner may
    // sit one band off), clamped to the pole
    def nCellsOf(b: Column): Column = {
      val phiMax = least(lit(90.0),
        greatest(abs(b.cast("double") * lit(hDeg)),
          abs((b.cast("double") + 1) * lit(hDeg))) + lit(hDeg))
      // max lon separation (degrees) of any in-radius pair at this band
      // family: 2·asin(min(1, sin(r/2R)/cos(φmax))); cos→0 at the pole
      // drives the arg past 1 → 180° → whole-circle cells
      val dLamDeg = degrees(lit(2.0) *
        asin(least(lit(1.0), lit(sinHalf) / cos(radians(phiMax)))))
      greatest(lit(1L), floor(lit(360.0) / dLamDeg).cast("long"))
    }
    def cellOf(lon: Column, b: Column, shift: Column): Column = {
      val n = nCellsOf(b)
      val w = lit(360.0) / n.cast("double")
      pmod(floor((lon + lit(180.0)) / w).cast("long") + shift, n)
    }
    val l = left
      .withColumn("_glat", checked(col(lLat), -90, 90, "left latitude"))
      .withColumn("_glon", checked(col(lLon), -180, 180, "left longitude"))
      .withColumn("_gband", band(col("_glat")))
      .withColumn("_gcell", cellOf(col("_glon"), col("_gband"), lit(0L)))
      .drop("_glat", "_glon")
    // the 9 replication keys are DEDUPED per row (array_distinct): a
    // band with few longitude cells (polar caps, or any band once the
    // doubling loop reaches continental radii) wraps the -1/0/+1 cell
    // shifts onto the SAME cell id under pmod, and without the dedup a
    // right row would join a left cell twice — duplicate pairs, caught
    // by the kNN heap counting a neighbor twice (the radius join's
    // exact verify cannot see multiplicity)
    val rKeys = array((for (db <- -1L to 1L; dc <- -1L to 1L) yield {
      val b = band(col("_glat")) + lit(db)
      struct(b.as("_gband"),
        cellOf(col("_glon"), b, lit(dc)).as("_gcell"))
    }).toSeq: _*)
    val r = right
      .withColumn("_glat", checked(col(rLat), -90, 90, "right latitude"))
      .withColumn("_glon", checked(col(rLon), -180, 180, "right longitude"))
      .withColumn("_gk", explode(array_distinct(rKeys)))
      .withColumn("_gband", col("_gk._gband"))
      .withColumn("_gcell", col("_gk._gcell"))
      .drop("_glat", "_glon", "_gk")
    val dphi = radians(col(lLat)) - radians(col(rLat))
    val dlam = radians(col(lLon)) - radians(col(rLon))
    val hav = pow(sin(dphi / 2), 2) +
      cos(radians(col(lLat))) * cos(radians(col(rLat))) * pow(sin(dlam / 2), 2)
    val dist = lit(2.0 * bigR) * asin(least(lit(1.0), sqrt(hav)))
    val joined =
      if (saltCells >= 2)
        graft.ext.Skew.saltedJoin(l, r, Seq("_gband", "_gcell"), saltCells)
      else l.join(r, Seq("_gband", "_gcell"))
    joined
      .withColumn("dist_m", dist)
      .filter(col("dist_m") <= lit(radiusMeters))
      .drop("_gband", "_gcell")
  }

  /**
   * STREAM-STREAM GEODESIC spatiotemporal co-location —
   * [[spaceTimeJoinStream]] on the sphere: "which left events were
   * within `radiusMeters` great-circle metres AND `tau` seconds of
   * which right events", both sides unbounded lat/lon streams. The
   * spatial keys are [[geoRadiusJoin]]'s latitude-banded cells
   * (band height r/R radians; per-band-family longitude widths from
   * the inverted haversine bound, growing 1/cos toward the poles,
   * wrapping mod nCells — antimeridian pairs are ordinary neighbors);
   * the right side replicates into the DEDUPED 3-band × 3-cell
   * neighborhood × 3 time buckets. Every key is STATELESS scalar
   * arithmetic, so state stays bounded exactly as in the planar
   * operator: watermarks on BOTH sides plus the event-time range
   * condition let Spark evict each side past watermark + tau.
   *
   * Same epoch-0 corollary as the planar operator: a row AT epoch 0
   * equals the initial watermark and is dropped as late after the
   * first micro-batch — shift synthetic small-integer timestamps.
   * Exact verify = haversine `2R·asin(√a)` + `|Δt| <= tau`; the
   * radius boundary carries [[geoRadiusJoin]]'s cross-libm ulp class
   * (keep data off the exact boundary when comparing engines).
   * Returns `left.* ++ right.* ++ (dist_m, dt)`; on a bounded
   * AvailableNow stream the result equals the batch composition
   * exactly (the q254 gate pins it against the DuckDB haversine).
   */
  def geoSpaceTimeJoinStream(left: DataFrame, right: DataFrame,
                             lLat: String, lLon: String, lt: String,
                             rLat: String, rLon: String, rt: String,
                             radiusMeters: Double, tau: Double,
                             watermarkDelay: String,
                             bucketWidth: Option[Double] = None,
                             earthRadiusMeters: Double = EarthRadiusMeters): DataFrame = {
    val bigR = earthRadiusMeters
    require(radiusMeters > 0 && radiusMeters < math.Pi * bigR,
      s"geoSpaceTimeJoinStream: radius in (0, pi*R) metres, got $radiusMeters")
    require(tau > 0 && !tau.isInfinite,
      s"geoSpaceTimeJoinStream: tau must be finite > 0, got $tau")
    val bw = bucketWidth.getOrElse(tau)
    require(bw >= tau,
      s"bucketWidth ($bw) must be >= tau ($tau) — smaller buckets would " +
      "need more than 3 neighbors and silently lose pairs")
    Seq(lLat -> left, lLon -> left, lt -> left,
        rLat -> right, rLon -> right, rt -> right).foreach {
      case (c, df) => require(df.columns.contains(c),
        s"geoSpaceTimeJoinStream: column '$c' missing from ${df.columns.mkString("[", ",", "]")}")
    }
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"geoSpaceTimeJoinStream: overlapping column names ${overlap.mkString(",")} — " +
      "rename one side (the output carries both sides' columns)")
    Seq("_gband", "_gcell", "_gct", "_glat", "_glon", "_gk", "_dt",
        "_lets", "_rets", "dist_m", "dt").foreach { c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"geoSpaceTimeJoinStream: reserved column '$c' already present — rename it")
    }
    val hRad = radiusMeters / bigR
    val hDeg = math.toDegrees(hRad)
    val sinHalf = math.sin(hRad / 2)
    def checked(c: Column, lo: Double, hi: Double, what: String): Column =
      when(c.isNull || isnan(c) || c < lo || c > hi,
        raise_error(concat(lit(s"geoSpaceTimeJoinStream: $what out of [$lo, $hi] " +
          s"(or NULL/NaN) — a misindexed cell silently drops pairs, got "),
          c.cast("string"))).cast("double"))
        .otherwise(c)
    def tbin(x: Column, what: String): Column =
      when(x.isNull || isnan(x.cast("double")),
        raise_error(lit(s"geoSpaceTimeJoinStream: NULL/NaN $what")).cast("long"))
        .otherwise(floor(x.cast("double") / bw).cast("long"))
    def band(lat: Column): Column = floor(lat / lit(hDeg)).cast("long")
    def nCellsOf(b: Column): Column = {
      val phiMax = least(lit(90.0),
        greatest(abs(b.cast("double") * lit(hDeg)),
          abs((b.cast("double") + 1) * lit(hDeg))) + lit(hDeg))
      val dLamDeg = degrees(lit(2.0) *
        asin(least(lit(1.0), lit(sinHalf) / cos(radians(phiMax)))))
      greatest(lit(1L), floor(lit(360.0) / dLamDeg).cast("long"))
    }
    def cellOf(lon: Column, b: Column, shift: Column): Column = {
      val n = nCellsOf(b)
      val w = lit(360.0) / n.cast("double")
      pmod(floor((lon + lit(180.0)) / w).cast("long") + shift, n)
    }
    // fan-out REBALANCE (optimization r15): the ±1 time-bucket axis
    // moved from the right explosion to the LEFT (l._gct + dt == r._gct
    // matches the same |Δbucket| <= 1 set r._gct + dt did, and dt is
    // unique per pair, so the fired-pair multiset is identical) —
    // join-state rows drop from 27|R| + |L| to <= 9|R| + 3|L|, the §2.3
    // "shuffle fewer bytes" rule applied to the state store
    val l = left
      .withColumn("_glat", checked(col(lLat), -90, 90, "left latitude"))
      .withColumn("_glon", checked(col(lLon), -180, 180, "left longitude"))
      .withColumn("_gband", band(col("_glat")))
      .withColumn("_gcell", cellOf(col("_glon"), col("_gband"), lit(0L)))
      .withColumn("_dt", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gct", tbin(col(lt), "left time") + col("_dt"))
      .drop("_glat", "_glon", "_dt")
      .withColumn("_lets", timestamp_seconds(col(lt).cast("double")))
      .withWatermark("_lets", watermarkDelay)
    // deduped 3x3 spatial neighborhood (polar wrap can alias shifts —
    // same argument as geoRadiusJoin)
    val rKeys = array((for (db <- -1L to 1L; dc <- -1L to 1L) yield {
      val b = band(col("_glat")) + lit(db)
      struct(b.as("_gband"),
        cellOf(col("_glon"), b, lit(dc)).as("_gcell"))
    }).toSeq: _*)
    val r = right
      .withColumn("_glat", checked(col(rLat), -90, 90, "right latitude"))
      .withColumn("_glon", checked(col(rLon), -180, 180, "right longitude"))
      .withColumn("_gk", explode(array_distinct(rKeys)))
      .withColumn("_gband", col("_gk._gband"))
      .withColumn("_gcell", col("_gk._gcell"))
      .withColumn("_gct", tbin(col(rt), "right time"))
      .drop("_glat", "_glon", "_gk")
      .withColumn("_rets", timestamp_seconds(col(rt).cast("double")))
      .withWatermark("_rets", watermarkDelay)
    val dphi = radians(l(lLat)) - radians(r(rLat))
    val dlam = radians(l(lLon)) - radians(r(rLon))
    val hav = pow(sin(dphi / 2), 2) +
      cos(radians(l(lLat))) * cos(radians(r(rLat))) * pow(sin(dlam / 2), 2)
    val distCond = lit(2.0 * bigR) * asin(least(lit(1.0), sqrt(hav)))
    val tauInterval = expr(s"INTERVAL ${tau.toLong + 1} SECONDS")
    val cond =
      l("_gband") === r("_gband") && l("_gcell") === r("_gcell") &&
      l("_gct") === r("_gct") &&
      l("_lets") >= r("_rets") - tauInterval &&
      l("_lets") <= r("_rets") + tauInterval &&
      distCond <= lit(radiusMeters) &&
      abs(l(lt).cast("double") - r(rt).cast("double")) <= lit(tau)
    val dphiO = radians(col(lLat)) - radians(col(rLat))
    val dlamO = radians(col(lLon)) - radians(col(rLon))
    val havO = pow(sin(dphiO / 2), 2) +
      cos(radians(col(lLat))) * cos(radians(col(rLat))) * pow(sin(dlamO / 2), 2)
    l.join(r, cond, "inner")
      .withColumn("dist_m", lit(2.0 * bigR) * asin(least(lit(1.0), sqrt(havO))))
      .withColumn("dt", abs(col(lt).cast("double") - col(rt).cast("double")))
      .drop("_gband", "_gcell", "_gct", "_lets", "_rets")
  }

  /**
   * Geodesic NEAREST-neighbor join — [[nearestJoin]] on the sphere:
   * for every left point the single great-circle-closest right point
   * (ties (dist_m, right id)), by the same iterative radius doubling
   * over [[geoRadiusJoin]]; lefts with nothing within `maxRadiusMeters`
   * are OMITTED. `lIdCol` runs the loop on a slim (id, lat, lon)
   * projection and joins the payload back once (ids must be unique —
   * refused otherwise). The doubling radii are metres, so the probe
   * geometry re-bands per round — cells stay matched to the radius.
   */
  def geoNearestJoin(left: DataFrame, right: DataFrame,
                     lLat: String, lLon: String, rLat: String, rLon: String,
                     rIdCol: String,
                     startRadiusMeters: Double, maxRadiusMeters: Double,
                     lIdCol: Option[String] = None,
                     earthRadiusMeters: Double = EarthRadiusMeters): DataFrame = {
    require(startRadiusMeters > 0 && maxRadiusMeters >= startRadiusMeters,
      s"need 0 < startRadius ($startRadiusMeters) <= maxRadius ($maxRadiusMeters)")
    require(maxRadiusMeters < math.Pi * earthRadiusMeters,
      s"geoNearestJoin: maxRadius must stay under pi*R metres")
    require(right.columns.contains(rIdCol),
      s"geoNearestJoin: id column '$rIdCol' missing from right side")
    def probe(u: DataFrame, r: Double): DataFrame =
      geoRadiusJoin(u, right, lLat, lLon, rLat, rLon, r, earthRadiusMeters)
    lIdCol match {
      case Some(id) =>
        requireDisjointForJoinBack(left, id, right,
          Seq("dist_m"), "geoNearestJoin")
        val slim = slimLeft(left, id, lLat, lLon, "geoNearestJoin")
        val res = nearestLoop(slim, right, rIdCol, startRadiusMeters,
          maxRadiusMeters, probe, Seq("dist_m"), uniqueLeft = true)
          .drop(lLat, lLon)
        left.join(res, Seq(id))
      case None =>
        nearestLoop(left, right, rIdCol, startRadiusMeters, maxRadiusMeters,
          probe, Seq("dist_m"))
    }
  }

  /**
   * Geodesic k-NEAREST-neighbors join — [[knnJoin]] on the sphere:
   * every left's k great-circle-closest rights with ranks (ties
   * (dist_m, right id)); same >= k-candidates doubling rule over
   * [[geoRadiusJoin]], lefts with fewer than k candidates within
   * `maxRadiusMeters` resolve there with what they have. `lIdCol` as
   * in [[knnJoin]]. Returns `left.* ++ (rIdCol, dist_m, rank)`.
   */
  def geoKnnJoin(left: DataFrame, right: DataFrame,
                 lLat: String, lLon: String, rLat: String, rLon: String,
                 rIdCol: String, k: Int,
                 startRadiusMeters: Double, maxRadiusMeters: Double,
                 lIdCol: Option[String] = None,
                 earthRadiusMeters: Double = EarthRadiusMeters): DataFrame = {
    require(k >= 1, s"geoKnnJoin: k must be >= 1, got $k")
    require(startRadiusMeters > 0 && maxRadiusMeters >= startRadiusMeters,
      s"need 0 < startRadius ($startRadiusMeters) <= maxRadius ($maxRadiusMeters)")
    require(maxRadiusMeters < math.Pi * earthRadiusMeters,
      s"geoKnnJoin: maxRadius must stay under pi*R metres")
    require(right.columns.contains(rIdCol),
      s"geoKnnJoin: id column '$rIdCol' missing from right side")
    if (lIdCol.isDefined) {
      val id = lIdCol.get
      requireDisjointForJoinBack(left, id, right,
        Seq("dist_m", "rank"), "geoKnnJoin")
      val slim = slimLeft(left, id, lLat, lLon, "geoKnnJoin")
      // direct knnLoop call so the loop knows the slimLeft uniqueness
      // contract and takes the fused one-job-per-round shape (r16)
      return left.join(
        knnLoop(slim, rIdCol, k, startRadiusMeters, maxRadiusMeters,
          (u, r) => geoRadiusJoin(u, right, lLat, lLon, rLat, rLon, r,
            earthRadiusMeters), "dist_m", uniqueLeft = true)
          .drop(lLat, lLon),
        Seq(id))
    }
    knnLoop(left, rIdCol, k, startRadiusMeters, maxRadiusMeters,
      (u, r) => geoRadiusJoin(u, right, lLat, lLon, rLat, rLon, r,
        earthRadiusMeters), "dist_m")
  }

  /**
   * GEODESIC point × segment radius join — [[segmentRadiusJoin]] on
   * the sphere (roads are lat/lon in real corpora): all (point,
   * segment) pairs whose great-circle distance to the ARC between the
   * segment's endpoints is <= `radiusMeters`.
   *
   * Candidate generation reuses [[geoRadiusJoin]] wholesale via the
   * DISK COVER argument: every point of an arc of length <= maxSeg
   * lies within maxSeg of endpoint A, so any point within r of the
   * arc is within r + maxSeg of A (triangle inequality in the
   * great-circle metric) — one banded point-to-point join at radius
   * r + maxSeg, no new banding code, exactly-once structurally.
   * Segments longer than `maxSegMeters` are REFUSED loudly with the
   * length (split long ways upstream — road corpora ship segmented);
   * the candidate radius inflation is the price, so keep maxSeg near
   * the query radius.
   *
   * Exact verify: the published cross-track/along-track formulas
   * (dxt = asin(sin d13 · sin(θ13 − θ12)), dat = acos(cos d13 /
   * cos dxt)), with the three-branch clamp — behind A → d(P, A),
   * beyond B along track → d(P, B), else |dxt|; degenerate A = B
   * collapses to d(P, A). All bearings/arcs ride sin/cos/atan2 ulp
   * classes (documented like [[geoRadiusJoin]]'s — gates carry
   * audited margins). `radiusMeters + maxSegMeters` must stay under
   * (π/2)·R so every candidate arc distance is acute and the
   * acos/division are well-conditioned. Returns
   * `points.* ++ segs.* ++ dist_m`.
   */
  def geoSegmentRadiusJoin(points: DataFrame, segs: DataFrame,
                           pLat: String, pLon: String,
                           aLat: String, aLon: String,
                           bLat: String, bLon: String,
                           radiusMeters: Double, maxSegMeters: Double,
                           earthRadiusMeters: Double = EarthRadiusMeters): DataFrame = {
    val bigR = earthRadiusMeters
    require(radiusMeters > 0, s"geoSegmentRadiusJoin: radius must be > 0, got $radiusMeters")
    require(maxSegMeters > 0, s"geoSegmentRadiusJoin: maxSegMeters must be > 0, got $maxSegMeters")
    require(radiusMeters + maxSegMeters < math.Pi / 2 * bigR,
      s"geoSegmentRadiusJoin: radius + maxSeg must stay under (pi/2)*R metres " +
      s"(got ${radiusMeters + maxSegMeters}) — the acute-arc regime the verify is conditioned for")
    Seq(bLat -> segs, bLon -> segs).foreach {
      case (c, df) => require(df.columns.contains(c),
        s"geoSegmentRadiusJoin: column '$c' missing from ${df.columns.mkString("[", ",", "]")}")
    }
    require(!points.columns.contains("_d12") && !segs.columns.contains("_d12") &&
            !points.columns.contains("_d13m") && !segs.columns.contains("_d13m"),
      "geoSegmentRadiusJoin: reserved column '_d12'/'_d13m' present — rename it")
    def chk(c: Column, lo: Double, hi: Double, what: String): Column =
      when(c.isNull || isnan(c) || c < lo || c > hi,
        raise_error(concat(lit(s"geoSegmentRadiusJoin: $what out of [$lo, $hi]: "),
          c.cast("string"))).cast("double"))
      .otherwise(c)
    // B-endpoint refusals + the arc-length cap, carried as the A->B
    // angular distance the verify needs anyway
    val p2 = radians(chk(col(bLat), -90, 90, "segment B latitude"))
    val l2 = radians(chk(col(bLon), -180, 180, "segment B longitude"))
    val p1 = radians(col(aLat)); val l1 = radians(col(aLon))
    val hav12 = pow(sin((p2 - p1) / 2), 2) +
      cos(p1) * cos(p2) * pow(sin((l2 - l1) / 2), 2)
    val d12 = lit(2.0) * asin(least(lit(1.0), sqrt(hav12)))
    val segs2 = segs.withColumn("_d12",
      when(d12 * bigR > maxSegMeters,
        raise_error(concat(lit("geoSegmentRadiusJoin: segment of "),
          round(d12 * bigR).cast("string"),
          lit(s" m exceeds maxSegMeters ($maxSegMeters) — split long " +
            "segments upstream or raise the cap"))).cast("double"))
      .otherwise(d12))
    val cand = geoRadiusJoin(points, segs2, pLat, pLon, aLat, aLon,
        radiusMeters + maxSegMeters, bigR)
      .withColumnRenamed("dist_m", "_d13m")
    val phi1 = radians(col(aLat)); val lam1 = radians(col(aLon))
    val phi2 = radians(col(bLat)); val lam2 = radians(col(bLon))
    val phi3 = radians(col(pLat)); val lam3 = radians(col(pLon))
    val d13 = col("_d13m") / bigR
    val th13 = atan2(sin(lam3 - lam1) * cos(phi3),
      cos(phi1) * sin(phi3) - sin(phi1) * cos(phi3) * cos(lam3 - lam1))
    val th12 = atan2(sin(lam2 - lam1) * cos(phi2),
      cos(phi1) * sin(phi2) - sin(phi1) * cos(phi2) * cos(lam2 - lam1))
    val clamp1 = (c: Column) => greatest(lit(-1.0), least(lit(1.0), c))
    val dxt = asin(clamp1(sin(d13) * sin(th13 - th12)))
    val dat = acos(clamp1(cos(d13) / cos(dxt)))
    val havPB = pow(sin((phi3 - phi2) / 2), 2) +
      cos(phi2) * cos(phi3) * pow(sin((lam3 - lam2) / 2), 2)
    val dPB = lit(2.0) * asin(least(lit(1.0), sqrt(havPB)))
    val distAng =
      when(col("_d12") === 0.0, d13)                 // degenerate A = B
      .when(cos(th13 - th12) <= 0.0, d13)            // behind A
      .when(dat >= col("_d12"), dPB)                 // beyond B
      .otherwise(abs(dxt))                           // abeam the arc
    cand
      .withColumn("dist_m", distAng * bigR)
      .filter(col("dist_m") <= lit(radiusMeters))
      .drop("_d12", "_d13m")
  }

  /**
   * GEODESIC snap-to-nearest-segment join — [[snapToSegments]] on the
   * sphere: every point's closest road arc within `maxRadiusMeters`
   * (ties to the smallest `sIdCol`), by [[nearestJoin]]'s radius
   * doubling over [[geoSegmentRadiusJoin]]. Points with nothing within
   * the bound are OMITTED; `lIdCol` as in [[nearestJoin]]. Returns
   * `points.* ++ segs.* ++ dist_m`.
   */
  def geoSnapToSegments(points: DataFrame, segs: DataFrame,
                        pLat: String, pLon: String,
                        aLat: String, aLon: String,
                        bLat: String, bLon: String,
                        sIdCol: String,
                        startRadiusMeters: Double, maxRadiusMeters: Double,
                        maxSegMeters: Double,
                        lIdCol: Option[String] = None,
                        earthRadiusMeters: Double = EarthRadiusMeters): DataFrame = {
    require(startRadiusMeters > 0 && maxRadiusMeters >= startRadiusMeters,
      s"need 0 < startRadius ($startRadiusMeters) <= maxRadius ($maxRadiusMeters)")
    require(segs.columns.contains(sIdCol),
      s"geoSnapToSegments: id column '$sIdCol' missing from segment side")
    def probe(u: DataFrame, r: Double): DataFrame =
      geoSegmentRadiusJoin(u, segs, pLat, pLon, aLat, aLon, bLat, bLon,
        r, maxSegMeters, earthRadiusMeters)
    lIdCol match {
      case Some(id) =>
        requireDisjointForJoinBack(points, id, segs,
          Seq("dist_m"), "geoSnapToSegments")
        val slim = slimLeft(points, id, pLat, pLon, "geoSnapToSegments")
        val res = nearestLoop(slim, segs, sIdCol, startRadiusMeters,
          maxRadiusMeters, probe, Seq("dist_m"), uniqueLeft = true)
          .drop(pLat, pLon)
        points.join(res, Seq(id))
      case None =>
        nearestLoop(points, segs, sIdCol, startRadiusMeters,
          maxRadiusMeters, probe, Seq("dist_m"))
    }
  }

  /**
   * Point × SEGMENT radius join — the map-matching candidate generator
   * ("every road within 50 m of this GPS ping"): all (point, segment)
   * pairs whose point-to-segment distance is <= `radius`, segments as
   * explicit endpoint columns (a road table keeps its geometry
   * exploded to segments once; no per-candidate WKB parse).
   *
   * Recipe: square cells of side `cellSize >= radius`; each segment
   * explodes to every cell its ENVELOPE covers (loud `maxCellsPerSeg`
   * cap — a cross-country segment under street-level cells is a
   * parameter bug), each point probes its 3×3 neighborhood, and the
   * pair fires ONLY in the reference cell (per-axis max of the two
   * range los — the [[graft.core.SpatialJoin.spatialJoin]] exactly-once
   * rule, since both sides now span cell RANGES). Completeness: a pair
   * within `radius <= cellSize` has its closest segment point at most
   * one cell from the point's on each axis, and that cell is covered
   * by the segment's envelope cells.
   *
   * Exact verify, pure arithmetic: with w = p - a, v = b - a,
   * L = |v|², t* = w·v/L,
   *   d² = |w|²                     if L = 0 (degenerate) or w·v <= 0
   *      = |p - b|²                 if w·v >= L
   *      = (w × v)² / L             otherwise (cross-product form — no
   *                                 cancellation, one rounding each op)
   * so the same IEEE expression tree replays bit-identically on any
   * engine (the q237 oracle does). Returns
   * `points.* ++ segs.* ++ (dist2, dist, frac, snap_x, snap_y)` where
   * `frac` is the clamped projection parameter t* and (snap_x, snap_y)
   * the snapped-to point. NULL/NaN coordinates REFUSED. `saltCells`
   * composes [[graft.ext.Skew.saltedJoin]] on hot cells.
   */
  def segmentRadiusJoin(points: DataFrame, segs: DataFrame,
                        px: String, py: String,
                        ax: String, ay: String, bx: String, by: String,
                        radius: Double, cellSize: Option[Double] = None,
                        maxCellsPerSeg: Int = 4096,
                        saltCells: Int = 0): DataFrame = {
    require(radius > 0 && !radius.isInfinite,
      s"segmentRadiusJoin: radius must be finite > 0, got $radius")
    val cs = cellSize.getOrElse(radius)
    require(cs >= radius,
      s"segmentRadiusJoin: cellSize ($cs) must be >= radius ($radius) — " +
      "smaller cells would need a wider neighborhood than 3x3 and " +
      "silently lose pairs")
    require(maxCellsPerSeg >= 1,
      s"segmentRadiusJoin: maxCellsPerSeg must be >= 1, got $maxCellsPerSeg")
    require(saltCells == 0 || saltCells >= 2,
      s"saltCells: 0 (off) or >= 2, got $saltCells")
    Seq(px -> points, py -> points, ax -> segs, ay -> segs,
        bx -> segs, by -> segs).foreach {
      case (c, df) => require(df.columns.contains(c),
        s"segmentRadiusJoin: column '$c' missing from ${df.columns.mkString("[", ",", "]")}")
    }
    val overlap = points.columns.toSet.intersect(segs.columns.toSet)
    require(overlap.isEmpty,
      s"segmentRadiusJoin: overlapping column names ${overlap.mkString(",")} — " +
      "rename one side (the output carries both sides' columns)")
    Seq("_gcx", "_gcy", "_pcxlo", "_pcylo", "_scxlo", "_scylo",
        "_pcx0", "_pcy0", "_dx", "_dy", "_scxhi",
        "dist2", "dist", "frac", "snap_x", "snap_y").foreach { c =>
      require(!points.columns.contains(c) && !segs.columns.contains(c),
        s"segmentRadiusJoin: reserved column '$c' already present — rename it")
    }
    def checked(df: DataFrame, c: String): Column =
      when(col(c).isNull || isnan(col(c)),
        raise_error(lit(s"segmentRadiusJoin: NULL/NaN $c — a null cell " +
          "would silently drop the row from every pair")).cast("double"))
      .otherwise(col(c))
    val p = points
      .withColumn("_pcx0", floor(checked(points, px) / cs).cast("long"))
      .withColumn("_pcy0", floor(checked(points, py) / cs).cast("long"))
      .withColumn("_dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gcx", col("_pcx0") + col("_dx"))
      .withColumn("_gcy", col("_pcy0") + col("_dy"))
      .withColumn("_pcxlo", col("_pcx0") - 1)
      .withColumn("_pcylo", col("_pcy0") - 1)
      .drop("_pcx0", "_pcy0", "_dx", "_dy")
    val sxlo = floor(least(checked(segs, ax), checked(segs, bx)) / cs).cast("long")
    val sylo = floor(least(checked(segs, ay), checked(segs, by)) / cs).cast("long")
    val sxhi = floor(greatest(col(ax), col(bx)) / cs).cast("long")
    val syhi = floor(greatest(col(ay), col(by)) / cs).cast("long")
    val nCells = (sxhi - sxlo + 1) * (syhi - sylo + 1)
    val sg = segs
      .withColumn("_scxlo", sxlo).withColumn("_scylo", sylo)
      .withColumn("_scxhi",
        when(nCells > maxCellsPerSeg,
          raise_error(concat(lit("segmentRadiusJoin: segment covers "),
            nCells.cast("string"),
            lit(s" cells > maxCellsPerSeg ($maxCellsPerSeg) at cellSize " +
              s"$cs — raise cellSize or split the segment"))).cast("long"))
        .otherwise(sxhi))
      .withColumn("_gcx", explode(sequence(col("_scxlo"), col("_scxhi"))))
      .withColumn("_gcy", explode(sequence(col("_scylo"), syhi)))
      .drop("_scxhi")
    val joined =
      if (saltCells >= 2)
        graft.ext.Skew.saltedJoin(p, sg, Seq("_gcx", "_gcy"), saltCells)
      else p.join(sg, Seq("_gcx", "_gcy"))
    val wx = col(px) - col(ax); val wy = col(py) - col(ay)
    val vx = col(bx) - col(ax); val vy = col(by) - col(ay)
    val bigL = vx * vx + vy * vy
    val w = wx * vx + wy * vy
    val cross = wx * vy - wy * vx
    joined
      // exactly-once: the unique cell covered by BOTH ranges
      .filter(col("_gcx") === greatest(col("_pcxlo"), col("_scxlo")) &&
              col("_gcy") === greatest(col("_pcylo"), col("_scylo")))
      .withColumn("dist2",
        when(bigL === lit(0.0) || w <= lit(0.0), wx * wx + wy * wy)
        .when(w >= bigL,
          (col(px) - col(bx)) * (col(px) - col(bx)) +
          (col(py) - col(by)) * (col(py) - col(by)))
        .otherwise(cross * cross / bigL))
      .filter(col("dist2") <= lit(radius * radius))
      .withColumn("dist", sqrt(col("dist2")))
      .withColumn("frac",
        when(bigL === lit(0.0), lit(0.0))
          .otherwise(greatest(lit(0.0), least(lit(1.0), w / bigL))))
      .withColumn("snap_x", col(ax) + col("frac") * vx)
      .withColumn("snap_y", col(ay) + col("frac") * vy)
      .drop("_gcx", "_gcy", "_pcxlo", "_pcylo", "_scxlo", "_scylo")
  }

  /**
   * SNAP-to-nearest-segment join (the map-matching core): for every
   * point, its single closest segment within `maxRadius` (ties to the
   * smallest `sIdCol`), with the snapped coordinates and projection
   * fraction. Same iterative radius doubling as [[nearestJoin]] over
   * [[segmentRadiusJoin]]; points with no segment within `maxRadius`
   * are OMITTED (the caller's bound). `lIdCol` as in [[nearestJoin]]:
   * slim loop key + one payload join-back for wide point payloads.
   * Returns `points.* ++ segs.* ++ (dist2, dist, frac, snap_x, snap_y)`.
   */
  def snapToSegments(points: DataFrame, segs: DataFrame,
                     px: String, py: String,
                     ax: String, ay: String, bx: String, by: String,
                     sIdCol: String,
                     startRadius: Double, maxRadius: Double,
                     lIdCol: Option[String] = None): DataFrame = {
    require(startRadius > 0 && maxRadius >= startRadius,
      s"need 0 < startRadius ($startRadius) <= maxRadius ($maxRadius)")
    require(segs.columns.contains(sIdCol),
      s"snapToSegments: id column '$sIdCol' missing from segment side")
    val distCols = Seq("dist2", "dist", "frac", "snap_x", "snap_y")
    def probe(u: DataFrame, r: Double): DataFrame =
      segmentRadiusJoin(u, segs, px, py, ax, ay, bx, by, r)
    lIdCol match {
      case Some(id) =>
        requireDisjointForJoinBack(points, id, segs, distCols, "snapToSegments")
        val slim = slimLeft(points, id, px, py, "snapToSegments")
        val res = nearestLoop(slim, segs, sIdCol, startRadius, maxRadius,
          probe, distCols, uniqueLeft = true).drop(px, py)
        points.join(res, Seq(id))
      case None =>
        nearestLoop(points, segs, sIdCol, startRadius, maxRadius,
          probe, distCols)
    }
  }

  /**
   * EXPLODE a WKB geometry column into its constituent segments —
   * the bridge between the geometry model ([[GeoOps]]; road/boundary
   * corpora ship as LineString/Polygon WKB) and the endpoint-column
   * segment family ([[segmentRadiusJoin]], [[snapToSegments]],
   * [[geoSegmentRadiusJoin]]). One output row per segment, carrying
   * every input column EXCEPT the WKB itself (replicating a
   * multi-megabyte boundary blob once per segment is exactly the
   * 100-TB mistake this helper exists to prevent — join it back by id
   * if needed) plus `(seg_idx, ax, ay, bx, by)`; `(row id, seg_idx)`
   * is a stable segment key (vertex order). Geometries with no
   * segments (points) produce no rows; a NULL geometry REFUSES loudly
   * — silently dropping a road row would silently unmatch every point
   * near it. For geodesic joins the convention is (lat, lon) columns:
   * pass `axCol = "alat", ayCol = "alon"` etc. and build the WKB as
   * POINT(lat lon) upstream, or rename after.
   */
  def explodeToSegments(df: DataFrame, geomCol: String,
                        segIdxCol: String = "seg_idx",
                        axCol: String = "ax", ayCol: String = "ay",
                        bxCol: String = "bx", byCol: String = "by"): DataFrame = {
    require(df.columns.contains(geomCol),
      s"explodeToSegments: column '$geomCol' missing from ${df.columns.mkString("[", ",", "]")}")
    val outCols = Seq(segIdxCol, axCol, ayCol, bxCol, byCol)
    require(outCols.distinct.size == outCols.size,
      s"explodeToSegments: output column names must be distinct, got $outCols")
    outCols.foreach { c =>
      require(!df.columns.contains(c),
        s"explodeToSegments: output column '$c' already present — rename it")
    }
    require(!df.columns.contains("_seg"),
      "explodeToSegments: reserved column '_seg' already present — rename it")
    val checked = when(col(geomCol).isNull,
        raise_error(lit("explodeToSegments: NULL geometry — a silently " +
          "dropped road row would silently unmatch every point near it")))
      .otherwise(col(geomCol))
    val keep = df.columns.filterNot(_ == geomCol).map(col)
    df.withColumn("_seg",
        explode(graft.functions.GeoFunctions.st_segments(checked)))
      .select(keep.toIndexedSeq ++ Seq(
        col("_seg.seg_idx").as(segIdxCol),
        col("_seg.ax").as(axCol), col("_seg.ay").as(ayCol),
        col("_seg.bx").as(bxCol), col("_seg.by").as(byCol)): _*)
  }

  /**
   * INVERSE-DISTANCE-WEIGHTED interpolation (Shepard 1968, the public
   * formulation): estimate a value at each query point from the
   * samples within `radius`,
   *
   *   v̂(q) = Σ_j w_j·v_j / Σ_j w_j,   w_j = 1 / dist(q, j)^power,
   *
   * with the standard EXACT-HIT rule — a sample AT the query point
   * (dist = 0) short-circuits to the mean of the zero-distance
   * samples (the limit of the weights, and the only finite answer).
   * Queries with NO sample in radius emit a NULL estimate and
   * `n_samples = 0` (documented — refusing would make sparse maps
   * unusable, silently extrapolating would be worse).
   *
   * Candidates ride [[radiusJoin]] (3×3 cell hash join, never
   * all-pairs; `saltCells` for hot cells); the aggregate is one
   * map-side-combinable groupBy on the query id. The weight tree is
   * `1 / pow(sqrt(dist2), power)` — one canonical spelling external
   * engines replay.
   *
   * Output: the QUERY frame's columns + `(idw_value double,
   * n_samples long, n_exact long)`.
   */
  def idwInterpolate(samples: DataFrame, sx: String, sy: String, valueCol: String,
                     queries: DataFrame, qIdCol: String, qx: String, qy: String,
                     radius: Double, power: Int = 2,
                     cellSize: Option[Double] = None,
                     saltCells: Int = 0): DataFrame = {
    require(power >= 1, s"idwInterpolate: power must be >= 1, got $power")
    require(samples.columns.contains(valueCol),
      s"idwInterpolate: column '$valueCol' missing from ${samples.columns.mkString("[", ",", "]")}")
    require(queries.columns.contains(qIdCol),
      s"idwInterpolate: column '$qIdCol' missing from ${queries.columns.mkString("[", ",", "]")}")
    val pairs = radiusJoin(
      queries.select(col(qIdCol).as("_qid"), col(qx).as("_qx"), col(qy).as("_qy")),
      samples.select(col(sx).as("_sx"), col(sy).as("_sy"),
        when(col(valueCol).isNull,
          raise_error(lit("idwInterpolate: NULL sample value — a dropped " +
            "sample would silently shift the estimate")).cast("double"))
          .otherwise(col(valueCol).cast("double")).as("_v")),
      "_qx", "_qy", "_sx", "_sy", radius, cellSize, saltCells)
    idwAgg(pairs, col("dist"), queries, qIdCol, power)
  }

  /** [[idwInterpolate]] on the sphere: lat/lon degrees, metres, the
    * [[geoRadiusJoin]] banded-cell candidates and haversine distance. */
  def geoIdwInterpolate(samples: DataFrame, sLat: String, sLon: String,
                        valueCol: String,
                        queries: DataFrame, qIdCol: String,
                        qLat: String, qLon: String,
                        radiusMeters: Double, power: Int = 2,
                        earthRadiusMeters: Double = EarthRadiusMeters,
                        saltCells: Int = 0): DataFrame = {
    require(power >= 1, s"geoIdwInterpolate: power must be >= 1, got $power")
    require(samples.columns.contains(valueCol),
      s"geoIdwInterpolate: column '$valueCol' missing from ${samples.columns.mkString("[", ",", "]")}")
    require(queries.columns.contains(qIdCol),
      s"geoIdwInterpolate: column '$qIdCol' missing from ${queries.columns.mkString("[", ",", "]")}")
    val pairs = geoRadiusJoin(
      queries.select(col(qIdCol).as("_qid"), col(qLat).as("_qlat"),
        col(qLon).as("_qlon")),
      samples.select(col(sLat).as("_slat"), col(sLon).as("_slon"),
        when(col(valueCol).isNull,
          raise_error(lit("geoIdwInterpolate: NULL sample value — a dropped " +
            "sample would silently shift the estimate")).cast("double"))
          .otherwise(col(valueCol).cast("double")).as("_v")),
      "_qlat", "_qlon", "_slat", "_slon", radiusMeters,
      earthRadiusMeters = earthRadiusMeters, saltCells = saltCells)
    idwAgg(pairs, col("dist_m"), queries, qIdCol, power)
  }

  /** Shared IDW aggregate over a (…, _qid, _v, dist) pair frame. */
  private def idwAgg(pairs: DataFrame, dist: Column,
                     queries: DataFrame, qIdCol: String, power: Int): DataFrame = {
    Seq("idw_value", "n_samples", "n_exact").foreach { c =>
      require(!queries.columns.contains(c),
        s"idwInterpolate: output column '$c' already present — rename it")
    }
    val w = lit(1.0) / pow(dist, power)
    val agg = pairs.groupBy(col("_qid")).agg(
      sum(when(dist > 0.0, w * col("_v"))).as("_wv"),
      sum(when(dist > 0.0, w)).as("_ws"),
      count(lit(1)).as("n_samples"),
      sum(when(dist === 0.0, 1L).otherwise(0L)).as("n_exact"),
      avg(when(dist === 0.0, col("_v"))).as("_exact"))
    val est = when(col("n_exact") > 0, col("_exact"))
      .otherwise(col("_wv") / col("_ws"))
    queries.join(agg.select(col("_qid"), est.as("idw_value"),
        col("n_samples"), col("n_exact")),
      queries(qIdCol) === col("_qid"), "left")
      .drop("_qid")
      .withColumn("n_samples", coalesce(col("n_samples"), lit(0L)))
      .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
  }
}
