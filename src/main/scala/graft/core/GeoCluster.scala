package graft.core

import graft.core.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Geodesic DBSCAN (Ester et al. 1996, KDD — the public density
 * clustering algorithm) over lat/lon points, composed entirely from
 * scale-safe pieces already in the library: the eps-neighborhood graph
 * is ONE [[DistanceJoin.geoRadiusJoin]] self-join (banded cells + hash
 * join + exact haversine — never all-pairs), core points fall out of a
 * neighbor-count aggregate, clusters are
 * [[graft.ext.Dedup.components]] (smallest-label propagation +
 * pointer doubling) over the core–core edges, and border points attach
 * by one slim join. The classic sequential algorithm's seed-scan is
 * inherently order-dependent for BORDER points (a border point in two
 * clusters' reach joins whichever was grown first); this formulation
 * replaces that with a DETERMINISTIC rule — a border point joins the
 * cluster with the smallest representative id among its core
 * neighbors — so results are reproducible across any degree of
 * parallelism. Core/noise status and the cluster PARTITION of core
 * points match the classic algorithm exactly (both are
 * scan-order-free facts of the eps-graph).
 *
 * Conventions: a point's eps-neighborhood INCLUDES itself (the
 * standard |N_eps(p)| >= minPts rule), cluster labels are the minimum
 * member id among the cluster's CORE points, noise gets a NULL label.
 *
 * Scale: the self-join carries each point once plus its 9 replicated
 * cell keys (slim id+coords — the payload never rides it); neighbor
 * counting is a map-side-combinable aggregate; components() shuffles
 * only (id, rep) longs per iteration and converges in
 * O(log longest-chain) rounds; the final label attach is one hash
 * join against the full payload. Density skew (one hot cell) is
 * ordinary join skew — `saltCells` routes the cell key through
 * [[graft.ext.Skew.saltedJoin]]. eps is the scale dial: candidate
 * fan-in grows with the point density inside a 3x3 cell neighborhood
 * at radius eps, exactly like the radius join it rides.
 */
object GeoCluster {

  /**
   * DBSCAN labels for every point: returns
   * `points.* ++ (is_core boolean, cluster <idCol type> nullable)` —
   * `cluster` is NULL for noise. `idCol` must be unique and non-NULL
   * (refused loudly — a duplicate id would cross-wire the label
   * joins); coordinates follow [[DistanceJoin.geoRadiusJoin]]'s
   * refusal contract (NULL/NaN/out-of-range). `maxIter` bounds the
   * component rounds: pointer doubling resolves a chain of length L in
   * ~log2(L)+1 rounds, so the default 20 covers ~million-hop core
   * chains (a road-network-shaped cluster); components() REFUSES
   * loudly if it has not converged rather than return split clusters.
   */
  def geoDbscan(points: DataFrame, idCol: String,
                latCol: String, lonCol: String,
                epsMeters: Double, minPts: Int,
                earthRadiusMeters: Double = DistanceJoin.EarthRadiusMeters,
                maxIter: Int = 20,
                saltCells: Int = 0): DataFrame = {
    require(minPts >= 1, s"geoDbscan: minPts must be >= 1, got $minPts")
    require(epsMeters > 0 && epsMeters < math.Pi * earthRadiusMeters,
      s"geoDbscan: eps in (0, pi*R) metres, got $epsMeters")
    Seq(idCol, latCol, lonCol).foreach { c =>
      require(points.columns.contains(c),
        s"geoDbscan: column '$c' missing from ${points.columns.mkString("[", ",", "]")}")
    }
    Seq("is_core", "cluster").foreach { c =>
      require(!points.columns.contains(c),
        s"geoDbscan: output column '$c' already present — rename it")
    }
    val idType = points.schema(idCol).dataType

    // slim (id, lat, lon) projection with the slimLeft dup/NULL-id
    // refusal — the eps-graph and every label join carry three columns,
    // never the payload
    val slim = points.groupBy(col(idCol).as("_pid")).agg(
        count(lit(1)).as("_gn"),
        first(col(latCol)).as("_plat"), first(col(lonCol)).as("_plon"))
      .select(
        when(col("_pid").isNull,
          raise_error(lit("geoDbscan: NULL id — labels could not join " +
            "back")).cast(idType))
        .when(col("_gn") > 1,
          raise_error(concat(lit("geoDbscan: duplicate id "),
            col("_pid").cast("string"),
            lit(" — the label join-back would cross-wire rows; " +
              "deduplicate first"))).cast(idType))
        .otherwise(col("_pid")).as("_pid"),
        col("_plat"), col("_plon"))
    val other = slim.select(col("_pid").as("_qid"),
      col("_plat").as("_qlat"), col("_plon").as("_qlon"))

    // eps-neighborhood graph, self-pairs included (dist 0 — the
    // standard |N_eps(p)| includes p). Materialized ONCE (it is reused
    // by the core count, the core-core edges and the border attach —
    // three consumers of one banded-cell join, never three joins).
    val pairs = DistanceJoin.geoRadiusJoin(slim, other,
        "_plat", "_plon", "_qlat", "_qlon", epsMeters,
        earthRadiusMeters, saltCells)
      .select(col("_pid"), col("_qid"))
      .lineageCut(true)

    val cores = pairs.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minPts).select(col("_pid"))
      .lineageCut(true)

    // clusters = connected components of the CORE-CORE subgraph;
    // components() wants each undirected edge once (it symmetrizes)
    val coreEdges = pairs.filter(col("_pid") < col("_qid"))
      .join(cores, Seq("_pid"), "left_semi")
      .join(cores.select(col("_pid").as("_qid")), Seq("_qid"), "left_semi")
      .select(col("_pid").as("id"), col("_qid").as("id2"))
    val comps = graft.ext.Dedup.components(coreEdges, maxIter)
    // isolated cores (minPts-dense but no core neighbor) are their own
    // cluster — components() only sees nodes with edges
    val coreLabels = cores.join(comps, cores("_pid") === comps("node"), "left")
      .select(col("_pid"), coalesce(col("rep"), col("_pid")).as("cluster"),
        lit(true).as("is_core"))

    // border = non-core with a core neighbor; DETERMINISTIC attach to
    // the smallest neighbor-cluster rep (see object doc)
    val borderLabels = pairs.filter(col("_pid") =!= col("_qid"))
      .join(cores, Seq("_pid"), "left_anti")
      .join(coreLabels.select(col("_pid").as("_qid"), col("cluster")), Seq("_qid"))
      .groupBy(col("_pid")).agg(min(col("cluster")).as("cluster"))
      .select(col("_pid"), col("cluster"), lit(false).as("is_core"))

    val labels = coreLabels.unionByName(borderLabels)
    points.join(labels, points(idCol) === labels("_pid"), "left")
      .select(points.columns.map(col) ++ Seq(
        coalesce(col("is_core"), lit(false)).as("is_core"),
        col("cluster")): _*)
  }

  /**
   * HOTSPOT analysis — the Getis–Ord Gi* statistic (Getis & Ord 1992;
   * Ord & Getis 1995, the public formulation) over a fixed grid:
   * points bin into `cellSize` cells, each OCCUPIED cell gets a
   * z-score for "is the count mass in my 3×3 neighborhood
   * significantly above the global mean":
   *
   *   Gi* = (Σ_{j∈N(i)} x_j − x̄·W_i) /
   *         (S · sqrt((n·W_i − W_i²) / (n − 1)))
   *
   * with binary weights over the 8 neighbors + self (so ΣW_ij = ΣW_ij²
   * = W_i = the number of OCCUPIED cells in the neighborhood),
   * x̄ = Σx/n and S = sqrt(Σx²/n − x̄²) over all n occupied cells.
   * |Gi*| > 1.96 ≈ the 5% hot/cold spot.
   *
   * Semantics pinned on purpose: the cell UNIVERSE is the occupied
   * cells (empty cells are not observations — the bounded-extent
   * full-lattice variant is a different, extent-parameterized
   * question); coordinates are PLANAR (project lat/lon first, use
   * [[hotspotsGeo]] for the latitude-unbiased banded grid, or live
   * with the latitude bias a degree grid has — documented, like
   * [[graft.core.SpatialJoin]]'s cells). Gi* is NULL where it is
   * undefined: S = 0 (every cell holds the same mass — no deviation
   * to score) or W_i = n (the neighborhood IS the universe, variance
   * term 0). Fewer than 2 occupied cells REFUSES loudly.
   *
   * Exactness: everything up to the final z expression is INTEGER
   * (counts / integral weights summed as longs: per-cell mass,
   * neighbor sums, occupied-neighbor counts, the three global sums),
   * so an external engine replays the one closed-form double tree
   * bit-for-bit.
   *
   * Scale: one groupBy on the cell key (map-side combinable counts), a
   * 9-way slim explode of (cell, mass) joined back on the cell hash —
   * never all-pairs, payload never rides — and ONE broadcast row of
   * global sums. 100 TB of points reduce to |occupied cells| rows
   * after the first aggregate.
   *
   * Output: `(cx long, cy long, mass long, nbr_mass long, nbr_cells
   * long, gi_z double)`.
   */
  def hotspots(points: DataFrame, xCol: String, yCol: String,
               cellSize: Double, weightCol: Option[String] = None): DataFrame = {
    require(cellSize > 0 && !cellSize.isInfinite && !cellSize.isNaN,
      s"hotspots: cellSize must be finite > 0, got $cellSize")
    (Seq(xCol, yCol) ++ weightCol).foreach { c =>
      require(points.columns.contains(c),
        s"hotspots: column '$c' missing from ${points.columns.mkString("[", ",", "]")}")
    }
    weightCol.foreach { c =>
      val t = points.schema(c).dataType
      require(t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType ||
        t == org.apache.spark.sql.types.ShortType,
        s"hotspots: weight column '$c' must be integral (got $t) — " +
        "integer mass keeps every sum exact and the z tree replayable")
    }
    def refuse(c: String) =
      when(col(c).isNull || isnan(col(c)) ||
          col(c).cast("double").isin(Double.PositiveInfinity, Double.NegativeInfinity),
        raise_error(lit(s"hotspots: NULL/NaN/Inf in '$c' — a dropped point " +
          "would silently shift its cell's mass")).cast("double"))
        .otherwise(col(c).cast("double"))
    // negative mass would silently violate the count-mass premise of the
    // Getis–Ord formulation (X̄, S and the neighbor sums all assume
    // non-negative incidence mass) — refuse loudly like NULL (r15 ADVICE)
    val w = weightCol.map(c =>
      when(col(c).isNull, raise_error(lit("hotspots: NULL weight"))
        .cast("long"))
        .when(col(c) < 0, raise_error(concat(
          lit("hotspots: negative weight "), col(c).cast("string"),
          lit(" — Gi* scores non-negative incidence mass; signed fields " +
            "need a different statistic"))).cast("long"))
        .otherwise(col(c).cast("long"))).getOrElse(lit(1L))
    val cells = points.select(
        floor(refuse(xCol) / cellSize).cast("long").as("cx"),
        floor(refuse(yCol) / cellSize).cast("long").as("cy"),
        w.as("_w"))
      .groupBy("cx", "cy").agg(sum("_w").as("mass"))
    val globals = cells.agg(count(lit(1)).as("_n"),
      sum("mass").as("_sx"),
      sum(col("mass") * col("mass")).as("_sx2"))
    // each occupied cell donates its mass to its 9 neighbor positions;
    // the inner join back keeps only positions that ARE occupied cells
    val offsets = for (dx <- -1L to 1L; dy <- -1L to 1L) yield (dx, dy)
    val donated = cells.select(col("mass").as("_xj"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("cx") + dx).as("tcx"), (col("cy") + dy).as("tcy"))
        }: _*)).as("_t"))
      .select(col("_t.tcx").as("cx"), col("_t.tcy").as("cy"), col("_xj"))
      .groupBy("cx", "cy")
      .agg(sum("_xj").as("nbr_mass"), count(lit(1)).as("nbr_cells"))
    val joined = cells.join(donated, Seq("cx", "cy")).crossJoin(broadcast(globals))
    val n = col("_n").cast("double")
    val wi = col("nbr_cells").cast("double")
    val xbar = col("_sx").cast("double") / n
    val s2 = col("_sx2").cast("double") / n - xbar * xbar
    val varTerm = (n * wi - wi * wi) / (n - 1.0)
    val z = (col("nbr_mass").cast("double") - xbar * wi) /
      (sqrt(s2) * sqrt(varTerm))
    joined.select(col("cx"), col("cy"), col("mass"),
      col("nbr_mass"), col("nbr_cells"),
      when(col("_n") < 2,
          raise_error(lit("hotspots: fewer than 2 occupied cells — Gi* " +
            "needs a universe to deviate from")).cast("double"))
        .otherwise(when(s2 <= 0.0 || col("nbr_cells") === col("_n"),
          lit(null).cast("double")).otherwise(z)).as("gi_z"))
  }

  /**
   * GEODESIC Getis–Ord Gi* hotspots (r15; closes [[hotspots]]'s
   * documented planar-only limitation): the same statistic over
   * lat/lon points binned into [[DistanceJoin.geoRadiusJoin]]'s
   * LATITUDE-BANDED cells — bands of height `cellSizeMeters/R`
   * radians, per-band-family longitude cell counts from the inverted
   * haversine bound (the radius join's `nCellsOf` tree VERBATIM, so
   * the library has exactly one banded-grid definition), widths
   * growing `1/cos` toward the poles. A polar corpus therefore gets
   * ~equal-ground-size cells instead of the sliver cells a degree
   * grid gives it — the latitude bias the planar scaladoc documents
   * is gone, and antimeridian neighbors wrap `mod nCells` with no
   * seam.
   *
   * NEIGHBORHOOD: the banded analog of the planar 9-cell Moore
   * neighborhood — for a focal cell, the 3 cells nearest its CENTER
   * meridian (shift −1/0/+1 under the target band's own width) in
   * each of bands b−1, b, b+1, DEDUPED (a polar band with one
   * whole-circle cell collapses its three shifts). Where adjacent
   * bands have different cell counts the relation is not symmetric;
   * Gi* does not require symmetry — the weights w_ij are defined per
   * focal cell i (Getis–Ord 1992 uses arbitrary per-i weight rows),
   * and the convention is pinned here and replayed by the oracle.
   *
   * Same pinned semantics as [[hotspots]] otherwise: occupied-cell
   * universe, integral non-negative weights (refused otherwise),
   * NULL z where undefined (S = 0 or W_i = n), < 2 occupied cells
   * refuses, everything up to the one closed-form z tree is INTEGER.
   *
   * Scale: one groupBy on (band, cell) — map-side combinable — then a
   * ≤9-way slim explode of the OCCUPIED cells (band, cell, center-lon
   * key only; masses join back by cell hash), and ONE broadcast row
   * of global sums. Never all-pairs; 100 TB of points reduce to
   * |occupied cells| rows after the first aggregate.
   *
   * Output: `(band long, cell long, mass long, nbr_mass long,
   * nbr_cells long, gi_z double)`.
   */
  def hotspotsGeo(points: DataFrame, lonCol: String, latCol: String,
                  cellSizeMeters: Double, weightCol: Option[String] = None,
                  earthRadiusMeters: Double = DistanceJoin.EarthRadiusMeters)
      : DataFrame = {
    val bigR = earthRadiusMeters
    require(cellSizeMeters > 0 && cellSizeMeters < math.Pi * bigR,
      s"hotspotsGeo: cellSizeMeters in (0, pi*R), got $cellSizeMeters")
    (Seq(lonCol, latCol) ++ weightCol).foreach { c =>
      require(points.columns.contains(c),
        s"hotspotsGeo: column '$c' missing from ${points.columns.mkString("[", ",", "]")}")
    }
    weightCol.foreach { c =>
      val t = points.schema(c).dataType
      require(t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType ||
        t == org.apache.spark.sql.types.ShortType,
        s"hotspotsGeo: weight column '$c' must be integral (got $t) — " +
        "integer mass keeps every sum exact and the z tree replayable")
    }
    val grid = new DistanceJoin.LatBands(cellSizeMeters / bigR)
    def checked(c: Column, lo: Double, hi: Double, what: String): Column =
      when(c.isNull || isnan(c) || c.cast("double") < lo || c.cast("double") > hi,
        raise_error(concat(lit(s"hotspotsGeo: $what out of [$lo, $hi] " +
          s"(or NULL/NaN) — a misindexed cell silently shifts mass, got "),
          c.cast("string"))).cast("double"))
        .otherwise(c.cast("double"))
    val w = weightCol.map(c =>
      when(col(c).isNull, raise_error(lit("hotspotsGeo: NULL weight"))
        .cast("long"))
        .when(col(c) < 0, raise_error(concat(
          lit("hotspotsGeo: negative weight "), col(c).cast("string"),
          lit(" — Gi* scores non-negative incidence mass"))).cast("long"))
        .otherwise(col(c).cast("long"))).getOrElse(lit(1L))
    val cells = points.select(
        checked(col(latCol), -90, 90, "latitude").as("_lat"),
        checked(col(lonCol), -180, 180, "longitude").as("_lon"),
        w.as("_w"))
      .select(grid.band(col("_lat")).as("band"),
        grid.cellOf(col("_lon"), grid.band(col("_lat")), lit(0L)).as("cell"),
        col("_w"))
      .groupBy("band", "cell").agg(sum("_w").as("mass"))
    val globals = cells.agg(count(lit(1)).as("_n"),
      sum("mass").as("_sx"),
      sum(col("mass") * col("mass")).as("_sx2"))
    // focal cells explode into their (deduped) neighbor LOOKUP keys,
    // join the occupied-cell masses back, and aggregate per focal cell
    // — ≤9 slim rows per occupied cell, payload never rides
    val centerLon = lit(-180.0) +
      (col("cell").cast("double") + lit(0.5)) *
        (lit(360.0) / grid.nCellsOf(col("band")).cast("double"))
    val lookups = cells.select(col("band"), col("cell"),
        explode(grid.neighborKeys(col("band"), centerLon)).as("_t"))
      .select(col("band"), col("cell"),
        col("_t._gband").as("tband"), col("_t._gcell").as("tcell"))
    val donated = lookups
      .join(cells.select(col("band").as("tband"), col("cell").as("tcell"),
        col("mass").as("_xj")), Seq("tband", "tcell"))
      .groupBy("band", "cell")
      .agg(sum("_xj").as("nbr_mass"), count(lit(1)).as("nbr_cells"))
    val joined = cells.join(donated, Seq("band", "cell"))
      .crossJoin(broadcast(globals))
    val n = col("_n").cast("double")
    val wi = col("nbr_cells").cast("double")
    val xbar = col("_sx").cast("double") / n
    val s2 = col("_sx2").cast("double") / n - xbar * xbar
    val varTerm = (n * wi - wi * wi) / (n - 1.0)
    val z = (col("nbr_mass").cast("double") - xbar * wi) /
      (sqrt(s2) * sqrt(varTerm))
    joined.select(col("band"), col("cell"), col("mass"),
      col("nbr_mass"), col("nbr_cells"),
      when(col("_n") < 2,
          raise_error(lit("hotspotsGeo: fewer than 2 occupied cells — Gi* " +
            "needs a universe to deviate from")).cast("double"))
        .otherwise(when(s2 <= 0.0 || col("nbr_cells") === col("_n"),
          lit(null).cast("double")).otherwise(z)).as("gi_z"))
  }
}
