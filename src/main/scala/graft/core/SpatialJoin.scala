package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.graftx.Bridge

import graft.functions.{StEnvelopeBounds, StRelation, StRelationXY}

/**
 * Grid-partitioned SPATIAL PREDICATE JOINs — the geometry siblings of
 * [[DistanceJoin]]: "every (a, b) pair where `a <mode> b`" for the
 * reference's eight DE-9IM modes (geodb.sql:1204-1214), without the
 * BroadcastNestedLoopJoin Spark would otherwise plan for a geometry
 * predicate. This is THE geodb join at scale — tag 100 TB of points
 * with their containing admin polygon, or match two polygon layers —
 * and the reference gets it from PostGIS's GiST index one row at a
 * time; here it is a plain hash join both engines' shuffle machinery
 * already knows how to scale.
 *
 * Recipe (the [[DistanceJoin.radiusJoin]] / BinnedRangeJoin shape in
 * 2D): each geometry explodes to every grid cell its ENVELOPE covers
 * (cells of side `cellSize`, under a loud per-geometry cap — a
 * continent under a street-level cell size is a parameter bug, not a
 * silent 10⁶× blowup), the join is a HASH join on the cell key, and
 * the exact JTS DE-9IM predicate verifies every candidate, so the
 * binning is never load-bearing for false positives. Exactly-once
 * comes structurally, never from a dedup pass:
 *
 *  - point × geometry: a point lives in exactly ONE cell;
 *  - geometry × geometry: a candidate fires only in the REFERENCE cell
 *    `(max(aCellLoX, bCellLoX), max(aCellLoY, bCellLoY))` — the 2D
 *    later-start-bin rule of [[graft.ext.RangeJoin.intervalOverlapJoin]]:
 *    cell ranges are intervals per axis, so if they overlap at all the
 *    per-axis max-of-los cell is covered by BOTH ranges, and it is
 *    unique.
 *
 * Every positive DE-9IM mode implies the two geometries (closures)
 * meet, which implies their envelopes overlap, which implies their
 * cell ranges overlap — so the candidate set is complete. `disjoint`
 * is REFUSED loudly: a grid join can only see envelope-overlapping
 * candidates, and disjoint is nearly-all-pairs (express it as an
 * anti-join over `intersects` — pairs semantics would be a cross
 * join's output size anyway).
 *
 * Scale: the envelope is decoded ONCE per row from the WKB, or read
 * from stored bounds (a collection's `_bbox_*`, passed by
 * `GeoDb.spatialJoinCollections`: zero decodes). Shuffle carries each
 * point once and each geometry |covered cells| times (slim longs + the
 * WKB); a candidate passes a closed-envelope double-compare prefilter
 * before the JTS verify, which rides the prepared-geometry slot cache
 * ([[GeoOps.relatePoint]]) — a streamed geometry row's candidates arrive
 * consecutively, so topology builds once per (geometry, task). Density
 * skew (one hot cell) is ordinary join skew: `saltCells` routes the
 * cell key through [[graft.ext.Skew.saltedJoin]]. `cellSize` trades
 * replication against per-cell fan-in — start near the median extent.
 */
object SpatialJoin {

  private def relXY(mode: String, g: Column, x: Column, y: Column): Column =
    Bridge.column(StRelationXY(mode, Bridge.expression(g),
      Bridge.expression(x), Bridge.expression(y)))

  private def rel(mode: String, a: Column, b: Column): Column =
    Bridge.column(StRelation(mode, Bridge.expression(a), Bridge.expression(b)))

  private def envBounds(g: Column): Column =
    Bridge.column(StEnvelopeBounds(Bridge.expression(g)))

  private def checkMode(op: String, mode: String): Unit = {
    GeoOps.modeId(mode) // unknown modes error exactly like the engine path
    require(mode.toLowerCase(java.util.Locale.ROOT) != "disjoint",
      s"$op: mode 'disjoint' cannot ride a grid join (its pairs are " +
      "nearly the cross product and candidates only form where envelopes " +
      "overlap) — express it as an anti-join over 'intersects'")
  }

  private def checkGrid(op: String, mode: String, cellSize: Double,
                        maxCellsPerGeom: Int, saltCells: Int): Unit = {
    checkMode(op, mode)
    require(cellSize > 0 && !cellSize.isInfinite,
      s"$op: cellSize must be finite > 0, got $cellSize")
    require(maxCellsPerGeom >= 1,
      s"$op: maxCellsPerGeom must be >= 1, got $maxCellsPerGeom")
    require(saltCells == 0 || saltCells >= 2,
      s"saltCells: 0 (off) or >= 2, got $saltCells")
  }

  private def present(op: String, df: DataFrame, cols: String*): Unit =
    cols.foreach(c => require(df.columns.contains(c),
      s"$op: column '$c' missing from ${df.columns.mkString("[", ",", "]")}"))

  private def checkCols(op: String, left: DataFrame, right: DataFrame,
                        scratch: Seq[String]): Unit = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"$op: overlapping column names ${overlap.mkString(",")} — " +
      "rename one side (the output carries both sides' columns)")
    scratch.foreach { c =>
      require(!left.columns.contains(c) && !right.columns.contains(c),
        s"$op: reserved scratch column '$c' already present — rename it")
    }
  }

  /** A checked column the optimizer knows is never NULL: a nullable one
    * read by a null-intolerant join predicate gets an inferred `isnotnull`
    * Filter, pushed below the refusals (a NULL row vanishes silently). */
  private def known(c: Column): Column =
    Bridge.column(KnownNotNull(Bridge.expression(c)))

  /**
   * Geometry side → covered-cell explosion: adds `(_scx, _scy)` join
   * keys plus `${p}env` (the closed envelope, for the double-compare
   * prefilter) and `${p}cxlo`/`${p}cylo` (the cell-range los, for the
   * geometry×geometry reference-cell rule). The envelope is `stored` —
   * four double columns (minx, miny, maxx, maxy) equal to the geometry's
   * envelope, consumed here — or else ONE `st_envelope_bounds` decode.
   * One projection checks and bins it: NULL geometries, EMPTY geometries
   * (JTS null envelope: minX > maxX — no cells to live in) and NaN
   * envelope coordinates are REFUSED loudly, in that order: each would
   * silently drop the row from every pair. Geometries covering more than
   * `maxCellsPerGeom` cells are refused with the count — raise `cellSize`
   * (or split the geometry) rather than let one row explode the shuffle.
   * The refusals share the CASE yielding `${p}cxhi`, which the first
   * explode reads, so no row reaches a pair unchecked.
   */
  private def withCells(df: DataFrame, geomCol: String, stored: Option[Seq[String]],
                        cellSize: Double, maxCellsPerGeom: Int, p: String,
                        op: String): DataFrame = {
    val (src, env, bound) = stored match {
      case Some(bs) => (df, array(bs.map(col): _*), (i: Int) => col(bs(i)))
      case None => (df.withColumn(s"${p}env", envBounds(col(geomCol))),
        col(s"${p}env"), (i: Int) => col(s"${p}env")(i))
    }
    def refuse(why: String): Column = raise_error(lit(s"$op: $why"))
    val nullGeom = refuse("NULL geometry — a null cell key would silently " +
      "drop the row from every pair")
    def cell(i: Int): Column = floor(bound(i) / cellSize).cast("long")
    val nCells = (cell(2) - cell(0) + 1) * (cell(3) - cell(1) + 1)
    val cxhi = when(col(geomCol).isNull, nullGeom)
      .when(bound(0) > bound(2), refuse("EMPTY geometry — it covers no cells " +
        "and would silently vanish from every pair; filter empties first"))
      .when((0 to 3).map(i => isnan(bound(i))).reduce(_ || _),
        refuse("NaN envelope coordinate — a misindexed cell silently drops pairs"))
      .when(nCells > maxCellsPerGeom, raise_error(concat(
        lit(s"$op: geometry covers "), nCells.cast("string"),
        lit(s" cells > maxCellsPerGeom ($maxCellsPerGeom) at cellSize " +
          s"$cellSize — raise cellSize or split the geometry"))))
      .otherwise(cell(2))
    val user = df.columns.filterNot(stored.getOrElse(Nil).contains).map { c =>
      if (c == geomCol) known(when(col(c).isNull, nullGeom).otherwise(col(c))).as(c)
      else col(c)
    }
    val cells = src.select(user ++ Seq(known(env).as(s"${p}env"),
      known(cell(0)).as(s"${p}cxlo"), known(cell(1)).as(s"${p}cylo"),
      known(cxhi).as(s"${p}cxhi"), known(cell(3)).as(s"${p}cyhi")): _*)
    def explodeAxis(d: DataFrame, axis: String): DataFrame =
      d.select(d.columns.filter(_ != s"${p}c${axis}hi").map(col) :+
        explode(sequence(col(s"${p}c${axis}lo"), col(s"${p}c${axis}hi"))).as(s"_sc$axis"): _*)
    explodeAxis(explodeAxis(cells, "x"), "y")
  }

  /**
   * All (geometry, point) pairs where `geometry <mode> POINT(x, y)` —
   * the polygon-tagging join ("which admin region is each event in").
   * `mode` reads left-to-right: `contains` keeps pairs where the
   * geometry CONTAINS the point (a boundary point is intersects/touches
   * but NOT contains — DE-9IM interiors must meet). Returns
   * `geoms.* ++ points.*`; column names must be disjoint. NULL/NaN
   * point coordinates are refused like [[DistanceJoin.radiusJoin]]'s.
   *
   * The points side is the big side: it shuffles once (its single cell
   * key), while each geometry replicates to its covered cells. With
   * `saltCells >= 2` the points side additionally salts the cell key
   * through [[graft.ext.Skew.saltedJoin]] for hot-cell corpora.
   */
  def pointJoin(geoms: DataFrame, geomCol: String,
                points: DataFrame, px: String, py: String,
                mode: String = "intersects",
                cellSize: Double,
                maxCellsPerGeom: Int = 4096,
                saltCells: Int = 0): DataFrame = {
    checkGrid("pointJoin", mode, cellSize, maxCellsPerGeom, saltCells)
    present("pointJoin", geoms, geomCol); present("pointJoin", points, px, py)
    checkCols("pointJoin", geoms, points,
      Seq("_scx", "_scy", "_genv", "_gcxlo", "_gcylo", "_gcxhi", "_gcyhi"))
    val g = withCells(geoms, geomCol, None, cellSize, maxCellsPerGeom, "_g", "pointJoin")
    def checked(c: String): Column = known(when(col(c).isNull || isnan(col(c)),
      raise_error(lit(s"pointJoin: NULL/NaN ${if (c == px) "x" else "y"} coordinate " +
        "— a null cell would silently drop the point from every pair"))).otherwise(col(c)))
    def pcell(c: String): Column = known(floor(checked(c) / cellSize).cast("long"))
    val pts = points.select(points.columns.map(c =>
      if (c == px || c == py) checked(c).as(c) else col(c)) ++
      Seq(pcell(px).as("_scx"), pcell(py).as("_scy")): _*)
    val joined =
      if (saltCells >= 2)
        graft.ext.Skew.saltedJoin(pts, g, Seq("_scx", "_scy"), saltCells)
      else pts.join(g, Seq("_scx", "_scy"))
    val env = col("_genv")
    joined
      // closed-envelope prefilter: every positive mode implies the point
      // meets the geometry's closure, hence its envelope — four double
      // compares ahead of the JTS predicate
      .filter(col(px) >= env(0) && col(px) <= env(2) &&
              col(py) >= env(1) && col(py) <= env(3) &&
              relXY(mode, col(geomCol), col(px), col(py)))
      .select(geoms.columns.map(col) ++ points.columns.map(col): _*)
  }

  /**
   * All (a, b) pairs where `a <mode> b` over two geometry sets — the
   * layer-matching join (parcels × flood zones, trajectories × admin
   * areas). Exactly-once via the 2D reference-cell rule (see object
   * doc); candidates pass the closed-envelope overlap prefilter before
   * the JTS verify. Returns `a.* ++ b.*`. With `saltCells >= 2` the A
   * side (put the big layer there) salts the cell key through
   * [[graft.ext.Skew.saltedJoin]].
   */
  def spatialJoin(a: DataFrame, aGeom: String,
                  b: DataFrame, bGeom: String,
                  mode: String = "intersects",
                  cellSize: Double,
                  maxCellsPerGeom: Int = 4096,
                  saltCells: Int = 0): DataFrame =
    spatialJoin(a, aGeom, None, b, bGeom, None, mode, cellSize, maxCellsPerGeom, saltCells)

  /** [[spatialJoin]] where a side may name four stored envelope columns
    * ([[withCells]]) to read instead of decoding its WKB; not returned. */
  private[graft] def spatialJoin(a: DataFrame, aGeom: String, aEnv: Option[Seq[String]],
                                 b: DataFrame, bGeom: String, bEnv: Option[Seq[String]],
                                 mode: String, cellSize: Double,
                                 maxCellsPerGeom: Int, saltCells: Int): DataFrame = {
    checkGrid("spatialJoin", mode, cellSize, maxCellsPerGeom, saltCells)
    present("spatialJoin", a, aGeom); present("spatialJoin", b, bGeom)
    checkCols("spatialJoin", a, b,
      Seq("_scx", "_scy", "_aenv", "_acxlo", "_acylo", "_acxhi", "_acyhi",
          "_benv", "_bcxlo", "_bcylo", "_bcxhi", "_bcyhi"))
    val l = withCells(a, aGeom, aEnv, cellSize, maxCellsPerGeom, "_a", "spatialJoin")
    val r = withCells(b, bGeom, bEnv, cellSize, maxCellsPerGeom, "_b", "spatialJoin")
    val joined =
      if (saltCells >= 2)
        graft.ext.Skew.saltedJoin(l, r, Seq("_scx", "_scy"), saltCells)
      else l.join(r, Seq("_scx", "_scy"))
    val (ae, be) = (col("_aenv"), col("_benv"))
    joined
      // reference cell: exactly-once without a dedup pass — the unique
      // cell both ranges cover at the per-axis max of the lows
      .filter(col("_scx") === greatest(col("_acxlo"), col("_bcxlo")) &&
              col("_scy") === greatest(col("_acylo"), col("_bcylo")) &&
              // closed-envelope overlap prefilter ahead of the JTS matrix
              ae(0) <= be(2) && be(0) <= ae(2) &&
              ae(1) <= be(3) && be(1) <= ae(3) &&
              rel(mode, col(aGeom), col(bGeom)))
      .select((a.columns ++ b.columns).filterNot((aEnv ++ bEnv).flatten.toSet).map(col): _*)
  }

  /**
   * [[pointJoin]] for the big-points × SMALL-geometries shape (every
   * event tagged with one of a few thousand admin areas): the geometry
   * side is collected under a loud `maxBroadcastRows` cap, broadcast
   * once, and probed through a per-executor JTS STRtree of PREPARED
   * geometries — so the points side moves ZERO bytes (no shuffle at
   * all; `pointJoin` shuffles every point once into the cell
   * partitioning), and the verify runs against a geometry prepared
   * ONCE per executor instead of per slot-cache miss. Row semantics
   * are IDENTICAL to `pointJoin` (same DE-9IM verify via
   * [[GeoOps.relatePointPrepared]] — `relatePoint` delegates to it —
   * same NULL/NaN/EMPTY refusals, same `geoms.* ++ points.*` output);
   * a spec row pins the equivalence on boundary fixtures.
   *
   * Plan shape (everything stays inside whole-stage codegen — no
   * mapPartitions row-encoder boundary): the probe is a codegen'd
   * expression returning the matching geometry INDICES
   * ([[graft.functions.GeomSetProbe]] over a torrent-broadcast WKB
   * set), `explode` fans them out, and a broadcast HASH join on the
   * index attaches the geometry payload columns. Pick this when the
   * geometry side fits comfortably in executor memory (it is the
   * GiST-index replacement for the dimension-table case); pick
   * `pointJoin` when both sides are large.
   */
  def broadcastPointJoin(geoms: DataFrame, geomCol: String,
                         points: DataFrame, px: String, py: String,
                         mode: String = "intersects",
                         maxBroadcastRows: Int = 200000): DataFrame = {
    checkMode("broadcastPointJoin", mode)
    val modeId = GeoOps.modeId(mode)
    require(maxBroadcastRows >= 1,
      s"broadcastPointJoin: maxBroadcastRows must be >= 1, got $maxBroadcastRows")
    present("broadcastPointJoin", geoms, geomCol)
    present("broadcastPointJoin", points, px, py)
    checkCols("broadcastPointJoin", geoms, points, Seq("_bpx", "_bpy", "_gbidx"))
    val gIdx = geoms.schema.fieldIndex(geomCol)
    val rows = geoms.limit(maxBroadcastRows + 1).collect()
    require(rows.length <= maxBroadcastRows,
      s"broadcastPointJoin: geometry side exceeds maxBroadcastRows " +
      s"($maxBroadcastRows) — it no longer fits a broadcast; use pointJoin")
    // same refusal surface as withCells, validated once at the driver
    rows.foreach { r =>
      val b = r.getAs[Array[Byte]](gIdx)
      require(b != null, "broadcastPointJoin: NULL geometry — a null " +
        "entry would silently drop the row from every pair")
      val e = GeoOps.read(b).getEnvelopeInternal
      require(!e.isNull, "broadcastPointJoin: EMPTY geometry — it would " +
        "silently vanish from every pair; filter empties first")
      require(!e.getMinX.isNaN && !e.getMinY.isNaN &&
              !e.getMaxX.isNaN && !e.getMaxY.isNaN,
        "broadcastPointJoin: NaN envelope coordinate — a misindexed " +
        "entry silently drops pairs")
    }
    val spark = points.sparkSession
    val bc = spark.sparkContext.broadcast(
      rows.map(_.getAs[Array[Byte]](gIdx)))
    val holder = new graft.functions.GeomSetHolder(
      java.util.UUID.randomUUID().toString, modeId, bc)
    def pcoord(c: String, axis: String) =
      when(col(c).isNull || isnan(col(c).cast("double")),
        raise_error(lit(s"broadcastPointJoin: NULL/NaN $axis coordinate — " +
          "a null probe would silently drop the point from every pair"))
          .cast("double"))
      .otherwise(col(c).cast("double"))
    // geometry payload join-back side: index-keyed, broadcast-hash-joined
    val idxed = spark.createDataFrame(
      java.util.Arrays.asList(rows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }: _*),
      org.apache.spark.sql.types.StructType(geoms.schema.fields :+
        org.apache.spark.sql.types.StructField(
          "_gbidx", org.apache.spark.sql.types.IntegerType, nullable = false)))
    val probe = Bridge.column(graft.functions.GeomSetProbe(holder,
      Bridge.expression(pcoord(px, "x")), Bridge.expression(pcoord(py, "y"))))
    points
      .withColumn("_gbidx", explode(probe))
      .join(broadcast(idxed), Seq("_gbidx"))
      .select(geoms.columns.map(col) ++ points.columns.map(col): _*)
  }

  /**
   * AREA-WEIGHTED (areal) INTERPOLATION — the classic GIS
   * redistribution (Goodchild & Lam 1980): each source zone's
   * `weightCol` (population, crop tons) spreads over the target zones
   * it intersects in proportion to intersected area,
   * `interp(t) = Σ_s w(s) · area(s ∩ t) / area(s)`. The join is
   * [[spatialJoin]] (grid cells, exactly-once), the overlay is the
   * JTS intersection kernel, and the aggregate groups on the WHOLE
   * target row (VALUE-duplicate targets collapse — give targets an id
   * column if that matters). Returns `tgt.* ++ interp`; targets
   * intersecting nothing get interp = 0 via the final left join.
   * Mass preservation (Σ interp = Σ w when targets tile the source
   * extent) is pinned in the spec. Zero-area source zones REFUSE
   * loudly (their share is 0/0); NULL weights refuse.
   *
   * `areaMode` picks the AREA kernel the shares ride on:
   * `"planar"` (default) is JTS area — correct for PROJECTED
   * coordinates; on raw lon/lat it returns "square degrees", where one
   * degree of longitude shrinks with cos(latitude), so shares of
   * north–south-elongated intersections are latitude-BIASED.
   * `"spherical"` uses [[GeoOps.areaSpherical]] (Chamberlain–Duquette
   * spherical excess) for srcArea and the intersection area — the
   * right mode for EPSG:4326 zones. Intersection TOPOLOGY is still the
   * lon/lat-plane JTS overlay in both modes (the simple-features
   * convention for geographic data): the spherical kernel fixes the
   * area RATIOS, which is where the bias lives; great-circle vs rhumb
   * edge discrepancies only matter for zones with multi-degree edges
   * near the poles — split those upstream.
   */
  def arealInterpolate(src: DataFrame, srcGeom: String, weightCol: String,
                       tgt: DataFrame, tgtGeom: String,
                       cellSize: Double,
                       maxCellsPerGeom: Int = 4096,
                       saltCells: Int = 0,
                       areaMode: String = "planar"): DataFrame = {
    require(areaMode == "planar" || areaMode == "spherical",
      s"arealInterpolate: areaMode must be 'planar' or 'spherical', got '$areaMode'")
    require(src.columns.contains(weightCol),
      s"arealInterpolate: weight column '$weightCol' missing from " +
      src.columns.mkString("[", ",", "]"))
    require(!tgt.columns.contains("interp") && !src.columns.contains("interp"),
      "arealInterpolate: reserved output column 'interp' present — rename it")
    require(!tgt.columns.contains("_share") && !src.columns.contains("_share"),
      "arealInterpolate: reserved scratch column '_share' present — rename it")
    val w =
      when(col(weightCol).isNull,
        raise_error(lit("arealInterpolate: NULL weight — a silently " +
          "dropped zone would lose mass")).cast("double"))
      .otherwise(col(weightCol).cast("double"))
    def areaOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      if (areaMode == "spherical")
        Bridge.column(graft.functions.StAreaSpherical(e,
          org.apache.spark.sql.catalyst.expressions.Literal(
            DistanceJoin.EarthRadiusMeters)))
      else Bridge.column(graft.functions.StUnary("area", e))
    val srcArea = areaOf(Bridge.expression(col(srcGeom)))
    val ixArea = areaOf(graft.functions.StOverlay("intersectionOf",
      Bridge.expression(col(srcGeom)), Bridge.expression(col(tgtGeom))))
    val pairs = spatialJoin(src, srcGeom, tgt, tgtGeom, "intersects",
        cellSize, maxCellsPerGeom, saltCells)
      .withColumn("_share",
        when(srcArea === 0.0,
          raise_error(lit("arealInterpolate: zero-area source zone — its " +
            "share is 0/0; filter degenerate zones first")).cast("double"))
        .otherwise(w * ixArea / srcArea))
    val perTgt = pairs.groupBy(tgt.columns.map(col): _*)
      .agg(sum("_share").as("interp"))
    tgt.distinct().join(perTgt, tgt.columns.toSeq, "left")
      .na.fill(0.0, Seq("interp"))
  }
}
