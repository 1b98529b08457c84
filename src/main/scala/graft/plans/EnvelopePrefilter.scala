package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, NumericType}

import graft.core.GeoOps
import graft.functions.{StDistance, StDistanceSpherical, StRelation}

/**
 * Optimizer rule (SURVEY.md §4 R3): under any conjunctive `st_<mode>`
 * predicate whose query geometry is foldable (a literal envelope/point),
 * inject a numeric prefilter on the collection's materialized `_bbox_*`
 * stat columns. Spark's own pushdown then drives the conjuncts into the
 * Parquet scan, where row-group min/max pruning skips whole blocks — the
 * engine's GIST-index replacement, now applied automatically to ANY user
 * query, not just the engine's bbox operator.
 *
 * Soundness: injection only for top-level conjuncts (never inside OR);
 * every non-disjoint DE-9IM relation implies envelope intersection, and
 * contains(bbox, geom) strengthens to envelope containment. Idempotent
 * per kind: no envelope conjuncts for a filter that already references a
 * `_bbox_*` column, no prefix ranges for one that already references
 * `_qk`.
 *
 * This rule is the one place that decides the stat-column prefilter,
 * for the engine's own reads too: [[graft.engine.GeoDb]]'s bbox and
 * mask reads emit only the plain `st_<mode>(<literal>, geometry)`
 * conjunct and rely on it. The single exception is the mask read's
 * `pointsOnly` cover, a caller contract this rule cannot infer.
 *
 * CONJUNCT ORDER: the injected conjuncts go IN FRONT of the first
 * conjunct that implies them (the first `st_<mode>` or distance
 * conjunct), after every conjunct the caller put ahead of it. Spark
 * evaluates a filter's conjuncts left to right with short-circuit, so
 * the JTS predicate decodes only the rows whose stat columns already
 * pass the cheap envelope test, while a caller's guard ahead of the
 * predicate (the mask read's pointsOnly refusal) still sees every row
 * the scan returns.
 *
 * DISTANCE conjuncts prune too (r14): `st_distance(geom, <literal>) <= r`
 * (either argument/literal order, `<` too — and therefore `st_dwithin`,
 * which resolves to exactly this form) injects the intersects prefilter
 * against the query envelope GROWN by `r`; the geodesic form
 * `st_distance_spherical(geom, <literal>) <= r` grows by `r/R` radians of
 * latitude and by the [[graft.core.DistanceJoin.geoRadiusJoin]] longitude
 * bound `2·asin(sin(r/2R)/cos(φmax))` at the band's worst latitude
 * (longitude conjuncts are SKIPPED when the band reaches a pole or the
 * grown interval crosses the antimeridian — the latitude pair alone is
 * still sound). Rows with EMPTY geometry (whose planar distance is
 * 0-to-everything and whose geodesic verify refuses loudly) are kept by
 * an escape disjunct matching the JTS null-envelope stat signature
 * `minx = 0 AND maxx = -1` — the exact values [[graft.engine.GeoDb]]'s
 * addStats (GeoOps.xMin/xMax over a JTS empty) writes, and impossible
 * for any non-empty envelope; column-vs-LITERAL on purpose, because a
 * `maxx < minx` column-pair compare is untranslatable to a parquet
 * filter and would poison pushdown of the whole disjunction. An EMPTY
 * query literal injects nothing (planar distance to it is 0 everywhere
 * — nothing to prune).
 *
 * ACCEPTED DEVIATION (plan-dependent error semantics, r15): under
 * `st_distance_spherical`, a far-away NON-POINT row that the grown
 * envelope prunes is silently dropped, whereas the unoptimized plan
 * would raise the scalar's point-only refusal on it. Preserving a
 * per-row refusal for a row the prefilter's whole purpose is to never
 * look at is impossible by construction; the same acceptance is
 * documented for [[GridSpatialJoin]]'s geodesic rewrite, whose
 * chord-space cells likewise drop rows before the refusing verify.
 * Rows that DO reach the verify still refuse loudly, so a corpus whose
 * non-point rows fall inside the search envelope fails exactly as
 * before.
 *
 * QUADKEY injection (r15): containment-direction conjuncts on a
 * collection with a declared `_qk` layout additionally gain
 * prefix-range predicates from the query hull's tile cover — see
 * [[qkPrefix]] for the soundness argument and why the zoom must come
 * from the column's metadata.
 */
object EnvelopePrefilter extends Rule[LogicalPlan] with PredicateHelper {

  private val statNames = Seq("_bbox_minx", "_bbox_miny", "_bbox_maxx", "_bbox_maxy")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // per-kind idempotency: a kind `carried` already references —
      // injected by an earlier pass or hand-built by the caller — is not
      // injected again, so a caller's own `_qk` cover (GeoDb's
      // pointsOnly mask read) still gains the envelope conjuncts
      // extras per conjunct, aligned with `conjuncts`
      def extrasFor(target: LogicalPlan, carried: Seq[Expression]): Seq[Seq[Expression]] = {
        val envDone = carried.exists(references(_, statNames))
        val qkDone = carried.exists(references(_, Seq("_qk")))
        def env(g: Attribute)(build: Seq[Attribute] => Option[Expression]) =
          if (envDone) None else statsFor(target, g).flatMap(build)
        def qk(g: Attribute, q: Expression, containment: Boolean) =
          if (qkDone || !containment) None else qkPrefix(target, g, q)
        conjuncts.map {
          case StRelation(mode, q, g: Attribute) if q.foldable =>
            env(g)(s => prefilter(mode, q, s(0), s(1), s(2), s(3), queryFirst = true)).toSeq ++
              qk(g, q, Set("contains", "equals").contains(mode.toLowerCase))
          case StRelation(mode, g: Attribute, q) if q.foldable =>
            env(g)(s => prefilter(mode, q, s(0), s(1), s(2), s(3), queryFirst = false)).toSeq ++
              qk(g, q, mode.toLowerCase == "within")
          case DistConjunct(g, q, r, sphereR)
              if r >= 0 && !r.isNaN && !r.isInfinite =>
            env(g)(s => distPrefilter(q, r, sphereR, s(0), s(1), s(2), s(3))).toSeq
          case _ => Nil
        }
      }
      val perConjunct = extrasFor(child, Seq(cond))
      val at = perConjunct.indexWhere(_.nonEmpty)
      if (at >= 0) Filter((conjuncts.take(at) ++ perConjunct.flatten ++
        conjuncts.drop(at)).reduce(And), child)
      else child match {
        // stat columns pruned away by a projection — the shape of every
        // registered temp view (readCollection selects the user schema).
        // Inject the prefilter BELOW the project, where the stats are
        // still visible; sound because the conjunct is implied by `cond`.
        case Project(projList, grandchild) =>
          // idempotency: the outer condition cannot reference the
          // projected-away stats, so a previous injection shows only as
          // a Filter directly under the Project (this rule runs to fixed
          // point on its own when registered via extraOptimizations)
          val carried = cond +: (grandchild match {
            case Filter(gcond, _) => Seq(gcond)
            case _ => Nil
          })
          val below = extrasFor(grandchild, carried).flatten
          if (below.isEmpty) f
          else Filter(cond, Project(projList, Filter(below.reduce(And), grandchild)))
        case _ => f
      }
  }

  /**
   * Quadkey prefix-range injection (r15): when the geometry attribute's
   * leaf also carries a `_qk` layout column whose field metadata
   * declares the zoom (`graft.qkZoom`, written by the engine's read
   * schema), a containment-direction conjunct — `st_contains(<lit>,
   * geom)` / `st_within(geom, <lit>)` / `st_equals` — additionally
   * prunes on `Tiles.coverGeometry` prefixes of the literal's CONVEX
   * HULL. Soundness: containment puts the row's envelope centroid (the
   * key the layout indexes) inside the row's own convex hull (2-D
   * bounding-box-center fact) ⊆ hull(query). The hull — never the raw
   * polygon — because a non-convex query can contain a geometry whose
   * centroid sits in the query's notch. The metadata zoom is load-
   * bearing: prefixes longer than the stored keys would silently
   * exclude every row, so with no declared zoom nothing is injected.
   * This is what makes the D7 quadkey layout reach ARBITRARY user
   * queries (raw SQL, DataFrame filters), and it is how the engine's
   * bbox and mask reads reach it too. The prefix budget is
   * `coverGeometry`'s fixed 64. An empty cover (a hull wholly outside
   * the Mercator domain, where no indexed centroid lies) injects
   * nothing; the rows are the same, and for a rectangle the containment
   * envelope conjuncts already exclude every indexed row group.
   */
  private def qkPrefix(child: LogicalPlan, geom: Attribute,
                       queryGeom: Expression): Option[Expression] = {
    val owners = child.collectLeaves()
      .filter(_.output.exists(_.exprId == geom.exprId))
    owners match {
      case Seq(leaf) =>
        leaf.output.filter(_.name == "_qk") match {
          case Seq(qk) if child.outputSet.contains(qk) &&
              qk.metadata.contains("graft.qkZoom") =>
            val z = qk.metadata.getLong("graft.qkZoom").toInt
            val wkb = queryGeom.eval() match {
              case b: Array[Byte] => b
              case _ => return None
            }
            val q = GeoOps.read(wkb)
            if (q.isEmpty) return None
            val cov = graft.core.Tiles.coverGeometry(q.convexHull(), z)
            if (cov.isEmpty) None
            else Some(cov.map[Expression] { p =>
              And(GreaterThanOrEqual(qk, Literal(p)),
                  LessThanOrEqual(qk, Literal(p + "3" * (z - p.length))))
            }.reduce(Or))
          case _ => None
        }
      case _ => None
    }
  }

  private def references(e: Expression, names: Seq[String]): Boolean =
    e.collectFirst { case a: Attribute if names.contains(a.name) => a }.isDefined

  /** A foldable numeric radius literal, bare or cast to double. */
  private object RLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v, _: NumericType) if v != null => Some(v.toString.toDouble)
      case Cast(Literal(v, _: NumericType), DoubleType, _, _) if v != null =>
        Some(v.toString.toDouble)
      case _ => None
    }
  }

  /** `st_distance[_spherical](geom-attr, <foldable>) <= r` in any
    * argument/literal order; yields (geomAttr, queryLit, r,
    * Some(sphereRadius) for the geodesic form). */
  private object DistConjunct {
    def unapply(e: Expression)
        : Option[(Attribute, Expression, Double, Option[Double])] = {
      def dist(d: Expression, r: Double)
          : Option[(Attribute, Expression, Double, Option[Double])] = d match {
        case StDistance(q, g: Attribute) if q.foldable => Some((g, q, r, None))
        case StDistance(g: Attribute, q) if q.foldable => Some((g, q, r, None))
        case StDistanceSpherical(q, g: Attribute, RLit(br)) if q.foldable =>
          Some((g, q, r, Some(br)))
        case StDistanceSpherical(g: Attribute, q, RLit(br)) if q.foldable =>
          Some((g, q, r, Some(br)))
        case _ => None
      }
      e match {
        case LessThanOrEqual(d, RLit(r)) => dist(d, r)
        case LessThan(d, RLit(r)) => dist(d, r)
        case GreaterThanOrEqual(RLit(r), d) => dist(d, r)
        case GreaterThan(RLit(r), d) => dist(d, r)
        case _ => None
      }
    }
  }

  /** Stat-column prefilter for a distance conjunct: intersects against
    * the query envelope grown by `r` (planar) or by the geodesic
    * lat/lon bounds (spherical); EMPTY rows escape via the OR on the
    * JTS null-envelope signature (see the object scaladoc) so neither
    * the planar 0-matches-everything nor the geodesic loud refusal is
    * silenced — and the whole disjunct stays parquet-translatable. */
  private def distPrefilter(queryGeom: Expression, r: Double,
                            sphereR: Option[Double],
                            minx: Attribute, miny: Attribute,
                            maxx: Attribute, maxy: Attribute): Option[Expression] = {
    val wkb = queryGeom.eval() match {
      case b: Array[Byte] => b
      case _ => return None
    }
    val (qMinX, qMinY, qMaxX, qMaxY) =
      (GeoOps.xMin(wkb), GeoOps.yMin(wkb), GeoOps.xMax(wkb), GeoOps.yMax(wkb))
    if (qMinX > qMaxX) return None // EMPTY query: nothing prunable
    def le(a: Expression, v: Double) = LessThanOrEqual(a, Literal(v))
    def ge(a: Expression, v: Double) = GreaterThanOrEqual(a, Literal(v))
    val core: Option[Expression] = sphereR match {
      case None =>
        Some(Seq(le(minx, qMaxX + r), ge(maxx, qMinX - r),
          le(miny, qMaxY + r), ge(maxy, qMinY - r)).reduce[Expression](And))
      case Some(br) if br > 0 =>
        val dLat = math.toDegrees(r / br)
        val latLo = qMinY - dLat
        val latHi = qMaxY + dLat
        val latConj: Seq[Expression] = Seq(le(miny, latHi), ge(maxy, latLo))
        val phiMax = math.min(90.0, math.max(math.abs(latLo), math.abs(latHi)))
        val lonConj: Seq[Expression] =
          if (phiMax >= 90.0) Nil
          else {
            val s = math.sin(r / (2 * br)) / math.cos(math.toRadians(phiMax))
            if (s >= 1.0) Nil
            else {
              val dLon = math.toDegrees(2.0 * math.asin(s))
              val lonLo = qMinX - dLon
              val lonHi = qMaxX + dLon
              // grown interval leaving the domain wraps across the
              // antimeridian — the latitude pair alone stays sound
              if (lonLo < -180.0 || lonHi > 180.0) Nil
              else Seq(le(minx, lonHi), ge(maxx, lonLo))
            }
          }
        Some((latConj ++ lonConj).reduce[Expression](And))
      case _ => None
    }
    core.map(c => Or(c,
      And(EqualTo(minx, Literal(0.0)), EqualTo(maxx, Literal(-1.0)))))
  }

  /**
   * The four stat attributes belonging to the SAME leaf relation as the
   * geometry attribute, and still visible through `child`'s output.
   * Resolving by name alone would, in a join/self-join of two stat-bearing
   * frames, inject a prefilter on table A's stats for a predicate on table
   * B's geometry — silently dropping rows. Matching exprId origin (and
   * bailing on ambiguity) makes the injection sound under joins.
   */
  private def statsFor(child: LogicalPlan, geom: Attribute): Option[Seq[Attribute]] = {
    val owners = child.collectLeaves()
      .filter(_.output.exists(_.exprId == geom.exprId))
    owners match {
      case Seq(leaf) =>
        val byName = leaf.output.groupBy(_.name)
        val found = statNames.flatMap { n =>
          byName.getOrElse(n, Seq.empty) match {
            case Seq(one) => Some(one)
            case _ => None // missing or ambiguous
          }
        }
        val visible = child.outputSet
        if (found.length == 4 && found.forall(visible.contains)) Some(found)
        else None
      case _ => None // geometry attr aliased away or from no unique leaf
    }
  }

  private def prefilter(mode: String, queryGeom: Expression,
                        minx: Attribute, miny: Attribute,
                        maxx: Attribute, maxy: Attribute,
                        queryFirst: Boolean): Option[Expression] = {
    val wkb = queryGeom.eval() match {
      case b: Array[Byte] => b
      case _ => return None
    }
    val (qMinX, qMinY, qMaxX, qMaxY) =
      (GeoOps.xMin(wkb), GeoOps.yMin(wkb), GeoOps.xMax(wkb), GeoOps.yMax(wkb))
    def le(a: Expression, v: Double) = LessThanOrEqual(a, Literal(v))
    def ge(a: Expression, v: Double) = GreaterThanOrEqual(a, Literal(v))
    mode.toLowerCase match {
      case "disjoint" => None // no envelope implication
      case "contains" | "equals" if queryFirst =>
        // query bbox contains row geometry => row envelope inside query bbox
        Some(Seq(ge(minx, qMinX), le(maxx, qMaxX), ge(miny, qMinY), le(maxy, qMaxY))
          .reduce[Expression](And))
      case "within" if !queryFirst =>
        // row geometry within query geometry: same containment direction
        Some(Seq(ge(minx, qMinX), le(maxx, qMaxX), ge(miny, qMinY), le(maxy, qMaxY))
          .reduce[Expression](And))
      case _ =>
        // any other true relation implies envelope intersection
        Some(Seq(le(minx, qMaxX), ge(maxx, qMinX), le(miny, qMaxY), ge(maxy, qMinY))
          .reduce[Expression](And))
    }
  }
}
