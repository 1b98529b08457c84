package graft

import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import graft.plans.{BinnedRangeJoin, EnvelopePrefilter, GridSpatialJoin, ParamFilters, ParamLiteral}

/** The envelope-injection optimizer rule (SURVEY §4 R3). */
class PlanRuleSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GeoFunctions.registerAll(spark)
    if (!spark.experimental.extraOptimizations.contains(EnvelopePrefilter))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ EnvelopePrefilter
    if (!spark.experimental.extraOptimizations.contains(BinnedRangeJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BinnedRangeJoin
    if (!spark.experimental.extraOptimizations.contains(GridSpatialJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GridSpatialJoin
  }

  private def withCellSize[T](w: String)(body: => T): T = {
    spark.conf.set("spark.graft.spatialJoin.cellSize", w)
    try body finally spark.conf.unset("spark.graft.spatialJoin.cellSize")
  }

  private def withBinWidth[T](w: String)(body: => T): T = {
    spark.conf.set("spark.graft.rangeJoin.binWidth", w)
    try body finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  private def statDf = Seq(
    (1L, 5.0, 5.0), (2L, 50.0, 50.0), (3L, 8.0, 2.0)
  ).toDF("id", "x", "y")
    .withColumn("geometry", st_point($"x", $"y"))
    .withColumn("_bbox_minx", $"x").withColumn("_bbox_miny", $"y")
    .withColumn("_bbox_maxx", $"x").withColumn("_bbox_maxy", $"y")

  test("injects stat-column prefilter under st_contains; result unchanged") {
    val q = statDf.filter(
      st_contains(st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("_bbox_minx"),
      s"expected injected prefilter in:\n$optimized")
    assert(q.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("no injection inside disjunctions (soundness)") {
    val q = statDf.filter(
      st_contains(st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry")
        || $"id" === 2L)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains(">= 0.0") || !optimized.contains("_bbox_minx && "))
    // semantics preserved: row 2 kept by the OR branch
    assert(q.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("no injection for disjoint; intersection prefilter for intersects") {
    val qi = statDf.filter(
      st_intersects(st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry"))
    assert(qi.queryExecution.optimizedPlan.toString.contains("_bbox_minx"))
    assert(qi.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val qd = statDf.filter(
      st_disjoint(st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry"))
    assert(qd.select("id").as[Long].collect().sorted.toSeq == Seq(2L))
  }

  test("geometry-first argument order also gets containment prefilter") {
    // st_within(geom, query_envelope): row geometry within the literal box
    val q = statDf.filter(
      st_within($"geometry", st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0))))
    assert(q.queryExecution.optimizedPlan.toString.contains("_bbox_minx"))
    assert(q.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("GraftExtensions injects functions and the rule into a fresh session") {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .withExtensions(new graft.GraftExtensions())
        .getOrCreate()
      // functions resolve in SQL with no registerAll call
      val r = s2.sql(
        "SELECT st_x(st_point(3.0, 4.0)) AS x, token_count('a b c') AS t").head()
      assert(r.getDouble(0) == 3.0 && r.getInt(1) == 3)
      // optimizer rule active: prefilter injected in a fresh-session plan
      import s2.implicits._
      val df2 = Seq((1L, 5.0, 5.0)).toDF("id", "x", "y")
        .withColumn("geometry", st_point($"x", $"y"))
        .withColumn("_bbox_minx", $"x").withColumn("_bbox_miny", $"y")
        .withColumn("_bbox_maxx", $"x").withColumn("_bbox_maxy", $"y")
        .filter(st_contains(st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry"))
      assert(df2.queryExecution.optimizedPlan.toString.contains("_bbox_minx"))
      // planner strategy active: filter constants by reference
      assert(s2.sessionState.planner.strategies.contains(graft.plans.ParamFilters))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("ParamFilters: only primitive comparison and IN constants go by reference; rows unchanged") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val i = AttributeReference("i", IntegerType)()
    val s = AttributeReference("s", StringType)()
    val dec = AttributeReference("dec", DecimalType(10, 2))()
    val kept: Seq[Expression] = Seq(
      EqualTo(i, Literal(null, IntegerType)), EqualTo(s, Literal("x")),
      LessThan(dec, Literal(Decimal(1.5), DecimalType(10, 2))),
      Like(s, Literal("a%"), '\\'), RLike(s, Literal("^a.*")),
      In(s, Seq(Literal("a"), Literal("b"))), IsNull(Add(i, Literal(1))))
    kept.foreach(e => assert(ParamFilters.parametrize(e) == e, e))
    val swapped = ParamFilters.parametrize(And(GreaterThan(i, Literal(3)),
      In(i, Seq(Literal(1), Literal(null, IntegerType), Literal(2)))))
    assert(swapped.collect { case p: ParamLiteral => p.lit } ==
      Seq(Literal(3), Literal(1), Literal(2)), swapped)
    assert(swapped.toString == And(GreaterThan(i, Literal(3)),
      In(i, Seq(Literal(1), Literal(null, IntegerType), Literal(2)))).toString)

    // NaN, ±Infinity, date and timestamp comparisons: the same rows with
    // and without the strategy, under strict codegen
    val dir = tmpDir("graft-param") + "/t"
    Seq((1, 1.5, "2020-01-01", "2020-01-01 10:00:00"),
      (2, Double.NaN, "2021-06-15", "2021-06-15 00:00:00"),
      (3, Double.PositiveInfinity, "1999-12-31", "1999-12-31 23:59:59"),
      (4, Double.NegativeInfinity, "2020-01-02", "2020-01-02 00:00:01"),
      (5, -0.0, "2020-01-01", "2020-01-01 09:59:59"))
      .toDF("k", "x", "d", "ts")
      .select($"k", $"x", to_date($"d").as("d"), to_timestamp($"ts").as("ts"))
      .write.parquet(dir)
    val preds = Seq(
      "x = double('NaN')", "x > 1.0", "x < double('-Infinity')",
      "x >= double('-Infinity')", "x = double('Infinity')", "x <=> double('NaN')",
      "x IN (double('NaN'), 1.5)", "x = 0.0", "x <= double('NaN')",
      "d >= DATE '2020-01-01'", "d = DATE '2020-01-02'",
      "ts < TIMESTAMP '2020-01-01 10:00:00'", "ts IN (TIMESTAMP '2021-06-15 00:00:00')",
      "k IN (1, 3, 5) AND d < DATE '2021-01-01'")
    def run(p: String) = {
      val df = spark.read.parquet(dir).filter(p).select("k")
      (df.collect().map(_.getInt(0)).sorted.toSeq,
        df.queryExecution.sparkPlan.exists(_.expressions.exists(_.exists(
          _.isInstanceOf[ParamLiteral]))))
    }
    val saved = spark.experimental.extraStrategies
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      spark.experimental.extraStrategies = saved.filterNot(_ == ParamFilters) :+ ParamFilters
      val withParams = preds.map(run)
      spark.experimental.extraStrategies = saved.filterNot(_ == ParamFilters)
      val plain = preds.map(run)
      preds.indices.foreach { j =>
        assert(withParams(j)._1 === plain(j)._1, preds(j))
        assert(withParams(j)._2 && !plain(j)._2, s"${preds(j)}: ParamLiteral placement")
      }
      assert(plain.map(_._1) === Seq(Seq(2), Seq(1, 2, 3), Nil, Seq(1, 2, 3, 4, 5),
        Seq(3), Seq(2), Seq(1, 2), Seq(5), Seq(1, 2, 3, 4, 5), Seq(1, 2, 4, 5), Seq(4),
        Seq(3, 5), Seq(2), Seq(1, 3, 5)))
    } finally {
      spark.experimental.extraStrategies = saved
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("idempotent: engine's manual prefilter not doubled") {
    val pre = $"_bbox_minx" >= 0.0 && $"_bbox_maxx" <= 10.0
    val q = statDf.filter(
      st_contains(st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry") && pre)
    // rule must skip (condition already references stat cols) — just verify
    // the query stays correct
    assert(q.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("prefilter injected BELOW a stats-pruning projection (temp-view shape)") {
    // parquet-backed so the projection survives into the optimized plan
    // (LocalRelation frames get constant-folded before our rule runs)
    val dir = java.nio.file.Files.createTempDirectory("prune-view").toString
    statDf.write.mode("overwrite").parquet(dir)
    val view = spark.read.parquet(dir).select("id", "x", "y", "geometry")
    val q = view.filter(st_contains(
      st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("_bbox_minx"),
      s"expected prefilter below the projection in:\n$optimized")
    // pushed all the way into the scan
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("_bbox_minx"),
      s"expected stat-column pushdown in:\n$physical")
    assert(q.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("repeated application converges (no filter stacking below Project)") {
    // ADVICE r2: the outer Filter never gains stat refs, so a fixed-point
    // batch running this rule alone must not re-inject per iteration
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan}
    val dir = java.nio.file.Files.createTempDirectory("idem-view").toString
    statDf.write.mode("overwrite").parquet(dir)
    val view = spark.read.parquet(dir).select("id", "x", "y", "geometry")
    val analyzed = view.filter(st_contains(
      st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry"))
      .queryExecution.analyzed
    def nStatFilters(p: LogicalPlan): Int = p.collect {
      case LFilter(c, _) if c.references.exists(_.name == "_bbox_minx") => 1
    }.size
    val once = EnvelopePrefilter(analyzed)
    assert(nStatFilters(once) == 1, s"expected one injection in:\n$once")
    val twice = EnvelopePrefilter(EnvelopePrefilter(once))
    assert(nStatFilters(twice) == 1, s"rule re-injected:\n$twice")
  }

  test("two stat-bearing collections joined: conjunct lands on the predicate's side only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val dirA = java.nio.file.Files.createTempDirectory("pfj-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("pfj-b").toString
    Seq((1L, 5.0, 5.0), (2L, 50.0, 50.0)).toDF("id", "ax", "ay")
      .withColumn("geometry", st_point($"ax", $"ay"))
      .withColumn("_bbox_minx", $"ax").withColumn("_bbox_miny", $"ay")
      .withColumn("_bbox_maxx", $"ax").withColumn("_bbox_maxy", $"ay")
      .write.mode("overwrite").parquet(dirA)
    Seq((1L, 100.0, 100.0), (2L, 200.0, 200.0)).toDF("bid", "bx", "by")
      .withColumn("geometry", st_point($"bx", $"by"))
      .withColumn("_bbox_minx", $"bx").withColumn("_bbox_miny", $"by")
      .withColumn("_bbox_maxx", $"bx").withColumn("_bbox_maxy", $"by")
      .write.mode("overwrite").parquet(dirB)
    val a = spark.read.parquet(dirA).select("id", "ax", "ay", "geometry")
    val b = spark.read.parquet(dirB).select(col("bid"), col("bx"), col("by"),
      col("geometry").as("bgeom"))
    val q = a.filter(st_contains(
        st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), a("geometry")))
      .join(b, $"id" === $"bid")
    // every stat filter in the optimized plan must sit over the A relation
    // (its leaf outputs carry ax), never over B (bx)
    val statFilters = q.queryExecution.optimizedPlan.collect {
      case f @ LFilter(c, _) if c.references.exists(_.name == "_bbox_minx") => f
    }
    assert(statFilters.nonEmpty, "expected an injected stat prefilter")
    statFilters.foreach { f =>
      val leafCols = f.collectLeaves().flatMap(_.output.map(_.name)).toSet
      assert(leafCols.contains("ax") && !leafCols.contains("bx"),
        s"stat filter landed on the wrong side:\n$f")
    }
    assert(q.select("bid").as[Long].collect().toSeq == Seq(1L))
  }

  test("join-safe: predicate on one side never prunes via the other's stats") {
    // A's rows are all far from the query box; B's geometry matches it.
    // Resolving stats by NAME would pick A's stat columns for the predicate
    // on B's geometry and drop every row (ADVICE round 1, medium).
    val a = Seq((1L, 100.0, 100.0), (2L, 200.0, 200.0)).toDF("id", "ax", "ay")
      .withColumn("a_geom", st_point($"ax", $"ay"))
      .withColumn("_bbox_minx", $"ax").withColumn("_bbox_miny", $"ay")
      .withColumn("_bbox_maxx", $"ax").withColumn("_bbox_maxy", $"ay")
    val b = Seq((1L, 5.0, 5.0), (2L, 6.0, 6.0)).toDF("bid", "bx", "by")
      .withColumn("geometry", st_point($"bx", $"by"))
    val q = a.join(b, $"id" === $"bid")
      .filter(st_contains(
        st_makeenvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)), $"geometry"))
    // both B rows survive: the predicate is on B's geometry, A's stats
    // (which would reject everything) must not be consulted
    assert(q.select("bid").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  // ---- BinnedRangeJoin --------------------------------------------------

  private def rjPoints = Seq((1L, 0.0), (2L, 10.0), (3L, 15.0), (4L, 100.0))
    .toDF("pid", "x")
  private def rjIntervals = Seq((10L, 0.0, 10.0), (11L, 9.5, 10.5), (12L, 90.0, 120.0))
    .toDF("iid", "lo", "hi")

  test("BinnedRangeJoin: BETWEEN join becomes a binned hash join, same rows") {
    rjPoints.createOrReplaceTempView("rj_p")
    rjIntervals.createOrReplaceTempView("rj_i")
    val sqlTxt = "SELECT pid, iid FROM rj_p JOIN rj_i ON x >= lo AND x <= hi"
    val naive = spark.sql(sqlTxt).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naivePlan = spark.sql(sqlTxt).queryExecution.optimizedPlan.toString
    assert(!naivePlan.contains("_graft_pbin"), "rule must be a no-op without binWidth")
    withBinWidth("10.0") {
      val q = spark.sql(sqlTxt)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("_graft_pbin") && opt.contains("_graft_ibin"),
        s"expected the binned rewrite in:\n$opt")
      val phys = q.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin"),
        s"rewrite must eliminate the nested-loop join:\n$phys")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // (1,10) x=0; (2,10) x=10 closed; (2,11) x=10 in 9.5-10.5; (4,12)
      assert(got == naive && got.size == 4, s"got $got naive $naive")
      // duplicates would betray a bin/verify bug
      assert(q.collect().length == got.size)
    }
  }

  test("BinnedRangeJoin: point-on-right orientation and extra conjuncts ride along") {
    rjPoints.createOrReplaceTempView("rj_p2")
    rjIntervals.createOrReplaceTempView("rj_i2")
    withBinWidth("10.0") {
      val q = spark.sql(
        "SELECT pid, iid FROM rj_i2 JOIN rj_p2 ON lo <= x AND hi >= x AND pid <> 2")
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_ibin"))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L), (4L, 12L)), s"got $got")
    }
  }

  test("BinnedRangeJoin: wide interval raises loudly, equi-joins untouched") {
    rjPoints.createOrReplaceTempView("rj_p3")
    Seq((20L, 0.0, 1e9)).toDF("iid", "lo", "hi").createOrReplaceTempView("rj_w")
    withBinWidth("10.0") {
      val e = intercept[Exception] {
        spark.sql("SELECT pid, iid FROM rj_p3 JOIN rj_w ON x >= lo AND x <= hi").collect()
      }
      assert(e.getMessage.contains("BinnedRangeJoin"), s"got ${e.getMessage}")
      // a join that already has a cross-side equi key is not rewritten
      Seq((1L, 5.0, 0.0, 10.0)).toDF("pid2", "y", "lo2", "hi2")
        .createOrReplaceTempView("rj_eq")
      val q = spark.sql(
        "SELECT p.pid FROM rj_p3 p JOIN rj_eq e ON p.pid = e.pid2 AND p.x >= e.lo2 AND p.x <= e.hi2")
      assert(!q.queryExecution.optimizedPlan.toString.contains("_graft_pbin"))
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
    }
  }

  test("BinnedRangeJoin: strict bounds and the NULL-open-end conjunct") {
    rjPoints.createOrReplaceTempView("rj_p5")
    Seq((10L, Some(0.0), Some(10.0)), (11L, Some(10.0), Some(15.0)),
        (12L, Some(50.0), None: Option[Double]),
        (13L, Some(200.0), None: Option[Double]))
      .toDF("iid", "lo", "hi").createOrReplaceTempView("rj_i5")
    // half-open [lo, hi) with an SCD2-style open end: x=0 in [0,10);
    // x=10 in [10,15) only; x=100 in [50,inf); the [200,inf) interval
    // starts after the last point and matches nothing (nor crashes the
    // bin sequence)
    val sqlTxt = "SELECT pid, iid FROM rj_p5 JOIN rj_i5 " +
      "ON x >= lo AND (hi IS NULL OR x < hi)"
    val naive = spark.sql(sqlTxt).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    withBinWidth("10.0") {
      val q = spark.sql(sqlTxt)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("_graft_pbin") && opt.contains("_graft_maxpbin"),
        s"expected the open-end binned rewrite in:\n$opt")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naive && got == Set((1L, 10L), (2L, 11L), (4L, 12L)),
        s"got $got naive $naive")
      assert(q.collect().length == got.size, "duplicate pairs")
      // the open-end point-stats ride ONE broadcast nested-loop of a
      // 1-ROW aggregate (cheap by construction); the bin join itself
      // must remain an equi join — the |points|·|intervals| loop the
      // rule exists to eliminate must NOT be a second BNLJ
      // AQE's toString appends an "Initial Plan" duplicate — audit the
      // final section only
      val phys = q.queryExecution.executedPlan.toString.split("Initial Plan")(0)
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(phys).length
      assert(bnlj == 1, s"expected exactly the 1-row stats BNLJ, got $bnlj:\n$phys")
      assert(phys.contains("HashJoin [_graft_pbin"),
        s"bin equi join missing:\n$phys")
      // strict orientation without the open end: (lo, hi] via bound-first
      // operand order
      val q2 = spark.sql(
        "SELECT pid, iid FROM rj_p5 JOIN rj_i5 ON lo < x AND x <= hi")
      assert(q2.queryExecution.optimizedPlan.toString.contains("_graft_pbin"))
      val got2 = q2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == Set((2L, 10L), (3L, 11L)), s"got $got2")
    }
  }

  test("distance/overlap joins plan as hash joins on bin keys, never BNLJ") {
    import spark.implicits._
    val l = (0L until 50L).map(i => (i, (i % 10).toDouble, (i % 7).toDouble))
      .toDF("lid", "lx", "ly")
    val r = (0L until 50L).map(i => (i, (i % 9).toDouble, (i % 8).toDouble))
      .toDF("rid", "rx", "ry")
    val dj = graft.core.DistanceJoin.radiusJoin(l, r, "lx", "ly", "rx", "ry", 2.0)
    val djPlan = dj.queryExecution.executedPlan.toString
    assert(djPlan.contains("HashJoin") || djPlan.contains("SortMergeJoin"),
      s"distance join must hash/merge join on cells:\n$djPlan")
    assert(!djPlan.contains("BroadcastNestedLoop") &&
      !djPlan.contains("CartesianProduct"),
      s"distance join must not plan a nested loop:\n$djPlan")
    // the geodesic variant hash-joins on (band, cell) keys the same way
    val gl = (0L until 50L).map(i => (i, (i % 50).toDouble, (i % 33).toDouble))
      .toDF("glid", "gllat", "gllon")
    val gr = (0L until 50L).map(i => (i, (i % 45).toDouble, (i % 37).toDouble))
      .toDF("grid", "grlat", "grlon")
    val gj = graft.core.DistanceJoin.geoRadiusJoin(gl, gr,
      "gllat", "gllon", "grlat", "grlon", 100e3)
    val gjPlan = gj.queryExecution.executedPlan.toString
    assert(gjPlan.contains("HashJoin") || gjPlan.contains("SortMergeJoin"),
      s"geo distance join must hash/merge join on banded cells:\n$gjPlan")
    assert(!gjPlan.contains("BroadcastNestedLoop") &&
      !gjPlan.contains("CartesianProduct"),
      s"geo distance join must not plan a nested loop:\n$gjPlan")
    val a = (0L until 50L).map(i =>
      (i, (i % 30).toDouble, (i % 30).toDouble + 3)).toDF("aid", "alo", "ahi")
    val b = (0L until 50L).map(i =>
      (i, (i % 25).toDouble, (i % 25).toDouble + 2)).toDF("bid", "blo", "bhi")
    val oj = graft.ext.RangeJoin.intervalOverlapJoin(
      a, "alo", "ahi", b, "blo", "bhi", binWidth = 4.0)
    val ojPlan = oj.queryExecution.executedPlan.toString
    assert(ojPlan.contains("HashJoin") || ojPlan.contains("SortMergeJoin"),
      s"overlap join must hash/merge join on bins:\n$ojPlan")
    // the all-short-interval shape has an empty wide side; the only
    // acceptable nested-loop is none at all on the data path
    assert(!ojPlan.contains("CartesianProduct"),
      s"overlap join must not plan a cartesian product:\n$ojPlan")
  }

  test("spatial predicate joins plan as hash joins on cell keys, never BNLJ") {
    import spark.implicits._
    val geoms = (0L until 40L).map { i =>
      (i, graft.core.GeoOps.makeEnvelope((i % 9).toDouble, (i % 7).toDouble,
        (i % 9).toDouble + 3, (i % 7).toDouble + 2))
    }.toDF("gid", "geom")
    val points = (0L until 60L).map(i =>
      (1000L + i, (i % 11).toDouble, (i % 8).toDouble)).toDF("pid", "px", "py")
    val pj = graft.core.SpatialJoin.pointJoin(geoms, "geom",
      points, "px", "py", "intersects", cellSize = 3.0)
    val pjPlan = pj.queryExecution.executedPlan.toString
    assert(pjPlan.contains("HashJoin") || pjPlan.contains("SortMergeJoin"),
      s"point join must hash/merge join on cells:\n$pjPlan")
    assert(!pjPlan.contains("BroadcastNestedLoop") &&
      !pjPlan.contains("CartesianProduct"),
      s"point join must not plan a nested loop:\n$pjPlan")
    val geoms2 = (0L until 40L).map { i =>
      (2000L + i, graft.core.GeoOps.makeEnvelope((i % 8).toDouble, (i % 6).toDouble,
        (i % 8).toDouble + 2, (i % 6).toDouble + 4))
    }.toDF("hid", "geom2")
    val sj = graft.core.SpatialJoin.spatialJoin(geoms, "geom",
      geoms2, "geom2", "intersects", cellSize = 3.0)
    val sjPlan = sj.queryExecution.executedPlan.toString
    assert(sjPlan.contains("HashJoin") || sjPlan.contains("SortMergeJoin"),
      s"spatial join must hash/merge join on cells:\n$sjPlan")
    assert(!sjPlan.contains("BroadcastNestedLoop") &&
      !sjPlan.contains("CartesianProduct"),
      s"spatial join must not plan a nested loop:\n$sjPlan")
    // the reference-cell and envelope prefilters ride the join, not a
    // post-join Filter stage fed by an unconditioned join output
    assert(sjPlan.contains("greatest"),
      s"reference-cell rule must appear in the executed plan:\n$sjPlan")
  }

  test("GridSpatialJoin rule: st_distance <= r joins rewritten; > r and empties guarded") {
    // geometries x geometries within distance r — the user-written form
    // the manual DistanceJoin API covers; the rule must rescue it from
    // the nested loop with identical rows, exactly once per pair
    val lhs = ((0 until 40).map { i =>
      val x = (i * 13) % 90; val y = (i * 29) % 90
      (i.toLong, s"POLYGON(($x $y, ${x + 6} $y, $x ${y + 6}, $x $y))")
    } ++ Seq((900L, null))).toDF("aid", "awkt")
      .select($"aid",
        when($"awkt".isNotNull, st_geomfromtext($"awkt")).as("ageom"))
      .localCheckpoint(true)
    val rhs = (0 until 60).map { i =>
      (1000L + i, s"POINT(${(i * 7) % 100} ${(i * 23) % 100})")
    }.toDF("bid", "bwkt").select($"bid", st_geomfromtext($"bwkt").as("bgeom"))
      .localCheckpoint(true)
    val q0 = lhs.join(rhs, st_distance($"ageom", $"bgeom") <= 9.0)
      .select("aid", "bid")
    val brute = q0.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(q0.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"))
    withCellSize("9.0") {
      val q = lhs.join(rhs, st_distance($"ageom", $"bgeom") <= 9.0)
        .select("aid", "bid")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") &&
        (plan.contains("HashJoin") || plan.contains("SortMergeJoin")),
        s"distance rewrite must hash/merge join:\n$plan")
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_dacx"))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === brute, "distance rewrite row multiset differs from nested loop")
      assert(got.size === got.toSet.size, "pair fired more than once")
    }
    // cellSize far from r still exact (coverage never depends on cs >= r)
    withCellSize("4.0") {
      val q = lhs.join(rhs, st_distance($"ageom", $"bgeom") <= 9.0)
        .select("aid", "bid")
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_dacx"))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === brute)
    }
    // st_point form + flipped literal (r >= dist) + strict <
    val pts = (0 until 50).map(i =>
      (2000L + i, ((i * 11) % 100).toDouble, ((i * 3) % 100).toDouble))
      .toDF("pid", "px", "py").localCheckpoint(true)
    val p0 = pts.join(rhs, lit(7.0) >= st_distance(st_point($"px", $"py"), $"bgeom"))
      .select("pid", "bid")
    val bruteP = p0.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val bruteLt = pts.join(rhs, st_distance(st_point($"px", $"py"), $"bgeom") < 7.0)
      .select("pid", "bid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    withCellSize("7.0") {
      val p = pts.join(rhs, lit(7.0) >= st_distance(st_point($"px", $"py"), $"bgeom"))
        .select("pid", "bid")
      assert(p.queryExecution.optimizedPlan.toString.contains("_graft_dacx"),
        "st_point / flipped-literal form must rewrite")
      assert(p.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === bruteP)
      val pl = pts.join(rhs, st_distance(st_point($"px", $"py"), $"bgeom") < 7.0)
        .select("pid", "bid")
      assert(pl.queryExecution.optimizedPlan.toString.contains("_graft_dacx"))
      assert(pl.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === bruteLt)
    }
    // the ANTI-local predicate must NOT rewrite: distance > r keeps BNLJ
    withCellSize("9.0") {
      val qa = lhs.limit(4).join(rhs.limit(5),
        st_distance($"ageom", $"bgeom") > 9.0)
      assert(!qa.queryExecution.optimizedPlan.toString.contains("_graft_dacx"),
        "st_distance > r must stay a nested loop")
      val qb = lhs.limit(4).join(rhs.limit(5),
        st_distance($"ageom", $"bgeom") >= 9.0)
      assert(!qb.queryExecution.optimizedPlan.toString.contains("_graft_dacx"))
    }
    // EMPTY geometry: JTS distance(EMPTY, g) = 0 matches everything —
    // the rewrite must refuse loudly, never silently drop the pairs
    val withEmpty = lhs.union(Seq((901L, "POLYGON EMPTY")).toDF("aid", "awkt")
      .select($"aid", st_geomfromtext($"awkt").as("ageom")))
    withCellSize("9.0") {
      val e = intercept[Exception] {
        withEmpty.join(rhs, st_distance($"ageom", $"bgeom") <= 9.0).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("EMPTY geometry in a distance join")),
        s"got: ${msgs(e)}")
    }
  }

  test("GridSpatialJoin rule: point and geom-geom joins rewritten, BNLJ baseline matched") {
    // triangles (incl. a NULL and an EMPTY geometry row) x points
    // (incl. NULL coords) — the rule must match the nested loop's
    // row set on every degenerate input, never refuse
    val tris = ((0 until 30).map { i =>
      val ax = (i * 13) % 90; val ay = (i * 29) % 90
      (i.toLong, s"POLYGON(($ax $ay, ${ax + 12} $ay, $ax ${ay + 12}, $ax $ay))")
    } ++ Seq((900L, null), (901L, "POLYGON EMPTY"))).toDF("gid", "wkt")
      .select($"gid", when($"wkt".isNotNull, st_geomfromtext($"wkt")).as("geom"))
      .localCheckpoint(true)
    val pts = ((0 until 200).map(i =>
      (1000L + i, java.lang.Double.valueOf(((i * 7) % 100).toDouble),
        java.lang.Double.valueOf(((i * 23) % 100).toDouble))) ++
      Seq((2000L, null, java.lang.Double.valueOf(5.0))))
      .toDF("pid", "px", "py").localCheckpoint(true)
    val q = tris.join(pts, st_contains($"geom", st_point($"px", $"py")))
      .select("gid", "pid")
    val brute = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val brutePlan = q.queryExecution.executedPlan.toString
    assert(brutePlan.contains("BroadcastNestedLoop"),
      s"baseline must be the nested loop:\n$brutePlan")
    withCellSize("15.0") {
      val q2 = tris.join(pts, st_contains($"geom", st_point($"px", $"py")))
        .select("gid", "pid")
      val plan = q2.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") &&
        (plan.contains("HashJoin") || plan.contains("SortMergeJoin")),
        s"rewritten join must hash/merge join:\n$plan")
      assert(q2.queryExecution.optimizedPlan.toString.contains("_graft_gcx"))
      val got = q2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === brute, "rewritten row multiset differs from the nested loop")
    }
    // geom x geom, with an extra non-spatial conjunct riding along
    val boxes = (0 until 40).map { i =>
      val x = (i * 17) % 95; val y = (i * 31) % 95
      (3000L + i, s"POLYGON(($x $y, ${x + 8} $y, ${x + 8} ${y + 8}, $x ${y + 8}, $x $y))")
    }.toDF("bid", "wkt2").select($"bid", st_geomfromtext($"wkt2").as("geom2"))
      .localCheckpoint(true)
    val g0 = tris.join(boxes,
      st_intersects($"geom", $"geom2") && $"gid" % 2 === 0).select("gid", "bid")
    val bruteG = g0.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    withCellSize("10.0") {
      val g2 = tris.join(boxes,
        st_intersects($"geom", $"geom2") && $"gid" % 2 === 0).select("gid", "bid")
      val plan = g2.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") &&
        (plan.contains("HashJoin") || plan.contains("SortMergeJoin")),
        s"geom-geom rewrite must hash/merge join:\n$plan")
      val got = g2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === bruteG)
      // exactly-once under heavy replication: no duplicate pairs
      assert(got.size === got.toSet.size)
    }
    // st_disjoint joins are NOT rewritten (grid candidates only form
    // where envelopes overlap)
    withCellSize("10.0") {
      val qd = tris.limit(3).join(pts.limit(5),
        st_disjoint($"geom", st_point($"px", $"py")))
      assert(!qd.queryExecution.optimizedPlan.toString.contains("_graft_gcx"),
        "disjoint must stay a nested loop")
    }
    // the cell cap raises loudly instead of a silent mega-explode
    withCellSize("0.001") {
      val e = intercept[Exception] {
        tris.join(pts, st_contains($"geom", st_point($"px", $"py"))).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("maxCellsPerGeom")), s"got: ${msgs(e)}")
    }
  }

  test("EnvelopePrefilter distance conjuncts: planar + geodesic, empties kept, guards") {
    // stat-bearing PARQUET frame (LocalRelation frames constant-fold
    // before extraOptimizations run, so plan-shape assertions need a
    // real relation) with a planted EMPTY-geometry row carrying the
    // inverted stats GeoDb's addStats writes for empties
    val base = Seq((1L, 5.0, 5.0), (2L, 50.0, 50.0), (3L, 8.0, 2.0), (4L, 0.0, 0.0))
      .toDF("id", "x", "y")
      .withColumn("geometry", when($"id" === 4,
        st_geomfromtext(lit("POLYGON EMPTY"))).otherwise(st_point($"x", $"y")))
      .withColumn("_bbox_minx", when($"id" === 4, lit(0.0)).otherwise($"x"))
      .withColumn("_bbox_miny", when($"id" === 4, lit(0.0)).otherwise($"y"))
      .withColumn("_bbox_maxx", when($"id" === 4, lit(-1.0)).otherwise($"x"))
      .withColumn("_bbox_maxy", when($"id" === 4, lit(-1.0)).otherwise($"y"))
    val dir = java.nio.file.Files.createTempDirectory("dist-prune").toString
    base.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    def injected(q: org.apache.spark.sql.DataFrame): Boolean =
      q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.exists(_.references.exists(_.name.startsWith("_bbox_")))
    // planar st_dwithin: prefilter injected AND pushed to the scan;
    // EMPTY row kept (JTS distance(EMPTY, g) = 0 <= r), far row pruned
    val p = df.filter(st_dwithin($"geometry", st_point(lit(6.0), lit(4.0)), lit(5.0)))
    assert(injected(p),
      s"planar distance prefilter missing:\n${p.queryExecution.optimizedPlan}")
    val phys = p.queryExecution.executedPlan.toString
    assert(phys.contains("PushedFilters") && phys.contains("_bbox_"),
      s"expected stat-column pushdown in:\n$phys")
    assert(p.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L, 4L))
    // geodesic: latitude (and here longitude) bounds injected; row 1
    // is the query point itself, rows 2/3 are hundreds of km out;
    // the EMPTY row survives the prefilter and REFUSES at the verify
    val g = df.filter($"id" =!= 4)
      .filter(st_dwithin_spherical($"geometry", st_point(lit(5.0), lit(5.0)),
        lit(300000.0)))
    assert(injected(g),
      s"geodesic latitude prefilter missing:\n${g.queryExecution.optimizedPlan}")
    assert(g.select("id").as[Long].collect().toSeq === Seq(1L))
    val gEmpty = df.filter(st_dwithin_spherical($"geometry",
      st_point(lit(5.0), lit(5.0)), lit(300000.0)))
    val eRef = intercept[Exception] { gEmpty.count() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eRef).exists(_.contains("POINT")),
      s"empty row must reach the loud verify, got: ${msgs(eRef)}")
    // antimeridian: grown lon interval leaves the domain -> lon bounds
    // SKIPPED, the seam neighbor survives on the latitude pair alone
    val amDir = java.nio.file.Files.createTempDirectory("dist-prune-am").toString
    Seq((1L, -179.5, 0.0), (2L, 0.0, 60.0)).toDF("id", "x", "y")
      .withColumn("geometry", st_point($"x", $"y"))
      .withColumn("_bbox_minx", $"x").withColumn("_bbox_miny", $"y")
      .withColumn("_bbox_maxx", $"x").withColumn("_bbox_maxy", $"y")
      .write.mode("overwrite").parquet(amDir)
    val am = spark.read.parquet(amDir)
      .filter(st_dwithin_spherical($"geometry",
        st_point(lit(179.5), lit(0.0)), lit(200000.0)))
    assert(injected(am), "lat-only prefilter must still inject at the seam")
    assert(am.select("id").as[Long].collect().toSeq === Seq(1L),
      "antimeridian neighbor must survive the lat-only prefilter")
    // near-pole: band reaches 90 -> lon bounds skipped, still correct
    val poDir = java.nio.file.Files.createTempDirectory("dist-prune-po").toString
    Seq((1L, 10.0, 89.8), (2L, -170.0, 89.9), (3L, 10.0, 80.0))
      .toDF("id", "x", "y")
      .withColumn("geometry", st_point($"x", $"y"))
      .withColumn("_bbox_minx", $"x").withColumn("_bbox_miny", $"y")
      .withColumn("_bbox_maxx", $"x").withColumn("_bbox_maxy", $"y")
      .write.mode("overwrite").parquet(poDir)
    val polar = spark.read.parquet(poDir)
      .filter(st_dwithin_spherical($"geometry",
        st_point(lit(0.0), lit(89.9)), lit(100000.0)))
    assert(polar.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L),
      "polar cap rows across all longitudes must survive")
    // the opposite inequality must NOT inject
    val far = df.filter(st_distance($"geometry", st_point(lit(6.0), lit(4.0))) > 5.0)
    assert(!injected(far), "st_distance > r must not inject a prefilter")
    // no injection inside a disjunction
    val disj = df.filter(
      st_dwithin($"geometry", st_point(lit(6.0), lit(4.0)), lit(5.0)) || $"id" === 2L)
    assert(!injected(disj))
    assert(disj.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  private def withGeodesic[T](body: => T): T = {
    spark.conf.set("spark.graft.spatialJoin.geodesic", "true")
    try body finally spark.conf.unset("spark.graft.spatialJoin.geodesic")
  }

  test("GridSpatialJoin GEODESIC rewrite: chord-space cells match BNLJ incl. antimeridian + poles") {
    // lon/lat points PLANTED around the antimeridian, a pole, and a
    // mid-latitude cluster — the chord-space embedding must treat all
    // three as ordinary neighborhoods (no seam, no polar case)
    val a = ((0 until 40).map { i =>
      val lon = Seq(179.9, -179.95, 10.0, 10.3, 0.0)(i % 5) + (i / 5) * 0.01
      val lat = Seq(0.0, 0.05, 50.0, 50.1, 89.9)(i % 5) + (i / 5) * 0.01
      (i.toLong, lon, lat)
    } :+ ((900L, 5.0, 5.0))).toDF("aid", "alon", "alat")
      .select($"aid", when($"aid" < 900, st_point($"alon", $"alat")).as("apt"))
      .localCheckpoint(true) // aid=900 -> NULL geometry (when() else null)
    val b = (0 until 50).map { i =>
      val lon = Seq(-179.9, 179.8, 10.1, 10.4, 179.9)(i % 5) + (i / 5) * 0.009
      val lat = Seq(0.02, 0.04, 50.05, 50.12, 89.92)(i % 5) + (i / 5) * 0.008
      (1000L + i, lon, lat)
    }.toDF("bid", "blon", "blat")
      .select($"bid", st_point($"blon", $"blat").as("bpt")).localCheckpoint(true)
    val r = 50000.0 // 50 km
    val q0 = a.join(b, st_distance_spherical($"apt", $"bpt") <= r)
      .select("aid", "bid")
    assert(q0.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"))
    val brute = q0.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(brute.nonEmpty, "fixture must produce pairs")
    withGeodesic {
      val q = a.join(b, st_distance_spherical($"apt", $"bpt") <= r)
        .select("aid", "bid")
      val plan = q.queryExecution.executedPlan.toString
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_gsca0"),
        "geodesic rewrite must fire")
      assert(!plan.contains("BroadcastNestedLoop") &&
        (plan.contains("HashJoin") || plan.contains("SortMergeJoin")),
        s"geodesic rewrite must hash/merge join:\n$plan")
      val got = q.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(got === brute, "geodesic rewrite row multiset differs from nested loop")
      assert(got.size === got.toSet.size, "pair fired more than once")
      // flipped literal + strict < forms rewrite too
      val qf = a.join(b, lit(r) >= st_distance_spherical($"apt", $"bpt"))
        .select("aid", "bid")
      assert(qf.queryExecution.optimizedPlan.toString.contains("_graft_gsca0"))
      assert(qf.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq === brute)
      // st_dwithin_spherical resolves to the same conjunct -> same rewrite
      val qd = a.join(b, st_dwithin_spherical($"apt", $"bpt", lit(r)))
        .select("aid", "bid")
      assert(qd.queryExecution.optimizedPlan.toString.contains("_graft_gsca0"),
        "st_dwithin_spherical must take the geodesic rewrite")
      assert(qd.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq === brute)
      // > r must NOT rewrite (near-cross-product)
      val qg = a.limit(3).join(b.limit(4),
        st_distance_spherical($"apt", $"bpt") > r)
      assert(!qg.queryExecution.optimizedPlan.toString.contains("_graft_gsca0"),
        "st_distance_spherical > r must stay a nested loop")
      // non-point geometry refuses loudly on the cell computation
      val poly = Seq((1L, "POLYGON((0 0, 1 0, 0 1, 0 0))")).toDF("gid", "wkt")
        .select($"gid", st_geomfromtext($"wkt").as("apt"))
      val e = intercept[Exception] {
        poly.join(b, st_distance_spherical($"apt", $"bpt") <= r).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("chordXyz")), s"got: ${msgs(e)}")
    }
  }

  test("st_dwithin: planar sugar rewrites through the distance branch") {
    val lhs = (0 until 30).map { i =>
      (i.toLong, ((i * 13) % 90).toDouble, ((i * 29) % 90).toDouble)
    }.toDF("aid", "ax", "ay")
      .select($"aid", st_point($"ax", $"ay").as("apt")).localCheckpoint(true)
    val rhs = (0 until 40).map { i =>
      (1000L + i, ((i * 7) % 100).toDouble, ((i * 23) % 100).toDouble)
    }.toDF("bid", "bx", "by")
      .select($"bid", st_point($"bx", $"by").as("bpt")).localCheckpoint(true)
    val q0 = lhs.join(rhs, st_dwithin($"apt", $"bpt", lit(9.0))).select("aid", "bid")
    val brute = q0.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(q0.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"))
    withCellSize("9.0") {
      val q = lhs.join(rhs, st_dwithin($"apt", $"bpt", lit(9.0))).select("aid", "bid")
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_dacx"),
        "st_dwithin must take the planar distance rewrite")
      assert(!q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"))
      assert(q.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq === brute)
    }
    // SQL surface resolves too
    lhs.createOrReplaceTempView("dw_a"); rhs.createOrReplaceTempView("dw_b")
    val s = spark.sql(
      "SELECT aid, bid FROM dw_a JOIN dw_b ON st_dwithin(apt, bpt, 9.0)")
    assert(s.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq === brute)
  }

  test("BinnedRangeJoin overlap fallback: rewrite fires, brute twin, edge rows") {
    val rnd = new scala.util.Random(41)
    val a = (0L until 80L).map { i =>
      val lo = rnd.nextInt(200).toDouble; (i, lo, lo + 1 + rnd.nextInt(15)) }
      .toDF("aid", "alo", "ahi")
    val b = (0L until 70L).map { i =>
      val lo = rnd.nextInt(200).toDouble; (i, lo, lo + 1 + rnd.nextInt(15)) }
      .toDF("bid", "blo", "bhi")
    a.createOrReplaceTempView("ov_a"); b.createOrReplaceTempView("ov_b")
    val sqlTxt = "SELECT aid, bid FROM ov_a JOIN ov_b " +
      "ON alo <= bhi AND blo <= ahi"
    // without the knob: nested loop, correct baseline
    val brute = spark.sql(sqlTxt).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    withBinWidth("8.0") {
      val q = spark.sql(sqlTxt)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("_graft_abin") && opt.contains("_graft_bbin"),
        s"overlap rewrite must fire:\n$opt")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == brute && got.nonEmpty) // MULTISET equality: exactly-once
      // strict variant stays exact (strictness lives in the verify)
      val strict = spark.sql("SELECT aid, bid FROM ov_a JOIN ov_b " +
        "ON alo < bhi AND blo < ahi")
      assert(strict.queryExecution.optimizedPlan.toString.contains("_graft_abin"))
      val wantStrict = a.crossJoin(b)
        .filter($"alo" < $"bhi" && $"blo" < $"ahi")
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(strict.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq == wantStrict)
    }
    // INVERTED interval (lo > hi): the raw conjuncts can still hold when
    // the other interval straddles it — the least/greatest spans keep it
    Seq((1L, 5.0, 3.0)).toDF("aid", "alo", "ahi")
      .createOrReplaceTempView("ov_ai")
    Seq((1L, 2.0, 10.0), (2L, 6.0, 10.0)).toDF("bid", "blo", "bhi")
      .createOrReplaceTempView("ov_bi")
    val invSql = "SELECT aid, bid FROM ov_ai JOIN ov_bi " +
      "ON alo <= bhi AND blo <= ahi"
    val invBrute = spark.sql(invSql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    withBinWidth("4.0") {
      val inv = spark.sql(invSql)
      assert(inv.queryExecution.optimizedPlan.toString.contains("_graft_abin"))
      assert(inv.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq == invBrute)
      assert(invBrute == Seq((1L, 1L))) // b=(2,10) straddles; b=(6,10) not
      // NULL endpoint: never matches (nested-loop semantics), never crashes
      Seq((1L, java.lang.Double.valueOf(1.0), null.asInstanceOf[java.lang.Double]),
          (2L, java.lang.Double.valueOf(1.0), java.lang.Double.valueOf(4.0)))
        .toDF("aid", "alo", "ahi").createOrReplaceTempView("ov_an")
      val nul = spark.sql("SELECT aid, bid FROM ov_an JOIN ov_bi " +
        "ON alo <= bhi AND blo <= ahi")
      assert(nul.queryExecution.optimizedPlan.toString.contains("_graft_abin"))
      assert(nul.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        == Seq((2L, 1L))) // row 1's NULL ahi fails blo <= ahi everywhere
    }
  }

  test("BinnedRangeJoin overlap: BOTH-NULL endpoints are a no-match, not a bin-cap crash") {
    // A row with BOTH endpoints NULL makes the bin span NULL; If takes
    // the false branch on a NULL predicate, so before the IsNull arm
    // the row hit the RaiseError bin-cap path whenever constraint
    // propagation did NOT push IsNotNull filters below the Generate —
    // the nested loop simply emits no match. Pin with propagation OFF.
    Seq((1L, null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double]),
        (2L, java.lang.Double.valueOf(1.0), java.lang.Double.valueOf(4.0)))
      .toDF("aid", "alo", "ahi").createOrReplaceTempView("ov_nn_a")
    Seq((1L, 2.0, 10.0), (2L, 60.0, 99.0)).toDF("bid", "blo", "bhi")
      .createOrReplaceTempView("ov_nn_b")
    val sqlTxt = "SELECT aid, bid FROM ov_nn_a JOIN ov_nn_b " +
      "ON alo <= bhi AND blo <= ahi"
    val brute = spark.sql(sqlTxt).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(brute == Seq((2L, 1L)))
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try withBinWidth("4.0") {
      val q = spark.sql(sqlTxt)
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_abin"))
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        == brute)
    } finally spark.conf.unset("spark.sql.constraintPropagation.enabled")
  }

  test("BinnedRangeJoin open bound over an EMPTY point table matches nothing, not a crash") {
    // the NULL-open bound coalesces with the point side's min/max bin;
    // an empty point table makes those NULL -> NULL span must take the
    // Sequence (no-match) branch, not the bin-cap RaiseError
    // runtime-empty, not statically empty: a LocalRelation(Nil) would be
    // folded away by PropagateEmptyRelation before the rewrite ever ran
    spark.range(0, 10)
      .select($"id".as("pid"), ($"id" + 1000).cast("double").as("x"))
      .filter($"x" < -1e9)
      .createOrReplaceTempView("rj_empty_p")
    Seq((10L, null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double]))
      .toDF("iid", "lo", "hi").createOrReplaceTempView("rj_open_i")
    val sqlTxt = "SELECT pid, iid FROM rj_empty_p JOIN rj_open_i " +
      "ON (lo IS NULL OR x >= lo) AND (hi IS NULL OR x <= hi)"
    withBinWidth("10.0") {
      val q = spark.sql(sqlTxt)
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_pbin"),
        s"open-bound rewrite must fire:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().isEmpty)
    }
  }

  test("BinnedRangeJoin: cast-wrapped operands (decimal points vs double bounds)") {
    rjPoints.select($"pid", $"x".cast("decimal(12,2)").as("x"))
      .createOrReplaceTempView("rj_p6")
    rjIntervals.createOrReplaceTempView("rj_i6")
    // the analyzer inserts CAST(x AS DOUBLE) around the decimal column —
    // the TPC-H shape; the rule must see through it
    val sqlTxt = "SELECT pid, iid FROM rj_p6 JOIN rj_i6 ON x >= lo AND x <= hi"
    withBinWidth("10.0") {
      val q = spark.sql(sqlTxt)
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_pbin"),
        s"cast-wrapped operands must still rewrite:\n" +
          q.queryExecution.optimizedPlan.toString)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L), (2L, 10L), (2L, 11L), (4L, 12L)), s"got $got")
    }
  }
}
