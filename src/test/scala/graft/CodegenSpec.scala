package graft

import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import graft.ext.TextFunctions
import graft.ext.TextFunctions._

/**
 * With spark.sql.codegen.fallback=false, a doGenCode that emits broken Java
 * fails the query instead of silently degrading to interpreted eval — this
 * suite proves every custom expression really runs inside generated code.
 */
class CodegenSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GeoFunctions.registerAll(spark)
    TextFunctions.registerAll(spark)
  }

  private def withStrictCodegen[T](body: => T): T = {
    // fallback=false only hardens WholeStageCodegen; expressions evaluated
    // through UnsafeProjection/MutableProjection have their OWN interpreted
    // fallback governed by factoryMode — CODEGEN_ONLY makes a janino
    // compile failure (e.g. a call to a package-private object method with
    // no static forwarder) throw instead of silently degrading. This is the
    // path that hid the GeoOps.transformWith forwarder bug.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  // IMPORTANT: anchor test frames on a parquet SCAN, never a local Seq —
  // Project-over-LocalRelation is evaluated eagerly (interpreted) by the
  // ConvertToLocalRelation optimizer rule, so a Seq-based "codegen test"
  // never generates code at all. The `col * 0 + const` shape keeps values
  // deterministic while defeating ConstantFolding.
  private def anchored(n: Int = 1) =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(n)

  test("all geo expressions compile under strict codegen") {
    withStrictCodegen {
      val df = anchored()
        .select(($"l_quantity" * 0 + 1.0).as("x"), ($"l_tax" * 0 + 2.0).as("y"),
          ($"l_quantity" * 0 + 10.0).as("x2"), ($"l_tax" * 0 + 20.0).as("y2"))
        .withColumn("p", st_point($"x", $"y"))
        .withColumn("env", st_makeenvelope($"x" - 1, $"y" - 1, $"x2", $"y2"))
      val row = df.select(
        st_x($"p"), st_y($"p"), st_xmin($"env"), st_xmax($"env"),
        st_ymin($"env"), st_ymax($"env"), st_area($"env"), st_length($"env"),
        st_astext($"p"), st_asgeojson($"p"), geometry_type($"p"),
        st_distance($"p", st_centroid($"env")),
        st_contains($"env", $"p"), st_within($"p", $"env"),
        st_intersects($"env", $"p"), st_disjoint($"env", $"p"),
        st_astext(st_buffer($"p", lit(1.0))),
        st_astext(st_transform($"p", lit(4326), lit(3857))),
        st_astext(st_geomfromtext(lit("POINT(3 4)"))),
        st_astext(st_geomfromgeojson(lit("""{"type":"Point","coordinates":[5,6]}"""))))
        .head()
      assert(row.getDouble(0) == 1.0)
      assert(row.getBoolean(12)) // contains
    }
  }

  test("all text/vector expressions compile under strict codegen") {
    withStrictCodegen {
      val df = anchored()
        .select(concat(substring($"l_returnflag", 1, 0),
            lit("the quick brown fox")).as("t"),
          array(($"l_quantity" * 0 + 1.0).cast("float"),
            ($"l_quantity" * 0).cast("float")).as("v1"),
          array(($"l_quantity" * 0 + 0.6).cast("float"),
            ($"l_quantity" * 0 + 0.8).cast("float")).as("v2"))
      val row = df.select(
        token_count($"t"), token_occurrences($"t", lit("quick")),
        bpe_count($"t"), simhash64($"t"),
        fingerprint64($"t"), lang_id($"t"),
        hamming64(simhash64($"t"), simhash64($"t")),
        char_shingles($"t", lit(3)), word_shingles($"t", lit(2)),
        minhash_sig(char_shingles($"t", lit(3)), lit(16)),
        sig_similarity(minhash_sig(char_shingles($"t", lit(3)), lit(16)),
          minhash_sig(char_shingles($"t", lit(3)), lit(16))),
        cosine_sim($"v1", $"v2"), dot_product($"v1", $"v2"),
        hyperplane_sig($"v1", lit(8), lit(42L)),
        word_shingle_pairs($"t", lit(2)),
        nfc_normalize(concat($"t", lit("e\u0301"))),
        jaro_winkler($"t", concat($"t", lit("x"))))
        .head()
      assert(row.getInt(0) == 4)
      assert(row.getInt(1) == 1)   // token_occurrences of "quick"
      assert(row.getString(15) == "the quick brown fox\u00E9")
      assert(row.getInt(6) == 0)   // hamming with itself
      assert(row.getDouble(10) == 1.0) // sig similarity with itself
      assert(math.abs(row.getDouble(12) - 0.6) < 1e-6)
    }
  }

  test("pq kernel expressions compile under strict codegen") {
    // The reference-object kernels (PqEncodeExpr/PqAssignExpr/PqAdcExpr):
    // codegen emits one static PqKernel call with the codebook riding
    // ctx.addReferenceObj — this proves janino resolves the forwarders
    // and the double[][][] cast, and that the generated path computes
    // the same argmin/tie semantics as the interpreted one.
    withStrictCodegen {
      import graft.ext.PqFunctions._
      val cents = Array(
        Array(Array(0.0), Array(5.0), Array(9.0)),   // subspace 0, k=3
        Array(Array(1.0), Array(10.0), Array(20.0))) // subspace 1
      val table = Array(Array(0.5, 1.0, 2.0), Array(3.0, 4.0, 5.0))
      val df = anchored()
        .select(array(($"l_quantity" * 0 + 5.1).cast("float"),
            ($"l_tax" * 0 + 9.9).cast("float")).as("v"),
          ($"l_linenumber" * 0).cast("int").as("s"),
          array($"l_quantity" * 0 + 8.0).as("slice"))
      val row = df.select(
        pq_encode($"v", cents).as("code"),
        pq_assign($"s", $"slice", cents).as("a"),
        pq_adc(pq_encode($"v", cents), table).as("d"),
        pq_adc_multi(pq_encode($"v", cents),
          Array(table, table.map(_.map(_ * 2)))).as("dm"))
        .head()
      assert(row.getSeq[Int](0) == Seq(1, 1), s"code ${row.getSeq[Int](0)}")
      assert(row.getInt(1) == 2)          // 8.0 nearest 9.0 in subspace 0
      assert(row.getDouble(2) == 5.0)     // table(0)(1) + table(1)(1)
      assert(row.getSeq[Double](3) == Seq(5.0, 10.0))
      // the residual kernel under the same strict-codegen regime
      val ivfModel = graft.ext.Ivf.Model(
        Array(Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      val res = df.select(
          graft.ext.Ivf.residualCol($"s", $"v", ivfModel).as("r"))
        .head().getSeq[Double](0)
      assert(res.length == 2 &&
        math.abs(res(0) - 4.1) < 1e-6 && math.abs(res(1) - 7.9) < 1e-6,
        s"residual $res")
    }
  }

  test("asof_index compiles under strict codegen") {
    // the stream-static as-of snapshot kernel: generated code is one
    // static AsofKernel.lookup call with the snapshot riding
    // ctx.addReferenceObj, and a null result (no match) must flow
    // through the custom isNull branch
    withStrictCodegen {
      val slots = new java.util.HashMap[AnyRef, Integer]()
      slots.put(java.lang.Long.valueOf(7L), Integer.valueOf(0))
      val snap = new graft.ext.AsofSnapshot(slots, Array(0), Array(2),
        Array(100L, 200L), microsAxis = false, tolerance = -1L)
      val df = anchored()
        .select(($"l_orderkey" * 0 + 7).cast("long").as("k"),
          ($"l_quantity" * 0 + 150).cast("long").as("t"),
          ($"l_orderkey" * 0 + 8).cast("long").as("k2"))
      val row = df.select(
        graft.ext.AsofFunctions.asof_index($"k", $"t", snap).as("hit"),
        graft.ext.AsofFunctions.asof_index($"k2", $"t", snap).as("miss"))
        .head()
      assert(row.getInt(0) == 0, s"hit ${row.get(0)}")   // ts 100 <= 150 < 200
      assert(row.isNullAt(1), "unknown key must be NULL")
    }
  }

  /** `body`'s result and the Janino compiles it caused (codegen-cache
    * misses; a cache hit compiles nothing). */
  private def compiles[T](body: => T): (T, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("reads differing only in constants reuse compiled code under strict codegen") {
    // bbox, PostgREST and SQL group-by reads: filter constants reach the
    // generated code by reference (plans.ParamFilters), so a second call
    // with other constants generates the same Java and compiles nothing
    val db = new graft.engine.GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("cg", Seq("grp" -> "integer", "cls" -> "integer", "d" -> "date",
      "area" -> "bigint"))
    val rows = (0 until 400).map { i =>
      (s"POINT(${(i * 7) % 160 - 80} ${(i * 13) % 120 - 60})", i % 5, i % 7,
        java.sql.Date.valueOf(java.time.LocalDate.of(2000, 1, 1).plusDays(i * 17L)),
        (i * 37L) % 1000)
    }
    db.insertIntoCollection("cg", rows.toDF("geometry", "grp", "cls", "d", "area"))
    db.createIndex("cg")
    def inBox(b: (Double, Double, Double, Double)) = rows.count { case (wkt, _, _, _, _) =>
      val Array(x, y) = wkt.stripPrefix("POINT(").stripSuffix(")").split(" ").map(_.toDouble)
      x >= b._1 && x <= b._3 && y >= b._2 && y <= b._4
    }
    withStrictCodegen {
      def bbox(b: (Double, Double, Double, Double)) =
        db.getCollectionByBbox("cg", b, "intersects").collect().length
      def pg(grp: Int, in1: Int, in2: Int, day: String, area: Long) =
        db.getCollection("cg", s"grp=eq.$grp&cls=in.($in1,$in2)&d=gte.$day&area=gt.$area")
          .collect().length
      def group(day: String, area: Long) =
        db.getCollectionPg("cg", "grp, COUNT(*) AS ct, SUM(area) AS sa",
          Some(s"d >= DATE '$day' AND area > $area"), Some("grp")).collect().length
      val reads: Seq[(String, () => Int, () => Int)] = Seq(
        ("bbox", () => bbox((-40.5, -30.5, 40.5, 30.5)), () => bbox((-20.5, -50.5, 60.5, 10.5))),
        ("postgrest", () => pg(1, 2, 3, "2005-01-01", 100), () => pg(3, 4, 5, "2008-06-30", 250)),
        ("group-by", () => group("2003-01-01", 200), () => group("2010-07-01", 500)))
      for ((what, first, second) <- reads) {
        val n1 = first()
        val (n2, added) = compiles(second())
        assert(n1 > 0 && n2 > 0, s"$what: both calls must return rows ($n1, $n2)")
        assert(added == 0, s"$what: the second call compiled $added classes")
      }
      assert(bbox((-40.5, -30.5, 40.5, 30.5)) == inBox((-40.5, -30.5, 40.5, 30.5)))
    }
  }

  test("whole-stage codegen spans include the geo predicate") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("g", st_point($"l_extendedprice", $"l_quantity"))
      .filter(st_contains(st_makeenvelope(lit(0.0), lit(0.0), lit(100000.0), lit(50.0)), $"g"))
    // WSCG stages render as `*(n)` in toString; assert the filter with the
    // geo predicate is inside one
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("*(1) Filter") && physical.contains("st_contains"),
      s"expected st_contains inside a WholeStageCodegen span in:\n$physical")
  }
}
