package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.io.WKBReader

import graft.core.GeoOps
import graft.engine.GeoDb

/**
 * Engine lifecycle tests mirroring the reference's SQL integration suite
 * (tests/sql/test_sql_functions.py). The bbox golden test is the Phase-1
 * acceptance gate from SURVEY.md §7.2.
 */
class GeoDbEngineSpec extends SparkSpec {
  import spark.implicits._

  // the reference's two SRID-3794 land_use polygons (tests/sql/setup.sql:38-45)
  private val hex1 = "0103000020D20E000001000000110000007593188402B51B41B6F3FDD4423FF6405839B4C802B51B412B8716D9EC3EF6406F1283C0EBB41B41A8C64B37C53EF640B6F3FDD4E4B41B419A999999A33EF6400E2DB29DCFB41B41EE7C3F35B63EF6407F6ABC74C0B41B41EE7C3F35B63EF6407B14AE47BDB41B41AAF1D24D043FF6408B6CE77B64B41B413F355EBA8F3FF6402B8716D970B41B41986E1283EC3FF640A4703D0A76B41B4179E92631AE3FF6404260E5D08AB41B4123DBF97E923FF6409EEFA7C69CB41B4100000000AC3FF6405839B448B3B41B411D5A643B973FF6408195438BC6B41B41666666666C3FF640D122DBF9E3B41B4139B4C876383FF640E9263188F8B41B41333333333D3FF6407593188402B51B41B6F3FDD4423FF640"
  private val hex2 = "0103000020D20E00000100000005000000508D976EFF97184125068195F771F240D9CEF753F6961841621058395E72F240D9CEF753F696184114AE47E1FC72F2402731082C01981841FA7E6ABCA872F240508D976EFF97184125068195F771F240"

  private def landUseDb(): GeoDb = {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("land_use", crs = 3794)
    val rows = Seq(Row(WKBReader.hexToBytes(hex1)), Row(WKBReader.hexToBytes(hex2)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("geometry", BinaryType))))
    db.insertIntoCollection("land_use", df)
    db
  }

  test("Phase-1 golden: bbox contains returns exactly polygon id=1 " +
       "(test_sql_functions.py:46-83)") {
    val db = landUseDb()
    val res = db.getCollectionByBbox("land_use",
      (452750.0, 88909.549, 464000.0, 102486.299), "contains", 3794)
    val rows = res.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("id") == 1L)
    val geom = GeoOps.read(rows(0).getAs[Array[Byte]]("geometry"))
    val expWkt = "POLYGON((453952.629 91124.177, 453952.696 91118.803, " +
      "453946.938 91116.326, 453945.208 91114.225, 453939.904 91115.388, " +
      "453936.114 91115.388, 453935.32 91120.269, 453913.121 91128.983, " +
      "453916.212 91134.782, 453917.51 91130.887, 453922.704 91129.156, " +
      "453927.194 91130.75, 453932.821 91129.452, 453937.636 91126.775, " +
      "453944.994 91123.529, 453950.133 91123.825, 453952.629 91124.177))"
    val expected = GeoOps.read(GeoOps.geomFromText(
      org.apache.spark.unsafe.types.UTF8String.fromString(expWkt)))
    assert(geom.equalsExact(expected, 1e-9))
  }

  test("count exact + estimated agree (geodb.sql:1259-1303)") {
    val db = landUseDb()
    assert(db.countCollection("land_use") == 2L)
    assert(db.countCollection("land_use", exact = false) == 2L)
  }

  test("count by bbox with where-composition (geodb.sql:1306-1370)") {
    val db = landUseDb()
    val full = (452750.0, 88909.549, 464000.0, 102486.299)
    assert(db.countCollectionByBbox("land_use", full, "contains", 3794) == 1L)
    assert(db.countCollectionByBbox("land_use", full, "intersects", 3794) == 1L)
    assert(db.countCollectionByBbox("land_use", full, "contains", 3794,
      where = Some("id = 2"), op = "OR") == 2L)
    assert(db.countCollectionByBbox("land_use", full, "contains", 3794,
      where = Some("id = 2"), op = "AND") == 0L)
  }

  test("extent exact/estimated + (ymin,xmin,ymax,xmax) swap (geodb.py:400)") {
    val db = landUseDb()
    val Some((ymin, xmin, ymax, xmax)) = db.getCollectionBbox("land_use")
    assert(xmin < xmax && ymin < ymax)
    assert(xmin > 400000 && ymax < 100000) // SRID 3794 coords
    assert(db.getCollectionBbox("land_use", exact = false) ==
      db.getCollectionBbox("land_use"))
  }

  test("small-geometry goldens: extent BOX(-6 9,5 11), types [POINT,POLYGON] " +
       "(test_sql_functions.py:341-411)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("small_geo", crs = 4326)
    val df = Seq(
      "POLYGON((-5 10, -5 11, 5 11, 5 10, -5 10))",
      "POLYGON((-6 9, -6 10, 3 10, 3 9, -6 9))",
      "POINT(-6 9)").toDF("geometry")
    db.insertIntoCollection("small_geo", df)
    // extent golden BOX(-6 9, 5 11) -> swapped tuple (9, -6, 11, 5)
    assert(db.getCollectionBbox("small_geo") == Some((9.0, -6.0, 11.0, 5.0)))
    assert(db.getCollectionBbox("small_geo", exact = false) ==
      Some((9.0, -6.0, 11.0, 5.0)))
    // distinct geometry types golden [POINT, POLYGON]
    assert(db.getGeometryTypes("small_geo", aggregate = true)
      .as[String].collect().toSeq == Seq("POINT", "POLYGON"))
  }

  test("geometry types per-row and distinct (geodb.sql:460-482)") {
    val db = landUseDb()
    val all = db.getGeometryTypes("land_use").as[String].collect()
    assert(all.toSeq == Seq("POLYGON", "POLYGON"))
    val agg = db.getGeometryTypes("land_use", aggregate = true).as[String].collect()
    assert(agg.toSeq == Seq("POLYGON"))
  }

  test("create/insert assigns serial ids, created_at; properties lowercased") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("c1", Seq("RABA_ID" -> "integer", "D_OD" -> "date"))
    val props = db.getProperties("c1").collect().map(_.getString(0)).toSeq
    assert(props == Seq("id", "created_at", "modified_at", "geometry", "raba_id", "d_od"))
    val df = Seq((1410, "2019-03-26"), (7000, "2019-02-25"))
      .toDF("raba_id", "d_od")
      .withColumn("d_od", to_date($"d_od"))
      .withColumn("geometry", lit("POINT(1 2)"))
    db.insertIntoCollection("c1", df)
    val got = db.getCollection("c1", "order=id")
    assert(got.select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    assert(got.filter($"created_at".isNotNull).count() == 2)
    assert(got.filter($"modified_at".isNull).count() == 2)
    // second insert continues the sequence
    db.insertIntoCollection("c1", df)
    assert(db.getCollection("c1", "order=id").select("id").as[Long]
      .collect().toSeq == Seq(1L, 2L, 3L, 4L))
    // an empty insert assigns nothing, and the next one stays dense
    db.insertIntoCollection("c1", df.limit(0))
    db.insertIntoCollection("c1", df)
    assert(db.getCollection("c1", "order=id").select("id").as[Long]
      .collect().toSeq == (1L to 6L))
  }

  test("assignIds stable under nondeterministic input plans (shuffle + sample)") {
    // VERDICT r2 #5: a frame containing a shuffle or a sample can change
    // per-partition counts between the counting pass and the id projection
    // (AQE re-plan / task re-scheduling); assignIds pins the partitioning
    // with localCheckpoint, so ids must come out dense and unique anyway
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("shuf", Seq("v" -> "int4"))
    val wild = spark.range(0, 2000)
      .select(col("id").cast("int").as("v"))
      .repartition(13, col("v") % 7) // shuffle, skewed keys
      .sample(withReplacement = false, 0.8, seed = 0xC0FFEE) // nondeterministic op
      .withColumn("geometry", lit("POINT(1 2)"))
    db.insertIntoCollection("shuf", wild)
    val n = db.countCollection("shuf")
    val ids = db.getCollection("shuf", "order=id").select("id").as[Long].collect()
    assert(ids.length == n)
    assert(ids.toSet.size == ids.length, "duplicate ids")
    assert(ids.head == 1L && ids.last == n, s"gapped ids: 1..${ids.last} for $n rows")
    // and a second shuffled insert continues densely
    db.insertIntoCollection("shuf", wild)
    val ids2 = db.getCollection("shuf", "order=id").select("id").as[Long].collect()
    assert(ids2.length == ids2.toSet.size && ids2.last == ids2.length)
  }

  test("vector index lifecycle: create -> search (partition-pruned) -> drop") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("vecs", Seq("vec_id" -> "int8", "emb" -> "vector"))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    db.insertIntoCollection("vecs", emb
      .select($"vec_id", $"embedding".as("emb"))
      .withColumn("geometry", lit("POINT(0 0)")))
    val name = db.createVectorIndex("vecs", "emb", cells = 4)
    assert(db.showIndexes("vecs").contains(name))
    // duplicate create refused
    intercept[IllegalArgumentException](db.createVectorIndex("vecs", "emb"))
    // search returns k ranked hits per query, none of them the query itself
    val coll = db.getCollection("vecs").select($"id", $"vec_id", $"emb")
    val q = coll.filter($"vec_id" < 3)
    val hits = db.vectorSearch("vecs", "emb", q, k = 5, nprobe = 2)
    val byQuery = hits.groupBy("query_id").count().collect()
    assert(byQuery.length == 3 && byQuery.forall(_.getLong(1) == 5L))
    assert(hits.filter($"query_id" === $"corpus_id").count() == 0)
    // the searched frame reads ONLY probed cell partitions (static
    // PartitionFilters) — recall sanity vs brute force on one query
    val exact = graft.ext.Similarity
      .bruteForceTopK(coll, q.limit(1), "emb", "id", 5)
      .select("corpus_id").as[Long].collect().toSet
    val approxIds = hits.join(q.limit(1).select($"id".as("query_id")), Seq("query_id"))
      .select("corpus_id").as[Long].collect().toSet
    assert(exact.intersect(approxIds).size >= 2)
    // incremental maintenance: appended rows join the index without a
    // rebuild (assigned to existing cells, FAISS add-to-index semantics)
    db.insertIntoCollection("vecs", emb.limit(5)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding".as("emb"))
      .withColumn("geometry", lit("POINT(0 0)")))
    val newQ = db.getCollection("vecs").filter($"vec_id" >= 100000L)
      .select($"id", $"vec_id", $"emb")
    assert(newQ.count() == 5)
    val hits2 = db.vectorSearch("vecs", "emb", newQ.limit(1), k = 3, nprobe = 4)
    // a duplicated vector's nearest neighbors at nprobe=max must include
    // its twin (cosine 1.0) — only possible if the appended rows are in
    // the partitioned layout
    assert(hits2.count() == 3)
    assert(hits2.agg(max($"cosine")).head.getDouble(0) > 0.999)
    // drop removes files + meta; search then fails loudly
    db.dropVectorIndex("vecs", "emb")
    assert(!db.showIndexes("vecs").exists(_.contains("emb_ivf")))
    intercept[IllegalArgumentException](db.vectorSearch("vecs", "emb", q))
  }

  test("quantized (SQ8) vector index: 4x smaller cells, recall held, append maintained") {
    val db = new GeoDb(spark, tmpDir("graft-wh-sq8"), "geodb_user")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    db.createCollection("vq", Seq("vec_id" -> "int8", "emb" -> "vector"))
    db.insertIntoCollection("vq", emb
      .select($"vec_id", $"embedding".as("emb"))
      .withColumn("geometry", lit("POINT(0 0)")))
    db.createVectorIndex("vq", "emb", cells = 4, quantized = true)
    val coll = db.getCollection("vq").select($"id", $"vec_id", $"emb")
    val q = coll.filter($"vec_id" < 3)
    val hits = db.vectorSearch("vq", "emb", q, k = 5, nprobe = 2)
    val byQuery = hits.groupBy("query_id").count().collect()
    assert(byQuery.length == 3 && byQuery.forall(_.getLong(1) == 5L))
    // recall vs exact on the same collection: SQ8 reconstruction keeps
    // the neighborhood (>= 3 of 5 on every query at nprobe=2)
    val exact = graft.ext.Similarity.bruteForceTopK(coll, q, "emb", "id", 5)
      .select("query_id", "corpus_id")
    val overlap = exact.join(hits, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy("query_id").count().collect()
    assert(overlap.forall(_.getLong(1) >= 3), overlap.mkString(","))
    // the stored cells are int8: q_vec tinyint array + q_scale, no floats
    val stored = spark.read.parquet(
      s"${db.catalog.collectionDir("geodb_user", "vq")}/.vecindex-emb/data")
    assert(stored.schema.fieldNames.toSet == Set("id", "q_scale", "q_vec", "ivf_cell"))
    assert(stored.schema("q_vec").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    // append keeps the quantized format: a duplicated vector finds its
    // twin at cosine ~1 after reconstruction
    db.insertIntoCollection("vq", emb.limit(3)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding".as("emb"))
      .withColumn("geometry", lit("POINT(0 0)")))
    val newQ = db.getCollection("vq").filter($"vec_id" >= 100000L)
      .select($"id", $"vec_id", $"emb")
    val hits2 = db.vectorSearch("vq", "emb", newQ.limit(1), k = 3, nprobe = 4)
    assert(hits2.count() == 3)
    assert(hits2.agg(max($"cosine")).head.getDouble(0) > 0.995)
    db.dropVectorIndex("vq", "emb")
  }

  test("vectorIndexDedupKeepers: batch deduped against the persisted IVF artifact") {
    val db = new GeoDb(spark, tmpDir("graft-wh-inc"), "geodb_user")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    db.createCollection("corpus", Seq("vec_id" -> "int8", "emb" -> "vector"))
    db.insertIntoCollection("corpus", emb.filter($"vec_id" < 200)
      .select($"vec_id", $"embedding".as("emb"))
      .withColumn("geometry", lit("POINT(0 0)")))
    db.createVectorIndex("corpus", "emb", cells = 8)
    // NEW batch: naturals (no corpus match — max natural cosine 0.60)
    // plus exact copies of 25 indexed vectors, which must all pair up
    val batch = emb.filter($"vec_id" >= 200)
      .unionByName(emb.filter($"vec_id" < 25)
        .withColumn("vec_id", $"vec_id" + 50000L))
      .select($"vec_id", $"embedding".as("emb"))
    val pairs = db.vectorIndexCrossPairs("corpus", "emb", batch,
      threshold = 0.95, idCol = "vec_id")
    // asymmetric output: id = batch id, id2 = collection SERIAL id —
    // map id2 back to the corpus vec_id to check the pairing exactly
    val coll = db.getCollection("corpus").select($"id", $"vec_id".as("cv"))
    val mapped = pairs.join(coll, pairs("id2") === coll("id"))
      .select(pairs("id"), $"cv")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mapped == (0L until 25L).map(v => (v + 50000L, v)).toSet,
      s"pairs must be exactly the planted cross-batch copies: $mapped")
    // the artifact read is statically pruned to touched cell partitions
    val scans = pairs.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(s => s.contains("PartitionFilters") && s.contains("ivf_cell")),
      s"corpus scan must carry an ivf_cell PartitionFilter:\n${scans.mkString("\n")}")
    // and the batch side is BROADCAST: ivf_cell is a low-cardinality
    // skewed key, so a shuffle join on it would repartition the corpus
    assert(pairs.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "delta side must broadcast into the within-cell join")
    val kept = db.vectorIndexDedupKeepers("corpus", "emb", batch,
        threshold = 0.95, idCol = "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == emb.filter($"vec_id" >= 200)
      .select("vec_id").as[Long].collect().toSet)
    // no index -> loud failure, not a silent full scan
    intercept[IllegalArgumentException](
      db.vectorIndexCrossPairs("corpus", "vec_id", batch, 0.9))
  }

  test("concurrent writers serialize under the commit lock: dense unique ids") {
    val db = new GeoDb(spark, tmpDir("graft-wh-lock"), "geodb_user")
    db.createCollection("race", Seq("v" -> "integer"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        try {
          // a fresh GeoDb instance per thread = a separate writer session
          val w = new GeoDb(spark, db.warehouse, "geodb_user")
          for (i <- 0 until 5)
            w.insertIntoCollection("race", Seq(t * 100 + i).toDF("v")
              .withColumn("geometry", lit("POINT(0 0)")))
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"writer failed: ${Option(errors.peek()).map(_.toString)}")
    val ids = db.getCollection("race").select("id").as[Long].collect().sorted
    assert(ids.length == 20, s"expected 20 rows, got ${ids.length}")
    assert(ids.toSeq == (1L to 20L), s"ids not dense/unique: ${ids.mkString(",")}")
    // lock file is released after the last commit
    val lock = new java.io.File(
      s"${db.catalog.collectionDir("geodb_user", "race")}/.commit.lock")
    assert(!lock.exists())
  }

  test("update by filter stamps modified_at (geodb.py:1356-1398)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("c2", Seq("v" -> "integer"))
    db.insertIntoCollection("c2", Seq(1, 2, 3).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    db.updateCollection("c2", Map("v" -> 99), "v=gt.1")
    val rows = db.getCollection("c2", "order=id")
      .select("v", "modified_at").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 99, 99))
    assert(rows.map(r => r.isNullAt(1)).toSeq == Seq(true, false, false))
  }

  test("delete by filter (geodb.py:1325-1354)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("c3", Seq("v" -> "integer"))
    db.insertIntoCollection("c3", (1 to 10).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    db.deleteFromCollection("c3", "v=lte.5")
    assert(db.getCollection("c3").select("v").as[Int].collect().sorted.toSeq ==
      (6 to 10).toSeq)
  }

  test("upsert merges on id, preserves created_at, stamps modified_at (J5)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("c4", Seq("v" -> "integer"))
    db.insertIntoCollection("c4", Seq(10, 20).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    val upd = Seq((1L, 99), (5L, 55)).toDF("id", "v")
      .withColumn("geometry", lit("POINT(1 1)"))
    db.insertIntoCollection("c4", upd, upsert = true)
    val rows = db.getCollection("c4", "order=id")
      .select("id", "v", "modified_at").collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 99), (2L, 20), (5L, 55)))
    assert(!rows(0).isNullAt(2)) // updated row stamped
    assert(rows(1).isNullAt(2))  // untouched row not stamped
    assert(rows(2).isNullAt(2))  // fresh row not stamped
  }

  test("upsert: incoming explicit NULL replaces the old value (merge-duplicates)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("cn", Seq("v" -> "integer", "w" -> "text"))
    db.insertIntoCollection("cn", Seq((10, "keep"), (20, "clearme")).toDF("v", "w")
      .withColumn("geometry", lit("POINT(0 0)")))
    // row 2: v updated, w explicitly set NULL; w must NOT survive via
    // coalesce (PostgREST merge-duplicates replaces the matched row's
    // columns with the incoming payload, NULLs included)
    val upd = Seq((2L, 99, Option.empty[String])).toDF("id", "v", "w")
      .withColumn("geometry", lit("POINT(1 1)"))
    db.insertIntoCollection("cn", upd, upsert = true)
    val rows = db.getCollection("cn", "order=id").select("id", "v", "w").collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 10), (2L, 99)))
    assert(rows(0).getString(2) == "keep")
    assert(rows(1).isNullAt(2), "explicit NULL in upsert payload must clear the field")
  }

  test("GeoServer publication registry (S6 state layer)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("gs1", Seq("v" -> "integer"))
    val entry = db.publishGs("gs1")
    assert(entry("layer") == "geodb_user_gs1") // reference naming
    assert(db.getPublishedGs().count() == 1)
    assert(db.getAllPublishedGs.select("layer").head.getString(0) == "geodb_user_gs1")
    // idempotent republish
    db.publishGs("gs1")
    assert(db.getPublishedGs().count() == 1)
    db.unpublishGs("gs1")
    assert(db.getPublishedGs().count() == 0)
    // audit events logged with the reference vocabulary
    val evs = db.getEventLog("%geoserver%").select("event_type")
      .collect().map(_.getString(0)).toSet
    assert(evs == Set("published to geoserver", "unpublished from geoserver"))
    // drop cascades the publication (geodb.sql:371-373)
    db.publishGs("gs1")
    db.dropCollection("gs1")
    assert(db.getAllPublishedGs.count() == 0)
  }

  test("rename moves STAC metadata with the collection") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("cm", Seq("v" -> "integer"))
    db.setMetadataField("cm", "title", "moved title")
    db.renameCollection("cm", "cm2")
    assert(db.getMetadata("cm2")("title") == "moved title")
  }

  test("add/drop properties; mandatory columns refused (geodb.py:1170-1173)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("c5", Seq("a" -> "integer"))
    db.insertIntoCollection("c5", Seq(1).toDF("a")
      .withColumn("geometry", lit("POINT(0 0)")))
    db.addProperty("c5", "b", "text")
    assert(db.getCollection("c5").columns.contains("b"))
    assert(db.getCollection("c5").select("b").collect()(0).isNullAt(0))
    db.dropProperty("c5", "b")
    assert(!db.getCollection("c5").columns.contains("b"))
    intercept[IllegalArgumentException](db.dropProperty("c5", "geometry"))
  }

  test("rename/move/copy collections (geodb.sql:619-649, 1398-1436)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("orig", Seq("v" -> "integer"))
    db.insertIntoCollection("orig", Seq(7).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    db.renameCollection("orig", "renamed")
    assert(!db.collectionExists("orig") && db.collectionExists("renamed"))
    db.copyCollection("renamed", "copied")
    assert(db.getCollection("copied").count() == 1)
    db.createDatabase("otherdb")
    db.moveCollection("copied", "otherdb")
    assert(db.collectionExists("copied", Some("otherdb")))
    assert(!db.collectionExists("copied"))
  }

  test("databases lifecycle (geodb.sql:167-214)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createDatabase("mydb")
    assert(db.databaseExists("mydb"))
    assert(db.getMyDatabases.contains("mydb"))
    db.createCollection("t", database = Some("mydb"))
    db.truncateDatabase("mydb")
    assert(!db.databaseExists("mydb"))
  }

  test("ACL: grants, publish, groups (§2.11)") {
    val wh = tmpDir("graft-wh")
    val owner = new GeoDb(spark, wh, "alice")
    owner.createCollection("c", Seq("v" -> "integer"))
    val other = new GeoDb(spark, wh, "bob")
    intercept[IllegalArgumentException](other.getCollection("c", database = Some("alice")))
    owner.grantAccessToCollection("c", "bob")
    assert(other.getCollection("c", database = Some("alice")).count() == 0)
    assert(other.userAllowed("alice", "c"))
    owner.revokeAccessFromCollection("c", "bob")
    intercept[IllegalArgumentException](other.getCollection("c", database = Some("alice")))
    // publish-to-PUBLIC
    owner.publishCollection("c")
    assert(other.getCollection("c", database = Some("alice")).count() == 0)
    owner.unpublishCollection("c")
    // groups
    owner.createGroup("team")
    owner.addUserToGroup("bob", "team")
    owner.publishCollectionToGroup("c", "team")
    assert(other.getMyGroups == Seq("team"))
    assert(other.getCollection("c", database = Some("alice")).count() == 0)
    assert(owner.getAccessRights("c")("team") == Seq("SELECT"))
  }

  test("event log records and filters (geodb.sql:98-140)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("evc", Seq("v" -> "integer"))
    db.insertIntoCollection("evc", Seq(1).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    val log = db.getEventLog()
    // reference event vocabulary (geodb.py:91-117)
    assert(log.filter($"event_type" === graft.meta.EventType.Created).count() == 1)
    assert(log.filter($"event_type" === graft.meta.EventType.RowsAdded).count() == 1)
    assert(db.getEventLog("created%", Some("evc")).count() == 1)
    assert(db.getEventLog("created%", Some("nope")).count() == 0)
    assert(graft.meta.EventType.All.size == 26)
  }

  test("typed STAC value classes: providers/links/assets (metadata.py:55-330)") {
    import graft.meta.Stac
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("stac", Seq("v" -> "integer"))
    db.addProvider("stac", Stac.Provider("ACME", "maps", Seq("producer", "host")))
    db.addLink("stac", Stac.Link("self", "https://example.org/stac"))
    db.addAsset("stac", "thumbnail", Stac.Asset("https://example.org/t.png",
      mediaType = "image/png"))
    db.setItemAsset("stac", "data", Stac.ItemAsset(title = "Data"))
    val md = db.getMetadata("stac")
    val providers = md("providers").asInstanceOf[Seq[Map[String, Any]]]
    assert(providers.head("name") == "ACME")
    assert(md("links").asInstanceOf[Seq[Map[String, Any]]].head("rel") == "self")
    assert(md("assets").asInstanceOf[Map[String, Any]].contains("thumbnail"))
    assert(md("item_assets").asInstanceOf[Map[String, Any]].contains("data"))
    // invalid provider role refused (geodb.sql:1691 enum)
    intercept[IllegalArgumentException](Stac.Provider("X", roles = Seq("owner")))
  }

  test("nested STAC upsert: update/remove individual list entries (geodb.sql:1869-2036)") {
    import graft.meta.Stac
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("stac2", Seq("v" -> "integer"))
    db.addProvider("stac2", Stac.Provider("ACME", "maps"))
    db.addProvider("stac2", Stac.Provider("Other", "tiles"))
    db.addLink("stac2", Stac.Link("self", "https://example.org/a"))
    db.addAsset("stac2", "thumb", Stac.Asset("https://example.org/t.png"))
    // field-wise typed update of one provider, keyed by name
    db.updateProvider("stac2", "ACME", Stac.Provider("ACME", "better maps"))
    val provs = db.getMetadata("stac2")("providers").asInstanceOf[Seq[Map[String, Any]]]
    assert(provs.size == 2)
    assert(provs.find(_("name") == "ACME").get("description") == "better maps")
    // update of a missing entry is an error, not an append
    intercept[IllegalArgumentException](
      db.updateProvider("stac2", "nope", Stac.Provider("nope")))
    // removals
    db.removeProvider("stac2", "Other")
    assert(db.getMetadata("stac2")("providers")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("name")) == Seq("ACME"))
    db.removeLink("stac2", "self")
    assert(db.getMetadata("stac2")("links").asInstanceOf[Seq[Any]].isEmpty)
    db.removeAsset("stac2", "thumb")
    assert(db.getMetadata("stac2")("assets").asInstanceOf[Map[String, Any]].isEmpty)
    // scalar field unset + typed get
    db.setMetadataField("stac2", "title", "T")
    assert(db.getMetadataField("stac2", "title").contains("T"))
    db.unsetMetadataField("stac2", "title")
    assert(db.getMetadataField("stac2", "title").isEmpty)
  }

  test("STAC metadata get/set + spatial extent normalize (§1.4)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("mc", Seq("v" -> "integer"))
    db.insertIntoCollection("mc", Seq(1).toDF("v")
      .withColumn("geometry", lit("POINT(10 20)")))
    val md = db.getMetadata("mc")
    assert(md("stac_version") == "1.1.0")
    assert(md("id") == "geodb_user_mc")
    // computed extent from data (metadata.py:371-380)
    val bbox = md("extent").asInstanceOf[Map[String, Any]]("spatial")
      .asInstanceOf[Map[String, Any]]("bbox").asInstanceOf[Seq[Seq[Double]]].head
    assert(bbox == Seq(10.0, 20.0, 10.0, 20.0))
    db.setMetadataField("mc", "title", "My collection")
    assert(db.getMetadata("mc")("title") == "My collection")
    // 3857 extent is normalized to 4326
    db.setSpatialExtent("mc", (0.0, 0.0, 20037508.342789244, 20048966.1), 3857)
    val bb2 = db.getMetadata("mc")("extent").asInstanceOf[Map[String, Any]]("spatial")
      .asInstanceOf[Map[String, Any]]("bbox").asInstanceOf[Seq[Seq[Double]]].head
    assert(math.abs(bb2(2) - 180.0) < 1e-6)
  }

  test("getCollectionPg: fragments, group, offset-requires-limit quirk") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("pgc", Seq("raba_id" -> "integer", "d_od" -> "date"))
    val df = Seq((1410, "2019-03-26"), (1410, "2019-03-26"), (7000, "2019-02-25"))
      .toDF("raba_id", "d_od").withColumn("d_od", to_date($"d_od"))
      .withColumn("geometry", lit("POINT(0 0)"))
    db.insertIntoCollection("pgc", df)
    // canonical grouped aggregate (geodb.py:1919-1920)
    val agg = db.getCollectionPg("pgc",
      select = "COUNT(d_od) as ct, raba_id",
      group = Some("raba_id"), order = Some("raba_id"))
    assert(agg.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((2L, 1410), (1L, 7000)))
    // where + cast dialect rewrite
    assert(db.getCollectionPg("pgc", where = Some("raba_id=1410")).count() == 2)
    // offset without limit is ignored (geodb.sql:1161-1167)
    assert(db.getCollectionPg("pgc", order = Some("id"), offset = Some(2)).count() == 3)
    assert(db.getCollectionPg("pgc", order = Some("id"), limit = Some(2),
      offset = Some(2)).count() == 1)
  }

  test("bbox CRS transform applied when bboxCrs differs (geodb.py:1633-1637)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("geo4326", crs = 4326)
    val df = Seq("POINT(10 20)", "POINT(100 40)").toDF("geometry")
    db.insertIntoCollection("geo4326", df)
    // query in 3857 covering lon/lat (0..50, 0..30) -> only first point
    val (mnx, mny, mxx, mxy) = (0.0, 0.0,
      5565974.539663679, 3503549.843504374) // 50,30 in mercator
    val res = db.getCollectionByBbox("geo4326", (mnx, mny, mxx, mxy),
      "contains", 3857)
    assert(res.count() == 1)
  }

  test("empty-result contract (geodb.py:1883) when enabled") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("ec", Seq("v" -> "integer"))
    db.strictEmptyContract = true
    val res = db.getCollection("ec", "v=eq.42")
    assert(res.columns.toSeq == Seq("Empty Result"))
    assert(res.count() == 0)
  }

  test("index lifecycle incl. duplicate-index error (geodb.sql:1441-1510)") {
    val db = landUseDb()
    val name = db.createIndex("land_use") // geometry -> GIST analog
    assert(name == "idx_geodb_user_land_use_geometry")
    assert(db.showIndexes("land_use") == Seq(name))
    // duplicate index refused (test_sql_functions.py:448-480)
    intercept[IllegalArgumentException](db.createIndex("land_use"))
    // data survives the layout rewrite; golden query still answers
    val res = db.getCollectionByBbox("land_use",
      (452750.0, 88909.549, 464000.0, 102486.299), "contains", 3794)
    assert(res.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
    // btree analog on a property; 63-char trim
    val db2 = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db2.createCollection("c" * 80, Seq("v" -> "integer"))
    val long = db2.createIndex("c" * 80, "v")
    assert(long.length == 63)
    db.dropIndex("land_use", "geometry")
    assert(db.showIndexes("land_use").isEmpty)
    intercept[IllegalArgumentException](db.dropIndex("land_use", "geometry"))
  }

  test("quadkey index layout: prefix-range pruning, DML maintenance, refusals") {
    import spark.implicits._
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("qkpts", Seq("tag" -> "integer")) // 4326
    val pts = (0 until 300).map { i =>
      (s"POINT(${(i * 7) % 160 - 80} ${(i * 13) % 120 - 60})", i)
    }.toDF("geometry", "tag")
    db.insertIntoCollection("qkpts", pts)
    val bbox = (-40.0, -30.0, 40.0, 30.0)
    val before = db.getCollectionByBbox("qkpts", bbox, "contains")
      .collect().map(_.getAs[Int]("tag")).sorted.toSeq
    assert(before.nonEmpty)
    val name = db.createIndex("qkpts", method = "quadkey", zoom = 8)
    assert(name == "idx_geodb_user_qkpts_geometry_qk8")
    // same rows after the layout rewrite, and the _qk prefix ranges
    // reach the parquet scan as pushed string filters
    val q = db.getCollectionByBbox("qkpts", bbox, "contains")
    assert(q.collect().map(_.getAs[Int]("tag")).sorted.toSeq === before)
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("_qk"), s"no _qk predicate in plan:\n$phys")
    // the prefix ranges must reach the parquet scan (the display string
    // truncates PushedFilters — read the scan node's metadata instead)
    val scan = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PushedFilters").contains("_qk"),
      s"_qk range not pushed to the scan: ${scan.metadata("PushedFilters")}")
    // intersects mode never uses the centroid key (unsound for big geoms)
    val qi = db.getCollectionByBbox("qkpts", bbox, "intersects")
    assert("_qk#\\d+ >=".r.findFirstIn(
      qi.queryExecution.optimizedPlan.toString).isEmpty)
    // DML after the index: the layout column is maintained, results stay right
    db.insertIntoCollection("qkpts",
      Seq(("POINT(1 1)", 9001), ("POINT(79 59)", 9002)).toDF("geometry", "tag"))
    val after = db.getCollectionByBbox("qkpts", bbox, "contains")
      .collect().map(_.getAs[Int]("tag")).sorted.toSeq
    assert(after === (before :+ 9001).sorted)
    db.updateCollection("qkpts", Map("tag" -> 9003), "tag=eq.9002")
    assert(db.getCollection("qkpts", "tag=eq.9003").count() == 1)
    // second geometry layout refused both ways
    intercept[IllegalArgumentException](db.createIndex("qkpts"))
    intercept[IllegalArgumentException](
      db.createIndex("qkpts", method = "quadkey", zoom = 10))
    // drop restores the plain path; rows unchanged
    db.dropIndex("qkpts", "geometry_qk8")
    assert(db.showIndexes("qkpts").isEmpty)
    val q2 = db.getCollectionByBbox("qkpts", bbox, "contains")
    assert("_qk#\\d+ >=".r.findFirstIn(
      q2.queryExecution.optimizedPlan.toString).isEmpty)
    assert(q2.collect().map(_.getAs[Int]("tag")).sorted.toSeq === after)
    // refusals: projected collection, bad method, polar row at build
    db.createCollection("qkm", Seq("v" -> "integer"), crs = 3857)
    intercept[IllegalArgumentException](
      db.createIndex("qkm", method = "quadkey"))
    intercept[IllegalArgumentException](
      db.createIndex("qkpts", method = "rtree"))
    db.createCollection("qkpolar", Seq("v" -> "integer"))
    db.insertIntoCollection("qkpolar",
      Seq(("POINT(10 89)", 1)).toDF("geometry", "v"))
    val e = intercept[Exception](
      db.createIndex("qkpolar", method = "quadkey", zoom = 6))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("Mercator")), s"got ${msgs(e)}")
  }

  test("getCollectionByMask: L-shape polygon, mask-cover pruning, pointsOnly, refusals") {
    import spark.implicits._
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("mk", Seq("tag" -> "integer"))
    val pts = (0 until 400).map { i =>
      (s"POINT(${(i * 7) % 160 - 80} ${(i * 13) % 120 - 60})", i)
    }.toDF("geometry", "tag")
    db.insertIntoCollection("mk", pts)
    // L: vertical arm x [-30.5, -0.5] y [-35.5, 40.5]; horizontal arm
    // x [-30.5, 40.5] y [-35.5, -10.5] (half-integer edges: no lattice
    // point on a boundary)
    val l = "POLYGON((-30.5 -35.5, 40.5 -35.5, 40.5 -10.5, -0.5 -10.5, " +
      "-0.5 40.5, -30.5 40.5, -30.5 -35.5))"
    def inL(x: Int, y: Int) =
      (x >= -30 && x <= 40 && y >= -35 && y <= -11) ||
      (x >= -30 && x <= -1 && y >= -35 && y <= 40)
    val want = (0 until 400).filter(i =>
      inL((i * 7) % 160 - 80, (i * 13) % 120 - 60)).toSeq
    def got(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(_.getAs[Int]("tag")).sorted.toSeq
    // unindexed: plain envelope prefilter path
    assert(got(db.getCollectionByMask("mk", l)) === want)
    db.createIndex("mk", method = "quadkey", zoom = 8)
    // hull cover (default) and tight mask cover (pointsOnly) both exact
    val qHull = db.getCollectionByMask("mk", l)
    val qMask = db.getCollectionByMask("mk", l, pointsOnly = true)
    assert(got(qHull) === want && got(qMask) === want)
    // the _qk ranges reach the scan in both
    for (q <- Seq(qHull, qMask)) {
      val scan = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.metadata("PushedFilters").contains("_qk"))
    }
    // pointsOnly: the rule's envelope conjuncts plus the engine's own
    // TIGHT cover of the mask (not the rule's hull cover)
    val maskPushed = qMask.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head.metadata("PushedFilters")
    assert(Seq("GreaterThanOrEqual(_bbox_minx,-30.5)", "LessThanOrEqual(_bbox_maxx,40.5)",
      "GreaterThanOrEqual(_bbox_miny,-35.5)", "LessThanOrEqual(_bbox_maxy,40.5)")
      .forall(maskPushed.contains), maskPushed)
    def qkUppers(q: org.apache.spark.sql.DataFrame): Set[String] = {
      import org.apache.spark.sql.catalyst.expressions.{Attribute, LessThanOrEqual, Literal}
      q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case LessThanOrEqual(a: Attribute, Literal(v, StringType)) if a.name == "_qk" =>
          v.toString
      })).toSet
    }
    def ranges(cov: Seq[String]) = cov.map(p => p + "3" * (8 - p.length)).toSet
    val lGeom = GeoOps.read(GeoOps.geomFromText(
      org.apache.spark.unsafe.types.UTF8String.fromString(l)))
    val tight = ranges(graft.core.Tiles.coverGeometry(lGeom, 8))
    val hull = ranges(graft.core.Tiles.coverGeometry(lGeom.convexHull(), 8))
    assert(tight != hull)
    assert(qkUppers(qMask) === tight)
    assert(qkUppers(qHull) === hull)
    // intersects mode keeps only the envelope prefilter (centroid key
    // unsound for big geometries)
    val qi = db.getCollectionByMask("mk", l, "intersects")
    assert("_qk#\\d+ >=".r.findFirstIn(
      qi.queryExecution.optimizedPlan.toString).isEmpty)
    assert(got(qi) === want) // points: intersects == contains here
    // where-compose and limit ride along
    assert(got(db.getCollectionByMask("mk", l, where = Some("tag < 100"))) ===
      want.filter(_ < 100))
    // pointsOnly misuse: a surviving non-point refuses loudly
    db.createCollection("mkpoly", Seq("tag" -> "integer"))
    db.insertIntoCollection("mkpoly",
      Seq(("POLYGON((-20 -30, -19 -30, -19 -29, -20 -29, -20 -30))", 1))
        .toDF("geometry", "tag"))
    val e2 = intercept[Exception](
      db.getCollectionByMask("mkpoly", l, pointsOnly = true).collect())
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    assert(msgs2(e2).exists(_.contains("non-POINT")))
    // count twin agrees
    assert(db.countCollectionByMask("mk", l) === want.size.toLong)
    assert(db.countCollectionByMask("mk", l, where = Some("tag < 100")) ===
      want.count(_ < 100).toLong)
    // non-areal mask refused
    intercept[IllegalArgumentException](
      db.getCollectionByMask("mk", "LINESTRING(0 0, 1 1)"))
    intercept[IllegalArgumentException](
      db.getCollectionByMask("mk", "POLYGON EMPTY"))
  }

  test("bbox and mask reads: the optimizer rule's prefilter per mode, where-composition and layout") {
    import spark.implicits._
    val rect = "POLYGON((-40.5 -30.5, 40.5 -30.5, 40.5 30.5, -40.5 30.5, -40.5 -30.5))"
    val l = "POLYGON((-30.5 -35.5, 40.5 -35.5, 40.5 -10.5, -0.5 -10.5, " +
      "-0.5 40.5, -30.5 40.5, -30.5 -35.5))"
    // points, small boxes and segments on the integer lattice (off every
    // half-integer query edge), plus rows equal to / touching each query
    val rows = (0 until 300).map { i =>
      (s"POINT(${(i * 7) % 160 - 80} ${(i * 13) % 120 - 60})", i)
    } ++ (300 until 400).map { i =>
      val (x, y) = ((i * 11) % 160 - 80, (i * 17) % 120 - 60)
      (s"POLYGON(($x $y, ${x + 3} $y, ${x + 3} ${y + 2}, $x ${y + 2}, $x $y))", i)
    } ++ (400 until 450).map { i =>
      val (x, y) = ((i * 11) % 160 - 80, (i * 17) % 120 - 60)
      (s"LINESTRING($x $y, ${x + 15} ${y + 7})", i)
    } ++ Seq((rect, 450), (l, 451), ("LINESTRING(40.5 -5, 40.5 5)", 452),
      ("LINESTRING(-0.5 20, -0.5 30)", 453))
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    for (c <- Seq("pfh", "pfq")) {
      db.createCollection(c, Seq("tag" -> "integer"))
      db.insertIntoCollection(c, rows.toDF("geometry", "tag"))
    }
    db.createIndex("pfh")
    db.createIndex("pfq", method = "quadkey", zoom = 8)
    // the no-prefilter reference: the engine's own predicate per row
    val all = db.getCollection("pfh").select("tag", "geometry").collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1)))
    def wkb(wkt: String) = GeoOps.geomFromText(
      org.apache.spark.unsafe.types.UTF8String.fromString(wkt))
    val rectWkb = GeoOps.makeEnvelope(-40.5, -30.5, 40.5, 30.5)
    val modes = Seq("contains", "within", "intersects", "touches", "overlaps",
      "crosses", "disjoint", "equals")
    val wheres = Seq((None, "AND"), (Some("tag < 200"), "AND"), (Some("tag < 200"), "OR"))
    for {
      c <- Seq("pfh", "pfq")
      (path, q, env) <- Seq(("bbox", rectWkb, (-40.5, -30.5, 40.5, 30.5)),
        ("mask", wkb(l), (-30.5, -35.5, 40.5, 40.5)))
      mode <- modes
      (where, op) <- wheres
    } {
      val ctx = s"$c $path $mode where=$where op=$op"
      val df = path match {
        case "bbox" => db.getCollectionByBbox(c, env, mode, where = where, op = op)
        case _ => db.getCollectionByMask(c, l, mode, where = where, op = op)
      }
      val pushed = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metadata("PushedFilters")
      val (mnx, mny, mxx, mxy) = env
      val containment = Seq(s"GreaterThanOrEqual(_bbox_minx,$mnx)",
        s"LessThanOrEqual(_bbox_maxx,$mxx)", s"GreaterThanOrEqual(_bbox_miny,$mny)",
        s"LessThanOrEqual(_bbox_maxy,$mxy)")
      val overlap = Seq(s"LessThanOrEqual(_bbox_minx,$mxx)",
        s"GreaterThanOrEqual(_bbox_maxx,$mnx)", s"LessThanOrEqual(_bbox_miny,$mxy)",
        s"GreaterThanOrEqual(_bbox_maxy,$mny)")
      val conj = op == "AND"
      if (!conj || mode == "disjoint")
        assert(!pushed.contains("_bbox_"), s"$ctx: unexpected envelope $pushed")
      else if (mode == "contains" || mode == "equals")
        assert(containment.forall(pushed.contains), s"$ctx: $pushed")
      else assert(overlap.forall(pushed.contains), s"$ctx: $pushed")
      val qk = c == "pfq" && conj && (mode == "contains" || mode == "equals")
      assert(pushed.contains("_qk") == qk, s"$ctx: _qk expected=$qk in $pushed")
      val id = GeoOps.modeId(mode)
      val want = all.filter { case (tag, g) =>
        val w = where.isDefined && tag < 200
        val sp = GeoOps.relate(id, q, g)
        if (where.isEmpty) sp else if (conj) w && sp else w || sp
      }.map(_._1).sorted.toSeq
      assert(df.collect().map(_.getAs[Int]("tag")).sorted.toSeq === want, ctx)
    }
  }

  test("unlimited spatial reads sort one partition: two jobs, no range sort, the parent plan's rows and order") {
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      (s"POINT(${(i * 7) % 160 - 80} ${(i * 13) % 120 - 60})", i)
    } ++ (300 until 400).map { i =>
      val (x, y) = ((i * 11) % 160 - 80, (i * 17) % 120 - 60)
      (s"POLYGON(($x $y, ${x + 3} $y, ${x + 3} ${y + 2}, $x ${y + 2}, $x $y))", i)
    } ++ (400 until 450).map { i =>
      val (x, y) = ((i * 11) % 160 - 80, (i * 17) % 120 - 60)
      (s"LINESTRING($x $y, ${x + 15} ${y + 7})", i)
    } :+ (("POLYGON((-40.5 -30.5, 40.5 -30.5, 40.5 30.5, -40.5 30.5, -40.5 -30.5))", 450))
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    for (c <- Seq("soh", "soq")) {
      db.createCollection(c, Seq("tag" -> "integer"))
      // several input partitions, so the read's scan has several tasks
      db.insertIntoCollection(c, rows.toDF("geometry", "tag").repartition(4))
    }
    db.createIndex("soh")
    db.createIndex("soq", method = "quadkey", zoom = 8)
    val env = (-40.5, -30.5, 40.5, 30.5)
    val rect = GeoOps.makeEnvelope(env._1, env._2, env._3, env._4)
    val modes = Seq("contains", "within", "intersects", "touches", "overlaps",
      "crosses", "disjoint", "equals")
    def idTags(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("tag"))).toSeq
    def rangeSorted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.toLowerCase.contains("rangepartitioning")
    for {
      c <- Seq("soh", "soq")
      mode <- modes
      (limit, offset) <- Seq((None, None), (Some(40), None), (Some(40), Some(15)))
    } {
      val ctx = s"$c $mode limit=$limit offset=$offset"
      // the parent plan: a global ORDER BY id, then offset/limit
      val sorted = db.readCollection("geodb_user", c)
        .filter(graft.functions.GeoFunctions.st_relation(mode, lit(rect), col("geometry")))
        .orderBy("id")
      val parent = limit.fold(sorted)(l => offset.fold(sorted)(sorted.offset).limit(l))
      val want = idTags(parent)
      val df = db.getCollectionByBbox(c, env, mode, limit = limit, offset = offset)
      if (limit.isEmpty) {
        assert(rangeSorted(sorted), s"$ctx: the parent plan no longer range-sorts")
        assert(!rangeSorted(df), s"$ctx:\n${df.queryExecution.executedPlan}")
        val (got, jobs) = countJobs(idTags(df))
        assert(got === want, ctx)
        // one shuffle-map job for the parallel scan, one for the sort task
        // (an empty result ends after the map job)
        if (got.nonEmpty) assert(jobs == 2, s"$ctx: $jobs jobs")
        else assert(jobs <= 2, s"$ctx: $jobs jobs")
      } else assert(idTags(df) === want, ctx)
    }
    assert(idTags(db.getCollectionByBbox("soh", env, "intersects")).size > 100)
  }

  test("after-scan filter order: caller conjuncts and guard, then envelope, then st_<mode>") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
    import org.apache.spark.sql.execution.FilterExec
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("ord", Seq("tag" -> "integer"))
    db.insertIntoCollection("ord", (0 until 400).map { i =>
      (s"POINT(${(i * 7) % 160 - 80} ${(i * 13) % 120 - 60})", i)
    }.toDF("geometry", "tag"))
    db.createIndex("ord", method = "quadkey", zoom = 8)
    val l = "POLYGON((-30.5 -35.5, 40.5 -35.5, 40.5 -10.5, -0.5 -10.5, " +
      "-0.5 40.5, -30.5 40.5, -30.5 -35.5))"
    object split extends PredicateHelper {
      def apply(e: Expression): Seq[Expression] = splitConjunctivePredicates(e)
    }
    def conjuncts(df: org.apache.spark.sql.DataFrame): Seq[String] =
      split(df.queryExecution.sparkPlan.collectFirst { case f: FilterExec => f }
        .getOrElse(fail(s"no FilterExec in ${df.queryExecution.sparkPlan}")).condition)
        .map(_.toString)
    def order(cs: Seq[String], before: String => Boolean): Unit = {
      val first = cs.indexWhere(before)
      val env = cs.indexWhere(_.contains("_bbox_"))
      val lastEnv = cs.lastIndexWhere(_.contains("_bbox_"))
      val st = cs.indexWhere(_.contains("st_contains"))
      assert(first >= 0 && first < env && lastEnv < st, cs.mkString("\n"))
    }
    val mask = db.getCollectionByMask("ord", l, pointsOnly = true)
    order(conjuncts(mask), _.contains("raise_error"))
    val where = db.getCollectionByBbox("ord", (-40.5, -30.5, 40.5, 30.5), where = Some("tag < 200"))
    order(conjuncts(where), _.contains("tag"))
    // rows as before: the pointsOnly read returns exactly the L's points
    def inL(x: Int, y: Int) =
      (x >= -30 && x <= 40 && y >= -35 && y <= -11) ||
      (x >= -30 && x <= -1 && y >= -35 && y <= 40)
    assert(mask.collect().map(_.getAs[Int]("tag")).sorted.toSeq === (0 until 400).filter(i =>
      inL((i * 7) % 160 - 80, (i * 13) % 120 - 60)))
  }

  test("EnvelopePrefilter injects _qk prefix ranges for arbitrary user filters") {
    import spark.implicits._
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("uq", Seq("tag" -> "integer"))
    val pts = (0 until 400).map { i =>
      (s"POINT(${(i * 7) % 160 - 80} ${(i * 13) % 120 - 60})", i)
    }.toDF("geometry", "tag")
    db.insertIntoCollection("uq", pts)
    db.createIndex("uq", method = "quadkey", zoom = 8)
    val l = "POLYGON((-30.5 -35.5, 40.5 -35.5, 40.5 -10.5, -0.5 -10.5, " +
      "-0.5 40.5, -30.5 40.5, -30.5 -35.5))"
    def inL(x: Int, y: Int) =
      (x >= -30 && x <= 40 && y >= -35 && y <= -11) ||
      (x >= -30 && x <= -1 && y >= -35 && y <= 40)
    val want = (0 until 400).filter(i =>
      inL((i * 7) % 160 - 80, (i * 13) % 120 - 60)).toSeq
    import graft.functions.GeoFunctions._
    // a RAW DataFrame filter the engine never saw — the optimizer rule
    // alone must find the layout column (via the metadata zoom) and
    // inject the hull-cover prefix ranges below the user projection
    val q = db.getCollection("uq")
      .filter(call_function("st_within", col("geometry"),
        st_geomfromtext(lit(l))))
    assert(q.collect().map(_.getAs[Int]("tag")).sorted.toSeq === want)
    val scan = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PushedFilters").contains("_qk"),
      s"user-filter _qk injection missing: ${scan.metadata("PushedFilters")}")
    // st_contains(literal, geom) — the other containment direction
    val q2 = db.getCollection("uq")
      .filter(call_function("st_contains", st_geomfromtext(lit(l)), col("geometry")))
    assert(q2.collect().map(_.getAs[Int]("tag")).sorted.toSeq === want)
    assert("_qk#\\d+ >=".r.findFirstIn(
      q2.queryExecution.optimizedPlan.toString).isDefined)
    // intersects direction must NOT use the centroid key
    val q3 = db.getCollection("uq")
      .filter(call_function("st_intersects", col("geometry"), st_geomfromtext(lit(l))))
    assert("_qk#\\d+ >=".r.findFirstIn(
      q3.queryExecution.optimizedPlan.toString).isEmpty)
    assert(q3.collect().map(_.getAs[Int]("tag")).sorted.toSeq === want)
    // raw SQL over the registered temp view gets the same treatment
    db.registerTempViews()
    val q4 = spark.sql(
      s"SELECT tag FROM geodb_user_uq WHERE st_within(geometry, st_geomfromtext('$l'))")
    assert(q4.collect().map(_.getInt(0)).sorted.toSeq === want)
    assert("_qk#\\d+ >=".r.findFirstIn(
      q4.queryExecution.optimizedPlan.toString).isDefined)
  }

  test("user registration + manage-subscription gating (geodb.sql:1525-1529)") {
    val wh = tmpDir("graft-wh")
    val admin = new GeoDb(spark, wh, "admin")
    admin.registerUser("limited", "freetrial")
    assert(admin.userExists("limited"))
    val lim = new GeoDb(spark, wh, "limited")
    assert(lim.mySubscription == "freetrial")
    intercept[IllegalArgumentException](lim.createGroup("nope"))
    admin.createGroup("ok") // unregistered -> default manage
    admin.dropUser("limited")
    assert(!admin.userExists("limited"))
  }

  test("capabilities, group users, database-to-group publish, bbox transform helper") {
    val wh = tmpDir("graft-wh")
    val owner = new GeoDb(spark, wh, "alice")
    owner.createCollection("cap1", Seq("v" -> "integer"))
    assert(owner.capabilities("alice/cap1")("v") == "int")
    assert(owner.capabilities("alice/cap1").contains("geometry"))
    owner.createGroup("g1")
    owner.addUserToGroup("bob", "g1")
    assert(owner.getGroupUsers("g1").sorted == Seq("alice", "bob"))
    owner.publishDatabaseToGroup("alice", "g1")
    val bob = new GeoDb(spark, wh, "bob")
    assert(bob.userAllowed("alice", "cap1")) // wildcard grant covers all colls
    owner.unpublishDatabaseFromGroup("alice", "g1")
    assert(!bob.userAllowed("alice", "cap1"))
    // lat/lon ordering rules for EPSG:4326 (test_geodb.py:1082-1158 analog)
    val m = owner.transformBboxCrs((10.0, 20.0, 30.0, 40.0), 4326, 3857)
    // input is (lat,lon,lat,lon): x from lon=20, y from lat=10
    assert(math.abs(m._1 - 2226389.8158654715) < 1e-3)
    val back = owner.transformBboxCrs(m, 3857, 4326)
    assert(math.abs(back._1 - 10.0) < 1e-9 && math.abs(back._2 - 20.0) < 1e-9)
    assert(owner.version == "0.1.0" && owner.defaultDatabase == "alice")
  }

  test("temp views expose {db}_{collection} naming to raw spark.sql") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("viewed", Seq("v" -> "integer"))
    db.insertIntoCollection("viewed", Seq(1, 2).toDF("v")
      .withColumn("geometry", lit("POINT(3 4)")))
    db.registerTempViews()
    val r = spark.sql(
      "SELECT count(*) AS n, max(st_x(geometry)) AS mx FROM geodb_user_viewed").head()
    assert(r.getLong(0) == 2L && r.getDouble(1) == 3.0)
  }

  test("usage accounting (geodb.sql:1028-1120)") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("u1", Seq("v" -> "integer"))
    db.insertIntoCollection("u1", Seq(1, 2, 3).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    val bytes = db.getMyUsage().asInstanceOf[Long]
    assert(bytes > 0)
    assert(db.getMyUsage(pretty = true).asInstanceOf[String].nonEmpty)
  }

  test("commit lock: a crashed writer's stale lock is broken atomically") {
    val wh = tmpDir("stale-wh")
    val db = new GeoDb(spark, wh, "geodb_user")
    db.eventLogging = false
    db.createCollection("c", Seq("v" -> "integer"))
    // plant a stale lock (mtime 1 h in the past — well past the 10-min
    // stale threshold), as a crashed writer would leave behind
    val lock = java.nio.file.Paths.get(wh, "data", "geodb_user", "c", ".commit.lock")
    java.nio.file.Files.createFile(lock)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000L))
    // the next commit must break the stale lock (rename-to-tombstone) and
    // proceed instead of waiting out the 120 s acquire deadline
    val t0 = System.nanoTime()
    db.insertIntoCollection("c", Seq(1).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    assert((System.nanoTime() - t0) / 1e9 < 100.0, "stale lock not broken")
    assert(db.countCollection("c") == 1L)
    // no lock or tombstone debris survives the commit
    val debris = new java.io.File(s"$wh/data/geodb_user/c").listFiles
      .map(_.getName).filter(_.startsWith(".commit.lock"))
    assert(debris.isEmpty, s"lock debris left: ${debris.mkString(", ")}")
  }

  test("spatialJoinCollections: a_/b_ prefixed pairs, ACL enforced on both sides") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    db.createCollection("za", Seq("k" -> "int8"))
    db.insertIntoCollection("za", Seq(1L, 2L).toDF("k").withColumn("geometry",
      concat(lit("POLYGON(("), ($"k" * 10).cast("string"), lit(" 0, "),
        ($"k" * 10 + 8).cast("string"), lit(" 0, "),
        ($"k" * 10 + 8).cast("string"), lit(" 8, "),
        ($"k" * 10).cast("string"), lit(" 8, "),
        ($"k" * 10).cast("string"), lit(" 0))"))))
    db.createCollection("zb", Seq("m" -> "int8"))
    db.insertIntoCollection("zb", Seq(1L).toDF("m").withColumn("geometry",
      lit("POLYGON((15 5, 25 5, 25 15, 15 15, 15 5))")))
    val out = db.spatialJoinCollections("za", "zb", "intersects", cellSize = 10.0)
    assert(out.columns.contains("a_k") && out.columns.contains("b_m") &&
      out.columns.contains("a_geometry") && out.columns.contains("b_geometry"))
    // zone k=2 spans x in [20, 28] -> overlaps zb's [15, 25]; k=1 ([10,18]) touches at x=15? no: 18 > 15 -> overlaps too
    val pairs = out.select("a_k", "b_m").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 1L), (2L, 1L)))
    val mallory = new GeoDb(spark, db.warehouse, "mallory")
    val e = intercept[Exception] {
      mallory.spatialJoinCollections("za", "zb", "intersects", cellSize = 10.0,
        databaseA = Some("geodb_user"), databaseB = Some("geodb_user"))
    }
    assert(e.getMessage.contains("SELECT"))
  }

  test("spatialJoinCollections reads the stored envelope: equal to the " +
       "decoding join after every write path; EMPTY and NULL still refuse") {
    val db = new GeoDb(spark, tmpDir("graft-wh"), "geodb_user")
    def rect(x: Double, y: Double, w: Double, h: Double) =
      s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y))"
    db.createCollection("c", Seq("k" -> "int8"))
    db.insertIntoCollection("c", (1 to 30).map { i =>
      (i.toLong, rect((i * 7) % 10 * 0.4, (i * 3) % 10 * 0.4, 0.5 + i % 3 * 0.3, 0.4))
    }.toDF("k", "geometry"))
    val combos = for (m <- Seq("intersects", "contains", "within"); salt <- Seq(0, 3))
      yield (m, salt)
    // every (mode, salt) pair's rows in one collect: tag, ids, full-row hash
    def bag(join: (String, Int) => org.apache.spark.sql.DataFrame): Seq[String] =
      combos.map { case (m, salt) =>
        val j = join(m, salt)
        j.select(lit(s"$m/$salt"), col("a_id"), col("b_id"),
          xxhash64(struct(j.columns.map(col).toIndexedSeq: _*)))
      }.reduce(_ union _).collect().map(_.mkString("|")).sorted.toSeq
    def check(step: String): Unit = {
      val c = db.readCollection(db.whoami, "c")
      def side(p: String) = c.select(c.columns.map(n => col(n).as(p + n)).toIndexedSeq: _*)
      val stored = db.spatialJoinCollections("c", "c", cellSize = 0.5)
      assert(stored.columns.toSeq === c.columns.map("a_" + _).toSeq ++ c.columns.map("b_" + _))
      val got = bag((m, salt) => db.spatialJoinCollections("c", "c", m, cellSize = 0.5,
        saltCells = salt))
      val want = bag((m, salt) => graft.core.SpatialJoin.spatialJoin(side("a_"), "a_geometry",
        side("b_"), "b_geometry", m, cellSize = 0.5, saltCells = salt))
      assert(got.size > 30 && got === want, s"after $step")
    }
    check("insert")
    // binning reads the stored `_bbox_*`: no WKB decode anywhere in the plan
    val plan = db.spatialJoinCollections("c", "c", cellSize = 0.5).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(plan.collect { case p => p.expressions.map(_.collect {
      case e: graft.functions.StEnvelopeBounds => e }.size).sum }.sum === 0)
    val moved = GeoOps.geomFromText(
      org.apache.spark.unsafe.types.UTF8String.fromString(rect(3.0, 3.0, 1.0, 1.0)))
    db.updateCollection("c", Map("geometry" -> moved), "k=lt.6")
    check("update")
    db.insertIntoCollection("c", Seq((3L, 3L, rect(0.2, 3.9, 0.3, 0.3)),
      (100L, 100L, rect(3.2, 3.2, 0.2, 0.2))).toDF("id", "k", "geometry"), upsert = true)
    check("upsert")
    db.deleteFromCollection("c", "k=gt.25")
    check("delete")
    db.createIndex("c")
    check("createIndex hilbert")
    db.dropIndex("c", "geometry")
    db.createIndex("c", method = "quadkey", zoom = 8)
    check("createIndex quadkey z=8")
    def refusedWith(msg: String, coll: String): Unit = {
      val e = intercept[Exception](db.spatialJoinCollections(coll, coll, cellSize = 0.5).count())
      val texts = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(texts.exists(_.contains(msg)), s"expected '$msg', got: ${e.getMessage}")
    }
    db.insertIntoCollection("c", Seq((99L, "POLYGON EMPTY")).toDF("k", "geometry"))
    refusedWith("EMPTY geometry", "c")
    // inserts keep a NULL geometry; the join must refuse it, not drop it
    db.createCollection("n", Seq("k" -> "int8"))
    db.insertIntoCollection("n", Seq[(Long, String)]((1L, rect(0, 0, 1, 1)), (2L, null))
      .toDF("k", "geometry"))
    refusedWith("NULL geometry", "n")
  }
}
