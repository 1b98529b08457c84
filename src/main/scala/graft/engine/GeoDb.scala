package graft.engine

import graft.core.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import java.time.Instant
import java.util.UUID
import scala.collection.mutable.ArrayBuffer

import graft.catalog.{CollectionCatalog, CollectionMeta, PgTypes}
import graft.core.{GeoOps, Jsons}
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import graft.meta.{EventType, Stac}
import graft.query.{PostgrestFilter, SqlFragments}

/**
 * The engine facade — the Spark-native equivalent of the reference's
 * `GeoDBClient` (xcube-geodb geodb.py:135). Every public method corresponds
 * to an operator in SURVEY.md §2; semantics (including quirks §7.4.5) follow
 * the reference, execution is Catalyst.
 *
 * Collections are Parquet-backed with the four mandatory columns
 * (id, created_at, modified_at, geometry[WKB]) plus dynamic properties
 * (geodb.sql:291-328). Four materialized envelope stat columns
 * (_bbox_minx.., hidden from reads) are written at ingest so bbox queries
 * get Parquet row-group min/max pruning — the Spark-shaped replacement for
 * the reference's GIST index (SURVEY.md §4 R2/R3).
 */
class GeoDb(
    val spark: SparkSession,
    val warehouse: String,
    val user: String = "geodb_user") {

  val catalog = new CollectionCatalog(warehouse)
  GeoFunctions.registerAll(spark)
  // auto-inject envelope prefilters under spatial predicates (SURVEY §4 R3);
  // idempotent add for sessions not created with graft.GraftExtensions
  if (!spark.experimental.extraOptimizations.contains(graft.plans.EnvelopePrefilter))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.EnvelopePrefilter
  // constants of the after-scan filter reach generated code by reference,
  // so reads differing only in constants share one compiled class
  if (!spark.experimental.extraStrategies.contains(graft.plans.ParamFilters))
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies :+ graft.plans.ParamFilters

  /** Extra parquet writer options applied to every collection write —
    * e.g. Map("parquet.block.size" -> "8388608") to shrink row groups for
    * finer bbox-stat pruning granularity (see SCALE.md). */
  var writeOptions: Map[String, String] = Map.empty

  val mandatoryProperties = Seq("id", "created_at", "modified_at", "geometry")
  private val statCols = Seq("_bbox_minx", "_bbox_miny", "_bbox_maxx", "_bbox_maxy")
  private val PUBLIC = "PUBLIC"

  def whoami: String = user

  /** Default database = authenticated user (geodb.py:483-489). */
  def defaultDatabase: String = user

  /** Engine version (get_geodb_sql_version analog). */
  def version: String = GeoDb.Version

  private def db(database: Option[String]): String = database.getOrElse(user)

  // =========================================================================
  // Databases (§2.10 D8)
  // =========================================================================
  def createDatabase(name: String): Unit = {
    catalog.createDatabase(name, user)
    logEvent(EventType.DatabaseCreated, s"Database $name created")
  }

  def truncateDatabase(name: String): Unit = {
    requireDatabaseOwner(name)
    catalog.listCollections(name).foreach(c => dropCollection(c, Some(name)))
    catalog.dropDatabase(name)
    logEvent(EventType.DatabaseDropped, s"Database $name truncated")
  }

  def databaseExists(name: String): Boolean = catalog.databaseExists(name)

  def getMyDatabases: Seq[String] =
    catalog.databases.collect { case (n, m) if m("owner") == user => n }.toSeq.sorted

  // =========================================================================
  // Collection DDL (§2.10 D1-D6)
  // =========================================================================
  /** Mandatory columns + lowercased dynamic properties (geodb.sql:291-328). */
  def createCollection(
      collection: String,
      properties: Seq[(String, String)] = Seq.empty,
      crs: Any = 4326,
      database: Option[String] = None,
      force: Boolean = false): Unit = {
    val d = db(database)
    val srid = checkCrs(crs)
    if (!catalog.databaseExists(d)) catalog.createDatabase(d, user)
    requireDatabaseOwner(d)
    if (catalog.collectionExists(d, collection)) {
      require(force, s"collection $d/$collection exists")
      dropCollection(collection, Some(d))
    }
    val props = properties.map { case (n, t) =>
      StructField(n.toLowerCase, PgTypes.toSpark(t)) // lowercased: geodb.sql:226
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("created_at", TimestampType),
      StructField("modified_at", TimestampType),
      StructField("geometry", BinaryType)) ++ props)
    val meta = CollectionMeta(d, collection, srid, 0L, schema.toDDL,
      Instant.now.toString)
    catalog.saveMeta(meta)
    // Seed an empty parquet dir so reads/appends always see valid footers.
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withStats(schema))
      .write.mode("overwrite").parquet(catalog.dataDir(d, collection))
    logEvent(EventType.Created, s"Collection $d/$collection created")
  }

  def createCollections(colls: Map[String, Seq[(String, String)]],
                        database: Option[String] = None,
                        crs: Any = 4326, force: Boolean = false): Unit =
    colls.foreach { case (name, props) =>
      createCollection(name, props, crs, database, force)
    }

  def createCollectionIfNotExists(
      collection: String, properties: Seq[(String, String)] = Seq.empty,
      crs: Any = 4326, database: Option[String] = None): Unit =
    if (!collectionExists(collection, database))
      createCollection(collection, properties, crs, database)

  def createCollectionsIfNotExist(colls: Map[String, Seq[(String, String)]],
                                  database: Option[String] = None,
                                  crs: Any = 4326): Unit =
    colls.foreach { case (name, props) =>
      createCollectionIfNotExists(name, props, crs, database)
    }

  /** Capabilities document: every accessible collection with its schema
    * (the PostgREST OpenAPI introspection analog, geodb.py:500-513). */
  def capabilities: Map[String, Map[String, String]] =
    getMyCollections.map { case (d, c) =>
      val meta = metaOf(d, c)
      s"$d/$c" -> meta.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    }.toMap

  def dropCollection(collection: String, database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    catalog.deleteCollection(d, collection)
    setGrants(grants.filterNot(g =>
      g("database") == d && g("collection") == collection))
    // cascade: publications die with the collection (geodb.sql:371-373)
    setGsRegistry(gsRegistry.filterNot(g =>
      g("database") == d && g("collection") == collection))
    logEvent(EventType.Dropped, s"Collection $d/$collection dropped")
  }

  def dropCollections(collections: Seq[String], database: Option[String] = None): Unit =
    collections.foreach(dropCollection(_, database))

  def collectionExists(collection: String, database: Option[String] = None): Boolean =
    catalog.collectionExists(db(database), collection)

  def getMyCollections: Seq[(String, String)] =
    catalog.listAllCollections().filter { case (d, c) => allowed(d, c, "SELECT") }

  def renameCollection(collection: String, newName: String,
                       database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    moveDir(d, collection, d, newName)
    logEvent(EventType.Renamed, s"Collection $d/$collection renamed to $newName")
  }

  /** Move = rename across databases (geodb.sql:619-649). */
  def moveCollection(collection: String, toDatabase: String,
                     database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d); requireDatabaseOwner(toDatabase)
    moveDir(d, collection, toDatabase, collection)
    logEvent(EventType.Moved, s"Collection $d/$collection moved to $toDatabase")
  }

  def copyCollection(collection: String, newName: String,
                     database: Option[String] = None,
                     toDatabase: Option[String] = None): Unit = {
    val d = db(database); val td = toDatabase.getOrElse(d)
    requireAccess(d, collection, "SELECT"); requireDatabaseOwner(td)
    val meta = metaOf(d, collection)
    require(!catalog.collectionExists(td, newName), s"collection $td/$newName exists")
    catalog.saveMeta(meta.copy(database = td, collection = newName))
    spark.read.parquet(catalog.dataDir(d, collection))
      .write.mode("overwrite").parquet(catalog.dataDir(td, newName))
    logEvent(EventType.Copied, s"Collection $d/$collection copied to $td/$newName")
  }

  /** Dynamic schema evolution: old files gain the column as null on read. */
  def addProperties(collection: String, properties: Seq[(String, String)],
                    database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val meta = metaOf(d, collection)
    val schema = properties.foldLeft(meta.schema) { case (s, (n, t)) =>
      s.add(n.toLowerCase, PgTypes.toSpark(t))
    }
    catalog.saveMeta(meta.copy(schemaDdl = schema.toDDL))
    logEvent(EventType.PropertyAdded, s"Properties added to $d/$collection")
  }

  def addProperty(collection: String, name: String, propType: String,
                  database: Option[String] = None): Unit =
    addProperties(collection, Seq(name -> propType), database)

  /** Refuses mandatory columns (geodb.py:1170-1173). Rewrites data. */
  def dropProperties(collection: String, properties: Seq[String],
                     database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    properties.foreach { p =>
      require(!mandatoryProperties.contains(p.toLowerCase),
        s"Don't delete the property $p") // geodb.py:1172
    }
    withCommitLock(d, collection) {
      val meta = metaOf(d, collection)
      val keep = meta.schema.fields.filterNot(f => properties.map(_.toLowerCase).contains(f.name))
      val newSchema = StructType(keep)
      val keepStats = statCols ++ (if (qkZoomOf(meta).isDefined) Seq("_qk") else Nil)
      swapIn(d, collection, readRaw(d, collection)
        .select(((newSchema.fieldNames ++ keepStats).map(col)).toIndexedSeq: _*))
      catalog.saveMeta(meta.copy(schemaDdl = newSchema.toDDL))
    }
    logEvent(EventType.PropertyDropped, s"Properties dropped from $d/$collection")
  }

  def dropProperty(collection: String, name: String,
                   database: Option[String] = None): Unit =
    dropProperties(collection, Seq(name), database)

  def getProperties(collection: String, database: Option[String] = None): DataFrame = {
    val meta = metaOf(db(database), collection)
    val rows = meta.schema.fields.map(f => Row(f.name, f.dataType.simpleString))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(StructField("column_name", StringType),
        StructField("data_type", StringType))))
  }

  def getCollectionSrid(collection: String, database: Option[String] = None): Int =
    metaOf(db(database), collection).srid

  def getCollectionInfo(collection: String, database: Option[String] = None): CollectionMeta =
    metaOf(db(database), collection)

  // =========================================================================
  // DML (§2.9)
  // =========================================================================
  /**
   * Append rows. Engine assigns `id` (incoming id dropped unless upsert,
   * geodb.py:1499-1500) and stamps `created_at`. Geometry column may be WKB
   * binary or (E)WKT string ("SRID=n;POLYGON...", geodb.py:1401-1420).
   */
  def insertIntoCollection(collection: String, values: DataFrame,
                           upsert: Boolean = false,
                           crs: Option[Any] = None,
                           database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    withCommitLock(d, collection) {
      // meta (and so maxId) is read INSIDE the lock: concurrent inserts
      // serialize and id ranges cannot collide
      val meta = metaOf(d, collection)
      crs.foreach { c =>
        val srid = checkCrs(c)
        require(srid == meta.srid, // geodb.py:1464-1471
          s"crs $srid is not compatible with collection crs ${meta.srid}")
      }
      var in = values
      // normalize geometry to WKB
      if (in.columns.contains("geometry") &&
          in.schema("geometry").dataType == StringType) {
        in = in.withColumn("geometry",
          st_geomfromtext(regexp_replace(col("geometry"), "^[sS][rR][iI][dD]=\\d+;", "")))
      }
      if (upsert && in.columns.contains("id")) upsertById(d, collection, meta, in)
      else {
        val incoming = if (in.columns.contains("id")) in.drop("id") else in
        val withMeta = incoming
          .withColumn("created_at", current_timestamp())
          .withColumn("modified_at", lit(null).cast(TimestampType))
        val (assigned, n) =
          assignIds(alignTo(meta.schema, withMeta, keepId = false), meta.maxId)
        addStats(meta, assigned).write.options(writeOptions).mode("append")
          .parquet(catalog.dataDir(d, collection))
        catalog.saveMeta(metaOf(d, collection).copy(maxId = meta.maxId + n))
        maintainVectorIndexes(d, collection, assigned)
      }
    }
    logEvent(EventType.RowsAdded, s"Rows added to $d/$collection")
  }

  /**
   * Incremental vector-index maintenance: appended rows are assigned to
   * their EXISTING IVF cell (centroids are not retrained — the FAISS
   * add-to-index semantics) and appended to the cell-partitioned layout,
   * so appends never require an index rebuild. Copy-on-write DML
   * (update/delete/upsert) still invalidates: rebuild after those.
   */
  private def maintainVectorIndexes(d: String, c: String, newRows: DataFrame): Unit = {
    val dirPat = new HPath(s"${catalog.collectionDir(d, c)}/.vecindex-*")
    val fs = dirPat.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = Option(fs.globStatus(dirPat)).getOrElse(Array.empty)
    dirs.foreach { st =>
      val p = st.getPath.getName.stripPrefix(".vecindex-")
      if (newRows.columns.contains(p)) {
        val model = loadVecModel(s"${st.getPath.toString}/centroids.txt")
        val assigned = graft.ext.Ivf.assign(newRows.select(col("id"), col(p)), p, model)
        val rows =
          if (vecIndexFormat(st.getPath.toString) == "sq8")
            graft.ext.Similarity.quantizeInt8(assigned, p).drop(p)
          else assigned
        rows.write.mode("append").partitionBy("ivf_cell")
          .parquet(s"${st.getPath.toString}/data")
      }
    }
  }

  private def writeSmallFile(path: String, content: String): Unit = {
    val hp = new HPath(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(hp, true)
    out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Read a small control file fully; None if missing/unreadable. The one
    * shared implementation behind format markers, centroid tables, and
    * lock identity (stream closed on every path). */
  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: HPath): Option[String] =
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => None }

  /** Index storage format marker; pre-marker layouts are float32. */
  private def vecIndexFormat(dir: String): String = {
    val hp = new HPath(s"$dir/format.txt")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    readSmallFile(fs, hp).map(_.trim).getOrElse("f32")
  }

  private def loadVecModel(centroidPath: String): graft.ext.Ivf.Model = {
    val cpath = new HPath(centroidPath)
    val fs = cpath.getFileSystem(spark.sessionState.newHadoopConf())
    val text = readSmallFile(fs, cpath).getOrElse(
      throw new java.io.IOException(s"unreadable centroid table $centroidPath"))
    graft.ext.Ivf.Model(text.split("\n").map(_.split(",").map(_.toFloat)))
  }

  /** PK merge on id — PostgREST resolution=merge-duplicates (geodb.py:1505-1508).
    * Matched rows take the incoming payload's columns VERBATIM, including
    * explicit NULLs (PostgREST replaces the row's columns; a coalesce-merge
    * would silently keep old values when an update clears a field). Columns
    * absent from the incoming frame keep the existing value. */
  private def upsertById(d: String, collection: String, meta: CollectionMeta,
                         incoming: DataFrame): Unit = {
    val existing = readRaw(d, collection)
    val incCols = incoming.columns.map(_.toLowerCase).toSet
    val inc = alignTo(meta.schema, incoming, keepId = true)
      .withColumn("_inc", lit(true))
    val cols = meta.schema.fieldNames.filterNot(Seq("id", "created_at", "modified_at").contains)
    val joined = existing.alias("e").join(inc.alias("i"), Seq("id"), "full_outer")
    val merged = joined.select(
      Seq(col("id"),
        coalesce(col("e.created_at"), current_timestamp()).as("created_at"),
        when(col("i._inc") && col("e.created_at").isNotNull, current_timestamp())
          .otherwise(col("e.modified_at")).as("modified_at")) ++
      cols.map { c =>
        if (incCols.contains(c))
          when(coalesce(col("i._inc"), lit(false)), col(s"i.$c"))
            .otherwise(col(s"e.$c")).as(c)
        else col(s"e.$c").as(c)
      }: _*)
    // incoming max BEFORE the swap — merged's plan reads the pre-swap files
    val incMax = Option(inc.agg(max("id")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    swapIn(d, collection, addStats(meta, alignTo(meta.schema, merged, keepId = true)))
    catalog.saveMeta(metaOf(d, collection).copy(maxId = math.max(meta.maxId, incMax)))
  }

  /** PATCH-by-filter; stamps modified_at (trigger semantics, geodb.sql:281-288). */
  def updateCollection(collection: String, values: Map[String, Any],
                       query: String, database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    withCommitLock(d, collection) {
      val meta = metaOf(d, collection)
      val pred = PostgrestFilter.parse(query).predicate
        .getOrElse(lit(true))
      val vals = values - "id" // incoming id stripped: geodb.py:1388-1392
      val updated = vals.foldLeft(readRaw(d, collection)) { case (df, (c, v)) =>
        val t = meta.schema(c.toLowerCase).dataType
        df.withColumn(c.toLowerCase, when(pred, lit(v).cast(t)).otherwise(col(c.toLowerCase)))
      }.withColumn("modified_at",
        when(pred, current_timestamp()).otherwise(col("modified_at")))
      swapIn(d, collection, addStats(meta, alignTo(meta.schema, updated, keepId = true)))
    }
    logEvent("updated", s"Collection $d/$collection updated")
  }

  /** DELETE-by-filter → anti-filter rewrite (geodb.py:1325-1354). */
  def deleteFromCollection(collection: String, query: String,
                           database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    withCommitLock(d, collection) {
      val pred = PostgrestFilter.parse(query).predicate.getOrElse(lit(true))
      val remaining = readRaw(d, collection).filter(!(pred <=> true))
      swapIn(d, collection, remaining)
    }
    logEvent(EventType.RowsDropped, s"Rows dropped from $d/$collection")
  }

  // =========================================================================
  // Queries (§2.1 S1/S2, §2.2, §3)
  // =========================================================================
  /** PostgREST filter path (geodb.py:1830-1885). */
  def getCollection(collection: String, query: String = "",
                    database: Option[String] = None,
                    limit: Option[Int] = None,
                    offset: Option[Int] = None): DataFrame = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val base = readCollection(d, collection)
    val q = Seq(
      Some(query).filter(_.nonEmpty),
      limit.map(l => s"limit=$l"),
      offset.map(o => s"offset=$o")).flatten.mkString("&")
    val out = if (q.isEmpty) base else PostgrestFilter(base, q)
    logEvent(EventType.Read, s"Collection $d/$collection read")
    emptyContract(out)
  }

  /** First rows of a collection. DOCUMENTED DEVIATION: the reference's
    * head_collection is a bare `limit=` with storage order (geodb.py:
    * 1803-1828); distributed scans have no stable storage order, so this
    * engine injects `order=id` to make head() deterministic. */
  def headCollection(collection: String, numLines: Int = 10,
                     database: Option[String] = None): DataFrame =
    getCollection(collection, s"order=id&limit=$numLines", database)

  /** Raw-SQL fragment path (geodb_get_pg, geodb.sql:1131-1176). */
  def getCollectionPg(collection: String,
                      select: String = "*",
                      where: Option[String] = None,
                      group: Option[String] = None,
                      order: Option[String] = None,
                      limit: Option[Int] = None,
                      offset: Option[Int] = None,
                      database: Option[String] = None): DataFrame = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val out = SqlFragments.run(spark, readCollection(d, collection),
      select, where, group, order, limit, offset)
    logEvent(EventType.Read, s"Collection $d/$collection read")
    emptyContract(out)
  }

  /**
   * Spatial path (geodb_get_by_bbox, geodb.sql:1179-1257): rectangle vs
   * `geometry` under one of eight comparison modes, optional extra `where`
   * composed with AND/OR, ORDER BY id, limit/offset (offset needs limit).
   * Row-group pruning (the GIST-index replacement) is
   * [[graft.plans.EnvelopePrefilter]]'s, see [[spatialMatches]].
   */
  def getCollectionByBbox(collection: String,
                          bbox: (Double, Double, Double, Double),
                          comparisonMode: String = "contains",
                          bboxCrs: Any = 4326,
                          where: Option[String] = None,
                          op: String = "AND",
                          limit: Option[Int] = None,
                          offset: Option[Int] = None,
                          database: Option[String] = None): DataFrame =
    orderedById(bboxMatches(collection, bbox, comparisonMode, bboxCrs, where,
      op, database), limit, offset)

  private def bboxMatches(collection: String,
                          bbox: (Double, Double, Double, Double),
                          comparisonMode: String, bboxCrs: Any,
                          where: Option[String], op: String,
                          database: Option[String]): DataFrame = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val meta = metaOf(d, collection)
    val qCrs = checkCrs(bboxCrs)
    val (minx, miny, maxx, maxy) =
      if (qCrs == meta.srid) bbox
      else GeoOps.transformBbox(bbox._1, bbox._2, bbox._3, bbox._4, qCrs, meta.srid)
    spatialMatches(d, collection, meta, "bbox", GeoOps.makeEnvelope(minx, miny, maxx, maxy),
      comparisonMode, where, op)
  }

  /**
   * ARBITRARY-POLYGON spatial path (r15; [[getCollectionByBbox]] is the
   * rectangle special case): mask geometry (WKT, any areal type) vs
   * `geometry` under the eight comparison modes. On a quadkey layout
   * the contains/equals modes prune on the cover of the mask's convex
   * hull ([[graft.plans.EnvelopePrefilter]]), so the notch of an
   * L-shaped mask keeps less than its envelope would.
   *
   * For a POINT-only collection the envelope centroid IS the point, so
   * `pointsOnly = true` tightens the cover to the mask itself (the full
   * L-shape win). pointsOnly is a CALLER CONTRACT the optimizer rule
   * cannot infer, so this is the one `_qk` prefilter the engine builds
   * itself: a non-point row pruned under it is silently lost, which is
   * why every SURVIVING non-point row refuses loudly (the guard catches
   * misuse unless the offending rows were themselves pruned — stated
   * plainly here because a partial guard must not read as a total one).
   */
  def getCollectionByMask(collection: String, maskWkt: String,
                          comparisonMode: String = "contains",
                          maskCrs: Any = 4326,
                          where: Option[String] = None,
                          op: String = "AND",
                          limit: Option[Int] = None,
                          offset: Option[Int] = None,
                          pointsOnly: Boolean = false,
                          database: Option[String] = None): DataFrame =
    orderedById(maskMatches(collection, maskWkt, comparisonMode, maskCrs, where,
      op, pointsOnly, database), limit, offset)

  private def maskMatches(collection: String, maskWkt: String,
                          comparisonMode: String, maskCrs: Any,
                          where: Option[String], op: String,
                          pointsOnly: Boolean,
                          database: Option[String]): DataFrame = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val meta = metaOf(d, collection)
    val qCrs = checkCrs(maskCrs)
    val wkb0 = GeoOps.geomFromText(
      org.apache.spark.unsafe.types.UTF8String.fromString(maskWkt))
    val wkb = if (qCrs == meta.srid) wkb0
              else GeoOps.transform(wkb0, qCrs, meta.srid)
    val mask = GeoOps.read(wkb)
    require(mask.getDimension == 2 && !mask.isEmpty,
      s"getCollectionByMask: mask must be a non-empty areal geometry " +
      s"(Polygon/MultiPolygon), got ${mask.getGeometryType}" +
      (if (mask.isEmpty) " (EMPTY)" else ""))
    val guard = Option.when(pointsOnly)(
      when(geometry_type(col("geometry")) === "POINT", lit(true))
        .otherwise(raise_error(concat(
          lit("getCollectionByMask(pointsOnly): non-POINT geometry ("),
          geometry_type(col("geometry")),
          lit(") — the tightened mask cover is only sound for points; " +
            "drop pointsOnly"))).cast(BooleanType)))
    val cover = qkZoomOf(meta).filter(_ => pointsOnly &&
        Set("contains", "equals").contains(comparisonMode.toLowerCase)).map { z =>
      graft.core.Tiles.coverGeometry(mask, z).map(p => col("_qk") >= lit(p) &&
        col("_qk") <= lit(p + "3" * (z - p.length))).reduceOption(_ || _)
        .getOrElse(lit(false))
    }
    spatialMatches(d, collection, meta, "mask", wkb, comparisonMode, where, op,
      guard, cover)
  }

  /**
   * The one filter of the bbox and mask reads and counts:
   * `st_<mode>(query, geometry)` (query geometry FIRST,
   * geodb.sql:1204-1214) composed with `where` under `op`, projected to
   * the user schema, unordered. It builds no stat-column prefilter: for a
   * conjunctive read the optimizer rule [[graft.plans.EnvelopePrefilter]]
   * adds the `_bbox_*` conjuncts the mode implies (ahead of the
   * `st_<mode>` conjunct) and, on a quadkey layout, the `_qk` prefix
   * ranges. `guard` runs ahead of the predicate, so every surviving row
   * meets it; `cover` is a caller's own `_qk` prefilter, added only where
   * the rule would add its own (no `OR` composition).
   */
  private def spatialMatches(d: String, collection: String, meta: CollectionMeta,
                             via: String, query: Array[Byte], mode: String,
                             where: Option[String], op: String,
                             guard: Option[Column] = None,
                             cover: Option[Column] = None): DataFrame = {
    val spatial = (guard.toSeq :+ st_relation(mode, lit(query), col("geometry")))
      .reduce(_ && _)
    val cond = where.filter(_.nonEmpty).map(expr) match {
      case Some(w) if op.equalsIgnoreCase("OR") => w || spatial
      case w => (w.toSeq ++ Seq(spatial) ++ cover).reduce(_ && _)
    }
    logEvent(EventType.Read, s"Collection $d/$collection read by $via")
    readRaw(d, collection, meta).filter(cond)
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /**
   * ORDER BY id (geodb.sql:1240), then offset/limit; offset without limit
   * is ignored. A limited read is a top-k, which Spark runs as one job
   * (TakeOrderedAndProject). An unlimited read sorts ONE partition: a
   * global `orderBy` would first run a range-partitioner sample job over
   * the whole filtered scan and then scan again, where one shuffle into a
   * single (spilling) sort task scans once.
   */
  private def orderedById(matches: DataFrame, limit: Option[Int],
                          offset: Option[Int]): DataFrame =
    emptyContract(limit match {
      case Some(l) =>
        val sorted = matches.orderBy("id")
        offset.fold(sorted)(sorted.offset).limit(l)
      case None => matches.repartition(1).sortWithinPartitions("id")
    })

  // =========================================================================
  // Aggregates (§2.4)
  // =========================================================================
  def countCollection(collection: String, exact: Boolean = true,
                      database: Option[String] = None): Long = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    if (exact) readRaw(d, collection).count()
    else estimatedCount(d, collection) // parquet footers: exact AND O(files)
  }

  def countCollectionByBbox(collection: String,
                            bbox: (Double, Double, Double, Double),
                            comparisonMode: String = "contains",
                            bboxCrs: Any = 4326,
                            where: Option[String] = None,
                            op: String = "AND",
                            database: Option[String] = None): Long =
    bboxMatches(collection, bbox, comparisonMode, bboxCrs, where, op, database).count()

  /** [[countCollectionByBbox]]'s mask twin: count rows matching an
    * areal mask under [[getCollectionByMask]]'s semantics (and its
    * hull/mask quadkey pruning). */
  def countCollectionByMask(collection: String, maskWkt: String,
                            comparisonMode: String = "contains",
                            maskCrs: Any = 4326,
                            where: Option[String] = None,
                            op: String = "AND",
                            pointsOnly: Boolean = false,
                            database: Option[String] = None): Long =
    maskMatches(collection, maskWkt, comparisonMode, maskCrs, where, op,
      pointsOnly, database).count()

  /**
   * Collection extent. Returns (ymin, xmin, ymax, xmax) — the reference
   * swaps the BOX order on return (geodb.py:400, §7.4.5).
   * `exact=false` uses the materialized stat columns (pruned scan of 4
   * columns — the ST_EstimatedExtent analog, geodb.sql:443-458).
   */
  def getCollectionBbox(collection: String, exact: Boolean = true,
                        database: Option[String] = None): Option[(Double, Double, Double, Double)] = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val row =
      if (exact)
        readRaw(d, collection).agg(
          min(st_xmin(col("geometry"))), min(st_ymin(col("geometry"))),
          max(st_xmax(col("geometry"))), max(st_ymax(col("geometry")))).head()
      else
        readRaw(d, collection).agg(
          min(col("_bbox_minx")), min(col("_bbox_miny")),
          max(col("_bbox_maxx")), max(col("_bbox_maxy"))).head()
    if (row.isNullAt(0)) None
    else Some((row.getDouble(1), row.getDouble(0), row.getDouble(3), row.getDouble(2)))
  }

  /** GeometryType per row or DISTINCT (geodb.sql:460-482). */
  def getGeometryTypes(collection: String, aggregate: Boolean = false,
                       database: Option[String] = None): DataFrame = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val gt = geometry_type(col("geometry")).as("geometrytype")
    val base = readCollection(d, collection).select(gt)
    if (aggregate) base.distinct().orderBy("geometrytype") else base
  }

  /** Storage usage: sum of collection file sizes (geodb.sql:1028-1120). */
  def getMyUsage(pretty: Boolean = false): Any = {
    val bytes = catalog.listAllCollections()
      .filter { case (d, _) => catalog.databaseOwner(d).contains(user) }
      .map { case (d, c) => dirSize(catalog.dataDir(d, c)) }.sum
    if (pretty) prettySize(bytes) else bytes
  }

  // =========================================================================
  // ACL (§2.11) — policy layer over control tables
  // =========================================================================
  private def grants: Seq[Map[String, Any]] =
    Jsons.loadSeq(catalog.grantsPath).map(_.asInstanceOf[Map[String, Any]])
  private def setGrants(g: Seq[Map[String, Any]]): Unit =
    Jsons.save(catalog.grantsPath, g)
  private def groups: Map[String, Seq[String]] =
    Jsons.loadMap(catalog.groupsPath).map { case (k, v) =>
      k -> v.asInstanceOf[Seq[Any]].map(_.toString) }
  private def setGroups(g: Map[String, Seq[String]]): Unit =
    Jsons.save(catalog.groupsPath, g)

  def grantAccessToCollection(collection: String, grantee: String,
                              database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    setGrants(grants :+ Map[String, Any]("database" -> d, "collection" -> collection,
      "grantee" -> grantee, "privilege" -> "SELECT"))
    logEvent(EventType.Published, s"Access to $d/$collection granted to $grantee")
  }

  def revokeAccessFromCollection(collection: String, grantee: String,
                                 database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    setGrants(grants.filterNot(g => g("database") == d &&
      g("collection") == collection && g("grantee") == grantee))
    logEvent(EventType.Unpublished, s"Access to $d/$collection revoked from $grantee")
  }

  /** Publish = grant to PUBLIC (geodb.py:920-978). */
  def publishCollection(collection: String, database: Option[String] = None): Unit =
    grantAccessToCollection(collection, PUBLIC, database)

  def unpublishCollection(collection: String, database: Option[String] = None): Unit =
    revokeAccessFromCollection(collection, PUBLIC, database)

  /** Grants grouped by grantee (client pandas groupby, geodb.py:2565). */
  def getAccessRights(collection: String, database: Option[String] = None): Map[String, Seq[String]] =
    grants.filter(g => g("database") == db(database) && g("collection") == collection)
      .groupBy(_("grantee").toString)
      .map { case (k, v) => k -> v.map(_("privilege").toString) }

  def listGrants: DataFrame = {
    val rows = grants.filter(g => catalog.databaseOwner(g("database").toString).contains(user))
      .map(g => Row(g("database").toString, g("collection").toString,
        g("grantee").toString, g("privilege").toString))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq("database", "collection", "grantee", "privilege")
        .map(StructField(_, StringType))))
  }

  // ---- GeoServer publication registry (S6) ----
  // The reference's publish_gs family (geodb.py:2151-2284) provisions a
  // SQL-view layer on a companion GeoServer instance over HTTP. A Spark
  // engine has no companion map server, so this is the API-PARITY STATE
  // LAYER: the publication registry, layer naming (`{db}_{collection}`,
  // the reference's convention), access checks, and audit events are
  // real; actual WMS/WFS serving is out of scope (documented — an OGC
  // frontend would read this registry plus the collection parquet).

  private def gsRegistry: Seq[Map[String, Any]] =
    Jsons.loadSeq(catalog.geoserverPath).map(_.asInstanceOf[Map[String, Any]])
  private def setGsRegistry(g: Seq[Map[String, Any]]): Unit =
    Jsons.save(catalog.geoserverPath, g)

  /** Publish a collection as a (virtual) GeoServer layer; returns the
    * layer descriptor the reference's client would hand to WMS users. */
  def publishGs(collection: String, database: Option[String] = None): Map[String, Any] = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val layer = s"${d}_$collection"
    val entry = Map[String, Any]("database" -> d, "collection" -> collection,
      "layer" -> layer, "srid" -> metaOf(d, collection).srid)
    if (!gsRegistry.exists(_("layer") == layer))
      setGsRegistry(gsRegistry :+ entry)
    logEvent(EventType.PublishedGs, s"Collection $d/$collection published to geoserver")
    entry
  }

  def unpublishGs(collection: String, database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    setGsRegistry(gsRegistry.filterNot(g =>
      g("database") == d && g("collection") == collection))
    logEvent(EventType.UnpublishedGs, s"Collection $d/$collection unpublished from geoserver")
  }

  /** Layers published from one database (get_published_gs). */
  def getPublishedGs(database: Option[String] = None): DataFrame =
    gsFrame(gsRegistry.filter(_("database") == db(database)))

  /** Every published layer (get_all_published_gs). */
  def getAllPublishedGs: DataFrame = gsFrame(gsRegistry)

  private def gsFrame(entries: Seq[Map[String, Any]]): DataFrame = {
    val rows = entries.map(e => Row(e("database").toString,
      e("collection").toString, e("layer").toString, e("srid").toString.toInt))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(StructField("database", StringType),
        StructField("collection", StringType), StructField("layer", StringType),
        StructField("srid", IntegerType))))
  }

  // ---- groups (C2) ----
  def createGroup(name: String): Unit = {
    // 'manage' subscription required (geodb.sql:1525-1529); unregistered
    // users default to manage (single-tenant engine default)
    require(mySubscription == "manage",
      s"User $user has no manage subscription and cannot create groups")
    setGroups(groups + (name -> Seq(user)))
    logEvent(EventType.GroupCreated, s"Group $name created")
  }

  def dropGroup(name: String): Unit = setGroups(groups - name)

  def addUserToGroup(u: String, group: String): Unit =
    setGroups(groups + (group -> (groups.getOrElse(group, Seq.empty) :+ u).distinct))

  def removeUserFromGroup(u: String, group: String): Unit =
    setGroups(groups + (group -> groups.getOrElse(group, Seq.empty).filterNot(_ == u)))

  def getMyGroups: Seq[String] =
    groups.collect { case (g, members) if members.contains(user) => g }.toSeq.sorted

  def getGroupUsers(group: String): Seq[String] =
    groups.getOrElse(group, Seq.empty)

  /** Publish every collection of a database to a group: a wildcard grant
    * (the reference's ownership-row insert, geodb.sql:1567-1577). */
  def publishDatabaseToGroup(database: String, group: String): Unit = {
    requireDatabaseOwner(database)
    setGrants(grants :+ Map[String, Any]("database" -> database,
      "collection" -> "*", "grantee" -> group, "privilege" -> "SELECT"))
    logEvent(EventType.PublishedDatabase, s"Database $database published to $group")
  }

  def unpublishDatabaseFromGroup(database: String, group: String): Unit = {
    requireDatabaseOwner(database)
    setGrants(grants.filterNot(g => g("database") == database &&
      g("collection") == "*" && g("grantee") == group))
    logEvent(EventType.UnpublishedDatabase, s"Database $database unpublished from $group")
  }

  def publishCollectionToGroup(collection: String, group: String,
                               database: Option[String] = None): Unit =
    grantAccessToCollection(collection, group, database)

  def unpublishCollectionFromGroup(collection: String, group: String,
                                   database: Option[String] = None): Unit =
    revokeAccessFromCollection(collection, group, database)

  /** Recursive ownership/membership check (geodb_user_allowed, geodb.sql:731-778). */
  def userAllowed(database: String, collection: String, privilege: String = "SELECT"): Boolean =
    allowed(database, collection, privilege)

  private def allowed(d: String, c: String, privilege: String): Boolean = {
    if (catalog.databaseOwner(d).contains(user)) return true
    val myGroups = getMyGroups.toSet + user + PUBLIC
    grants.exists(g => g("database") == d &&
      (g("collection") == c || g("collection") == "*") && // "*" = whole-db grant
      myGroups.contains(g("grantee").toString))
  }

  private def requireAccess(d: String, c: String, privilege: String): Unit =
    require(allowed(d, c, privilege), s"$user has no $privilege access to $d/$c")

  private def requireDatabaseOwner(d: String): Unit = {
    val owner = catalog.databaseOwner(d)
    require(owner.isEmpty || owner.contains(user) ||
      groups.get(d).exists(_.contains(user)),
      s"$user is not owner of database $d")
  }

  // =========================================================================
  // Indexes as data layout (§2.10 D7, SURVEY §4 R3/R4)
  // =========================================================================
  /**
   * "Index" = physical data layout in Spark: for `geometry`, rows are
   * range-clustered by the envelope stat columns (the GIST analog: bbox
   * predicates then prune whole row groups via parquet min/max); for other
   * properties, range-partition + sort on the column (the btree analog).
   * Index names follow the reference's 63-char trim (geodb.sql:1490-1508).
   *
   * `method = "quadkey"` (geometry only, EPSG:4326 collections only) is
   * the alternative spatial layout: rows cluster by the Web-Mercator
   * quadkey of their envelope centroid at `zoom` ([[graft.core.Tiles]]),
   * and a persistent hidden `_qk` stat column is written and MAINTAINED
   * by every subsequent insert/upsert/update (unlike the Hilbert key,
   * which is layout-only). On a declared layout the optimizer rule
   * [[graft.plans.EnvelopePrefilter]] adds quadkey PREFIX-RANGE
   * predicates to containment-direction reads (the bbox and mask reads'
   * contains/equals modes, and user filters), which parquet string
   * min/max stats prune row groups against — prefix nesting means one
   * stored zoom answers every coarser query. Rows outside the Mercator
   * latitude domain REFUSE at build/DML time (Tiles' contract); use the
   * Hilbert layout for polar or projected collections. Only one
   * geometry layout may exist at a time.
   */
  def createIndex(collection: String, property: String = "geometry",
                  database: Option[String] = None,
                  method: String = "hilbert", zoom: Int = 12): String = {
    val d = db(database)
    requireDatabaseOwner(d)
    require(method == "hilbert" || method == "quadkey",
      s"createIndex: method must be 'hilbert' or 'quadkey', got '$method'")
    withCommitLock(d, collection) {
    val meta = metaOf(d, collection)
    val name =
      if (property == "geometry" && method == "quadkey") {
        require(zoom >= 1 && zoom <= 30,
          s"createIndex: quadkey zoom must be in [1, 30], got $zoom")
        require(meta.srid == 4326,
          s"createIndex: the quadkey layout needs a geographic (EPSG:4326) " +
          s"collection, got SRID ${meta.srid} — corner-only bbox reprojection " +
          "cannot soundly prune rotated CRS; use the hilbert layout")
        val nm = s"idx_${d}_${collection}_geometry_qk$zoom"
        require(nm.length <= 63,
          s"createIndex: quadkey index name '$nm' exceeds 63 chars — the zoom " +
          "suffix must survive the reference's name trim for layout detection")
        nm
      } else indexName(d, collection, property)
    require(!meta.indexes.contains(name), s"index $name already exists") // dup error
    if (property == "geometry")
      require(!meta.indexes.exists(i =>
          i == indexName(d, collection, "geometry") || qkIdx.matches(i)),
        "a geometry layout already exists — drop it before declaring another")
    val raw = readRaw(d, collection)
    val clustered =
      if (property == "geometry" && method == "quadkey") {
        raw.withColumn("_qk", quadkeyOfCentroid(zoom))
          .repartitionByRange(col("_qk"))
          .sortWithinPartitions("_qk")
      } else if (property == "geometry") {
        // Hilbert-curve clustering over envelope centroids: spatially-near
        // rows share row groups, maximizing _bbox_* min/max pruning
        val ext = raw.agg(min("_bbox_minx"), min("_bbox_miny"),
          max("_bbox_maxx"), max("_bbox_maxy")).head()
        if (ext.isNullAt(0)) raw // empty collection: nothing to cluster
        else {
          val (mnx, mny, mxx, mxy) =
            (ext.getDouble(0), ext.getDouble(1), ext.getDouble(2), ext.getDouble(3))
          val cx = (col("_bbox_minx") + col("_bbox_maxx")) / 2
          val cy = (col("_bbox_miny") + col("_bbox_maxy")) / 2
          val hilbert = call_function("hilbert_idx", cx, cy,
            lit(mnx), lit(mny), lit(mxx), lit(mxy), lit(16))
          raw.withColumn("_hilbert", hilbert)
            .repartitionByRange(col("_hilbert"))
            .sortWithinPartitions("_hilbert")
            .drop("_hilbert")
        }
      } else {
        require(meta.schema.fieldNames.contains(property.toLowerCase),
          s"no such property $property")
        raw.repartitionByRange(col(property.toLowerCase))
          .sortWithinPartitions(property.toLowerCase)
      }
    swapIn(d, collection, clustered)
    catalog.saveMeta(metaOf(d, collection).copy(indexes = meta.indexes :+ name))
    logEvent(EventType.IndexCreated, s"Index $name created on $d/$collection")
    name
    }
  }

  def showIndexes(collection: String, database: Option[String] = None): Seq[String] =
    metaOf(db(database), collection).indexes

  def dropIndex(collection: String, property: String,
                database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val meta = metaOf(d, collection)
    val name = indexName(d, collection, property)
    require(meta.indexes.contains(name), s"index $name does not exist")
    catalog.saveMeta(meta.copy(indexes = meta.indexes.filterNot(_ == name)))
    logEvent(EventType.IndexDropped, s"Index $name dropped from $d/$collection")
  }

  // =========================================================================
  // Vector index — IVF layout for Array[Float] properties (the pgvector-
  // analog surface of the LLM-pipeline extension)
  // =========================================================================
  private def vecIndexDir(d: String, c: String, p: String): String =
    s"${catalog.collectionDir(d, c)}/.vecindex-$p"

  /**
   * Build an IVF vector index over an Array[Float] property: the coarse
   * quantizer trains on a bounded fixed-seed sample (`ext.Ivf.train`),
   * the (id, vector) projection is written PARTITIONED BY `ivf_cell`
   * (searches probing nprobe cells prune every other partition at
   * planning time), and the centroid table is stored alongside so any
   * later session searches the same layout. Like [[createIndex]], the
   * index is a one-shot physical layout: rebuild after bulk DML.
   */
  def createVectorIndex(collection: String, property: String,
                        cells: Int = 16,
                        quantized: Boolean = false,
                        database: Option[String] = None): String = {
    val d = db(database)
    requireDatabaseOwner(d)
    withCommitLock(d, collection) {
    val meta = metaOf(d, collection)
    val p = property.toLowerCase
    require(meta.schema.fieldNames.contains(p), s"no such property $p")
    val name = indexName(d, collection, s"${p}_ivf")
    require(!meta.indexes.contains(name), s"index $name already exists")
    val base = readRaw(d, collection).select(col("id"), col(p))
    val model = graft.ext.Ivf.train(base, p, k = cells)
    val dir = vecIndexDir(d, collection, p)
    val assigned = graft.ext.Ivf.assign(base, p, model)
    if (quantized)
      graft.ext.Ivf.writePartitionedQuantized(assigned, p, s"$dir/data")
    else
      graft.ext.Ivf.writePartitioned(assigned, s"$dir/data")
    writeSmallFile(s"$dir/format.txt", if (quantized) "sq8" else "f32")
    // centroid table: one line per centroid, comma-separated floats —
    // tiny, human-inspectable, no parser dependency
    val cpath = new HPath(s"$dir/centroids.txt")
    val fs = cpath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(cpath, true)
    out.write(model.centroids.map(_.mkString(",")).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    catalog.saveMeta(metaOf(d, collection).copy(indexes = meta.indexes :+ name))
    logEvent(EventType.IndexCreated, s"Vector index $name created on $d/$collection")
    name
    }
  }

  def dropVectorIndex(collection: String, property: String,
                      database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val p = property.toLowerCase
    val meta = metaOf(d, collection)
    val name = indexName(d, collection, s"${p}_ivf")
    require(meta.indexes.contains(name), s"index $name does not exist")
    val dir = new HPath(vecIndexDir(d, collection, p))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) fs.delete(dir, true)
    catalog.saveMeta(meta.copy(indexes = meta.indexes.filterNot(_ == name)))
    logEvent(EventType.IndexDropped, s"Vector index $name dropped from $d/$collection")
  }

  /** k-NN search against a [[createVectorIndex]] layout. `queries` must
    * carry (`idCol`, `property`) columns; returns (query_id, corpus_id,
    * cosine) where corpus_id is the collection's serial id. */
  def vectorSearch(collection: String, property: String, queries: DataFrame,
                   k: Int = 10, nprobe: Int = 4, idCol: String = "id",
                   excludeSelf: Boolean = true,
                   database: Option[String] = None): DataFrame = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val p = property.toLowerCase
    val name = indexName(d, collection, s"${p}_ivf")
    require(metaOf(d, collection).indexes.contains(name),
      s"no vector index on $d/$collection.$p — run createVectorIndex first")
    val dir = vecIndexDir(d, collection, p)
    val model = loadVecModel(s"$dir/centroids.txt")
    logEvent(EventType.Read, s"Vector search on $d/$collection.$p")
    val qdf = queries.select(col(idCol).as("id"), col(p))
    if (vecIndexFormat(dir) == "sq8")
      graft.ext.Ivf.searchPartitionedQuantized(spark, s"$dir/data",
        qdf, model, p, "id", k, nprobe, excludeSelf)
    else
      graft.ext.Ivf.searchPartitioned(spark, s"$dir/data",
        qdf, model, p, "id", k, nprobe, excludeSelf)
  }

  /**
   * Incremental semantic near-dup pairs of a NEW batch against the
   * PERSISTED IVF artifact built by [[createVectorIndex]] (and kept
   * current by append maintenance) — the embedding twin of the MinHash
   * incremental-ingestion path (`Dedup.crossPairsViaMinhash`): the
   * batch is assigned into the index's existing cells and exact cosine
   * pairs run NEW × INDEXED within touched cells only, never a
   * self-join. Because the index data is PARTITIONED BY `ivf_cell`,
   * the touched-cell filter is a static partition filter — a small
   * batch against a huge corpus never lists untouched cell
   * directories. `newBatch` must carry (`idCol`, `property`); returns
   * (id = batch id, id2 = collection serial id, cosine). Inherits the
   * loud cell-cap contract (`Similarity.crossClusterCosinePairs`).
   */
  def vectorIndexCrossPairs(collection: String, property: String,
                            newBatch: DataFrame, threshold: Double,
                            idCol: String = "id", maxCell: Int = 10000,
                            allowOversizedCells: Boolean = false,
                            database: Option[String] = None): DataFrame = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val p = property.toLowerCase
    val name = indexName(d, collection, s"${p}_ivf")
    require(metaOf(d, collection).indexes.contains(name),
      s"no vector index on $d/$collection.$p — run createVectorIndex first")
    val dir = vecIndexDir(d, collection, p)
    val model = loadVecModel(s"$dir/centroids.txt")
    logEvent(EventType.Read, s"Incremental vector dedup on $d/$collection.$p")
    val raw = spark.read.parquet(s"$dir/data")
    val corpus =
      (if (vecIndexFormat(dir) == "sq8") graft.ext.Ivf.dequantized(raw, p)
       else raw)
        .select(col("id").as(idCol), col(p), col("ivf_cell"))
    graft.ext.Similarity.crossClusterCosinePairs(
      newBatch.select(col(idCol), col(p)), p, idCol, corpus, model,
      threshold, maxCell, allowOversizedCells)
  }

  /** Batch rows that semantically duplicate NO indexed vector — the
    * keeper side of [[vectorIndexCrossPairs]]: what an ingestion
    * pipeline actually inserts after deduping against the corpus. */
  def vectorIndexDedupKeepers(collection: String, property: String,
                              newBatch: DataFrame, threshold: Double,
                              idCol: String = "id", maxCell: Int = 10000,
                              allowOversizedCells: Boolean = false,
                              database: Option[String] = None): DataFrame = {
    val dupes = vectorIndexCrossPairs(collection, property, newBatch,
        threshold, idCol, maxCell, allowOversizedCells, database)
      .select(col("id").as("_dup")).distinct()
    newBatch.join(dupes, newBatch(idCol) === col("_dup"), "left_anti")
  }

  /** Reference-named alias for dropIndex (geodb.py remove_index). */
  def removeIndex(collection: String, property: String,
                  database: Option[String] = None): Unit =
    dropIndex(collection, property, database)

  /** Client-side bbox reprojection helper (transform_bbox_crs,
    * geodb.py:1535-1575). `wsg84Order="lat_lon"` mirrors the reference's
    * EPSG:4326 axis-order default (geodb.py:1565-1573). */
  def transformBboxCrs(bbox: (Double, Double, Double, Double),
                       fromCrs: Any, toCrs: Any,
                       wsg84Order: String = "lat_lon"): (Double, Double, Double, Double) = {
    val from = checkCrs(fromCrs); val to = checkCrs(toCrs)
    val latLon = wsg84Order == "lat_lon"
    // reorder 4326 lat/lon input to x=lon, y=lat for the math, then back
    val in = if (from == 4326 && latLon) (bbox._2, bbox._1, bbox._4, bbox._3) else bbox
    val out = GeoOps.transformBbox(in._1, in._2, in._3, in._4, from, to)
    if (to == 4326 && latLon) (out._2, out._1, out._4, out._3) else out
  }

  /**
   * Collection-level SPATIAL JOIN (extension; the reference reaches
   * layer matching one row at a time through PostGIS GiST — here it is
   * [[graft.core.SpatialJoin.spatialJoin]] over two ACL-checked
   * collection scans): all (a, b) row pairs where
   * `a.geometry <mode> b.geometry`. Output columns are prefixed
   * `a_` / `b_` (collections share the mandatory id/geometry names, and
   * the join carries both sides). `cellSize` in collection units —
   * start near the median geometry extent; `saltCells` composes the
   * salted skew join on hot cells, `maxCellsPerGeom` refuses
   * continent-under-street-cells parameter bugs loudly.
   */
  def spatialJoinCollections(collA: String, collB: String,
                             mode: String = "intersects",
                             cellSize: Double,
                             databaseA: Option[String] = None,
                             databaseB: Option[String] = None,
                             maxCellsPerGeom: Int = 4096,
                             saltCells: Int = 0): DataFrame = {
    val da = db(databaseA); val dbo = db(databaseB)
    requireAccess(da, collA, "SELECT")
    requireAccess(dbo, collB, "SELECT")
    val a = readCollection(da, collA)
    val b = readCollection(dbo, collB)
    val ap = a.select(a.columns.map(c => col(c).as(s"a_$c")): _*)
    val bp = b.select(b.columns.map(c => col(c).as(s"b_$c")): _*)
    val out = graft.core.SpatialJoin.spatialJoin(ap, "a_geometry",
      bp, "b_geometry", mode, cellSize, maxCellsPerGeom, saltCells)
    logEvent(EventType.Read, s"Spatial join $da/$collA x $dbo/$collB mode=$mode")
    out
  }

  /** `idx_{db}_{coll}_{prop}` trimmed to 63 chars (geodb.sql:1490-1508). */
  private def indexName(d: String, c: String, p: String): String =
    s"idx_${d}_${c}_$p".take(63)

  // =========================================================================
  // Users & subscriptions (§2.11 C5)
  // =========================================================================
  private def users: Map[String, Map[String, Any]] =
    Jsons.loadMap(catalog.usersPath).map { case (k, v) => k -> v.asInstanceOf[Map[String, Any]] }

  def registerUser(name: String, subscription: String = "freetrial"): Unit = {
    Jsons.save(catalog.usersPath,
      users + (name -> Map("subscription" -> subscription)))
    logEvent("registered user", s"User $name registered")
  }

  def dropUser(name: String): Unit = {
    Jsons.save(catalog.usersPath, users - name)
    logEvent("dropped user", s"User $name dropped")
  }

  def userExists(name: String): Boolean = users.contains(name)

  def mySubscription: String =
    users.get(user).map(_("subscription").toString).getOrElse("manage")

  // =========================================================================
  // STAC metadata (§1.4)
  // =========================================================================
  def getMetadata(collection: String, database: Option[String] = None): Map[String, Any] = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    val stored = Jsons.loadMap(catalog.metadataPath(d, collection))
    val withExtent =
      if (stored.contains("extent")) stored
      else getCollectionBbox(collection, exact = true, Some(d)) match {
        case Some((ymin, xmin, ymax, xmax)) =>
          // stored extent is computed from data when absent (metadata.py:371-380)
          val (tminx, tminy, tmaxx, tmaxy) = to4326Envelope(
            xmin, ymin, xmax, ymax, metaOf(d, collection).srid)
          stored + ("extent" -> Map(
            "spatial" -> Map("bbox" -> Seq(Seq(tminx, tminy, tmaxx, tmaxy))),
            "temporal" -> Map("interval" -> Seq(Seq(null, null)))))
        case None => stored
      }
    Map(
      "type" -> "Collection",
      "stac_version" -> "1.1.0", // metadata.py:541-542
      "id" -> s"${d}_$collection") ++ withExtent
  }

  def setMetadataField(collection: String, field: String, value: Any,
                       database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    Jsons.save(path, Jsons.loadMap(path) + (field -> value))
    logEvent("metadata changed", s"Metadata $field set on $d/$collection")
  }

  /** Normalizes to an EPSG:4326 envelope (geodb.sql:1840-1867). */
  def setSpatialExtent(collection: String,
                       bbox: (Double, Double, Double, Double),
                       crs: Any = 4326,
                       database: Option[String] = None): Unit = {
    val srid = checkCrs(crs)
    val (minx, miny, maxx, maxy) = to4326Envelope(bbox._1, bbox._2, bbox._3, bbox._4, srid)
    setMetadataField(collection, "extent", Map(
      "spatial" -> Map("bbox" -> Seq(Seq(minx, miny, maxx, maxy))),
      "temporal" -> Map("interval" -> Seq(Seq(null, null)))), database)
  }

  /** Append a typed value to a list-valued metadata field (providers/links). */
  private def appendMetaList(collection: String, field: String, value: Map[String, Any],
                             database: Option[String]): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    val cur = Jsons.loadMap(path)
    val list = cur.get(field).map(_.asInstanceOf[Seq[Any]]).getOrElse(Seq.empty)
    Jsons.save(path, cur + (field -> (list :+ value)))
    logEvent("metadata changed", s"Metadata $field appended on $d/$collection")
  }

  def addProvider(collection: String, p: Stac.Provider,
                  database: Option[String] = None): Unit =
    appendMetaList(collection, "providers", p.toMap, database)

  def addLink(collection: String, l: Stac.Link,
              database: Option[String] = None): Unit =
    appendMetaList(collection, "links", l.toMap, database)

  def addAsset(collection: String, name: String, a: Stac.Asset,
               database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    val cur = Jsons.loadMap(path)
    val assets = cur.get("assets").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    Jsons.save(path, cur + ("assets" -> (assets + (name -> a.toMap))))
    logEvent("metadata changed", s"Asset $name set on $d/$collection")
  }

  def setItemAsset(collection: String, name: String, a: Stac.ItemAsset,
                   database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    val cur = Jsons.loadMap(path)
    val ia = cur.get("item_assets").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    Jsons.save(path, cur + ("item_assets" -> (ia + (name -> a.toMap))))
    logEvent("metadata changed", s"Item asset $name set on $d/$collection")
  }

  // ---- nested STAC upsert/remove (geodb_set_metadata_field's field-wise
  // typed upsert across entity groups, geodb.sql:1869-2036) ----

  def getMetadataField(collection: String, field: String,
                       database: Option[String] = None): Option[Any] = {
    val d = db(database)
    requireAccess(d, collection, "SELECT")
    Jsons.loadMap(catalog.metadataPath(d, collection)).get(field)
  }

  def unsetMetadataField(collection: String, field: String,
                         database: Option[String] = None): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    Jsons.save(path, Jsons.loadMap(path) - field)
    logEvent("metadata changed", s"Metadata $field unset on $d/$collection")
  }

  /** Replace the list entry whose `keyField` equals `key` (error if absent). */
  private def updateMetaListEntry(collection: String, field: String,
                                  keyField: String, key: String,
                                  value: Map[String, Any],
                                  database: Option[String]): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    val cur = Jsons.loadMap(path)
    val list = cur.get(field).map(_.asInstanceOf[Seq[Any]]).getOrElse(Seq.empty)
    val idx = list.indexWhere(
      _.asInstanceOf[Map[String, Any]].get(keyField).contains(key))
    require(idx >= 0, s"no $field entry with $keyField=$key on $d/$collection")
    Jsons.save(path, cur + (field -> list.updated(idx, value)))
    logEvent("metadata changed", s"Metadata $field[$key] updated on $d/$collection")
  }

  private def removeMetaListEntries(collection: String, field: String,
                                    keyField: String, key: String,
                                    database: Option[String]): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    val cur = Jsons.loadMap(path)
    val list = cur.get(field).map(_.asInstanceOf[Seq[Any]]).getOrElse(Seq.empty)
    val kept = list.filterNot(
      _.asInstanceOf[Map[String, Any]].get(keyField).contains(key))
    Jsons.save(path, cur + (field -> kept))
    logEvent("metadata changed", s"Metadata $field[$key] removed on $d/$collection")
  }

  def updateProvider(collection: String, name: String, p: Stac.Provider,
                     database: Option[String] = None): Unit =
    updateMetaListEntry(collection, "providers", "name", name, p.toMap, database)

  def removeProvider(collection: String, name: String,
                     database: Option[String] = None): Unit =
    removeMetaListEntries(collection, "providers", "name", name, database)

  def updateLink(collection: String, rel: String, l: Stac.Link,
                 database: Option[String] = None): Unit =
    updateMetaListEntry(collection, "links", "rel", rel, l.toMap, database)

  def removeLink(collection: String, rel: String,
                 database: Option[String] = None): Unit =
    removeMetaListEntries(collection, "links", "rel", rel, database)

  private def removeKeyedMeta(collection: String, group: String, name: String,
                              database: Option[String]): Unit = {
    val d = db(database)
    requireDatabaseOwner(d)
    val path = catalog.metadataPath(d, collection)
    val cur = Jsons.loadMap(path)
    val m = cur.get(group).map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    Jsons.save(path, cur + (group -> (m - name)))
    logEvent("metadata changed", s"Metadata $group.$name removed on $d/$collection")
  }

  def removeAsset(collection: String, name: String,
                  database: Option[String] = None): Unit =
    removeKeyedMeta(collection, "assets", name, database)

  def removeItemAsset(collection: String, name: String,
                      database: Option[String] = None): Unit =
    removeKeyedMeta(collection, "item_assets", name, database)

  private def to4326Envelope(minx: Double, miny: Double, maxx: Double, maxy: Double,
                             srid: Int): (Double, Double, Double, Double) =
    if (srid == 4326) (minx, miny, maxx, maxy)
    else GeoOps.transformBbox(minx, miny, maxx, maxy, srid, 4326)

  // =========================================================================
  // Event log (§2.12) — buffered appends, parquet-backed audit stream
  // =========================================================================
  private val eventBuffer = ArrayBuffer.empty[(String, String, String, java.sql.Timestamp)]
  var eventLogging: Boolean = true

  def logEvent(eventType: String, message: String): Unit = if (eventLogging) {
    eventBuffer += ((eventType, message, user, java.sql.Timestamp.from(Instant.now)))
    if (eventBuffer.size >= 256) flushEvents()
  }

  def flushEvents(): Unit = if (eventBuffer.nonEmpty) {
    val rows = eventBuffer.map { case (t, m, u, ts) => Row(t, m, u, ts) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), eventSchema)
      .write.mode("append").parquet(catalog.eventLogDir)
    eventBuffer.clear()
  }

  private val eventSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("message", StringType),
    StructField("username", StringType), StructField("date", TimestampType)))

  /** LIKE filters on type + message (geodb.sql:123-140). */
  def getEventLog(eventType: String = "%", collection: Option[String] = None): DataFrame = {
    flushEvents()
    val dir = new java.io.File(catalog.eventLogDir)
    val base =
      if (dir.exists) spark.read.schema(eventSchema).parquet(catalog.eventLogDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], eventSchema)
    val byType = base.filter(col("event_type").like(eventType))
    collection.map(c => byType.filter(col("message").like(s"%$c%"))).getOrElse(byType)
  }

  // =========================================================================
  // Internals
  // =========================================================================
  private def metaOf(d: String, c: String): CollectionMeta =
    catalog.loadMeta(d, c).getOrElse(
      throw new NoSuchElementException(s"collection $d/$c does not exist"))

  /** Full frame including hidden stat columns. */
  private def readRaw(d: String, c: String): DataFrame = readRaw(d, c, metaOf(d, c))

  private def readRaw(d: String, c: String, meta: CollectionMeta): DataFrame =
    spark.read.schema(withStats(meta)).parquet(catalog.dataDir(d, c))

  /** Register every accessible collection as a temp view named
    * `{database}_{collection}` — the reference's physical table naming
    * (geodb.py:1862-1863) — so raw `spark.sql` reaches collections with
    * all geo functions available. */
  def registerTempViews(): Unit =
    getMyCollections.foreach { case (d, c) =>
      readCollection(d, c).createOrReplaceTempView(s"${d}_$c")
    }

  /** User-visible frame (stat columns pruned). */
  def readCollection(d: String, c: String): DataFrame = {
    val meta = metaOf(d, c)
    spark.read.schema(withStats(meta)).parquet(catalog.dataDir(d, c))
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def withStats(schema: StructType): StructType =
    statCols.foldLeft(schema)((s, c) => s.add(c, DoubleType))

  /** Read schema incl. the `_qk` layout column when declared. The
    * layout ZOOM rides the field's metadata (`graft.qkZoom`), which
    * Spark carries through the relation into the attribute — that is
    * how [[graft.plans.EnvelopePrefilter]] learns the zoom it needs to
    * build prefix ranges for ARBITRARY user filters (r15); without it
    * the rule would have to guess key length, and a guessed-long
    * prefix silently excludes every shorter key. */
  private def withStats(meta: CollectionMeta): StructType = {
    val base = withStats(meta.schema)
    qkZoomOf(meta) match {
      case Some(z) => base.add("_qk", StringType, nullable = true,
        new MetadataBuilder().putLong("graft.qkZoom", z.toLong).build())
      case None => base
    }
  }

  /** Declared-quadkey-layout detection: the zoom rides the index name. */
  private[graft] val qkIdx = "idx_.*_geometry_qk(\\d+)".r
  private def qkZoomOf(meta: CollectionMeta): Option[Int] =
    meta.indexes.collectFirst { case qkIdx(z) => z.toInt }

  /** Web-Mercator quadkey of the envelope centroid (4326 collections —
    * [[createIndex]] refuses the layout elsewhere). */
  private def quadkeyOfCentroid(z: Int): Column =
    graft.core.Tiles.quadkey(
      (col("_bbox_minx") + col("_bbox_maxx")) / 2,
      (col("_bbox_miny") + col("_bbox_maxy")) / 2, z)

  private def addStats(df: DataFrame): DataFrame =
    df.withColumn("_bbox_minx", st_xmin(col("geometry")))
      .withColumn("_bbox_miny", st_ymin(col("geometry")))
      .withColumn("_bbox_maxx", st_xmax(col("geometry")))
      .withColumn("_bbox_maxy", st_ymax(col("geometry")))

  /** [[addStats]] plus the `_qk` layout column when declared — every
    * DML write maintains the quadkey layout's stat column (the layout
    * ORDER degrades until reindex, the pruning stays correct). */
  private def addStats(meta: CollectionMeta, df: DataFrame): DataFrame = {
    val base = addStats(df)
    qkZoomOf(meta) match {
      case Some(z) => base.withColumn("_qk", quadkeyOfCentroid(z))
      case None => base
    }
  }

  /** Project to the collection schema (order + types), adding null columns. */
  private def alignTo(schema: StructType, df: DataFrame, keepId: Boolean): DataFrame = {
    val cols = schema.fields.map { f =>
      if (f.name == "id" && !keepId) lit(null).cast(LongType).as("id")
      else if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /**
   * SERIAL-id assignment without a sequence (SURVEY §7.4.3): count rows per
   * partition (one cheap aggregate), compute per-partition offsets on the
   * driver (O(#partitions)), then a second distributed pass computes
   * `start + offset(pid) + localIndex + 1` as a NARROW projection —
   * `monotonically_increasing_id()` is `(pid << 33) | localIndex`, so the
   * local index is its low 33 bits. Two passes, no shuffle, no exit from
   * Tungsten/codegen (round 1 used `df.rdd.zipWithIndex`, which
   * deserialized every row; VERDICT item 9). Returns the frame with its
   * row count, the sum of the exact per-partition counts.
   */
  private def assignIds(dfIn: DataFrame, start: Long): (DataFrame, Long) = {
    // pin the partitioning before the two passes: if the incoming frame
    // contains a shuffle or a sample, AQE re-planning / task re-scheduling
    // between the counting action and the id projection could change
    // per-partition counts => duplicate or gapped ids. localCheckpoint
    // materializes once; both passes then read the same frozen blocks.
    val df = dfIn.lineageCut(true)
    val counts = df.groupBy(spark_partition_id().as("_pid"))
      .agg(count(lit(1)).as("_n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return (df, 0L)
    val maxPid = counts.keys.max
    val offsets = new Array[Long](maxPid + 1)
    var acc = 0L
    (0 to maxPid).foreach { p => offsets(p) = acc; acc += counts.getOrElse(p, 0L) }
    (df.withColumn("id",
      lit(start) + element_at(lit(offsets), spark_partition_id() + 1) +
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + 1), acc)
  }

  /**
   * Writer serialization: every row/layout-mutating commit runs under a
   * per-collection lock taken by ATOMIC CREATE of `.commit.lock` in the
   * collection directory. The critical section re-reads `meta` inside
   * the lock, so two concurrent inserts serialize and id ranges never
   * collide. Readers never take the lock, so a concurrent reader can
   * fail: one that lists the data directory while `swapIn` moves it
   * gets `FILE_NOT_EXIST` (7 of 33 reads during an `updateCollection`
   * did; ROADMAP direction 1, snapshot commits, is the fix). Locks from
   * crashed writers are broken after `staleLockMs` (commit work is
   * minutes-scale at most per collection).
   *
   * SUPPORTED FILESYSTEMS: the protocol's three safety primitives —
   * exclusive create-if-absent is atomic, rename is atomic, rename
   * preserves mtime — hold on POSIX local filesystems and HDFS only, so
   * lock acquisition runs only on an ALLOW-LIST of schemes (file, hdfs,
   * viewfs). Everything else — object stores (S3A, GCS, ABFS, Swift,
   * ADL, ...) and unknown filesystems — satisfies none of the
   * primitives: create is check-then-act, "rename" is copy+delete that
   * rewrites mtime (so the stale-break identity comparison can never
   * match and two writers can both win acquisition). Unlisted schemes
   * are REFUSED up front (a deny-list would silently hand the unsafe
   * protocol to any store it forgot to name). Deployments with exactly
   * ONE writer per collection — the contract documented before locking
   * existed — can set `spark.graft.unsafeSingleWriterDml=true` to run
   * DML on such storage with NO lock at all: honest about providing no
   * mutual exclusion, instead of running a protocol that merely
   * pretends to.
   */
  private val lockCapableSchemes = Set("file", "hdfs", "viewfs")

  private def withCommitLock[T](d: String, c: String,
                                staleLockMs: Long = 600000L)(body: => T): T = {
    val lock = new HPath(s"${catalog.collectionDir(d, c)}/.commit.lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    if (!lockCapableSchemes.contains(Option(fs.getScheme).getOrElse("").toLowerCase)) {
      if (spark.conf.get("spark.graft.unsafeSingleWriterDml", "false")
            .equalsIgnoreCase("true")) {
        // documented single-writer contract: no lock, no exclusion —
        // the caller has asserted there is exactly one writer
        return body
      }
      throw new UnsupportedOperationException(
        s"commit locking on '${fs.getScheme}' is unsupported: only " +
          s"${lockCapableSchemes.mkString("/")} provide the atomic " +
          "create-if-absent and mtime-preserving rename the protocol " +
          "needs; object stores cannot exclude concurrent writers. Use " +
          "POSIX/HDFS paths for locked DML, coordinate writers " +
          "externally, or set spark.graft.unsafeSingleWriterDml=true " +
          "to run WITHOUT a lock under a strict single-writer contract.")
    }
    // Each acquisition is IDENTIFIED: the lock file carries its owner's
    // UUID. Release and stale-break both verify identity before acting,
    // so no code path can ever delete a SUCCESSOR's lock — the failure
    // mode that cascades (A deletes B's, B's release deletes C's, ...).
    val ownerId = UUID.randomUUID.toString
    // Hadoop's LocalFileSystem.createNewFile is check-then-act (NOT
    // atomic between processes/threads); POSIX createFile is. HDFS's
    // exclusive create is namenode-atomic. The owner id is written right
    // after the exclusive create wins; if that write fails, the orphan
    // empty file is removed before returning so a transient IO error
    // can't wedge the collection behind a 10-minute stale wait.
    def tryAcquire(): Boolean =
      if (fs.getScheme == "file")
        try {
          val p = java.nio.file.Paths.get(lock.toUri.getPath)
          java.nio.file.Files.createFile(p)
          try {
            java.nio.file.Files.write(p, ownerId.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            true
          } catch { case _: java.io.IOException =>
            try java.nio.file.Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () }
            false
          }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        }
      else
        try {
          val out = fs.create(lock, /*overwrite=*/ false)
          try {
            out.write(ownerId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            out.close()
            true
          } catch { case _: java.io.IOException =>
            try out.close() catch { case _: java.io.IOException => () }
            try fs.delete(lock, false) catch { case _: java.io.IOException => () }
            false
          }
        } catch { case _: java.io.IOException => false }
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    def awaitRetry(): Unit = {
      require(System.nanoTime() < deadline,
        s"timed out waiting for the commit lock on $d/$c")
      Thread.sleep(25)
    }
    var acquired = false
    while (!acquired) {
      acquired = tryAcquire()
      if (!acquired) {
        // identity snapshot in a fixed order: content, then mtime, then
        // content AGAIN — only a lock that was stable across all three
        // reads is judged, so (content, mtime) always describe the SAME
        // incarnation of the file
        val c1 = readSmallFile(fs, lock)
        val st =
          try Some(fs.getFileStatus(lock))
          catch { case _: java.io.IOException => None } // vanished: retry now
        val stable = c1.isDefined && st.isDefined && readSmallFile(fs, lock) == c1
        val age = st.map(s => System.currentTimeMillis() - s.getModificationTime)
          .getOrElse(0L)
        if (stable && age > staleLockMs) {
          // Stale break: rename the lock to a unique tombstone (only one
          // contender's rename succeeds), then verify the tombstone IS
          // the incarnation we judged stale — BOTH mtime (rename
          // preserves it; any fresh replacement is minutes younger) and
          // owner content must match. A plain delete here is
          // check-then-act: two waiters could both observe age>stale,
          // and the loser's delete would remove the winner's FRESH lock.
          // On mismatch the stolen lock is restored into an empty slot
          // (POSIX rename overwrites, so a blind rename-back could
          // clobber a third writer's lock). The stat->rename window is
          // microseconds against a 10-minute staleness bar; a wrong
          // break additionally requires a fresh lock whose mtime equals
          // the stale one's.
          val tomb = new HPath(s"${catalog.collectionDir(d, c)}" +
            s"/.commit.lock.stale-${UUID.randomUUID.toString.take(8)}")
          val won =
            try fs.rename(lock, tomb)
            catch { case _: java.io.IOException => false }
          if (won) {
            val sameLock =
              (try Some(fs.getFileStatus(tomb).getModificationTime)
               catch { case _: java.io.IOException => None }) ==
                st.map(_.getModificationTime) &&
              readSmallFile(fs, tomb) == c1
            if (sameLock) {
              try fs.delete(tomb, false) catch { case _: java.io.IOException => () }
            } else {
              // A FRESH lock (a successor writer's) was stolen into the
              // tombstone: restore it. A one-shot restore left a window —
              // if a third writer grabbed the emptied slot before the
              // restore, the successor ran unprotected until manual
              // cleanup. RETRY instead: the slot re-empties when the
              // third writer releases (commits are minutes-scale, the
              // retry budget covers the common transient causes), and
              // until the restore lands this loop keeps the tombstone —
              // the conflict is never silently dropped. The restore is a
              // create-EXCLUSIVE write of the tombstone's CONTENT (the
              // successor's identity), not a rename-back: POSIX rename
              // OVERWRITES, so a rename racing a third writer's acquire
              // would silently clobber their lock — an exclusive create
              // simply fails and the loop retries. (Comparing the slot
              // against the pre-steal content c1 proved nothing: after
              // any restore the slot holds the successor's content,
              // which differs from c1 by definition here.)
              var tombContent = readSmallFile(fs, tomb)
              val restoreDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
              var restored = false
              var sawOccupiedSlot = false
              while (!restored && System.nanoTime() < restoreDeadline) {
                // a transient read failure above must not doom the whole
                // retry budget: the tombstone is ours (we renamed it) and
                // immutable, so re-reading until it yields is safe
                if (tombContent.isEmpty) tombContent = readSmallFile(fs, tomb)
                // tri-state exists: a transient IO failure must neither
                // count as "occupied" (phantom overlap warning) nor as
                // "empty" (create onto an unknown slot)
                val occupied = try Some(fs.exists(lock)) catch {
                  case _: java.io.IOException => None }
                if (occupied.contains(true)) sawOccupiedSlot = true
                restored = occupied.contains(false) && tombContent.isDefined &&
                  (try {
                    val out = fs.create(lock, false) // no-overwrite create
                    // from here the slot holds OUR file: a write/close
                    // failure must remove it (tryAcquire mirrors this),
                    // or every retry would see the slot occupied by our
                    // own partial garbage and wedge until the stale bar
                    try {
                      out.write(tombContent.get
                        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
                      out.close()
                      true
                    } catch { case _: java.io.IOException =>
                      try out.close() catch { case _: java.io.IOException => () }
                      try fs.delete(lock, false)
                      catch { case _: java.io.IOException => () }
                      false
                    }
                  } catch { case _: java.io.IOException => false }) // create lost: not ours
                if (!restored) Thread.sleep(25)
              }
              if (restored) {
                try fs.delete(tomb, false)
                catch { case _: java.io.IOException => () }
              }
              // surface the one remaining overlap diagnostic instead of
              // absorbing it: a restore that had to wait out an occupied
              // slot means a writer ran while the displaced successor
              // was committing unprotected
              if (restored && sawOccupiedSlot)
                System.err.println(
                  s"[graft] WARNING: commit-lock stale-break race on $d/$c: " +
                    "a writer held the slot while a displaced lock was " +
                    "being restored — two commits may have overlapped; " +
                    "verify collection consistency (counts, id ranges)")
              require(restored,
                s"commit-lock stale-break race on $d/$c: a fresh lock was " +
                  s"taken for stale and could not be restored within 10s " +
                  s"(another writer is holding the slot, or the tombstone " +
                  s"is unreadable); manual cleanup of $tomb required")
            }
          } else awaitRetry() // rename denied/raced: back off, don't hot-spin
        } else awaitRetry()
      }
    }
    val acquiredAtMs = System.currentTimeMillis()
    try body
    finally {
      // Identity-checked release: delete only OUR lock, and only if the
      // commit finished inside the staleness budget. Past the budget a
      // breaker may legitimately have reclaimed the slot for a successor
      // — leave whatever is there alone (it self-heals via the stale
      // machinery) rather than risk deleting a successor's lock. This
      // shrinks the wrong-delete hazard to a sub-millisecond
      // read->delete window that additionally requires the commit to
      // have overrun 10 minutes.
      try {
        val withinBudget =
          System.currentTimeMillis() - acquiredAtMs < staleLockMs
        if (withinBudget && readSmallFile(fs, lock).contains(ownerId))
          fs.delete(lock, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Copy-on-write commit (SURVEY §7.4.2): write `newDf` to a temp dir
    * beside the data dir, rename the data dir aside, rename the temp dir
    * into its place, then delete the old one. */
  private def swapIn(d: String, c: String, newDf: DataFrame): Unit = {
    val dir = catalog.collectionDir(d, c)
    val token = UUID.randomUUID.toString.take(8)
    val tmp = s"$dir/.data-tmp-$token"
    newDf.write.options(writeOptions).mode("overwrite").parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new HPath(dir).getFileSystem(conf)
    val dataP = new HPath(catalog.dataDir(d, c))
    val old = new HPath(s"$dir/.data-old-$token")
    if (fs.exists(dataP)) fs.rename(dataP, old)
    fs.rename(new HPath(tmp), dataP)
    fs.delete(old, true)
  }

  private def moveDir(d: String, c: String, td: String, tc: String): Unit = {
    val meta = metaOf(d, c)
    require(!catalog.collectionExists(td, tc), s"collection $td/$tc exists")
    val conf = spark.sessionState.newHadoopConf()
    val src = new HPath(catalog.collectionDir(d, c))
    val dst = new HPath(catalog.collectionDir(td, tc))
    val fs = src.getFileSystem(conf)
    fs.mkdirs(dst.getParent)
    fs.rename(src, dst)
    // STAC metadata travels with the collection (otherwise title/providers/
    // extent set via setMetadataField are orphaned after a rename/move)
    val mSrc = new HPath(catalog.metadataPath(d, c))
    if (fs.exists(mSrc)) {
      val mDst = new HPath(catalog.metadataPath(td, tc))
      fs.mkdirs(mDst.getParent)
      fs.rename(mSrc, mDst)
    }
    catalog.saveMeta(meta.copy(database = td, collection = tc))
  }

  /** Sum of parquet footer record counts — O(#files), no data scan (R1). */
  private def estimatedCount(d: String, c: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new HPath(catalog.dataDir(d, c))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return -1L // no stats yet → -1 (test_sql_functions.py:328)
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def dirSize(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length()
    else f.listFiles().map(x => dirSize(x.getPath)).sum
  }

  private def prettySize(bytes: Long): String = {
    val units = Seq("bytes", "kB", "MB", "GB", "TB")
    var b = bytes.toDouble; var i = 0
    while (b >= 1024 && i < units.size - 1) { b /= 1024; i += 1 }
    if (i == 0) s"$bytes ${units(0)}" else f"$b%.1f ${units(i)}"
  }

  /** Accepts 4326 or "EPSG:4326" (check_crs, geodb.py:121-132). */
  def checkCrs(crs: Any): Int = crs match {
    case i: Int => i
    case l: Long => l.toInt
    case s: String if s.toUpperCase.startsWith("EPSG:") => s.substring(5).toInt
    case s: String => s.toInt
    case other => throw new IllegalArgumentException(s"invalid crs: $other")
  }

  /** Empty-result contract: DataFrame(columns=["Empty Result"]) (geodb.py:1883). */
  var strictEmptyContract: Boolean = false
  private def emptyContract(df: DataFrame): DataFrame =
    if (strictEmptyContract && df.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("Empty Result", StringType))))
    else df
}

object GeoDb {
  /** Engine version (geodb_version_info analog, geodb.sql:84-92). */
  val Version = "0.1.0"
}
