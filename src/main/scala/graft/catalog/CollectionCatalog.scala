package graft.catalog

import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.core.Jsons

/** Per-collection metadata persisted as `_meta.json` next to the data dir. */
case class CollectionMeta(
    database: String,
    collection: String,
    srid: Int,
    maxId: Long,
    schemaDdl: String,
    createdAt: String,
    indexes: Seq[String] = Seq.empty) {
  /** Parsed once per meta: a read asks for it several times. */
  lazy val schema: StructType = StructType.fromDDL(schemaDdl)
  def qualified: String = s"${database}_$collection"
}

/**
 * File-layout catalog for the engine. A "database" is a logical namespace
 * (a control-table row + a directory), exactly the reference's model
 * (SURVEY.md §1.2, geodb.sql:150-162) — but keyed properly
 * (database, collection) instead of a name-prefix convention, which removes
 * the reference's prefix-LIKE theta-joins (geodb.sql:270-272) entirely.
 *
 * Layout:
 * {{{
 *   <warehouse>/_sys/databases.json      name -> {owner}
 *   <warehouse>/_sys/grants.json         [{database, collection, grantee, privilege}]
 *   <warehouse>/_sys/groups.json         group -> [member...]
 *   <warehouse>/_sys/metadata/<db>.<coll>.json   STAC document
 *   <warehouse>/_sys/eventlog/           parquet (append-only audit stream)
 *   <warehouse>/data/<db>/<coll>/_meta.json
 *   <warehouse>/data/<db>/<coll>/data/   parquet
 * }}}
 */
class CollectionCatalog(val warehouse: String) {
  private def sys(name: String) = s"$warehouse/_sys/$name"
  def databasesPath: String = sys("databases.json")
  def grantsPath: String = sys("grants.json")
  def groupsPath: String = sys("groups.json")
  def usersPath: String = sys("users.json")
  def geoserverPath: String = sys("geoserver.json")
  def eventLogDir: String = sys("eventlog")
  def metadataPath(db: String, coll: String): String = sys(s"metadata/$db.$coll.json")

  def collectionDir(db: String, coll: String): String = s"$warehouse/data/$db/$coll"
  def dataDir(db: String, coll: String): String = s"${collectionDir(db, coll)}/data"
  private def metaPath(db: String, coll: String) = s"${collectionDir(db, coll)}/_meta.json"

  // ---- databases ----
  def databases: Map[String, Map[String, Any]] =
    Jsons.loadMap(databasesPath).map { case (k, v) => k -> v.asInstanceOf[Map[String, Any]] }

  def createDatabase(name: String, owner: String): Unit = {
    val dbs = databases
    require(!dbs.contains(name), s"database $name exists")
    Jsons.save(databasesPath, dbs + (name -> Map("owner" -> owner)))
    Files.createDirectories(Paths.get(s"$warehouse/data/$name"))
  }

  def databaseExists(name: String): Boolean = databases.contains(name)

  def databaseOwner(name: String): Option[String] =
    databases.get(name).map(_("owner").toString)

  def dropDatabase(name: String): Unit =
    Jsons.save(databasesPath, databases - name)

  // ---- collection meta ----
  def saveMeta(m: CollectionMeta): Unit =
    Jsons.save(metaPath(m.database, m.collection), Map(
      "database" -> m.database, "collection" -> m.collection,
      "srid" -> m.srid, "maxId" -> m.maxId,
      "schemaDdl" -> m.schemaDdl, "createdAt" -> m.createdAt,
      "indexes" -> m.indexes))

  def loadMeta(db: String, coll: String): Option[CollectionMeta] =
    Jsons.load(metaPath(db, coll)).map { v =>
      val m = v.asInstanceOf[Map[String, Any]]
      CollectionMeta(m("database").toString, m("collection").toString,
        m("srid").toString.toDouble.toInt, m("maxId").toString.toDouble.toLong,
        m("schemaDdl").toString, m("createdAt").toString,
        m.get("indexes").map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Seq.empty))
    }

  def collectionExists(db: String, coll: String): Boolean =
    Files.exists(Paths.get(metaPath(db, coll)))

  def listCollections(db: String): Seq[String] = {
    val dir = Paths.get(s"$warehouse/data/$db")
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator.asScala
      .filter(p => Files.exists(p.resolve("_meta.json")))
      .map(_.getFileName.toString).toSeq.sorted
  }

  def listAllCollections(): Seq[(String, String)] = {
    val dataDir = Paths.get(s"$warehouse/data")
    if (!Files.exists(dataDir)) Seq.empty
    else Files.list(dataDir).iterator.asScala.flatMap { dbDir =>
      val db = dbDir.getFileName.toString
      listCollections(db).map(db -> _)
    }.toSeq.sorted
  }

  def deleteCollection(db: String, coll: String): Unit = {
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator.asScala.toSeq.foreach(rm)
      Files.deleteIfExists(p)
    }
    rm(Paths.get(collectionDir(db, coll)))
    Files.deleteIfExists(Paths.get(metadataPath(db, coll)))
  }
}

/** PostgreSQL-ish property-type names -> Spark types (SURVEY.md §1.1). */
object PgTypes {
  def toSpark(pg: String): DataType = pg.toLowerCase.trim match {
    case "integer" | "int" | "int4" | "serial"        => IntegerType
    case "bigint" | "int8" | "bigserial"              => LongType
    case "smallint" | "int2"                          => ShortType
    case "float" | "double precision" | "double" | "float8" | "real" | "float4"
                                                      => DoubleType
    case "numeric" | "decimal"                        => DecimalType(38, 18)
    case "date"                                       => DateType
    case t if t.startsWith("timestamp")               => TimestampType
    case "text" | "varchar" | "char" | "character varying" | "json" | "jsonb"
                                                      => StringType
    case t if t.startsWith("varchar") || t.startsWith("character") => StringType
    case "boolean" | "bool"                           => BooleanType
    case "bytea" | "geometry" | "binary"              => BinaryType
    case "text[]"                                     => ArrayType(StringType)
    // pgvector-analog embedding type for the LLM-pipeline surface
    case "float4[]" | "real[]" | "vector"             => ArrayType(FloatType)
    case "float8[]" | "double precision[]"            => ArrayType(DoubleType)
    case other => throw new IllegalArgumentException(s"unsupported property type: $other")
  }
}
