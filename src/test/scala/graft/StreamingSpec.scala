package graft

import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {

  test("loadEvents probes the on-disk ts unit: NTZ-micros and UTC-adjusted agree") {
    // The driver's testdata generation has flipped the events `ts`
    // physical type between rounds (nanos rounds 1-6, naive micros round
    // 7 — the silent 1000x collapse behind r7's q25/q60/q62 regression).
    // Pin the probe on the two encodings Spark itself can write: a
    // TIMESTAMP_NTZ(micros) file and an adjusted-to-UTC TIMESTAMP_MICROS
    // file of the SAME instants must load identically under the pinned
    // UTC session zone, both as TimestampType.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = spark.range(0, 100).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 3600000000L).as("ts"),
      (col("id") % 7).as("user_id"),
      concat(lit("ev"), (col("id") % 3).cast("string")).as("event_type"),
      (col("id") * 1.5).as("value"),
      lit("{}").as("props"))
    val ntzDir = tmpDir("evt-ntz")
    val utcDir = tmpDir("evt-utc")
    base.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(ntzDir)
    val prevOut = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try base.write.mode("overwrite").parquet(utcDir)
    finally prevOut match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val ntz = EventStream.loadEvents(spark, ntzDir)
    val utc = EventStream.loadEvents(spark, utcDir)
    assert(ntz.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(utc.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val a = ntz.select("event_id", "ts").orderBy("event_id").collect().toSeq
    val b = utc.select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(a == b, "NTZ and UTC-adjusted encodings must load to the same instants")
    assert(a.head.getTimestamp(1).toInstant.getEpochSecond == 1704067200L)
  }

  test("read() on an empty events dir defines the stream (cold start)") {
    // a file-source stream is routinely defined BEFORE its first batch
    // lands; with nothing to probe, tsReadPlan must fall back to the
    // plain TimestampType schema instead of crashing the definition
    val emptyDir = tmpDir("evt-empty")
    val stream = EventStream.read(spark, emptyDir)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("streaming windowed stats over events dir == batch equivalent") {
    val dir = "/root/testdata/sf0.001/events.parquet"
    val batch = EventStream.windowedStatsBatch(
      EventStream.loadEvents(spark, dir), "1 hour")
    val expected = batch.collect().map(_.toSeq).toSet

    // file-stream source needs a directory; stage the single file into one
    val stageDir = tmpDir("evt-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(stageDir, "events.parquet"))
    val stream = EventStream.windowedStats(
      EventStream.read(spark, stageDir), "1 hour", "10 minutes")
    val qname = s"evt_${System.nanoTime}"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table(qname).collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("stream-stream spaceTimeJoinStream == batch spaceTimeJoin on a bounded stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two sides drawn independently (the q232 convention), shipped as
    // file streams with pinned micro-batch order
    def draw(tag: String, i: Long, m: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$i".getBytes("UTF-8"))
      (BigInt(1, md.take(4)).toLong % m).toDouble
    }
    val aRows = (0L until 300L).map(i =>
      (i, draw("ax", i, 200), draw("ay", i, 200), draw("at", i, 900)))
    val bRows = (0L until 300L).map(i =>
      (i + 1000, draw("bx", i, 200), draw("by", i, 200), draw("bt", i, 900)))
    val aDf = aRows.toDF("aid", "ax", "ay", "at")
    val bDf = bRows.toDF("bid", "bx", "by", "bt")
    val batch = graft.core.DistanceJoin.spaceTimeJoin(aDf, bDf,
        "ax", "ay", "at", "bx", "by", "bt", radius = 15.0, tau = 30.0)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dirA = tmpDir("stst-a"); val dirB = tmpDir("stst-b")
    aDf.coalesce(1).write.parquet(s"$dirA/p")
    bDf.coalesce(1).write.parquet(s"$dirB/p")
    val sa = spark.readStream.schema(aDf.schema).parquet(s"$dirA/p")
    val sb = spark.readStream.schema(bDf.schema).parquet(s"$dirB/p")
    val out = graft.core.DistanceJoin.spaceTimeJoinStream(sa, sb,
      "ax", "ay", "at", "bx", "by", "bt", radius = 15.0, tau = 30.0,
      watermarkDelay = "1 hour")
    assert(out.isStreaming)
    val qn = s"stst_${System.nanoTime}"
    val q = out.select("aid", "bid").writeStream.format("memory")
      .queryName(qn).outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table(qn).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === batch && got.nonEmpty)
  }

  test("geoSpaceTimeJoinStream == brute haversine on a bounded stream; antimeridian + polar pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val R = graft.core.DistanceJoin.EarthRadiusMeters
    def draw(tag: String, i: Long, m: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$i".getBytes("UTF-8"))
      (BigInt(1, md.take(4)).toLong % m).toDouble
    }
    // scatter plus PLANTED pairs the geodesic banding must not lose:
    // an antimeridian-straddling pair (ordinary wrap neighbors) and a
    // polar pair whose longitudes are far but metres are near
    val aRows = (0L until 250L).map(i => (i,
      draw("alat", i, 1200) / 10.0 - 60.0,
      draw("alon", i, 3600) / 10.0 - 180.0,
      draw("at", i, 900) + 86400.0)) ++ Seq(
      (900L, 10.0, 179.95, 86400.0 + 100.0),
      (901L, 89.5, 0.0, 86400.0 + 200.0))
    val bRows = (0L until 250L).map(i => (i + 1000,
      draw("blat", i, 1200) / 10.0 - 60.0,
      draw("blon", i, 3600) / 10.0 - 180.0,
      draw("bt", i, 900) + 86400.0)) ++ Seq(
      (1900L, 10.0, -179.95, 86400.0 + 110.0),
      (1901L, 89.5, 120.0, 86400.0 + 190.0))
    val aDf = aRows.toDF("aid", "alat", "alon", "at")
    val bDf = bRows.toDF("bid", "blat", "blon", "bt")
    // brute twin: haversine all-pairs
    def hav(la1: Double, lo1: Double, la2: Double, lo2: Double): Double = {
      val dphi = math.toRadians(la1) - math.toRadians(la2)
      val dlam = math.toRadians(lo1) - math.toRadians(lo2)
      val a = math.pow(math.sin(dphi / 2), 2) +
        math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
          math.pow(math.sin(dlam / 2), 2)
      2.0 * R * math.asin(math.min(1.0, math.sqrt(a)))
    }
    val radius = 120000.0; val tau = 30.0
    val brute = (for (a <- aRows; b <- bRows
      if hav(a._2, a._3, b._2, b._3) <= radius && math.abs(a._4 - b._4) <= tau)
      yield (a._1, b._1)).toSet
    assert(brute.contains((900L, 1900L)), "antimeridian pair must be in radius")
    assert(brute.contains((901L, 1901L)), "polar pair must be in radius")
    val dirA = tmpDir("gstst-a"); val dirB = tmpDir("gstst-b")
    aDf.coalesce(1).write.parquet(s"$dirA/p")
    bDf.coalesce(1).write.parquet(s"$dirB/p")
    val sa = spark.readStream.schema(aDf.schema).parquet(s"$dirA/p")
    val sb = spark.readStream.schema(bDf.schema).parquet(s"$dirB/p")
    val out = graft.core.DistanceJoin.geoSpaceTimeJoinStream(sa, sb,
      "alat", "alon", "at", "blat", "blon", "bt",
      radiusMeters = radius, tau = tau, watermarkDelay = "1 hour")
    assert(out.isStreaming)
    val qn = s"gstst_${System.nanoTime}"
    val q = out.select("aid", "bid").writeStream.format("memory")
      .queryName(qn).outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table(qn).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute && got.nonEmpty)
    // refusal: out-of-range latitude
    val bad = Seq((1L, 95.0, 0.0, 86400.0)).toDF("aid", "alat", "alon", "at")
    val eBad = intercept[Exception] {
      graft.core.DistanceJoin.geoSpaceTimeJoinStream(bad, bDf,
        "alat", "alon", "at", "blat", "blon", "bt",
        radiusMeters = radius, tau = tau, watermarkDelay = "1 hour").count()
    }
    assert(eBad.toString.contains("latitude") ||
      Option(eBad.getCause).exists(_.getMessage.contains("latitude")))
  }

  test("stream-static broadcastPointJoin == batch (probe expression composes unchanged)") {
    // the GeomSetProbe expression is stateless and the payload attach
    // is a stream-static broadcast hash join on the index, so the
    // BATCH operator runs on a readStream points side with no
    // streaming variant — pinned against the batch run exactly
    val dir = "/root/testdata/sf0.001/events.parquet"
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.GeoFunctions.registerAll(spark)
    import graft.functions.GeoFunctions._
    def coords(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_id"),
      ((col("event_id") * 11) % 300).cast("double").as("ex"),
      ((col("event_id") * 31) % 300).cast("double").as("ey"))
    val tris = (0L until 30L).map { i =>
      val ax = i * 13 % 300; val ay = i * 29 % 300
      (i, s"POLYGON(($ax $ay, ${ax + 50} $ay, $ax ${ay + 50}, $ax $ay))")
    }.toDF("gid", "wkt").select($"gid", st_geomfromtext($"wkt").as("g"))
    val batch = graft.core.SpatialJoin.broadcastPointJoin(tris, "g",
        coords(EventStream.loadEvents(spark, dir)), "ex", "ey")
      .select("gid", "event_id").collect().map(_.toSeq).toSet
    val stageDir = tmpDir("bc-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(stageDir, "events.parquet"))
    val out = graft.core.SpatialJoin.broadcastPointJoin(tris, "g",
        coords(EventStream.read(spark, stageDir)), "ex", "ey")
      .select("gid", "event_id")
    val qname = s"bcst_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(qname)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table(qname).collect().map(_.toSeq).toSet
    assert(got == batch && got.nonEmpty)
  }

  test("stream-static geodesic radius join == batch (operator composes unchanged)") {
    // geoRadiusJoin is stateless scalar banding + a stream-static
    // equi-join on (band, cell), so the BATCH operator runs on a
    // readStream left with no streaming variant needed — this row pins
    // that composition and its exact equality to the batch run
    val dir = "/root/testdata/sf0.001/events.parquet"
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def coords(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_id"),
      (((col("event_id") * 29) % 1200).cast("double") / 10.0 - 60.0).as("elat"),
      (((col("event_id") * 43) % 3600).cast("double") / 10.0 - 180.0).as("elon"))
    val stations = (0L until 40L).map(i =>
      (i, (i * 23 % 120).toDouble - 60, (i * 41 % 360).toDouble - 180))
      .toDF("sid", "slat", "slon")
    val batch = graft.core.DistanceJoin.geoRadiusJoin(
        coords(EventStream.loadEvents(spark, dir)), stations,
        "elat", "elon", "slat", "slon", 500e3)
      .select("event_id", "sid").collect().map(_.toSeq).toSeq.sorted(
        Ordering.by((s: Seq[Any]) => s.mkString("|")))
    val stageDir = tmpDir("geo-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(stageDir, "events.parquet"))
    val out = graft.core.DistanceJoin.geoRadiusJoin(
        coords(EventStream.read(spark, stageDir)), stations,
        "elat", "elon", "slat", "slon", 500e3)
      .select("event_id", "sid")
    val qname = s"geost_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(qname)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table(qname).collect().map(_.toSeq).toSeq.sorted(
      Ordering.by((s: Seq[Any]) => s.mkString("|")))
    assert(got == batch && got.nonEmpty)
  }

  test("collection change-feed streams inserted rows") {
    import org.apache.spark.sql.functions._
    val db = new graft.engine.GeoDb(spark, tmpDir("feed-wh"), "geodb_user")
    db.createCollection("feed", Seq("v" -> "integer"))
    import spark.implicits._
    db.insertIntoCollection("feed", Seq(1, 2, 3).toDF("v")
      .withColumn("geometry", lit("POINT(0 0)")))
    val qname = s"feed_${System.nanoTime}"
    val q = EventStream.collectionFeed(db, "feed")
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(qname)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table(qname).as[Long].head() == 3L)
  }

  test("streaming exact dedup == batch distinct hash set") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val batchDocs = spark.read.parquet(src)
    val expected = batchDocs.select(md5(col("text"))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(expected.size <= batchDocs.count()) // (sf0.001 has no exact dups)

    val stageDir = tmpDir("dedup-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(stageDir, "documents.parquet"))
    val docs = spark.readStream.schema(batchDocs.schema).parquet(stageDir)
    val qname = s"dedup_${System.nanoTime}"
    val q = EventStream.dedupStream(docs, "text", allowUnboundedState = true)
      .select(col("content_hash"))
      .writeStream.format("memory").queryName(qname)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream timed out")
    val kept = spark.table(qname).collect().map(_.getString(0))
    assert(kept.length == kept.toSet.size, "a hash was emitted twice")
    assert(kept.toSet == expected)
    // watermarked variant compiles to a bounded-state plan on event-time
    val evDir = tmpDir("dedup-ev-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(evDir, "events.parquet"))
    val ev = EventStream.read(spark, evDir)
    val q2name = s"dedupw_${System.nanoTime}"
    val q2 = EventStream.dedupStream(ev, "event_type", Some("ts"), "2 hours")
      .select(col("content_hash"))
      .writeStream.format("memory").queryName(q2name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000), "watermarked stream timed out")
    // per-batch dedup guarantee: far fewer rows than events
    val n = spark.table(q2name).count()
    assert(n > 0 && n < spark.read.parquet(evDir).count())
  }

  test("dedupStream: unbounded-state path refuses streaming frames unless labeled") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val schema = spark.read.parquet(src).schema
    val stageDir = tmpDir("dedup-guard")
    java.nio.file.Files.copy(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(stageDir, "documents.parquet"))
    val docs = spark.readStream.schema(schema).parquet(stageDir)
    val e = intercept[IllegalArgumentException](
      EventStream.dedupStream(docs, "text"))
    assert(e.getMessage.contains("unbounded"))
    // batch frames are always allowed (plain hash-aggregate, no state)
    val batch = EventStream.dedupStream(spark.read.parquet(src), "text")
    assert(batch.select(col("content_hash")).distinct().count() > 0)
  }

  test("watermarked dedupStream keeps bounded state (old hashes evicted)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // three single-file micro-batches 10 days apart with a 1-hour delay:
    // by the time batch 3 runs, the watermark (batch-2 max ts - 1h) is far
    // past batch-1's events, so their state rows MUST be gone — the bound
    // that makes this the continuous-ingest path.
    val watched = tmpDir("dedup-evict")
    def stage(rows: Seq[(String, String)], name: String, mtime: Long): Unit = {
      val t = tmpDir("dedup-evict-stg")
      rows.toDF("tss", "txt")
        .select(to_timestamp($"tss").as("ts"), $"txt")
        .coalesce(1).write.mode("overwrite").parquet(t)
      val part = new java.io.File(t).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val dst = java.nio.file.Paths.get(watched, name)
      java.nio.file.Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    stage(Seq(("2024-01-01 00:00:00", "a"), ("2024-01-01 00:10:00", "b"),
      ("2024-01-01 00:20:00", "a")), "1.parquet", 1000000L)
    stage(Seq(("2024-01-11 00:00:00", "c"), ("2024-01-11 00:05:00", "c")),
      "2.parquet", 2000000L)
    stage(Seq(("2024-01-21 00:00:00", "d")), "3.parquet", 3000000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("txt",
        org.apache.spark.sql.types.StringType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watched)
    val qname = s"dedupev_${System.nanoTime}"
    val q = EventStream.dedupStream(src, "txt", Some("ts"), "1 hour")
      .select($"content_hash")
      .writeStream.format("memory").queryName(qname)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "eviction stream timed out")
    // every distinct hash emitted exactly once (no cross-batch duplicate
    // within the delay, no re-emission)
    val kept = spark.table(qname).collect().map(_.getString(0))
    assert(kept.length == 4 && kept.toSet.size == 4)
    // the state store is BOUNDED: 4 distinct hashes entered, but batch-1's
    // (and by the final watermark batch-2's) rows were evicted
    val lastState = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .last.stateOperators.head
    assert(lastState.numRowsTotal < 4,
      s"state not evicted: ${lastState.numRowsTotal} rows")
  }

  test("streaming ingestSink == sequential ingestBatch survivors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.ext.TextFunctions.registerAll(spark) // for the batch twin below
    val root = tmpDir("ingest-stream")
    val srcDir = s"$root/src"; val corpusDir = s"$root/corpus"
    val ckpt = s"$root/ckpt"; val repDir = s"$root/report"
    new java.io.File(srcDir).mkdirs()
    // the q147-style plant, split across two arrival batches: within-
    // batch URL + exact dups in batch 1; batch 2 carries an exact
    // cross-copy of a batch-1 SURVIVOR, a URL refetch of one, and a
    // fresh doc — so batch 2's cross stages must see batch 1's saved
    // survivors, the thing this sink exists to guarantee
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon one", "https://a.ex/p1"),
      (2L, "alpha beta gamma delta epsilon one", "https://a.ex/p2"),
      (3L, "zeta eta theta iota kappa two", "https://a.ex/p1"),
      (4L, "lambda mu nu xi omicron three", "https://a.ex/p4"))
      .toDF("doc_id", "text", "url")
    val b2 = Seq(
      (11L, "alpha beta gamma delta epsilon one", "https://b.ex/p11"),
      (12L, "pi rho sigma tau upsilon four", "https://a.ex/p4"),
      (13L, "unique phi chi psi omega five", "https://b.ex/p13"))
      .toDF("doc_id", "text", "url")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    def drain(): Unit = {
      val docs = spark.readStream.schema(b1.schema).parquet(srcDir)
      val q = EventStream.ingestSink(docs, "text", "doc_id",
        corpusDir, ckpt, urlCol = Some("url"), reportDir = Some(repDir))
      assert(q.awaitTermination(180000), "ingest stream timed out")
    }
    // two AvailableNow drains against one checkpoint: batch 2 arrives
    // after batch 1's survivors are already on disk (ordered arrival,
    // and exercises checkpointed restart)
    stage(b1, "b1"); drain()
    stage(b2, "b2"); drain()
    // sequential batch twin
    val empty = b1.limit(0)
    val (s1, _) = graft.ext.Pipeline.ingestBatch(b1, "text", "doc_id",
      empty, "text", "doc_id", urlCol = Some("url"), oldUrlCol = Some("url"))
    val (s2, _) = graft.ext.Pipeline.ingestBatch(b2, "text", "doc_id",
      s1, "text", "doc_id", urlCol = Some("url"), oldUrlCol = Some("url"))
    val expected = (s1.select("doc_id").collect() ++
      s2.select("doc_id").collect()).map(_.getLong(0)).toSet
    val got = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"streaming $got != batch $expected")
    // the plant's intent holds: 2 (exact), 3 (url) drop in batch 1;
    // 11 (exact cross) and 12 (url cross) drop in batch 2
    assert(got == Set(1L, 4L, 13L), s"got $got")
    // per-batch reports landed for both micro-batch ids
    val reps = spark.read.parquet(repDir)
    assert(reps.select("batch_id").distinct().count() == 2)
    assert(reps.filter($"stage" === "url_cross_dedup").count() == 2)
    // the maintained side tables cover exactly the survivors (the
    // slim frames the next batch's URL/exact cross stages read INSTEAD
    // of rescanning the corpus)
    val urls = spark.read.parquet(s"$corpusDir.side/urlset")
      .select("url_canon").collect().map(_.getString(0)).toSet
    val md5s = spark.read.parquet(s"$corpusDir.side/md5set")
      .select("text_md5").collect().map(_.getString(0)).toSet
    val corpus = spark.read.parquet(corpusDir)
    val wantUrls = corpus.select(
        graft.ext.TextAnalysis.canonicalizeUrl($"url").as("u"))
      .collect().map(_.getString(0)).toSet
    val wantMd5 = corpus.select(md5($"text")).collect().map(_.getString(0)).toSet
    assert(urls == wantUrls, s"side urls $urls != $wantUrls")
    assert(md5s == wantMd5, s"side md5s $md5s != $wantMd5")
    // ... and the minhash (id, sig, sh) table covers exactly the
    // survivors too — the artifact the next batch's near-dup cross
    // stage reads INSTEAD of the corpus text
    val mh = spark.read.parquet(s"$corpusDir.side/minhash")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(mh == got, s"side minhash ids $mh != corpus $got")
  }

  test("ingestSink auto-compaction: later batches dedup against the compacted corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.ext.TextFunctions.registerAll(spark)
    val root = tmpDir("ingest-autocompact")
    val srcDir = s"$root/src"; val corpusDir = s"$root/corpus"
    new java.io.File(srcDir).mkdirs()
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon one", "https://a.ex/p1"),
      (4L, "lambda mu nu xi omicron three", "https://a.ex/p4"))
      .toDF("doc_id", "text", "url")
    val b2 = Seq(
      (13L, "unique phi chi psi omega five", "https://b.ex/p13"))
      .toDF("doc_id", "text", "url")
    // arrives AFTER compaction: an exact cross-copy of batch-0 doc 1, a
    // URL refetch of batch-0 doc 4, and one fresh doc — the cross
    // stages must find the dups in the COMPACTED corpus + side tables
    val b3 = Seq(
      (21L, "alpha beta gamma delta epsilon one", "https://c.ex/p21"),
      (23L, "brand new sentence words six seven", "https://a.ex/p4"),
      (22L, "totally fresh words here eight nine", "https://c.ex/p22"))
      .toDF("doc_id", "text", "url")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    def drain(): Unit = {
      val docs = spark.readStream.schema(b1.schema).parquet(srcDir)
      val q = EventStream.ingestSink(docs, "text", "doc_id",
        corpusDir, s"$root/ckpt", urlCol = Some("url"),
        compactEveryBatches = Some(2), compactKeepLatest = 0)
      assert(q.awaitTermination(180000), "ingest stream timed out")
    }
    stage(b1, "b1"); drain()
    stage(b2, "b2"); drain()   // (batchId 1 + 1) % 2 == 0 → compaction fires
    def parts(d: String): Set[String] =
      new java.io.File(d).listFiles().filter(_.isDirectory)
        .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(parts(corpusDir).contains("batch=c0-1") &&
      !parts(corpusDir).contains("batch=0"),
      s"corpus not compacted: ${parts(corpusDir)}")
    stage(b3, "b3"); drain()   // batch 2 ingests against the compacted layout
    val got = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L, 13L, 22L),
      s"dedup against compacted corpus broke: $got")
    // layout: the compacted range plus the raw post-compaction batch
    assert(parts(corpusDir) == Set("batch=c0-1", "batch=2"),
      s"unexpected layout: ${parts(corpusDir)}")
    // side tables were compacted too, and still cover all survivors
    val md5s = spark.read.parquet(s"$corpusDir.side/md5set")
      .select("text_md5").collect().map(_.getString(0)).toSet
    val wantMd5 = spark.read.parquet(corpusDir)
      .select(md5($"text")).collect().map(_.getString(0)).toSet
    assert(md5s == wantMd5, s"side md5s $md5s != $wantMd5")
    assert(parts(s"$corpusDir.side/md5set").contains("batch=c0-1"))
  }

  test("ingestSink with bloom prefilter == without; artifacts maintained per batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.ext.TextFunctions.registerAll(spark)
    val root = tmpDir("ingest-bloom")
    val srcDir = s"$root/src"; val corpusDir = s"$root/corpus"
    new java.io.File(srcDir).mkdirs()
    // identical plant to the equivalence test above
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon one", "https://a.ex/p1"),
      (2L, "alpha beta gamma delta epsilon one", "https://a.ex/p2"),
      (3L, "zeta eta theta iota kappa two", "https://a.ex/p1"),
      (4L, "lambda mu nu xi omicron three", "https://a.ex/p4"))
      .toDF("doc_id", "text", "url")
    val b2 = Seq(
      (11L, "alpha beta gamma delta epsilon one", "https://b.ex/p11"),
      (12L, "pi rho sigma tau upsilon four", "https://a.ex/p4"),
      (13L, "unique phi chi psi omega five", "https://b.ex/p13"))
      .toDF("doc_id", "text", "url")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    def drain(): Unit = {
      val docs = spark.readStream.schema(b1.schema).parquet(srcDir)
      val q = EventStream.ingestSink(docs, "text", "doc_id",
        corpusDir, s"$root/ckpt", urlCol = Some("url"),
        bloomExpectedKeys = Some(1000L))
      assert(q.awaitTermination(180000), "ingest stream timed out")
    }
    stage(b1, "b1"); drain()
    stage(b2, "b2"); drain()
    // bit-identical outcome to the non-bloom run (the test above)
    val got = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L, 13L), s"bloom-path corpus diverged: $got")
    // artifacts exist, carry both batch ids, and cover every corpus key
    val (ub, un, _, _, ubat) = graft.ext.Bloom.loadBloom(spark,
      s"$corpusDir.side/bloom_url")
    val (hb, hn, _, _, hbat) = graft.ext.Bloom.loadBloom(spark,
      s"$corpusDir.side/bloom_md5")
    assert(ubat == Seq(0L, 1L) && hbat == Seq(0L, 1L),
      s"batches $ubat / $hbat")
    assert(un == 3L && hn == 3L, s"n_added $un / $hn") // 2 + 1 survivors
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.filter(!graft.ext.Bloom.mightContain(ub,
      graft.ext.TextAnalysis.canonicalizeUrl($"url"))).count() == 0)
    assert(corpus.filter(!graft.ext.Bloom.mightContain(hb,
      md5($"text"))).count() == 0)
    // a no-new-data drain leaves the filter bits untouched (an empty
    // fired batch may legally append its id with zero keys)
    drain()
    val (ub2, un2, _, _, _) = graft.ext.Bloom.loadBloom(spark,
      s"$corpusDir.side/bloom_url")
    assert(java.util.Arrays.equals(ub, ub2) && un2 == un)
  }

  test("ingestSink: cross stages read side tables not corpus text; replay loses nothing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.ext.TextFunctions.registerAll(spark)
    val root = tmpDir("ingest-side-only")
    val srcDir = s"$root/src"; val corpusDir = s"$root/corpus"
    val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()
    // one long all-distinct-word sentence: no internal repeats (the
    // within-batch span/dup-token stages must not touch it), ~130 chars
    // so a 5-char tail edit keeps char-5 Jaccard ~0.93 >= 0.8
    val longA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    val b1 = Seq(
      (1L, longA, "https://a.ex/p1"),
      (2L, "completely different content about other things entirely six",
        "https://a.ex/p2")).toDF("doc_id", "text", "url")
    // exact copy and near-dup arrive in SEPARATE batches so neither is
    // a within-batch duplicate of anything — only the CROSS stages can
    // drop them
    val b2 = Seq(
      (11L, longA, "https://b.ex/p11"),                    // exact cross-copy of 1
      (13L, "fresh document nothing like the others seven",
        "https://b.ex/p13")).toDF("doc_id", "text", "url")
    val b3 = Seq(
      (12L, longA + " tail", "https://b.ex/p12"),          // near-dup of 1
      (14L, "another brand new page resembling nothing eight",
        "https://b.ex/p14")).toDF("doc_id", "text", "url")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    def drain(): Unit = {
      val q = EventStream.ingestSink(
        spark.readStream.schema(b1.schema).parquet(srcDir),
        "text", "doc_id", corpusDir, ckpt, urlCol = Some("url"))
      assert(q.awaitTermination(180000), "ingest stream timed out")
    }
    stage(b1, "b1"); drain()
    // CORRUPT the saved corpus TEXT (same ids/urls/schema): if any cross
    // stage still scanned old text, the later batches' exact/near dups
    // of doc 1 would sail through. They must still drop — proof the
    // stages read only the maintained side tables (built from the real
    // text at batch-0 write time).
    val saved = spark.read.parquet(s"$corpusDir/batch=0")
      .select($"doc_id", lit("CORRUPTED").as("text"), $"url").collect().toSeq
    val schema = spark.read.parquet(s"$corpusDir/batch=0").schema
    spark.createDataFrame(spark.sparkContext.parallelize(saved, 1), schema)
      .write.mode("overwrite").parquet(s"$corpusDir/batch=0")
    stage(b2, "b2"); drain()   // exact cross-copy: md5 side table
    stage(b3, "b3"); drain()   // near-dup: minhash side table
    def corpusIds() = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds() == Set(1L, 2L, 13L, 14L),
      s"cross stages must have read the side tables: ${corpusIds()}")
    // REPLAY of batch 2 (crash between writes and checkpoint commit):
    // drop the commit marker so the restarted query re-executes batch 2
    // against a corpus that already contains batch 2's own output. The
    // replayed batch must exclude its own prior write — identical
    // corpus after, nothing dropped as a self-duplicate.
    val commit = new java.io.File(s"$ckpt/commits/2")
    assert(commit.exists(), "expected commit marker for batch 2")
    assert(commit.delete())
    // the local-FS checksum shadow must go too or the replayed commit's
    // rename hits FileAlreadyExists on the stale .crc
    new java.io.File(s"$ckpt/commits/.2.crc").delete()
    drain()
    assert(corpusIds() == Set(1L, 2L, 13L, 14L),
      s"replayed batch lost data: ${corpusIds()}")
    val mhIds = spark.read.parquet(s"$corpusDir.side/minhash")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(mhIds == Set(1L, 2L, 13L, 14L),
      s"minhash side table after replay: $mhIds")
  }

  test("asofLookup: streaming == batch asofJoin on the q160 fixture") {
    import org.apache.spark.sql.functions._
    val dirP = "/root/testdata/sf0.001/events.parquet"
    val ev = EventStream.loadEvents(spark, dirP)
    val dim = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg((max(col("event_id")) % 5).cast("int").as("tier"))
    val evs = ev.filter(col("event_id") % 10 =!= 0)
      .select("event_id", "user_id", "ts")
    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getLong(0) -> ((if (r.isNullAt(3)) None else Some(r.getTimestamp(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4))))
    }.toMap
    val batch = toMap(graft.ext.AsOf.asofJoin(evs, "ts", "user_id",
        dim, "ts", "user_id", Seq("tier"), toleranceSeconds = Some(3600L))
      .select("event_id", "user_id", "ts", "matched_ts", "tier").collect())
    // the same lookup as a REAL stream: staged file -> AvailableNow ->
    // memory sink; the stateless snapshot shape must accept a streaming
    // frame (a window-based as-of would throw here)
    val stage = tmpDir("asof-lookup")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dirP),
      java.nio.file.Paths.get(stage, "events.parquet"))
    val s = EventStream.read(spark, stage)
      .filter(col("event_id") % 10 =!= 0)
      .select("event_id", "user_id", "ts")
    val out = EventStream.asofLookup(s, "ts", "user_id", dim, "ts", "user_id",
      Seq("tier"), toleranceSeconds = Some(3600L))
    assert(out.isStreaming, "asofLookup must stay a streaming frame")
    val qname = "asof_lookup_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.select("event_id", "user_id", "ts", "matched_ts", "tier")
      .writeStream.format("memory").queryName(qname)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "asofLookup stream timed out")
    val streamed = toMap(spark.table(qname).collect())
    assert(streamed.size == batch.size, s"${streamed.size} != ${batch.size}")
    assert(streamed == batch,
      s"diff: ${(streamed.toSet -- batch.toSet).take(5)} / " +
        s"${(batch.toSet -- streamed.toSet).take(5)}")
    // duplicate-dim refusal mirrors asofJoin's
    val e = intercept[IllegalArgumentException] {
      EventStream.asofLookup(s, "ts", "user_id",
        dim.unionByName(dim.limit(1)), "ts", "user_id", Seq("tier"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("flatMapGroupsWithState running counters == batch groupBy") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001/events.parquet"
    val batch = EventStream.loadEvents(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // stream the same data in one AvailableNow batch; final state per user
    // must equal the batch aggregate
    val stageDir = tmpDir("state-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(stageDir, "events.parquet"))
    val counters = EventStream.runningUserCounters(
      EventStream.read(spark, stageDir))
    val qname = s"ctr_${System.nanoTime}"
    val q = counters.writeStream.format("memory").queryName(qname)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // last emitted row per user = final state
    val got = spark.table(qname)
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == batch)
  }

  test("stream-stream interval join == batch; matches cross micro-batch boundaries") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("ijoin")
    def write(rows: Seq[(Long, Long, Long, String)], modTime: Long): Unit = {
      rows.toDF("event_id", "sec", "user_id", "event_type")
        .select($"event_id", timestamp_micros($"sec" * 1000000L).as("ts"),
          $"user_id", $"event_type")
        .coalesce(1).write.mode("append").parquet(dir)
      // pin file order for the maxFilesPerTrigger=1 source (mod time is
      // the source's ordering key)
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .filter(_.lastModified() > modTime).foreach(_.setLastModified(modTime))
    }
    // file 1: clicks only; file 2: purchases whose matching clicks live
    // in file 1 — found ONLY if click state survives into batch 2
    write(Seq((1L, 100L, 1L, "click"), (2L, 500L, 1L, "click"),
      (3L, 100L, 2L, "click")), 1000000L)
    write(Seq((10L, 150L, 1L, "purchase"),   // matches click 1 (50s back)
      (11L, 130L, 2L, "purchase"),           // matches click 3 (30s back)
      (12L, 2000L, 1L, "purchase")), 2000000L) // nothing within 100s back
    val schema = spark.read.parquet(dir).schema
    def sides(ev: org.apache.spark.sql.DataFrame) = (
      ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id")),
      ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("c_ts"), $"event_id".as("click_id")))
    val (sp, sc) = sides(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir))
    val joined = EventStream.intervalJoin(sp, sc, "user_id", "p_ts", "c_ts",
        lookbackSeconds = 100L, lookaheadSeconds = 0L, watermark = "1 hour")
      .select("purchase_id", "click_id")
    val q = joined.writeStream.format("memory").queryName("ijoin_spec")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(q.recentProgress.length >= 2, "expected >= 2 micro-batches")
    val got = spark.table("ijoin_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (11L, 3L)), s"got $got")
    // batch twin: the SAME operator over the batch read plans a plain join
    val (bp, bc) = sides(spark.read.parquet(dir))
    val batch = EventStream.intervalJoin(bp, bc, "user_id", "p_ts", "c_ts",
        lookbackSeconds = 100L, lookaheadSeconds = 0L)
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == got)
  }

  test("intervalJoin refusals: shared ts name, column clash, zero-width interval") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val l = Seq((1L, 1L)).toDF("user_id", "eid")
      .select($"user_id", timestamp_micros($"eid").as("ts"), $"eid")
    val r = l.withColumnRenamed("eid", "rid")
    def msg(f: => Any) = intercept[IllegalArgumentException](f).getMessage
    assert(msg(EventStream.intervalJoin(l, r, "user_id", "ts", "ts", 10, 0))
      .contains("rename"))
    val r2 = l.withColumnRenamed("ts", "rts") // still carries eid
    assert(msg(EventStream.intervalJoin(l, r2, "user_id", "ts", "rts", 10, 0))
      .contains("eid"))
    assert(msg(EventStream.intervalJoin(l, r2.drop("eid"), "user_id", "ts", "rts", 0, 0))
      .contains("zero-width"))
  }

  test("sessionization batch shape") {
    val dir = "/root/testdata/sf0.001/events.parquet"
    val events = graft.streaming.EventStream.loadEvents(spark, dir)
    val sess = EventStream.sessionized(events, "30 minutes")
    // batch execution of session_window also works
    val n = sess.count()
    assert(n > 0)
  }

  test("ingest write barrier: an interrupt cancels the writes and is not swallowed") {
    import java.util.concurrent.CompletableFuture
    // two writers that never finish: a barrier that swallows the
    // interrupt moves on to the second and blocks forever
    val writes = Seq.fill(2)(new CompletableFuture[Unit]())
    @volatile var outcome = "still waiting"
    @volatile var flagRestored = false
    val waiter = new Thread(() =>
      try { EventStream.awaitWrites(writes); outcome = "returned" }
      catch {
        case _: InterruptedException =>
          outcome = "interrupted"
          flagRestored = Thread.currentThread().isInterrupted
        case t: Throwable => outcome = s"threw $t"
      })
    waiter.setDaemon(true)
    waiter.start()
    val deadline = System.nanoTime() + 10000000000L
    while (waiter.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(10)
    waiter.interrupt()
    waiter.join(10000)
    assert(!waiter.isAlive, "barrier kept blocking after the interrupt")
    assert(outcome == "interrupted")
    assert(flagRestored, "interrupt flag cleared")
    assert(writes.forall(_.isCancelled), "remaining writes not cancelled")
  }
}
