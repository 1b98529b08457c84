package graft.streaming

import graft.core.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Running per-user counters maintained by flatMapGroupsWithState. */
case class UserCounter(user_id: Long, n_events: Long, sum_value: Double)

/**
 * Structured Streaming surface over event streams — the engine's extension
 * of the reference's append-only event log (SURVEY.md §2.13: the reference
 * has no streaming; its event log is the natural streaming source).
 *
 * Sources: any parquet directory with the events schema (the testdata
 * `events` table or the engine's `_sys/eventlog`). Standard watermark +
 * windowed aggregation semantics; `Trigger.AvailableNow` gives exactly the
 * batch answer for a static directory (tested against the batch plan).
 */
object EventStream {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def withTsType(dt: DataType): StructType = StructType(
    eventsSchema.fields.map(f => if (f.name == "ts") f.copy(dataType = dt) else f))

  /** Read schema + normalization for the `ts` column, probed from the first
    * parquet footer rather than assumed: the testdata generator has shipped
    * `ts` both as TIMESTAMP(NANOS) (Spark reads it only as long, via
    * spark.sql.legacy.parquet.nanosAsLong) and as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false). One O(KB) metadata read per load; under the
    * engine's pinned UTC session timezone every branch normalizes to the
    * same TimestampType instants the DuckDB oracle computes. */
  private def tsReadPlan(spark: SparkSession, path: String): (StructType, DataFrame => DataFrame) = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // recurse one level for partitioned/nested layouts; a directory with
    // NO parquet yet (the normal cold start of a file-source stream —
    // readStream defined before the first batch lands) probes nothing
    // and falls back to the plain TimestampType schema instead of
    // crashing the stream definition
    val file: Option[org.apache.hadoop.fs.Path] =
      if (fs.getFileStatus(p).isFile) Some(p)
      else {
        val entries = fs.listStatus(p)
        entries.map(_.getPath).find(_.getName.endsWith(".parquet"))
          .orElse(entries.filter(_.isDirectory).iterator
            .flatMap(d => fs.listStatus(d.getPath).map(_.getPath))
            .find(_.getName.endsWith(".parquet")))
      }
    val ann = file.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try Option(r.getFileMetaData.getSchema.getType(Seq("ts"): _*)
        .asPrimitiveType.getLogicalTypeAnnotation)
      finally r.close()
    }.orNull
    ann match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS =>
        // integer `div`, not `/`: Divide on long promotes to DOUBLE, and
        // epoch nanos (~1.7e18) exceed double's 2^53 exact range — the
        // pre-division rounding (ulp 256 ns) would shift 1-in-32
        // exact-microsecond instants one microsecond early after the
        // truncating cast. The testdata's whole-hour stamps never hit
        // it; arbitrary production nanos do.
        (withTsType(LongType),
          df => df.withColumn("ts",
            timestamp_micros(expr("ts div 1000").cast(LongType))))
      case t: TimestampLogicalTypeAnnotation if !t.isAdjustedToUTC =>
        (withTsType(TimestampNTZType),
          df => df.withColumn("ts", col("ts").cast(TimestampType)))
      case _ =>
        (eventsSchema, identity[DataFrame])
    }
  }

  /** Batch load of an events table, whatever `ts` unit is on disk. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val (schema, norm) = tsReadPlan(spark, dir)
    norm(spark.read.schema(schema).parquet(dir))
  }

  def read(spark: SparkSession, dir: String): DataFrame = {
    val (schema, norm) = tsReadPlan(spark, dir)
    norm(spark.readStream.schema(schema).parquet(dir))
  }

  /** Tumbling-window counts/sums per event type with a watermark. */
  def windowedStats(events: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"),
        col("approx_users"))

  /** The batch-equivalent of [[windowedStats]] (for tests / backfill). */
  def windowedStatsBatch(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"),
        col("approx_users"))

  /**
   * Custom streaming state via `flatMapGroupsWithState`
   * (KeyValueGroupedDataset): running per-user event counters that
   * survive across micro-batches — the pattern for any stateful operator
   * Spark's windowed aggregates can't express. State per key is O(1)
   * (two numbers), so 10⁹ users is ~tens of GB of state across the
   * cluster's state stores.
   */
  def runningUserCounters(events: DataFrame): Dataset[UserCounter] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserCounter, UserCounter](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserCounter]) =>
          val prev = state.getOption.getOrElse(UserCounter(user, 0L, 0.0))
          var n = prev.n_events; var s = prev.sum_value
          rows.foreach { case (_, v) => n += 1; s += v }
          val next = UserCounter(user, n, s)
          state.update(next)
          Iterator.single(next)
      }
  }

  /**
   * Collection change-feed (extension of the reference's `modified_at`
   * trigger + NOTIFY machinery, SURVEY §2.13): stream the collection's
   * parquet directory; every DML commit (append or copy-on-write swap)
   * surfaces its rows as a micro-batch. Downstream can filter on
   * `modified_at`/`created_at` watermarks for upsert-style consumption.
   */
  def collectionFeed(db: graft.engine.GeoDb, collection: String,
                     database: Option[String] = None): DataFrame = {
    val d = database.getOrElse(db.whoami)
    val meta = db.getCollectionInfo(collection, database)
    db.spark.readStream.schema(meta.schema)
      .parquet(db.catalog.dataDir(d, collection))
  }

  /**
   * Streaming exact dedup — the ingest-time twin of `Dedup.exact`: drop
   * any document whose content hash has already been seen on the stream.
   * In append mode each distinct hash emits exactly one row (first
   * arrival), so a training-data ingest pipeline writes a dedup'd corpus
   * without ever re-scanning it.
   *
   * The DEFAULT (and only scale-safe) streaming path is the watermarked
   * one: pass an event-time column + delay and the op uses
   * `dropDuplicatesWithinWatermark`, whose state store evicts hashes
   * older than the watermark — state is bounded by the distinct-hash
   * count within one `delay` window, not by stream lifetime. Duplicates
   * separated by more than `delay` can reappear (the standard trade);
   * run a periodic batch `Dedup.exact` compaction for global guarantees.
   *
   * The no-event-time variant keeps one state row per distinct hash
   * FOREVER — on a continuous ingest stream that is unbounded state and
   * a scale-killer. It is therefore restricted to batch backfill /
   * bounded replay (e.g. `Trigger.AvailableNow` over a static
   * directory): on a streaming frame it THROWS unless the caller
   * explicitly passes `allowUnboundedState = true` to label the run as
   * bounded. Batch (non-streaming) frames are always allowed — there
   * `dropDuplicates` is a plain hash-aggregate with no state store.
   */
  def dedupStream(docs: DataFrame, textCol: String,
                  eventTimeCol: Option[String] = None,
                  delay: String = "1 hour",
                  allowUnboundedState: Boolean = false): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    eventTimeCol match {
      case Some(ts) => hashed.withWatermark(ts, delay)
        .dropDuplicatesWithinWatermark("content_hash")
      case None =>
        require(!docs.isStreaming || allowUnboundedState,
          "dedupStream without an event-time column keeps state per distinct " +
            "hash forever (unbounded on a continuous stream). Pass " +
            "eventTimeCol + delay for the bounded dropDuplicatesWithinWatermark " +
            "path, or allowUnboundedState = true only for bounded replays " +
            "(AvailableNow over a static directory) / batch backfill.")
        hashed.dropDuplicates("content_hash")
    }
  }

  /**
   * STREAMING corpus ingestion — [[graft.ext.Pipeline.ingestBatch]] as a
   * `foreachBatch` sink, so "today's crawl" runs as a stream job over a
   * drop directory (or any streaming source of raw docs). Every
   * micro-batch runs the full within-batch cleaning stack plus the three
   * cross-corpus dedup stages against the CURRENT saved corpus — re-read
   * at each batch, so batch N+1 dedups against batch N's survivors too —
   * then APPENDS its survivors to `corpusDir` and (optionally) its
   * per-stage report rows (batch_id, stage, rows) to `reportDir`.
   * `Trigger.AvailableNow` turns the same job into a catch-up backfill
   * that stops when the directory is drained — the batch ≡ streaming
   * equivalence the StreamingSpec pins.
   *
   * Scale: per micro-batch work is exactly [[graft.ext.Pipeline.ingestBatch]]'s
   * contract — |batch| cleaning + three slim anti-joins — and the sink
   * MAINTAINS three side tables append-only
   * (`<corpusDir>.side/{urlset,md5set,minhash}`, each bootstrapped from
   * the corpus ONCE if it was seeded externally), so NO cross stage
   * rescans the corpus: a daily batch against a 100 TB corpus reads the
   * two slim url/md5 sets plus the minhash table
   * ([[graft.ext.Dedup.minhashTableRows]] — (id, sig, sh); the shingle
   * sets ride along because the exact-threshold verify needs them, which
   * makes this one a corpus-sized shingle INDEX, the standard trade for
   * zero corpus rescans), and the corpus's url/text columns are never
   * read after the bootstrap. Every write is keyed by batch id
   * (`batch=<id>` partition, overwrite) — the standard foreachBatch
   * idempotent-sink recipe: a replayed batch overwrites its own
   * partition in the corpus AND all three side tables instead of
   * double-appending. Crucially the replay also EXCLUDES its own prior
   * partial write when reading the corpus and side tables (a batch must
   * never dedupe against itself: a crash between the writes and the
   * checkpoint commit would otherwise drop the whole replayed batch as
   * self-duplicates and overwrite its partition with nothing —
   * permanent loss). Missing paths mean "no corpus yet"; any OTHER read
   * failure (corrupt footer, transient IO) propagates loudly instead of
   * being mistaken for an empty corpus.
   */
  def ingestSink(newDocs: DataFrame, textCol: String, idCol: String,
                 corpusDir: String, checkpointDir: String,
                 urlCol: Option[String] = None,
                 reportDir: Option[String] = None,
                 minhashThreshold: Double = 0.8,
                 minhashMaxBucket: Int = 1000,
                 // lifetime key budget for BLOOM prefilters over the
                 // url/md5 side tables ([[graft.ext.Bloom]]): when set,
                 // the sink maintains `<corpusDir>.side/bloom_{url,md5}`
                 // artifacts (bootstrapped from the side tables once,
                 // OR-appended batch-id-keyed per batch) and the two key
                 // cross stages consult the side tables only for the
                 // bloom-positive minority — results stay bit-identical
                 // (no false negatives; positives exactly verified, so a
                 // replayed batch whose keys already sit in the bloom
                 // loses nothing). Appends REFUSE past the budget (the
                 // fp bound would silently die) — size it for the
                 // corpus lifetime.
                 bloomExpectedKeys: Option[Long] = None,
                 // SAVED tokenizer artifact (either family — BPE merge
                 // table or unigram piece table, the schema names it):
                 // when set, each batch's survivors are annotated with
                 // per-doc `n_subwords` via the codegen'd encode kernel
                 // before the corpus write, so the corpus arrives
                 // pre-tokenized for the packing planner and the
                 // artifact never retrains. Keep the path stable for
                 // the corpus lifetime — flipping it mid-life mixes
                 // partition schemas.
                 tokenizerPath: Option[String] = None,
                 // AUTO-COMPACTION ([[graft.ext.Compact]]): every N
                 // batches the sink bin-packs closed batch ranges of the
                 // corpus and all maintained side tables to
                 // `compactTargetBytes` — a year of daily batches stays
                 // O(corpus/targetBytes) files instead of ~365 fragmented
                 // partitions per table. Runs INSIDE foreachBatch after
                 // the batch's writes: compaction is rerun-idempotent and
                 // crash-self-healing (q187 contract), and
                 // `compactKeepLatest` newest batches stay raw so a
                 // checkpoint replay can still exclude its own partition.
                 // Even at keepLatest=0 content is preserved (a replayed
                 // batch already folded into a range dedups against it
                 // and overwrites its own partition empty — the range
                 // stays authoritative), but snapshot granularity
                 // coarsens at range boundaries, so keep >= 1 unless the
                 // layout is append-only archive.
                 compactEveryBatches: Option[Int] = None,
                 compactTargetBytes: Long = 128L << 20,
                 compactKeepLatest: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    compactEveryBatches.foreach { n =>
      require(n >= 1, s"compactEveryBatches must be >= 1, got $n")
      // validate the downstream knobs NOW — failing at stream-start
      // beats failing inside micro-batch N's foreachBatch
      require(compactTargetBytes > 0,
        s"compactTargetBytes must be > 0, got $compactTargetBytes")
      require(compactKeepLatest >= 0,
        s"compactKeepLatest must be >= 0, got $compactKeepLatest")
    }
    require(newDocs.isStreaming, "ingestSink needs a streaming frame; " +
      "call Pipeline.ingestBatch directly for batch ingestion")
    newDocs.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // dev-only span timing on stderr (GRAFT_STAGE_TIMING=1) — the
        // measure-first hook for the sink's non-stage work
        val spanTiming = sys.env.get("GRAFT_STAGE_TIMING").exists(_.nonEmpty)
        def span[A](name: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val out = body
          if (spanTiming) System.err.println(
            f"GRAFT_STAGE sink/$name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
          out
        }
        // the cleaning stack resolves its kernels via the SQL registry;
        // registration is idempotent and the sink must not depend on
        // the caller having done it
        graft.ext.TextFunctions.registerAll(spark)
        val keepCols = (Seq(idCol, textCol) ++ urlCol).map(col)
        val hconf = spark.sessionState.newHadoopConf()
        // list a table dir's PRIOR partitions: None = dir absent (no
        // corpus/side table yet — the only failure treated as empty;
        // corrupt footers and IO errors propagate from the read below);
        // the current batch's own `batch=<id>` partition is EXCLUDED so
        // a checkpoint replay never dedupes the batch against its own
        // prior partial write (self-duplicates -> empty overwrite ->
        // permanent loss of the batch)
        def priorParts(dir: String): Option[Seq[String]] = {
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(hconf)
          if (!fs.exists(p)) None
          else Some(fs.listStatus(p).toSeq.map(_.getPath)
            .filterNot(c => c.getName == s"batch=$batchId" ||
              c.getName.startsWith("_") || c.getName.startsWith("."))
            .map(_.toString))
        }
        // the current corpus, or a batch-shaped EMPTY frame on the very
        // first batch: ingestBatch's cross stages all no-op against an
        // empty old side
        val old = span("read_old_corpus")(priorParts(corpusDir) match {
          case Some(parts) if parts.nonEmpty => spark.read.parquet(parts: _*)
          case _ => batch.select(keepCols: _*).limit(0)
        })
        // maintained side tables; bootstrap (derive from the corpus +
        // persist) covers an externally-seeded corpus dir, so later
        // batches never under-cover it
        def sideTable(path: String, derive: => DataFrame): DataFrame =
          priorParts(path) match {
            case Some(parts) if parts.nonEmpty => spark.read.parquet(parts: _*)
            case _ =>
              derive.write.mode("overwrite").parquet(s"$path/batch=_bootstrap")
              spark.read.parquet(s"$path/batch=_bootstrap")
          }
        val side = s"$corpusDir.side"
        val urlSet = urlCol.map { u =>
          span("side_urlset")(sideTable(s"$side/urlset",
            old.select(graft.ext.TextAnalysis.canonicalizeUrl(col(u))
              .as("url_canon")).filter(col("url_canon").isNotNull).distinct())
            .select("url_canon"))
        }
        val hashSet = span("side_md5set")(sideTable(s"$side/md5set",
          old.select(md5(col(textCol)).as("text_md5")).distinct())
          .select("text_md5"))
        // the minhash (id, sig, sh) table: with it the near-dup cross
        // stage reads ONLY this artifact — a fresh session never pays an
        // old-corpus text scan to rebuild signatures
        val mhTable = span("side_minhash")(sideTable(s"$side/minhash",
          graft.ext.Dedup.minhashTableRows(old, textCol, idCol))
          .select("id", "sig", "sh"))
        // bloom artifacts: bootstrap from the (already batch-excluded)
        // side tables if absent, else load. A replayed batch's own keys
        // may already sit in the bloom — harmless over-containment, the
        // exact verify consults only the batch-excluded side table.
        def bloomArtifact(path: String, keys: DataFrame, keyCol: String)
            : Array[Byte] = {
          val p = new org.apache.hadoop.fs.Path(path)
          if (!p.getFileSystem(hconf).exists(p))
            graft.ext.Bloom.writeMembershipBloom(keys, keyCol, path,
              expectedItems = bloomExpectedKeys.get)
          graft.ext.Bloom.loadBloom(spark, path)._1
        }
        val urlBloom = for { _ <- bloomExpectedKeys; u <- urlSet }
          yield span("bloom_url_load")(bloomArtifact(s"$side/bloom_url", u, "url_canon"))
        val hashBloom = bloomExpectedKeys.map(_ =>
          span("bloom_md5_load")(bloomArtifact(s"$side/bloom_md5", hashSet, "text_md5")))
        val (survivors0, report) = span("ingest_batch_total")(graft.ext.Pipeline.ingestBatch(
          batch, textCol, idCol, old, textCol, idCol,
          urlCol = urlCol, oldUrlCol = urlCol,
          minhashThreshold = minhashThreshold,
          minhashMaxBucket = minhashMaxBucket,
          oldUrlSet = urlSet, oldHashSet = Some(hashSet),
          oldMinhashTable = Some(mhTable),
          oldUrlBloom = urlBloom, oldHashBloom = hashBloom))
        // every write keyed by batch id + overwrite: a checkpoint
        // REPLAY overwrites its own partitions instead of appending
        // duplicates — corpus and side tables stay mutually consistent
        val survivors = span("survivors_cut")(
          survivors0.select(keepCols: _*).lineageCut())
        // pre-tokenize at ingest: annotation happens on the |survivors|
        // frame only (the artifact is driver-sized), and only the
        // corpus write carries it — side tables stay slim keys
        val corpusOut = tokenizerPath.map(p => graft.ext.TextAnalysis
          .withSubwordCounts(survivors, textCol, idCol, p))
          .getOrElse(survivors)
        // the batch's output writes are INDEPENDENT jobs over the one
        // materialized survivor frame (distinct target dirs, no
        // read-after-write among them) — run them from a small driver
        // pool so each write's task tail back-fills the executor slots
        // the previous write would have left idle (guide §2.6 "overlap
        // independent jobs"; r15 optimization). Crash semantics are
        // unchanged: the checkpoint commits only after ALL writes
        // return, and a replayed batch overwrites every partition it
        // touched, exactly as under the sequential schedule.
        val writeJobs = Seq.newBuilder[(String, () => Unit)]
        writeJobs += ("write_corpus" -> (() =>
          corpusOut.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")))
        urlCol.foreach { u =>
          writeJobs += ("write_urlset" -> (() =>
            survivors.select(graft.ext.TextAnalysis.canonicalizeUrl(col(u))
                .as("url_canon")).filter(col("url_canon").isNotNull).distinct()
              .write.mode("overwrite").parquet(s"$side/urlset/batch=$batchId")))
        }
        writeJobs += ("write_md5set" -> (() =>
          survivors.select(md5(col(textCol)).as("text_md5")).distinct()
            .write.mode("overwrite").parquet(s"$side/md5set/batch=$batchId")))
        writeJobs += ("write_minhash" -> (() =>
          graft.ext.Dedup.minhashTableRows(survivors, textCol, idCol)
            .write.mode("overwrite").parquet(s"$side/minhash/batch=$batchId")))
        // OR-append the batch's keys into the bloom artifacts —
        // batch-id-keyed (replays skip) and bitwise idempotent anyway
        bloomExpectedKeys.foreach { _ =>
          urlCol.foreach { u =>
            writeJobs += ("bloom_url_append" -> (() =>
              graft.ext.Bloom.appendMembershipBloom(
                survivors.select(graft.ext.TextAnalysis.canonicalizeUrl(col(u))
                  .as("url_canon")).filter(col("url_canon").isNotNull)
                  .distinct(),
                "url_canon", batchId, s"$side/bloom_url")))
          }
          writeJobs += ("bloom_md5_append" -> (() =>
            graft.ext.Bloom.appendMembershipBloom(
              survivors.select(md5(col(textCol)).as("text_md5")).distinct(),
              "text_md5", batchId, s"$side/bloom_md5")))
        }
        reportDir.foreach { rd =>
          import spark.implicits._
          val rep = report.map(r => (r.stage, r.rows)).toDF("stage", "rows")
          writeJobs += ("write_report" -> (() =>
            rep.write.mode("overwrite").parquet(s"$rd/batch_id=$batchId")))
        }
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        try {
          val futures = writeJobs.result().map { case (name, job) =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = span(name)(job())
            })
          }
          awaitWrites(futures)
        } finally pool.shutdown()
        // scheduled layout maintenance: after this batch's writes land,
        // bin-pack closed ranges across corpus + side tables. Replays
        // re-run it — harmless, compaction is rerun-idempotent.
        compactEveryBatches.foreach { n =>
          if ((batchId + 1) % n == 0)
            span("compact")(
              graft.ext.Compact.compactIngestLayout(spark, corpusDir,
                targetBytes = compactTargetBytes,
                keepLatest = compactKeepLatest))
        }
        ()
      }
      .start()
  }

  /**
   * The ingest sink's write barrier. Awaits EVERY write before
   * propagating the first failure: an early rethrow would leave sibling
   * writers of the failed attempt running while the batch replays,
   * racing the replay's own writes over the same batch=N dirs and bloom
   * artifacts. So "first failure propagated, all writes quiescent on
   * return" is the contract. An interrupt of the waiting thread is the
   * exception: the remaining writes are cancelled, the interrupt flag is
   * restored and the InterruptedException rethrown.
   */
  private[graft] def awaitWrites(
      futures: Seq[java.util.concurrent.Future[_]]): Unit = {
    val failures = futures.flatMap { f =>
      try { f.get(); None }
      catch {
        case ie: InterruptedException =>
          futures.foreach(_.cancel(true))
          Thread.currentThread().interrupt()
          throw ie
        case t: Throwable => Some(t)
      }
    }
    failures.headOption.foreach(t => throw t)
  }

  /**
   * Stream-stream INTERVAL JOIN (Flink `intervalJoin`, Kafka Streams
   * windowed join — the two-stream temporal primitive): each left row
   * is inner-joined to right rows of the same key whose timestamp lies
   * in `[l.ts − lookbackSeconds, l.ts + lookaheadSeconds]` — "the
   * clicks within the hour before each purchase". Works on two
   * streaming frames, two batch frames, or one of each (Spark plans
   * stream-stream, batch, or stream-static respectively from the same
   * declaration).
   *
   * State bound: both sides carry `withWatermark(ts, watermark)`, and
   * the join condition bounds each side's time column relative to the
   * other, which is exactly what Spark's stream-stream join needs to
   * EXPIRE buffered rows — each side's state holds only
   * `watermark + lookback/lookahead` of history per key, not the
   * stream. An unbounded inner join (no watermark) would accumulate
   * state forever; this shape is the one that survives a month of
   * uptime.
   *
   * Column contract: both frames keep their own columns (they must be
   * disjoint apart from `keyCol` — loud refusal otherwise); the output
   * carries left columns then right columns minus the duplicate key.
   * Late data past the watermark is dropped by Spark's standard
   * semantics — size the watermark to the source's real disorder.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, rightTsCol: String,
                   lookbackSeconds: Long, lookaheadSeconds: Long,
                   watermark: String = "1 hour"): DataFrame = {
    require(lookbackSeconds >= 0 && lookaheadSeconds >= 0,
      "intervalJoin: lookback/lookahead must be >= 0")
    require(lookbackSeconds + lookaheadSeconds > 0,
      "intervalJoin: a zero-width interval matches only exact-equal " +
        "timestamps — use an equi-join on (key, ts) instead")
    require(leftTsCol != rightTsCol,
      s"intervalJoin: both time columns are named '$leftTsCol' — rename " +
        "one side (the join output must carry both)")
    val clash = (left.columns.toSet - keyCol)
      .intersect(right.columns.toSet - keyCol)
    require(clash.isEmpty,
      s"intervalJoin: both sides carry ${clash.mkString(", ")} — rename " +
        "one side; only the join key may be shared")
    val l = (if (left.isStreaming) left.withWatermark(leftTsCol, watermark)
             else left).alias("l")
    val r = (if (right.isStreaming) right.withWatermark(rightTsCol, watermark)
             else right).alias("r")
    // the range condition in MICROSECONDS on both sides: unix_micros is
    // exact for timestamp columns, and expressing both bounds on the
    // raw ts columns lets Spark derive the state-eviction predicate
    val lts = col(s"l.$leftTsCol"); val rts = col(s"r.$rightTsCol")
    val cond = col(s"l.$keyCol") === col(s"r.$keyCol") &&
      rts >= lts - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
      rts <= lts + expr(s"INTERVAL $lookaheadSeconds SECONDS")
    l.join(r, cond, "inner")
      .drop(col(s"r.$keyCol"))
  }

  /**
   * STREAM-STATIC AS-OF lookup — the temporal ENRICHMENT join of the
   * streaming ingest path ("stamp each arriving event with the
   * dimension state valid at its timestamp"): [[graft.ext.AsOf.asofJoin]]'s
   * union-window needs a full per-key sort and cannot run on an
   * unbounded stream, so the streaming formulation is STATELESS — the
   * static dimension is snapshotted ONCE at query build (collected
   * under a loud `maxDimRows` cap, organized into per-key sorted
   * timestamp slices) and every stream row does a codegen'd binary
   * search ([[graft.ext.AsofIndexExpr]]) against the broadcast
   * snapshot, then a broadcast equi-join on the matched row INDEX
   * carries the payload — generic in payload schema, no per-row state,
   * no watermark needed. kdb's `aj` against an in-memory quote table;
   * Flink's temporal table function with a bounded build side.
   *
   * Semantics are [[graft.ext.AsOf.asofJoin]]'s backward contract
   * exactly (exact-ts matches included; unmatched/NULL-key/NULL-ts
   * rows kept with NULL `matched_ts` + payload; tolerance in
   * floor-div-truncated epoch seconds on timestamp axes — bit-for-bit
   * the batch `cast(ts as long)` convention, so streaming ≡ batch is
   * exact and the StreamingSpec pins it). The dimension must be unique
   * per (key, ts) — same loud refusal.
   *
   * The snapshot is FIXED for the query's lifetime — restart the query
   * to pick up a new dimension version (the standard stream-static
   * posture; a slowly-changing dimension that must update in-flight is
   * the stream-stream interval join's territory).
   */
  def asofLookup(stream: DataFrame, tsCol: String, keyCol: String,
                 dim: DataFrame, dimTsCol: String, dimKeyCol: String,
                 payloadCols: Seq[String],
                 toleranceSeconds: Option[Long] = None,
                 verifyUnique: Boolean = true,
                 maxDimRows: Int = 5000000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType, TimestampType}
    require(!dim.isStreaming,
      "asofLookup: the dimension side must be STATIC (a snapshot frame); " +
        "two unbounded sides need EventStream.intervalJoin")
    require(payloadCols.nonEmpty, "asofLookup: need at least one payload column")
    require(toleranceSeconds.forall(_ >= 0), "toleranceSeconds must be >= 0")
    val clash = stream.columns.toSet.intersect(payloadCols.toSet + "matched_ts")
    require(clash.isEmpty,
      s"asofLookup: output would carry duplicate column names " +
        s"${clash.mkString(", ")} — rename one side")
    val kt = stream.schema(keyCol).dataType
    require(kt == dim.schema(dimKeyCol).dataType,
      s"asofLookup: key types differ — $keyCol is $kt, $dimKeyCol is " +
        s"${dim.schema(dimKeyCol).dataType}")
    val tt = stream.schema(tsCol).dataType
    require(tt == dim.schema(dimTsCol).dataType,
      s"asofLookup: ts types differ — $tsCol is $tt, $dimTsCol is " +
        s"${dim.schema(dimTsCol).dataType}")
    val microsAxis = tt == TimestampType
    val dupes =
      if (!verifyUnique) 0L
      else dim.filter(col(dimTsCol).isNotNull && col(dimKeyCol).isNotNull)
        .groupBy(col(dimKeyCol), col(dimTsCol))
        .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
        .limit(1).count()
    require(dupes == 0L,
      s"asofLookup: dimension has duplicate ($dimKeyCol, $dimTsCol) rows " +
        "— two states of one entity at one instant; deduplicate, or pass " +
        "verifyUnique = false only when uniqueness is guaranteed upstream.")
    val spark = dim.sparkSession
    val axis =
      if (microsAxis) unix_micros(col(dimTsCol)) else col(dimTsCol).cast("long")
    val prep = dim.filter(col(dimTsCol).isNotNull && col(dimKeyCol).isNotNull)
      .select(col(dimKeyCol).as("_k") +: axis.as("_us") +:
        col(dimTsCol).as("matched_ts") +: payloadCols.map(col): _*)
    val rows = prep.limit(maxDimRows + 1).collect()
    require(rows.length <= maxDimRows,
      s"asofLookup: dimension exceeds maxDimRows=$maxDimRows — a " +
        "broadcast snapshot must fit the driver; pre-aggregate the " +
        "dimension or raise the cap deliberately.")
    val byKey = new java.util.LinkedHashMap[AnyRef,
      scala.collection.mutable.ArrayBuffer[Row]]()
    rows.foreach { r =>
      byKey.computeIfAbsent(r.get(0).asInstanceOf[AnyRef],
        _ => scala.collection.mutable.ArrayBuffer.empty[Row]) += r
      ()
    }
    val nKeys = byKey.size
    val slots = new java.util.HashMap[AnyRef, Integer](nKeys * 2)
    val starts = new Array[Int](nKeys)
    val ends = new Array[Int](nKeys)
    val tsArr = new Array[Long](rows.length)
    val ordered = new scala.collection.mutable.ArrayBuffer[Row](rows.length)
    var slot = 0
    var pos = 0
    byKey.forEach { (k, buf) =>
      // map keys live in the expression's RUNTIME domain (UTF8String
      // for strings); frame values stay as collected
      val mk: AnyRef =
        if (kt == StringType)
          org.apache.spark.unsafe.types.UTF8String.fromString(k.asInstanceOf[String])
        else k
      slots.put(mk, Integer.valueOf(slot))
      starts(slot) = pos
      buf.sortBy(_.getLong(1)).foreach { r =>
        tsArr(pos) = r.getLong(1); ordered += r; pos += 1
      }
      ends(slot) = pos
      slot += 1
      ()
    }
    val snap = new graft.ext.AsofSnapshot(slots, starts, ends, tsArr,
      microsAxis, toleranceSeconds.getOrElse(-1L))
    val outSchema = StructType(
      StructField("_didx", IntegerType, nullable = false) +:
        prep.schema.fields.drop(2))
    val idxRows = ordered.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i +: r.toSeq.drop(2))
    }
    val dimIdx = spark.createDataFrame(
      spark.sparkContext.parallelize(idxRows.toSeq, 1), outSchema)
    stream
      .withColumn("_didx",
        graft.ext.AsofFunctions.asof_index(col(keyCol), col(tsCol), snap))
      .join(broadcast(dimIdx), Seq("_didx"), "left")
      .drop("_didx")
  }

  /**
   * Sessionization via flatMapGroupsWithState-free composition: gap-based
   * session ids computed with window functions in batch; streaming variant
   * uses session_window (built-in since Spark 3.2).
   */
  def sessionized(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", gap)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
}
