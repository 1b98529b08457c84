package graft.ext

import graft.core.Checkpoints
import graft.core.Checkpoints.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The operators composed into the standard corpus-cleaning sequence a
 * training-data pipeline runs (the CCNet/RefinedWeb/Dolma shape), in the
 * canonical order — cheap narrow passes and exact dedup first so the
 * expensive similarity stages see the smallest possible corpus:
 *
 *  1. URL-level dedup (min-id keeper per [[TextAnalysis.canonicalizeUrl]]
 *     group) — refetches of one page collapse before any content work;
 *     rows whose URL does not canonicalize pass through un-deduped
 *  2. exact content dedup ([[Dedup.exactKeepers]])
 *  3. within-doc repeated-line removal ([[TextAnalysis.dedupLinesWithinDoc]])
 *  4. cross-doc boilerplate-line removal ([[TextAnalysis.removeBoilerplateLines]])
 *  5. duplicated-substring cut to fixed point
 *     ([[TextAnalysis.removeDuplicatedSpansToFixedPoint]])
 *  6. quality gate: minimum surviving tokens + maximum within-doc
 *     duplicate-token fraction ([[TextAnalysis.dupTokenFraction]])
 *  7. MinHash near-dup dedup ([[Dedup.minhashKeepers]]) LAST — the only
 *     candidate-generating stage, fed the fully-shrunk corpus
 *
 * Decontamination ([[TextAnalysis.decontaminate]] /
 * [[Similarity.semanticDecontaminate]]) and packing
 * ([[TextAnalysis.packSequences]]) stay caller-side: they need the eval
 * sets / tokenizer budget the cleaning stages don't.
 *
 * EAGER, by design: every multi-consumer stage output cuts lineage on
 * its survivors ([[graft.core.Checkpoints]] — reliable when
 * `spark.graft.checkpointDir` is set), so no stage's shuffle re-executes
 * inside a downstream plan, and the per-stage row counts come back as
 * the run report, the artifact a production pipeline logs and alerts on
 * ("stage 4 dropped 80% of the corpus" is a bug report, not a cleaning
 * run). Since r16 the counts ride `observe()` metrics harvested from
 * the materialization actions ([[StageChain]]) and consecutive
 * single-consumer stages share one cut — same frames, same counts,
 * roughly half the jobs.
 */
object Pipeline {

  /**
   * FUSED stage-report plumbing (r16). The r15 shape paid TWO jobs per
   * stage — an eager `lineageCut()` materialization plus a `count()`
   * rescan — and materialized every intermediate even when the next
   * stage consumes it exactly once. Two changes, neither of which
   * alters any stage's logical frame (the reported counts are counts of
   * the SAME frames as before):
   *
   *  1. every stage's survivor count rides an `observe()` metric
   *     (`CollectMetrics` — exactly-once per successful execution, task
   *     retries do not double-count) evaluated DURING the next
   *     materialization and read back through
   *     [[graft.core.Checkpoints.cutObserved]] — the standalone
   *     `count()` job per stage is gone;
   *  2. consecutive SINGLE-consumer stages share one materialization
   *     ([[mark]] without [[materialize]] between them). Materialization
   *     stays wherever a stage's output is consumed more than once
   *     (every `rejoin`, the minhash signature/keeper pair, the bloom
   *     probe paths) or its count feeds plan construction (the derived
   *     boilerplate threshold) — cutting those would re-execute work,
   *     the opposite of the point.
   */
  private final class StageChain(
      scope: String,
      report: scala.collection.mutable.Builder[StageReport, Seq[StageReport]]) {
    private val pending =
      scala.collection.mutable.ArrayBuffer[(String, Option[DataFrame])]()
    /** survivor count of the most recently materialized stage */
    var lastCount = 0L
    /** Attach stage `name`'s count as an observe metric; the count is
      * realized (and reported) by the next [[materialize]]. */
    def mark(name: String, overflow: Option[DataFrame] = None)
            (df: DataFrame): DataFrame = {
      pending += ((name, overflow))
      df.observe("st_" + name, count(lit(1)).as("n"))
    }
    /** Cut lineage once; harvest every pending stage's observed count. */
    def materialize(df: DataFrame): DataFrame = {
      val (out, metrics) = Checkpoints.cutObserved(df, s"stage chain $scope",
        pending.map("st_" + _._1).toSeq: _*)
      pending.foreach { case (name, overflow) =>
        lastCount = metrics("st_" + name).getLong(0)
        report += StageReport(name, lastCount, overflow)
      }
      pending.clear()
      out
    }
    /** mark + materialize in one call — a stage that must stand alone. */
    def stage(name: String, overflow: Option[DataFrame] = None)
             (df: DataFrame): DataFrame =
      materialize(mark(name, overflow)(df))
  }

  /** One stage's outcome in a [[cleanCorpus]] run: survivor count plus
    * the stage's OVERFLOW report — the frame naming exactly what the
    * stage's skew cap excluded from candidate generation (README
    * "Overflow reports — no silent exclusions"; empty ⇔ the stage's
    * result is complete). Only the minhash stage caps today; the field
    * is the uniform slot every future capped stage reports through, so
    * a production run can alert on `overflowRows > 0` per stage instead
    * of discovering a silently-incomplete dedup months later. The frame
    * is checkpoint-materialized (valid after the pipeline returns). */
  case class StageReport(stage: String, rows: Long,
                         overflow: Option[DataFrame] = None) {
    def overflowRows: Long = overflow.map(_.count()).getOrElse(0L)
  }

  /** One cleaning run: returns (cleaned corpus frame, per-stage
    * [[StageReport]]). `urlCol = None` skips stage 1;
    * `markupStrip = true` prepends a [[TextAnalysis.stripMarkup]]
    * extraction stage (stage 0) for corpora ingested as raw HTML —
    * extraction must run before ANY content hashing, or two fetches of
    * one page differing only in markup would defeat the exact stages.
    * `normalize = true` adds a [[TextAnalysis.normalizeText]] stage
    * right after extraction, for the same reason one level down:
    * NFC/whitespace twins of one text must collapse in exact_dedup.
    * `blockedDomains` (requires `urlCol`) runs
    * [[TextAnalysis.blockByDomain]] FIRST — before extraction and
    * normalization, the RefinedWeb order: the blocklist reads only the
    * URL, so blocked docs never pay the per-row text transforms. */
  def cleanCorpus(docs: DataFrame, textCol: String, idCol: String,
                  urlCol: Option[String] = None,
                  markupStrip: Boolean = false,
                  normalize: Boolean = false,
                  blockedDomains: Option[DataFrame] = None,
                  blockedDomainCol: String = "domain",
                  boilerplateMaxDocFreq: Int = 0,
                  spanK: Int = 8,
                  minTokens: Int = 5,
                  maxDupTokenFraction: Double = 0.6,
                  minhashThreshold: Double = 0.8,
                  minhashMaxBucket: Int = 1000)
      : (DataFrame, Seq[StageReport]) = {
    require(blockedDomains.isEmpty || urlCol.nonEmpty,
      "blockedDomains needs urlCol: the blocklist matches URL hosts")
    val report = Seq.newBuilder[StageReport]
    val chain = new StageChain("clean", report)

    // FUSED HEAD (r16): input / blocklist / markup / normalize are each
    // consumed exactly once by the next stage, so they ride ONE
    // materialization — their survivor counts come back as observe
    // metrics from that single action (the r15 shape paid 4
    // full-corpus-text localCheckpoints + 4 count jobs here). The head
    // is cut at the first multi-consumer point: the canonical-URL frame
    // (consumed 3x by url_dedup — with `_cu` baked into the cut, the
    // canonicalization regex chain now runs once, not per consumer), or
    // directly under exact_dedup's window when there is no urlCol.
    var cur = chain.mark("input")(docs)
    // blocklist FIRST: it reads only urlCol, so blocked docs must never
    // pay the extraction/normalization regexp chains they are about to
    // be dropped from (the RefinedWeb order — URL filtering precedes
    // text extraction)
    blockedDomains.foreach { b =>
      cur = chain.mark("domain_blocklist")(TextAnalysis.blockByDomain(
        cur, urlCol.get, idCol, b, blockedDomainCol))
    }
    if (markupStrip)
      cur = chain.mark("markup_strip")(TextAnalysis.stripMarkupDocs(cur, textCol))
    if (normalize)
      cur = chain.mark("normalize")(
        cur.withColumn(textCol, TextAnalysis.normalizeText(col(textCol))))
    urlCol.foreach { u =>
      // rows whose URL fails to canonicalize (null / non-http(s) /
      // malformed) pass through UN-deduped: no URL evidence is not
      // evidence of duplication, and dropping them would be silent data
      // loss in a pipeline's very first stage
      val canon = chain.materialize(
        cur.withColumn("_cu", TextAnalysis.canonicalizeUrl(col(u))))
      val keep = canon.filter(col("_cu").isNotNull)
        .groupBy("_cu").agg(min(col(idCol)).as(idCol)).select(idCol)
      cur = chain.mark("url_dedup")(
        canon.filter(col("_cu").isNull).drop("_cu").unionByName(
          canon.join(keep, Seq(idCol), "left_semi").drop("_cu")))
    }
    // exact_dedup is a single window over its input, so url_dedup (one
    // consumer: this window) fuses into its materialization
    cur = chain.stage("exact_dedup")(Dedup.exactKeepers(cur, textCol, idCol))
    // text-rewriting stages return (id, text); carry the other columns
    // across via an id join with the stage's input
    def rejoin(cleaned: DataFrame): DataFrame = {
      val others = cur.columns.filterNot(_ == textCol).map(col)
      cur.select(others: _*).join(cleaned, Seq(idCol))
    }
    cur = chain.stage("line_dedup")(
      rejoin(TextAnalysis.dedupLinesWithinDoc(cur, textCol, idCol)))
    // corpus-size-derived default, the q100 recipe: a line is boilerplate
    // when it appears in more than max(4, 1%) of documents (lastCount is
    // the line_dedup stage's survivor count — same frame, already counted)
    // Long arithmetic with a clamp: a naive `(lastCount / 100L).toInt`
    // wraps negative past ~2.15e11 surviving rows, collapsing the
    // threshold to 4 — over-aggressive boilerplate removal precisely in
    // the 100 TB regime this pipeline targets
    val maxDf = if (boilerplateMaxDocFreq > 0) boilerplateMaxDocFreq
      else math.min(math.max(4L, chain.lastCount / 100L), Int.MaxValue.toLong).toInt
    cur = chain.stage("boilerplate_lines")(
      rejoin(TextAnalysis.removeBoilerplateLines(cur, textCol, idCol, maxDf)))
    // span_dedup's only consumer is the quality filter (row-local), so
    // the two stages share one materialization — span's count observed
    // pre-filter, quality's post, off the same action
    val spanOut = chain.mark("span_dedup")(
      rejoin(TextAnalysis.removeDuplicatedSpansToFixedPoint(
        cur, textCol, idCol, spanK).drop("kept_tokens")))
    // size(wordTokens) not tokenCount: the raw kernel counts '' as one
    // token (split semantics), and fully-boilerplate / fully-duplicated
    // docs ARE '' by this stage — they must fail the gate, not sneak
    // through at 1 token
    cur = chain.stage("quality_gate")(spanOut.filter(
      size(TextAnalysis.wordTokens(col(textCol))) >= minTokens &&
      TextAnalysis.dupTokenFraction(col(textCol)) <= maxDupTokenFraction))
    // the one capped stage: its band-bucket overflow report (computed on
    // the stage INPUT — the corpus the cap could have excluded pairs
    // from) rides the report instead of being silently discarded; the
    // signature frame is the shared persisted table, so this costs the
    // banding + one slim aggregate, not a second shingle pass
    val overflow = Dedup.minhashBandOverflow(
      Dedup.charShingleSets(cur, textCol, idCol),
      maxBucket = minhashMaxBucket).lineageCut()
    cur = chain.stage("minhash_dedup", Some(overflow))(Dedup.minhashKeepers(
      cur, textCol, idCol, threshold = minhashThreshold,
      maxBucket = minhashMaxBucket))
    (cur, report.result())
  }

  /**
   * The COMPLETE corpus-to-training-set run — what a user of this
   * library executes end to end to turn a raw crawl into packed
   * training sequences (each stage is individually oracle-gated;
   * this is the shipped composition):
   *
   *  1. [[cleanCorpus]] — the full cleaning stack (every knob passed
   *     through);
   *  2. exact n-gram decontamination against the evaluation benchmark
   *     ([[TextAnalysis.ngramContaminatedIds]] anti-join) — AFTER
   *     cleaning (a cleaned doc can only LOSE grams, never mint a new
   *     benchmark n-gram: cut/strip edits only remove or re-adjoin
   *     token runs — re-adjacency CAN mint novel grams, which is why
   *     decontamination runs on the final text, not the raw input);
   *  3. deterministic content-hash train/val/test split
   *     ([[TextAnalysis.splitCorpus]], first label = train);
   *  4. temperature-scaled source mixing on the TRAIN split ONLY
   *     ([[TextAnalysis.alphaSourceMix]] keep set) — held-out splits
   *     are never resampled, they estimate the true distribution;
   *  5. GPT-style sequence packing of the train survivors
   *     ([[TextAnalysis.packSequences]], `seqLen` tokens per chunk).
   *
   * Returns (packed train sequences, held-out frame with its `split`
   * label, per-stage [[StageReport]] continuing cleanCorpus's report).
   * Scale: the composition adds one broadcast anti-join, one narrow
   * split projection, one per-source agg + broadcast keep-join, and
   * the two-pass prefix-sum pack on top of cleanCorpus — nothing
   * shuffles the corpus beyond what the member operators already do.
   *
   * `epochs` switches stage 4 from budget DOWNSAMPLING to
   * epoch-replication mixing ([[TextAnalysis.epochUpsample]] — the
   * LLaMA/GPT-3 mixture-table form, fractional epochs via the
   * deterministic content-hash draw): `targetTokens` is then unused,
   * the mixed frame carries a `copy` column, and packing runs
   * per-replica ([[TextAnalysis.packSequencesReplicas]], (id, copy)
   * keyed) so each replica is its own training document.
   */
  def prepareTrainingData(docs: DataFrame, textCol: String, idCol: String,
                          sourceCol: String,
                          bench: DataFrame, benchTextCol: String,
                          targetTokens: Long, seqLen: Int,
                          splits: Seq[(String, Double)] =
                            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
                          contaminationN: Int = 8,
                          urlCol: Option[String] = None,
                          markupStrip: Boolean = false,
                          normalize: Boolean = false,
                          blockedDomains: Option[DataFrame] = None,
                          blockedDomainCol: String = "domain",
                          boilerplateMaxDocFreq: Int = 0,
                          spanK: Int = 8,
                          minTokens: Int = 5,
                          maxDupTokenFraction: Double = 0.6,
                          minhashThreshold: Double = 0.8,
                          minhashMaxBucket: Int = 1000,
                          epochs: Option[Map[String, Double]] = None,
                          contaminationMaxFraction: Option[Double] = None)
      : (DataFrame, DataFrame, Seq[StageReport]) = {
    require(splits.nonEmpty, "at least one split")
    val (cleaned, cleanReport) = cleanCorpus(docs, textCol, idCol,
      urlCol = urlCol, markupStrip = markupStrip, normalize = normalize,
      blockedDomains = blockedDomains, blockedDomainCol = blockedDomainCol,
      boilerplateMaxDocFreq = boilerplateMaxDocFreq, spanK = spanK,
      minTokens = minTokens, maxDupTokenFraction = maxDupTokenFraction,
      minhashThreshold = minhashThreshold,
      minhashMaxBucket = minhashMaxBucket)
    finalizeTrainingData(cleaned, cleanReport, textCol, idCol, sourceCol,
      bench, benchTextCol, targetTokens, seqLen, splits, contaminationN,
      epochs, contaminationMaxFraction)
  }

  /**
   * Incremental corpus INGESTION — the production "today's crawl"
   * step: run the full within-batch cleaning stack on the new batch,
   * then dedupe its survivors against the EXISTING cleaned corpus with
   * the three cross-corpus stages (canonical-URL, exact content,
   * MinHash near-dup — the q117/q27/q107 primitives composed), so a
   * refetch, an exact copy, or a near-duplicate of anything already
   * ingested never re-enters the corpus. Returns (new-batch survivors,
   * report continuing cleanCorpus's — stages `url_cross_dedup` /
   * `exact_cross_dedup` / `minhash_cross_dedup`).
   *
   * Contract notes: `oldCleaned` is the PRIOR cleaned corpus (its text
   * already in cleaned form — cross-exact matches cleaned-vs-cleaned);
   * corpus-WIDE statistics (boilerplate line df, duplicated-span gram
   * df) are deliberately batch-internal — recomputing them over
   * old+new is a full-corpus re-run, not ingestion, and their drift is
   * a re-clean concern (documented non-goal, same posture as CCNet's
   * snapshot-scoped statistics).
   *
   * Scale: the old side contributes one distinct canonical-URL set,
   * one md5 set (slim broadcast-able columns), and the reusable
   * minhash signature table ([[Dedup.crossPairsViaMinhash]]'s shared
   * registry); per-batch work is |batch| cleaning + three anti-joins.
   */
  def ingestBatch(newDocs: DataFrame, textCol: String, idCol: String,
                  oldCleaned: DataFrame, oldTextCol: String, oldIdCol: String,
                  urlCol: Option[String] = None,
                  oldUrlCol: Option[String] = None,
                  markupStrip: Boolean = false,
                  normalize: Boolean = false,
                  blockedDomains: Option[DataFrame] = None,
                  blockedDomainCol: String = "domain",
                  boilerplateMaxDocFreq: Int = 0,
                  spanK: Int = 8,
                  minTokens: Int = 5,
                  maxDupTokenFraction: Double = 0.6,
                  minhashThreshold: Double = 0.8,
                  minhashMaxBucket: Int = 1000,
                  // MAINTAINED side tables (appended at signature end per
                  // the compat note): a daily ingest against a 100 TB
                  // corpus must not re-derive the distinct-URL and md5
                  // sets from the corpus every batch — producers that
                  // maintain them append-only (ingestSink does) pass the
                  // slim single-column frames here and the corpus's
                  // url/text columns are never rescanned for those two
                  // stages. Contract: the sets must cover exactly
                  // oldCleaned's content (canonical URLs / md5(text)).
                  oldUrlSet: Option[DataFrame] = None,
                  oldHashSet: Option[DataFrame] = None,
                  // the third maintained artifact: a PRECOMPUTED
                  // (id, sig, sh) minhash table ([[Dedup.minhashTableRows]])
                  // covering exactly oldCleaned — with it the near-dup
                  // cross stage (banding, est prefilter, exact verify AND
                  // the overflow report) reads only the table and the old
                  // corpus text column is never scanned at all. Must be
                  // built with the pipeline's shingle/numHashes defaults
                  // (width verified loudly).
                  oldMinhashTable: Option[DataFrame] = None,
                  // BLOOM prefilters over the two key side tables (the
                  // [[Bloom]] artifact): when present, the url/md5 cross
                  // stages consult the side table only for the
                  // bloom-positive minority — the definitely-new
                  // majority of a typical batch skips the anti-join
                  // entirely. Results are bit-identical (no false
                  // negatives; every positive exactly verified), so a
                  // bloom that OVER-contains — e.g. one already holding
                  // a replayed batch's own keys — is harmless.
                  oldUrlBloom: Option[Array[Byte]] = None,
                  oldHashBloom: Option[Array[Byte]] = None)
      : (DataFrame, Seq[StageReport]) = {
    require(oldUrlCol.isEmpty || urlCol.nonEmpty,
      "oldUrlCol without urlCol: the batch has no URLs to cross-check")
    // loud BOTH ways (the blockedDomains=>urlCol convention): urlCol
    // without oldUrlCol would silently skip url_cross_dedup and let
    // refetches of already-ingested URLs re-enter the corpus. An old
    // corpus genuinely without URLs: run cleanCorpus on the batch
    // yourself and cross-dedup by content only (urlCol = None here).
    require(urlCol.isEmpty || oldUrlCol.nonEmpty,
      "urlCol without oldUrlCol: url_cross_dedup would be silently " +
        "skipped and URL refetches of already-ingested docs would " +
        "re-enter the corpus; pass the old corpus's URL column, or " +
        "urlCol = None to dedup by content only")
    val report = Seq.newBuilder[StageReport]
    // cross stages keep per-stage materializations (the bloom paths run
    // driver-side probe collects over their input and may consume it
    // twice — an uncut input would re-execute the upstream anti-join per
    // probe) but their counts ride observe metrics off the cut action,
    // dropping the per-stage count() job
    val chain = new StageChain("ingest", report)
    def stage(name: String, overflow: Option[DataFrame] = None)
             (df: DataFrame): DataFrame = chain.stage(name, overflow)(df)
    val (cleaned, cleanReport) = cleanCorpus(newDocs, textCol, idCol,
      urlCol = urlCol, markupStrip = markupStrip, normalize = normalize,
      blockedDomains = blockedDomains, blockedDomainCol = blockedDomainCol,
      boilerplateMaxDocFreq = boilerplateMaxDocFreq, spanK = spanK,
      minTokens = minTokens, maxDupTokenFraction = maxDupTokenFraction,
      minhashThreshold = minhashThreshold,
      minhashMaxBucket = minhashMaxBucket)
    report ++= cleanReport
    var cur = cleaned
    (urlCol, oldUrlCol) match {
      case (Some(u), Some(ou)) =>
        val oldUrls = oldUrlSet
          .map(_.toDF("_ou").filter(col("_ou").isNotNull).distinct())
          .getOrElse(oldCleaned
            .select(TextAnalysis.canonicalizeUrl(col(ou)).as("_ou"))
            .filter(col("_ou").isNotNull).distinct())
        val withCu = cur.withColumn("_cu",
          TextAnalysis.canonicalizeUrl(col(u)))
        val kept = oldUrlBloom match {
          case Some(b) => Bloom.antiMembership(withCu, "_cu", oldUrls, "_ou", b)
          case None =>
            withCu.join(oldUrls, col("_cu") === col("_ou"), "left_anti")
        }
        cur = stage("url_cross_dedup")(kept.drop("_cu"))
      case _ => ()
    }
    // exact cross: md5 anti-join (the exactKeepers convention — slim
    // 128-bit keys, never full text through the shuffle)
    val oldHashes = oldHashSet.map(_.toDF("_oh").distinct())
      .getOrElse(oldCleaned.select(md5(col(oldTextCol)).as("_oh")).distinct())
    val withNh = cur.withColumn("_nh", md5(col(textCol)))
    val exactKept = oldHashBloom match {
      case Some(b) => Bloom.antiMembership(withNh, "_nh", oldHashes, "_oh", b)
      case None =>
        withNh.join(oldHashes, col("_nh") === col("_oh"), "left_anti")
    }
    cur = stage("exact_cross_dedup")(exactKept.drop("_nh"))
    // near-dup cross: the q107 incremental primitive (LSH candidates,
    // exact-threshold verify, asymmetric NEW x OLD band join). The
    // old-side bucket cap rides the pipeline's minhashMaxBucket knob,
    // and its overflow report (the OLD buckets the cap excluded from
    // candidate generation — minhashBandOverflow on the old shingles
    // reproduces exactly crossPairsViaMinhash's banding and criterion)
    // rides the stage report: no silent exclusions, per the README
    // convention this function's own URL require documents.
    val crossOverflow = (oldMinhashTable match {
      case Some(tbl) => Dedup.minhashBandOverflowFromSigs(
        tbl.select("id", "sig"), maxBucket = minhashMaxBucket)
      case None => Dedup.minhashBandOverflow(
        Dedup.charShingleSets(oldCleaned.select(col(oldIdCol).as(idCol),
          col(oldTextCol).as(textCol)), textCol, idCol),
        maxBucket = minhashMaxBucket)
    }).lineageCut()
    cur = stage("minhash_cross_dedup", Some(crossOverflow))(oldMinhashTable match {
      case Some(tbl) =>
        val dupes = Dedup.crossPairsViaMinhashTable(
            Dedup.charShingleSets(cur, textCol, idCol), tbl,
            exactThreshold = minhashThreshold, maxBucket = minhashMaxBucket)
          .select(col("id").as("_dup")).distinct()
        cur.join(dupes, cur(idCol) === col("_dup"), "left_anti")
      case None => Dedup.incrementalKeepers(
        cur, oldCleaned.select(col(oldIdCol).as(idCol),
          col(oldTextCol).as(textCol)), textCol, idCol,
        threshold = minhashThreshold, maxBucket = minhashMaxBucket)
    })
    // cur is already checkpoint-materialized by the last stage()
    (cur, report.result())
  }

  /**
   * The post-cleaning half of [[prepareTrainingData]] — decontaminate →
   * split → mix → pack over an ALREADY-cleaned corpus. Split out
   * because this is how the composition is actually re-run in
   * production: cleaning is the expensive once-per-corpus step, while
   * mixture/packing ablations (different benches, budgets, epoch
   * tables, sequence lengths) re-run many times over the saved cleaned
   * frame — none of them should pay the cleaning stack again.
   * `cleanReport` (pass Nil when resuming from a saved corpus) is
   * prepended so the returned report still reads as one pipeline run.
   */
  def finalizeTrainingData(cleaned: DataFrame, cleanReport: Seq[StageReport],
                           textCol: String, idCol: String, sourceCol: String,
                           bench: DataFrame, benchTextCol: String,
                           targetTokens: Long, seqLen: Int,
                           splits: Seq[(String, Double)] =
                             Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
                           contaminationN: Int = 8,
                           epochs: Option[Map[String, Double]] = None,
                           contaminationMaxFraction: Option[Double] = None)
      : (DataFrame, DataFrame, Seq[StageReport]) = {
    require(splits.nonEmpty, "at least one split")
    require(contaminationMaxFraction.forall(t => t >= 0.0 && t < 1.0),
      s"contaminationMaxFraction in [0, 1), got $contaminationMaxFraction")
    val report = Seq.newBuilder[StageReport]
    report ++= cleanReport
    // all finalize stages are genuinely multi-consumer (split feeds two
    // filters, train feeds the mix pair, mixed feeds the two-pass pack),
    // so each keeps its materialization; only the count() jobs fuse away
    val chain = new StageChain("finalize", report)
    def stage(name: String)(df: DataFrame): DataFrame = chain.stage(name)(df)
    // any-overlap by default (one shared benchmark 8-gram drops the
    // doc); with `contaminationMaxFraction` the GPT-3-style FRACTION
    // threshold instead — a doc is dropped iff MORE than that fraction
    // of its distinct n-grams hit the benchmark (> , so max = allowed:
    // 0.0 still differs from any-overlap only on sub-n-token docs).
    val dirty = contaminationMaxFraction match {
      case Some(t) =>
        TextAnalysis.ngramContaminationFraction(cleaned, textCol, idCol,
            bench, benchTextCol, contaminationN)
          .filter(col("contamination") > t).select(idCol)
      case None => TextAnalysis.ngramContaminatedIds(cleaned, textCol, idCol,
        bench, benchTextCol, contaminationN)
    }
    val decon = stage("decontaminate")(
      cleaned.join(dirty, Seq(idCol), "left_anti"))
    val split = TextAnalysis.splitCorpus(decon, textCol, splits)
    val trainLabel = splits.head._1
    val train = stage("train_split")(
      split.filter(col("split") === trainLabel).drop("split"))
    val heldout = stage("heldout")(split.filter(col("split") =!= trainLabel))
    epochs match {
      case Some(e) =>
        val mixed = stage("epoch_mix")(
          TextAnalysis.epochUpsample(train, textCol, idCol, sourceCol, e))
        val packed = stage("packed")(TextAnalysis.packSequencesReplicas(
          mixed, textCol, idCol, "copy", seqLen))
        (packed, heldout, report.result())
      case None =>
        val keep = TextAnalysis.alphaSourceMix(train, textCol, idCol,
          sourceCol, targetTokens).filter(col("kept")).select(idCol)
        val mixed = stage("source_mix")(
          train.join(keep, Seq(idCol), "left_semi"))
        val packed = stage("packed")(
          TextAnalysis.packSequences(mixed, textCol, idCol, seqLen))
        (packed, heldout, report.result())
    }
  }

  /** Deterministic shard of a row: first 8 md5 hex chars of the id
    * rendered as a base-16 int, mod `nShards` — content-independent,
    * stable across runs/partitionings, and exactly replayable in any
    * engine (the q195 hash convention). */
  def shardOf(id: Column, nShards: Int): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(nShards)).cast("int")

  /**
   * TRAINING-DATA DELIVERY: export a frame as `nShards` deterministic
   * JSONL shards — the handoff format trainer data loaders consume.
   * Shard assignment is [[shardOf]] on the id (stable: re-exporting
   * after a re-partition or on a different cluster lands every doc in
   * the same shard — resumable delivery), layout
   * `<dir>/shard=<s>/part-*.json(.gz)`. One hash-repartition by
   * shard so each shard writes contiguously; returns (shard, n_docs)
   * counts read back from the written files (the write is verified,
   * not assumed).
   */
  def exportJsonlShards(df: DataFrame, idCol: String, dir: String,
                        nShards: Int,
                        compress: Boolean = true): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    require(!df.columns.contains("shard"),
      "exportJsonlShards: input already has a 'shard' column — rename it; " +
        "silently overwriting it would corrupt the export")
    val spark = df.sparkSession
    val out = df.withColumn("shard", shardOf(col(idCol), nShards))
      .repartition(col("shard"))
    val w = out.write.mode("overwrite").partitionBy("shard")
    (if (compress) w.option("compression", "gzip") else w).json(dir)
    spark.read.json(dir)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
