package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. `BENCH.out` is the canonical per-query record; the
  * compact last line is only a digest sized for tail capture.
  * Emits TWO artifacts:
  *   - `BENCH.out` (cwd) + stderr: full-precision JSON, long query
  *     names, per-query seconds — the human/judge record. KILL-SAFE
  *     since r15: the file is REWRITTEN after every completed entry
  *     (with `"partial":true` until the suite finishes), and a compact
  *     progress line goes to stderr every 25 entries — a driver
  *     timeout now yields a parseable partial record instead of
  *     nothing (round 14's official record was rc=124 with zero data
  *     because the old harness wrote once, at the very end).
  *   - LAST line on stdout AND stderr (stderr absolute last, after
  *     `spark.stop()`): a compact (<1 KB) JSON — short query ids
  *     (`q01`..), per-query integer milliseconds — sized to survive
  *     the driver's truncating tail-capture window (rounds 1 and 2
  *     both lost the 3.5 KB full line mid-number; round 3's intact
  *     stdout line still parsed null, suspect sbt's "[info] " prefix,
  *     so round 4 duplicates it on unprefixed stderr).
  *   - r16: immediately BEFORE that final line, the full per-query map
  *     (full names, seconds) is emitted as self-labeled
  *     `{"metric":"bench_queries","part":i,"of":n,...}` chunk lines of
  *     <800 chars each on both streams — the 900-char cap silently
  *     dropped the map at 286 entries, so the driver's PERF per_query
  *     and scaling analyses came out empty in round 15 twice.
  *
  * WALL-BUDGET DIET (r15, after the r14 timeout): the suite had grown
  * to 272 entries × (2 untimed warmups + 3 timed runs) and outgrew the
  * driver budget. Three cuts, none of which touch what a reported
  * number MEANS (each entry's value is still the min of its timed
  * runs):
  *   1. the bench-SF warmup pass now runs ONLY for entries that
  *      populate cross-gate shared caches ([[SparkEntry.benchSfWarmup]]
  *      — dedup signature tables, the Ed-Join/clean-corpus/PQ-model
  *      memos). For every other entry that warmup existed purely to
  *      keep run-1 JIT noise out of the spread — and min-of-N is
  *      already robust to a slow first run, with the adaptive third
  *      run (next point) catching any entry whose 2-run spread
  *      suggests the min is not yet trustworthy.
  *   2. 2 timed runs by default; a 3rd when the 2-run spread exceeds
  *      10% of the min (20% on first cut; tightened after the r15
  *      attempt-1 record showed ~7% min-of-2 bias vs min-of-3 history
  *      even in its quiet quartile — a phantom cross-round regression),
  *      the r13 noise rule unchanged on top (one MORE run when spread
  *      > 3× min). Sub-20ms entries always get 3 runs — their relative
  *      spread is clock noise, and a run costs nothing. `runs_hist`
  *      records the run-count distribution per artifact.
  *   3. a per-RUN watchdog (default 120 s, ~7× the heaviest entry's
  *      quiet cost; `SPARK_GRAFT_BENCH_RUNCAP_SEC` overrides): the
  *      run's Spark jobs are cancelled via their job group, the entry
  *      records the cap as that run's time, and the name lands in
  *      `watchdog_hits` — one hang can no longer consume the whole
  *      driver budget (it costs ≤ cap × runs, loudly flagged).
  *
  * CANONICAL RECORD DECLARATION (r15): round 14 produced three bench
  * files and deciding which one was the truth required git
  * archaeology. Every record now carries `"canonical"` (default true;
  * set `SPARK_GRAFT_BENCH_CANONICAL=false` on exploratory runs) and
  * `"supersedes"` (`SPARK_GRAFT_BENCH_SUPERSEDES=<filename>` when a
  * re-run replaces an earlier archived record). Exactly one canonical
  * quiet record per round is the contract.
  */
object Bench {
  /** 1/5/15-minute system load averages, "?" where unavailable — recorded
    * into BENCH.out so a round-over-round regression can be attributed to
    * co-tenant load vs code mechanically (round 6's 1.33x was judged
    * unattributable without this). */
  private def loadavg(): String =
    try {
      val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      "[" + s.trim.split("\\s+").take(3).mkString(",") + "]"
    } catch { case _: Throwable => "\"?\"" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val loadBefore = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val runCapSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNCAP_SEC", "120").toLong
    val canonical =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CANONICAL", "true") == "true"
    val supersedes = sys.env.get("SPARK_GRAFT_BENCH_SUPERSEDES")
      .map(s => "\"" + s + "\"").getOrElse("null")

    // CPU CALIBRATION (r15): a fixed, allocation-free integer spin,
    // measured once single-threaded and once on every core
    // concurrently, recorded into the JSON — so a cross-round ratio can
    // be NORMALIZED for box speed mechanically. Motivation: this
    // round's record ran 1.36x the round-14 morning record on mostly
    // untouched code because of hypervisor CPU steal that loadavg
    // cannot see (top showed ~3% steal at IDLE); settling it took
    // idle-box re-measures and an interleaved A/B worktree replay. A
    // calibration constant in every record answers "slower box or
    // slower code?" without archaeology: calib_mt_ms moves with steal
    // and co-tenancy, calib_st_ms with base clock. ~1.5 s per run.
    def spin(iters: Long): Long = {
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) {
        h = java.lang.Long.rotateLeft(h * 0xBF58476D1CE4E5B9L, 31) ^ i
        i += 1
      }
      h
    }
    val calibSink = new java.util.concurrent.atomic.AtomicLong()
    calibSink.addAndGet(spin(5000000L)) // JIT warm
    def timeMs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    val calibStMs = timeMs { calibSink.addAndGet(spin(200000000L)) }
    val calibMtMs = timeMs {
      val threads = (0 until cpus.toInt).map(_ =>
        new Thread(() => { calibSink.addAndGet(spin(200000000L)); () }))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    System.err.println(f"BENCH calib: st ${calibStMs}%.0f ms, " +
      f"mt(${cpus}) ${calibMtMs}%.0f ms")

    // WATCHDOG: run `body` under a named job group; a daemon timer
    // cancels the group's Spark jobs at the cap. Returns true when the
    // run completed un-cancelled. Driver-side hangs (no Spark job to
    // cancel) are not catchable this way — every known entry is
    // job-bound, and the incremental record bounds the damage to data
    // loss of ONE entry either way.
    val watchdogHits = scala.collection.mutable.ArrayBuffer[String]()
    def guarded(name: String, capSec: Long)(body: => Unit): Boolean = {
      val group = s"bench-$name-${System.nanoTime()}"
      sc.setJobGroup(group, name, interruptOnCancel = true)
      @volatile var fired = false
      val timer = new java.util.Timer("bench-watchdog", true)
      timer.schedule(new java.util.TimerTask {
        // AndFutureJobs: a multi-job entry (ingest drains dozens of
        // sequential jobs) would otherwise just start its next job
        // after the current one is cancelled
        def run(): Unit = { fired = true; sc.cancelJobGroupAndFutureJobs(group) }
      }, capSec * 1000)
      try { body; !fired }
      catch { case _: Throwable => !fired }
      finally {
        timer.cancel(); sc.clearJobGroup()
        if (fired) {
          watchdogHits += name
          System.err.println(s"BENCH WATCHDOG: '$name' exceeded ${capSec}s " +
            "— jobs cancelled, cap recorded as the run's time")
        }
      }
    }

    // local-iteration filter (same contract as Verify's): the driver
    // runs unfiltered
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.filter { case (name, _) =>
      only.forall(f => f.contains(name) || f.exists(name.startsWith)) }
    // the cross-gate SHARED computations (Ed-Join pair frame, cleaning
    // stack, PQ training) are memoized per (session, dir), so the
    // warmup above populates their caches and no gate's timed run pays
    // them — each is therefore timed as its OWN entry whose runner
    // CLEARS its cache first, so all runs re-pay the full cost and
    // the headline total accounts for the work exactly once per
    // artifact (r9 ADVICE fix; previously the committed record
    // measured these operations nowhere).
    val shared = SparkEntry.sharedWork.filter { case (name, _) =>
      only.forall(f => f.contains(name) || f.exists(name.startsWith)) }
    // FULL-ROW CHECKSUM action, not count(): count() lets Catalyst
    // eliminate preserved-side outer joins and prune every unused
    // column, so a gate whose cost lives in a left-joined scoring stack
    // times a plan its consumers never see — measured on the backoff-LM
    // gate: 0.6 s counted vs 2.2 s evaluated (round 12; the same reason
    // the SCALE.md "Measured: derived 10× corpus" probes checksum).
    // bit_xor(xxhash64(struct(*))) forces every output column of every row.
    import org.apache.spark.sql.functions.{bit_xor, struct, xxhash64}
    def force(df: org.apache.spark.sql.DataFrame): Unit = {
      df.select(bit_xor(xxhash64(struct(df.columns.map(
        org.apache.spark.sql.functions.col): _*)))).head(); ()
    }
    val timedUnits: Seq[(String, () => Unit)] =
      queries.toSeq.map { case (name, fn) =>
        name -> (() => force(fn(spark, sfDir))) } ++
      shared.toSeq.map { case (name, fn) =>
        name -> (() => fn(spark, sfDir)) }

    // ---- incremental, kill-safe record ---------------------------------
    val outPath = java.nio.file.Paths.get("BENCH.out")
    def methodStr =
      "untimed warmup at sf0.001 for every entry plus a bench-SF warmup ONLY for shared-cache-populating entries (dedup signature tables, Ed-Join/clean-corpus/PQ memos - min-of-N makes run-1 JIT noise harmless for the rest, r15 diet after the r14 driver timeout); 2 timed runs per entry with a 3rd when the 2-run spread exceeds 10% of min (always 3 below 20ms; threshold tightened from 20% after the r15 attempt-1 record showed a ~7% min-of-2 bias vs min-of-3 history even in its quiet quartile; runs_hist records the per-entry run-count distribution), System.gc() quiescence between entries; NOISE RULE (round 13) unchanged on top: spread > 3x min earns ONE extra run (noisy_reruns counts them); per-RUN watchdog cancels an entry's job group at the cap (watchdog_runcap_sec; cap recorded as that run's time, entry listed in watchdog_hits); TIMED ACTION is the round-12 full-row checksum (bit_xor of xxhash64 over all output columns) because count() lets Catalyst eliminate preserved-side outer joins and prune unused columns; the sNNN entries time the cross-gate SHARED computations with their cache cleared before every run, so warmup-cached work is still measured, exactly once per artifact; spread = max-min of the runs per query; loadavg_warning=true flags loadavg_before > 1.8 - ratios from a warned record should be read against SCALE.md's quiet-box replay; the record is REWRITTEN after every completed entry (partial=true until done) so a killed run still yields parsed data; calib_st_ms/calib_mt_ms time one fixed allocation-free integer spin single-threaded and on all cores concurrently - divide a cross-record ratio by the calib ratio to separate box speed (incl. hypervisor steal, which loadavg cannot see) from code"
    def writeRecord(done: Seq[(String, Seq[Double])], partial: Boolean,
                    nReruns: Int): String = {
      val results = done.map { case (k, ts) => k -> ts.min }
      val spreads = done.map { case (k, ts) => k -> (ts.max - ts.min) }
      val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
      val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val spFull = spreads.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val loadWarn = loadBefore.drop(1).takeWhile(c => c != ',' && c != ']')
        .toDoubleOption.exists(_ > 1.8)
      val wd = watchdogHits.map(h => "\"" + h + "\"").mkString("[", ",", "]")
      val runsHist = done.groupBy(_._2.length).toSeq.sortBy(_._1)
        .map { case (n, es) => "\"" + n + "\":" + es.size }
        .mkString("{", ",", "}")
      val full = s"""{"metric":"total","value":$total,"unit":"sec","partial":$partial,"entries_done":${done.size},"entries_total":${timedUnits.size},"canonical":$canonical,"supersedes":$supersedes,"calib_st_ms":$calibStMs,"calib_mt_ms":$calibMtMs,"queries":$qsFull,"spread":$spFull,"sf":"$sfDir","loadavg_before":$loadBefore,"loadavg_after":${loadavg()},"loadavg_warning":$loadWarn,"noisy_reruns":$nReruns,"runs_hist":$runsHist,"watchdog_hits":$wd,"watchdog_runcap_sec":$runCapSec,"cpus":$cpus,"method":"$methodStr"}"""
      java.nio.file.Files.writeString(outPath, full + "\n")
      full
    }

    val doneSoFar = scala.collection.mutable.ArrayBuffer[(String, Seq[Double])]()
    var nReruns = 0
    // an empty partial record FIRST, so a kill during the (untimed)
    // warmup phase still leaves a parseable artifact saying exactly
    // that: 0 of N entries, partial=true
    writeRecord(Seq.empty, partial = true, nReruns)
    // warmup pass 1 — ALL entries at the smallest SF, so JIT + janino
    // codegen compile cheaply off the timed clock.
    // warmup pass 2 — bench SF, ONLY the shared-cache populating
    // entries (see scaladoc; the dedup family materializes one-time
    // signature tables per (corpus, params) whose build cost would
    // otherwise land in run 1 and pollute the spread field with a
    // known one-time cost; warmup order matters: bench-SF tables are
    // registered LAST, so the registry's LRU bound can only evict the
    // small-SF ones).
    for ((warmDir, pred) <- Seq(
        "/root/testdata/sf0.001" -> ((_: String) => true),
        sfDir -> ((n: String) => SparkEntry.benchSfWarmup(n))).distinct)
      queries.foreach { case (name, fn) =>
        if (pred(name))
          guarded(s"warmup-$name", runCapSec) { fn(spark, warmDir).count(); () }
      }
    timedUnits.foreach { case (name, run) =>
      System.gc()
      def one(): Double = {
        val t0 = System.nanoTime()
        guarded(name, runCapSec) { run() }
        (System.nanoTime() - t0) / 1e9
      }
      var ts = Seq(one(), one())
      // adaptive third run: tiny entries always (their relative spread
      // is clock noise and a run is free); otherwise when the 2-run
      // spread says the min is not yet trustworthy. Threshold 10% (was
      // 20% on first cut): the r15 attempt-1 record showed even its
      // QUIET quartile inflated ~7% vs the r14 min-of-3 record — a
      // systematic min-of-2 bias that would read as a phantom
      // regression in cross-round ratios; 10% keeps the stable
      // majority at 2 runs while giving everything with real variance
      // its third draw
      if (ts.min < 0.02 || ts.max - ts.min > 0.1 * ts.min) ts :+= one()
      // r13 noise rule: one MORE run when the spread still exceeds
      // 3x min — a co-tenant burst in one window must not masquerade
      // as a code regression. A FAILED/cancelled rerun must not
      // contribute a fake min; `one()` records the cap on cancel,
      // which can only raise the min, never fake a speedup.
      if (ts.max - ts.min > 3 * ts.min && ts.min > 0.05) {
        ts :+= one(); nReruns += 1
      }
      doneSoFar += (name -> ts)
      writeRecord(doneSoFar.toSeq, partial = true, nReruns)
      if (doneSoFar.size % 25 == 0) {
        val runningTotal = doneSoFar.map(_._2.min).sum
        System.err.println(s"""{"metric":"bench_progress","done":${doneSoFar.size},"of":${timedUnits.size},"partial_total_sec":${math.round(runningTotal * 100) / 100.0}}""")
      }
    }
    val timings = doneSoFar.toSeq
    val full = writeRecord(timings, partial = false, nReruns)
    System.err.println(full)
    val results = timings.map { case (k, ts) => k -> ts.min }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // compact stdout line: short id = leading qNN token; ms as integers
    val qsMs = results.map { case (k, v) =>
      val id = k.takeWhile(_ != '_')
      "\"" + id + "\":" + math.round(v * 1000)
    }.mkString("{", ",", "}")
    val totalR = math.round(total * 100) / 100.0
    def line(withQ: Boolean) =
      if (withQ) s"""{"metric":"total","value":$totalR,"unit":"sec","n":${results.size},"canonical":$canonical,"queries":$qsMs,"queries_unit":"ms","sf":"$sfDir","detail":"BENCH.out"}"""
      else s"""{"metric":"total","value":$totalR,"unit":"sec","n":${results.size},"canonical":$canonical,"sf":"$sfDir","detail":"BENCH.out"}"""
    // PER-QUERY CONTRACT FIX (r16): the 900-char cap on the with-queries
    // line meant the driver NEVER saw per-query data at 286 entries —
    // PERF_r15's per_query/{scaling} came out empty twice. The full map
    // is now always emitted, CHUNKED into self-labeled JSON lines (each
    // well under the ~2000-char tail-capture window that cut rounds 1-2's
    // 3.5 KB single line mid-number) on BOTH streams before the final
    // total line: full query names, seconds at ms precision, so the keys
    // match CORRECTNESS_*.json. The final line keeps the original compact
    // format (with the map inlined only when it fits) so the existing
    // last-line parse stays valid.
    val secEntries = results.map { case (k, v) =>
      "\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
    val chunks = {
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      secEntries.foreach { e =>
        if (cur.nonEmpty && cur.length + e.length + 1 > 700) {
          buf += cur.toString(); cur.clear()
        }
        if (cur.nonEmpty) cur += ','
        cur ++= e
      }
      if (cur.nonEmpty) buf += cur.toString()
      buf.toSeq
    }
    val compact = if (line(withQ = true).length <= 900) line(withQ = true) else line(withQ = false)
    SparkEntry.releaseGateCaches()
    graft.ext.Dedup.releaseCaches()
    spark.stop()
    // Emit chunk lines then the compact line on BOTH streams, stderr
    // last: sbt decorates stdout with an "[info] " prefix that can defeat
    // a strict JSON-line parse of the captured tail, while stderr passes
    // through unprefixed. Nothing may print after the final compact line.
    chunks.zipWithIndex.foreach { case (c, i) =>
      val l = s"""{"metric":"bench_queries","part":${i + 1},"of":${chunks.size},"unit":"sec","sf":"$sfDir","queries":{$c}}"""
      println(l)
      System.err.println(l)
    }
    println(compact)
    System.out.flush()
    System.err.println(compact)
    System.err.flush()
  }
}
