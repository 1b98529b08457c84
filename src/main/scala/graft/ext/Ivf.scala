package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * IVF (inverted-file) approximate nearest neighbor: a k-means coarse
 * quantizer (Spark MLlib, fixed seed) partitions the corpus into cells;
 * a query scans only its `nprobe` nearest cells.
 *
 * The 100 TB path: the corpus is written partitioned by `ivf_cell`
 * (partition pruning skips everything but the probed cells), the centroid
 * table is tiny and broadcast, and ranking uses the bounded TopKByScore
 * heap — per-query work is |probed cells| * cell size, not |corpus|.
 * Vectors are L2-normalized before clustering so euclidean cells align
 * with cosine ranking.
 */
object Ivf {

  case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
  }

  private def normalized(vecCol: Column): Column = {
    val n = sqrt(aggregate(vecCol, lit(0.0d), (acc, x) => acc + x * x))
    transform(vecCol, x => when(n === 0.0, 0.0f).otherwise((x / n).cast("float")))
  }

  /**
   * Train the coarse quantizer (deterministic: fixed seed + init).
   *
   * Scale design (the FAISS recipe, applied Spark-side): the quantizer is
   * trained on a bounded SAMPLE of the corpus (`sampleCap` vectors,
   * fixed-seed Bernoulli sample + limit) — k-means centroid quality
   * converges with a few thousand points per cell, so clustering every
   * vector of a 100 TB corpus buys nothing except the dominant cost of
   * the whole pipeline. Because the training set is bounded (~25 MB at
   * the default cap), Lloyd's iterations run DRIVER-LOCAL on the
   * collected sample: one distributed job to draw the sample, zero
   * per-iteration job overhead, deterministic splitmix64 seeding. Only
   * `assign`/`search` touch the full corpus, and those are single-pass.
   */
  def train(corpus: DataFrame, vecCol: String, k: Int = 16,
            maxIter: Int = 10, seed: Long = 42L,
            sampleCap: Int = 100000, knownCount: Long = -1L): Model = {
    // callers that already counted the corpus (e.g. to derive k) pass
    // the count in rather than paying a second count job; otherwise try
    // parquet footers first (exact, no Spark job — identical n, so the
    // sample and the centroids are bit-identical to the count() path)
    val n = if (knownCount >= 0L) knownCount
      else graft.sources.ParquetStats.planRowCount(corpus)
        .getOrElse(corpus.count())
    val base =
      if (n <= sampleCap) corpus
      else corpus.sample(withReplacement = false,
        // 1.2x oversample so the limit() is actually reached w.h.p.
        fraction = math.min(1.0, sampleCap * 1.2 / n), seed = seed)
        .limit(sampleCap)
    val sample: Array[Array[Float]] = base
      .select(normalized(col(vecCol)).as("v"))
      .collect().map(_.getSeq[Float](0).toArray)
    Model(lloyd(sample, k, maxIter, seed))
  }

  /** Train directly on a sample already drawn (e.g. by [[samplePass]]). */
  private[graft] def trainFromSample(sample: Array[Array[Float]], k: Int,
                                     maxIter: Int, seed: Long): Model =
    Model(lloyd(sample, k, maxIter, seed))

  /**
   * Driver-Lloyd TRAIN BUDGET: assignment work is exactly
   * `sample · k · d` distance ops per iteration, so wall time is linear
   * in each factor — measured 26 Gops/s on the 32-core driver
   * (SCALE.md "Measured: Lloyd at the k-clamp"). At the 16384
   * CLAMP with the 100k sample and d = 64 a full 10-iteration train is
   * 1.05e12 ops ≈ 40 s measured — constant in corpus size AND usable,
   * so the default budget (2e12 ops ≈ 75 s at the measured rate) does
   * not touch any derived-k or clamp train at gate dimensionality. What
   * it guards is the regime beyond: production embedding dims of
   * 512-1024 at the clamp are 8-17e12 ops per 10-iter train (5-11 min
   * of silent driver compute) — there iterations adapt down, never
   * below 2 (1 would leave the random init unrefined), never above
   * `maxIter`. Deterministic — a pure function of (sample, k, d,
   * maxIter) — and LOUD: the reduction is logged with the numbers, so
   * "train finished fast at high k" is attributable. FAISS takes the
   * same posture at scale (bounded per-centroid training points); the
   * budget is the engine's explicit version of it.
   */
  private[graft] def plannedIters(sampleN: Long, k: Int, d: Int,
                                  maxIter: Int,
                                  opsBudget: Long = 2000000000000L): Int = {
    val perIter = sampleN * k.toLong * d.toLong
    if (perIter <= 0L) maxIter
    else {
      // min in LONG before narrowing: (opsBudget / perIter).toInt wraps
      // for cheap trains (quotient > Int.MaxValue) and the old
      // max(2, min(maxIter, negative)) silently capped exactly the
      // trainings that could afford every iteration at 2
      val affordable = math.min(maxIter.toLong, opsBudget / perIter).toInt
      // floor at 2 but never ABOVE the caller's maxIter (maxIter = 1 is
      // a legitimate cheap-refresh request, not a budget reduction)
      math.min(maxIter, math.max(2, affordable))
    }
  }

  /**
   * ONE-pass deterministic (training sample, exact row count) — for the
   * derived-cell-count path (`cells = 0`), which needs n to resolve
   * k ≈ √n AND a bounded sample to train on: the two-job shape (count
   * job, then sample job) collapses into a single pass over the corpus.
   * Sample membership and order are the `sampleCap` rows with the
   * smallest 128-bit id hash `(xxhash64(id), xxhash64(1, id))` — a
   * function of row CONTENT only, so neither partitioning nor row order
   * can disturb determinism (the fraction-sample path needs n up front
   * precisely because Bernoulli sampling isn't content-keyed).
   *
   * Scale: per partition a bounded max-heap keeps the candidate rows —
   * capped at `max(4 · sampleCap / P, 1024)` rather than the exact-safe
   * `sampleCap`, bounding the driver collect at ~4× the sample instead
   * of P× it. The cap loses a would-be global member only if one
   * partition holds > 4× its expected share of the smallest hashes —
   * Chernoff-negligible for a uniform 64-bit hash (P(Binomial(sampleCap,
   * 1/P) > 4·mean) < e^(-mean), astronomically small at any real
   * sampleCap/P) — and the result remains deterministic for a given
   * partitioning either way. RDD mapPartitions is deliberate: a bounded
   * per-partition reservoir is genuine imperative per-partition state
   * that no built-in aggregate expresses without materializing every row.
   */
  private[ext] def samplePass(slim: DataFrame, vecCol: String, idCol: String,
                              sampleCap: Int = 100000)
      : (Array[Array[Float]], Long) = {
    val parts = slim.sparkSession.sparkContext.defaultParallelism
    val perPart = math.max(4 * sampleCap / math.max(parts, 1), 1024)
    val rows = slim.select(normalized(col(vecCol)).as("v"),
      xxhash64(col(idCol)).as("h"), xxhash64(lit(1), col(idCol)).as("h2"))
    val collected = rows.queryExecution.toRdd.mapPartitions { it =>
      // scala PriorityQueue is a MAX-heap under its Ordering: head is the
      // largest kept (h, h2) key — exactly the eviction candidate
      val pq = new scala.collection.mutable.PriorityQueue[
        (Long, Long, Array[Float])]()(
        Ordering.by[(Long, Long, Array[Float]), (Long, Long)](t => (t._1, t._2)))
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        n += 1
        val h = r.getLong(1); val h2 = r.getLong(2)
        if (pq.size < perPart) {
          val a = r.getArray(0)
          pq.enqueue((h, h2, a.toFloatArray()))
        } else {
          val top = pq.head
          if (h < top._1 || (h == top._1 && h2 < top._2)) {
            pq.dequeue()
            val a = r.getArray(0)
            pq.enqueue((h, h2, a.toFloatArray()))
          }
        }
      }
      Iterator.single((n, pq.toArray))
    }.collect()
    val n = collected.map(_._1).sum
    val sample = collected.flatMap(_._2)
      .sortBy(t => (t._1, t._2)).take(sampleCap).map(_._3)
    (sample, n)
  }

  /** Deterministic local Lloyd's k-means (squared-euclidean, which on
    * L2-normalized vectors induces the cosine ordering). The dominant
    * O(sample · k · d) ASSIGNMENT step runs parallel across driver
    * cores (per-point argmin is order-independent, so parallelism does
    * not disturb determinism); the O(sample · d) accumulation stays
    * sequential — at the derived-k regime (k ≈ √n, clamped) that keeps
    * train cost at minutes on a 32-core driver, bounded by sampleCap
    * and k, constant in corpus size. */
  private def lloyd(points: Array[Array[Float]], k: Int, maxIter: Int,
                    seed: Long): Array[Array[Float]] = {
    val n = points.length
    require(n > 0, "cannot train IVF on an empty corpus")
    val d = points(0).length
    val effIter = plannedIters(n.toLong, math.min(k, n), d, maxIter)
    if (effIter < maxIter)
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"IVF train budget: k=$k x sample=$n x d=$d exceeds the " +
        s"assignment-ops budget at $maxIter iterations; running $effIter " +
        "(see Ivf.plannedIters / SCALE.md 'Lloyd at the k-clamp')")
    // k distinct fixed-seed picks (splitmix64 sequence, mod-n probing)
    val picked = new java.util.LinkedHashSet[Integer]()
    var s = seed
    while (picked.size < math.min(k, n)) {
      s = TextOps.mix64(s)
      picked.add(((s % n + n) % n).toInt)
    }
    var centroids = picked.toArray(Array.empty[Integer])
      .map(i => points(i.intValue).clone())
    val assignIdx = new Array[Int](n)
    var iter = 0
    while (iter < effIter) {
      val cents = centroids // stable reference for the worker lambda
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val cen = cents(c)
          var dist = 0.0; var j = 0
          while (j < d) { val t = p(j) - cen(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        assignIdx(i) = best
      }
      val sums = Array.ofDim[Double](centroids.length, d)
      val counts = new Array[Long](centroids.length)
      var i = 0
      while (i < n) {
        val p = points(i); val best = assignIdx(i)
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // keep empty cells stable
        else Array.tabulate(d)(j => (sums(c)(j) / counts(c)).toFloat)
      }.toArray
      iter += 1
    }
    centroids
  }

  /** Cell ids of the `n` nearest centroids (ordered). */
  private[ext] case class NearestCells(model: Model, n: Int, child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ivf_nearest_cells"
    override protected def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val d = a.numElements()
      // normalize the input once
      var norm = 0.0
      var i = 0
      while (i < d) { val x = a.getFloat(i); norm += x * x; i += 1 }
      val inv = if (norm == 0) 0.0 else 1.0 / math.sqrt(norm)
      val scored = Array.tabulate(model.k) { c =>
        val cen = model.centroids(c)
        var dot = 0.0
        var j = 0
        while (j < math.min(d, cen.length)) { dot += a.getFloat(j) * inv * cen(j); j += 1 }
        (c, dot)
      }
      new GenericArrayData(
        scored.sortBy { case (c, s) => (-s, c) }.take(n).map(_._1))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Register a temp function binding this model's NearestCells expression
    * (the session registry is the public route from Expression to Column). */
  private def cellsFn(df: DataFrame, model: Model, n: Int): String = {
    val fname = s"ivf_cells_${System.identityHashCode(model)}_$n"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, { case Seq(v) => NearestCells(model, n, v) }, "scala_udf")
    fname
  }

  /** Attach the IVF cell id (nearest centroid) to every corpus row. */
  def assign(corpus: DataFrame, vecCol: String, model: Model): DataFrame = {
    val f = cellsFn(corpus, model, 1)
    corpus.withColumn("ivf_cell",
      element_at(call_function(f, col(vecCol)), 1))
  }

  /**
   * Materialize the assigned corpus PARTITIONED BY ivf_cell — the 100 TB
   * layout: each cell is a parquet directory, so a search probing nprobe
   * cells prunes every other partition at planning time (PartitionFilters,
   * no file listing of unprobed cells). Write once, search many.
   */
  def writePartitioned(assignedCorpus: DataFrame, path: String): Unit =
    assignedCorpus.write.mode("overwrite")
      .partitionBy("ivf_cell").parquet(path)

  /**
   * SQ8 variant of [[writePartitioned]] (the FAISS IVF+SQ analog): cells
   * store int8-quantized vectors + per-vector scale instead of float32 —
   * 4x less storage and scan I/O at a scale/2-per-component
   * reconstruction error that leaves top-k ordering essentially intact.
   */
  def writePartitionedQuantized(assignedCorpus: DataFrame, vecCol: String,
                                path: String): Unit =
    Similarity.quantizeInt8(assignedCorpus, vecCol).drop(vecCol)
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)

  /** Reconstruct float vectors from an SQ8 layout (applied AFTER cell
    * pruning, so only probed cells pay the dequantize). */
  private[graft] def dequantized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol,
        transform(Similarity.dequantizeInt8(col("q_vec"), col("q_scale")),
          x => x.cast("float")))
      .drop("q_vec", "q_scale")

  /** [[searchPartitioned]] against a [[writePartitionedQuantized]] layout. */
  def searchPartitionedQuantized(spark: org.apache.spark.sql.SparkSession,
                                 path: String, queries: DataFrame, model: Model,
                                 vecCol: String, idCol: String, k: Int = 10,
                                 nprobe: Int = 4,
                                 excludeSelf: Boolean = true): DataFrame = {
    val fname = cellsFn(queries, model, nprobe)
    val probed = queries
      .select(explode(call_function(fname, col(vecCol))).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val corpus = dequantized(
      spark.read.parquet(path).filter(col("ivf_cell").isin(probed: _*)), vecCol)
    search(corpus, queries, model, vecCol, idCol, k, nprobe, excludeSelf)
  }

  /** Runtime kernel for the residual projection: vec − centroids(cell),
    * in doubles (float centroids upcast exactly). Public so janino's
    * static forwarder resolves it from generated code. */
  def residualOf(cell: Int, vec: ArrayData,
                 centroids: Array[Array[Float]]): ArrayData = {
    if (cell < 0 || cell >= centroids.length)
      throw new IllegalArgumentException(
        s"ivf_residual: cell $cell out of range [0, ${centroids.length})")
    val c = centroids(cell)
    val d = vec.numElements()
    if (d != c.length)
      throw new IllegalArgumentException(
        s"ivf_residual: vector dim $d != centroid dim ${c.length}")
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (vec.isNullAt(i))
        throw new IllegalArgumentException(
          s"ivf_residual: NULL vector element at index $i")
      out(i) = vec.getDouble(i) - c(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `ivf_residual(cell, vec)` → vec − cellCentroid as array<double> —
    * the residual-PQ projection; centroids ride `ctx.addReferenceObj`
    * (the PqKernel pattern — constant generated-code size in cells). */
  private[ext] case class IvfResidualExpr(
      left: Expression, right: Expression,
      centroids: Array[Array[Float]])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
      Seq(IntegerType, ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ivf_residual"
    override protected def nullSafeEval(cell: Any, vec: Any): Any =
      residualOf(cell.asInstanceOf[Int], vec.asInstanceOf[ArrayData], centroids)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("ivfCentroids", centroids, "float[][]")
      defineCodeGen(ctx, ev, (c, v) => s"graft.ext.Ivf.residualOf($c, $v, $ref)")
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Residual projection as a Column (vec − centroid of `cellCol`). */
  def residualCol(cellCol: Column, vecCol: Column, model: Model): Column =
    org.apache.spark.sql.graftx.Bridge.column(IvfResidualExpr(
      org.apache.spark.sql.graftx.Bridge.expression(cellCol),
      org.apache.spark.sql.graftx.Bridge.expression(vecCol),
      model.centroids))

  /**
   * Train a PQ codebook on RESIDUALS (vec − cell centroid) — faiss
   * `IVFPQ` proper: residual norms are on the order of the cell radius,
   * far smaller than vector norms, so the same m·k code budget spends
   * its precision on the part the coarse quantizer didn't explain —
   * materially better recall at equal bytes than flat-vector PQ.
   * Deterministic/oracle-replayable exactly like [[Similarity.pqTrain]]
   * (which this delegates to over the residual projection).
   */
  def pqTrainResiduals(assignedCorpus: DataFrame, vecCol: String,
                       idCol: String, model: Model,
                       m: Int = 4, k: Int = 16, iters: Int = 2)
      : Similarity.PqModel =
    Similarity.pqTrain(
      assignedCorpus.withColumn("_resid",
        residualCol(col("ivf_cell"), col(vecCol), model)),
      "_resid", idCol, m, k, iters)

  /** [[writePartitionedPq]] with RESIDUAL encoding: code =
    * pq(vec − cellCentroid), the faiss IVFPQ storage proper. */
  def writePartitionedPqResidual(assignedCorpus: DataFrame, vecCol: String,
                                 idCol: String, model: Model,
                                 pq: Similarity.PqModel, path: String): Unit =
    assignedCorpus.select(col(idCol), col("ivf_cell"),
        PqFunctions.pq_encode(
          residualCol(col("ivf_cell"), col(vecCol), model),
          pq.centroids).as("code"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)

  /**
   * Residual-IVFADC search: per probed cell the query RESIDUAL differs
   * (q − cellCentroid), so each probed cell gets its OWN driver-built
   * distance table and its own statically-pruned scan; the nprobe
   * bounded scans union into one TakeOrdered head. This is faiss's
   * IVFPQ search exactly — per-query cost nprobe · |cell| · m lookups.
   */
  def searchPartitionedPqResidual(spark: org.apache.spark.sql.SparkSession,
                                  path: String, query: Array[Double],
                                  model: Model, pq: Similarity.PqModel,
                                  idCol: String, k: Int = 10,
                                  nprobe: Int = 4): DataFrame = {
    val probed = nearestCellsLocal(model, query, nprobe)
    probed.map { c =>
      val cen = model.centroids(c)
      require(query.length == cen.length,
        s"query dim ${query.length} != centroid dim ${cen.length}")
      val qres = Array.tabulate(query.length)(i => query(i) - cen(i))
      spark.read.parquet(path).filter(col("ivf_cell") === c)
        .select(col(idCol),
          PqFunctions.pq_adc(col("code"), Similarity.adcTable(pq, qres))
            .as("adc_dist"))
    }.reduce(_ unionAll _)
      .orderBy(col("adc_dist").asc, col(idCol).asc).limit(k)
  }

  /**
   * BATCH residual IVFADC search — every query in ONE scan per probed
   * CELL instead of one scan per (query, cell). [[searchPartitionedPqResidual]]
   * issues |queries|·nprobe cell-filtered parquet reads (each its own
   * job); a 5-query × 8-cell exhaustive pass is 40 scans of the same
   * files, and the per-scan fixed cost dominates on anything but a
   * giant corpus (measured on the q158 gate — guide §1.2: fix the
   * distributed shape first). Here the queries probing a given cell
   * STACK their residual distance tables into one `pq_adc_multi`
   * projection over a single scan of that cell, ≤ |cells| scans total;
   * per-query top-k rides the bounded [[TopKAggregate]] heap with the
   * same (adc_dist asc, id asc) order the per-query operator's
   * orderBy/limit uses, so per query the returned row set is IDENTICAL.
   * Output: (query_id, `idCol`, adc_dist) — k rows per query.
   */
  def searchPartitionedPqResidualAll(spark: org.apache.spark.sql.SparkSession,
                                     path: String,
                                     queries: Seq[(Long, Array[Double])],
                                     model: Model, pq: Similarity.PqModel,
                                     idCol: String, k: Int = 10,
                                     nprobe: Int = 4): DataFrame = {
    require(queries.nonEmpty, "searchPartitionedPqResidualAll: no queries")
    val byCell = queries.flatMap { case (qid, qv) =>
      nearestCellsLocal(model, qv, nprobe).map(c => (c, qid, qv))
    }.groupBy(_._1).toSeq.sortBy(_._1)
    import spark.implicits._
    byCell.map { case (c, qs) =>
      val cen = model.centroids(c)
      val tables = qs.map { case (_, _, qv) =>
        require(qv.length == cen.length,
          s"query dim ${qv.length} != centroid dim ${cen.length}")
        Similarity.adcTable(pq, Array.tabulate(qv.length)(i => qv(i) - cen(i)))
      }.toArray
      val qids = qs.map(_._2).toArray
      val qMap = qids.zipWithIndex.map { case (q, i) => (i, q) }
        .toSeq.toDF("_qidx", "query_id")
      spark.read.parquet(path).filter(col("ivf_cell") === c)
        .select(col(idCol),
          posexplode(PqFunctions.pq_adc_multi(col("code"), tables))
            .as(Seq("_qidx", "_d")))
        .join(broadcast(qMap), Seq("_qidx"))
        .select(col("query_id"), col(idCol), col("_d"))
    }.reduce(_ unionAll _)
      .groupBy("query_id")
      .agg(TopKAggregate.topk_by_score(col(idCol), -col("_d"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("_t"))
      .select(col("query_id"), col("_t.id").as(idCol),
        (-col("_t.score")).as("adc_dist"))
  }

  /**
   * IVFADC storage (Jégou, Douze & Schmid, TPAMI 2011 §V — faiss's
   * `IVFPQ`): PQ codes stored INSIDE the cell-partitioned layout —
   * (id, code) partitioned by `ivf_cell`. The high-compression tier
   * next to [[writePartitionedQuantized]]'s SQ8: ~m small ints per
   * vector instead of d floats, which is what makes 1e10-vector
   * indexes fit on disk. Encoding is one narrow codegen projection
   * ([[PqFunctions.pq_encode]]); the write shuffles only (id, cell,
   * code) rows.
   */
  def writePartitionedPq(assignedCorpus: DataFrame, vecCol: String,
                         idCol: String, pq: Similarity.PqModel,
                         path: String,
                         // metadata columns stored NEXT TO the codes —
                         // what makes [[searchPartitionedPq]]'s
                         // `preFilter` a parquet-pushed predicate
                         // instead of a post-search join (the "filtered
                         // vector search" every production store needs)
                         extraCols: Seq[String] = Nil): Unit =
    assignedCorpus.select(col(idCol) +: col("ivf_cell") +:
        PqFunctions.pq_encode(col(vecCol), pq.centroids).as("code") +:
        extraCols.map(col): _*)
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)

  /** Driver-side twin of [[NearestCells]] for ONE query vector: the
    * same normalize-then-dot math in the same accumulation order, the
    * same (-dot, cell) tie order — a query must probe exactly the
    * cells the distributed assignment would give it. */
  private[graft] def nearestCellsLocal(model: Model, query: Array[Double],
                                       n: Int): Seq[Int] = {
    // a mis-dimensioned query would silently probe plausible-but-wrong
    // cells (the residual search path already requires equal dims —
    // both public entry points must refuse identically)
    require(query.length == model.centroids(0).length,
      s"nearestCellsLocal: query has dimension ${query.length}, the IVF " +
        s"model was trained at ${model.centroids(0).length}")
    var norm = 0.0
    var i = 0
    while (i < query.length) { norm += query(i) * query(i); i += 1 }
    val inv = if (norm == 0) 0.0 else 1.0 / math.sqrt(norm)
    val scored = Array.tabulate(model.k) { c =>
      val cen = model.centroids(c)
      var dot = 0.0
      var j = 0
      while (j < math.min(query.length, cen.length)) {
        dot += query(j) * inv * cen(j); j += 1
      }
      (c, dot)
    }
    scored.sortBy { case (c, s) => (-s, c) }.take(n).map(_._1).toSeq
  }

  /**
   * IVFADC search over a [[writePartitionedPq]] layout: probe the
   * query's `nprobe` nearest cells — a STATIC `ivf_cell IN (...)`
   * PartitionFilter, so unprobed cell directories are never listed —
   * then ADC top-k ([[Similarity.pqSearchAdc]]) over only the probed
   * cells' codes. The approximation is PQ quantization error + cell
   * pruning, faiss's production tradeoff: per-query work is
   * |probed cells| · m table lookups, independent of corpus size.
   */
  def searchPartitionedPq(spark: org.apache.spark.sql.SparkSession,
                          path: String, query: Array[Double], model: Model,
                          pq: Similarity.PqModel, idCol: String,
                          k: Int = 10, nprobe: Int = 4,
                          // METADATA-FILTERED search: a predicate over
                          // the layout's extraCols, applied at the SCAN
                          // (parquet PushedFilters — the filter prunes
                          // row groups, never a post-search join) and
                          // BEFORE ranking, so the filter itself costs
                          // zero recall — pre-filtering, not the
                          // post-filter-k-starvation trade
                          preFilter: Option[Column] = None): DataFrame = {
    val probed = nearestCellsLocal(model, query, nprobe)
    val scan = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probed: _*))
    val codes = preFilter.map(scan.filter).getOrElse(scan)
      .select(col(idCol), col("code"))
    Similarity.pqSearchAdc(codes, idCol, pq, query, k)
  }

  /** Two-stage FILTERED retrieval over the PQ layout: cell-pruned,
    * metadata-filtered ADC candidates, exact squared-L2 re-rank on the
    * raw vectors — [[Similarity.pqSearchAdcRefine]] composed with the
    * partitioned layout. With `rerank` at least the filtered subset's
    * size the result is EXACTLY the filtered exact top-k (the q197
    * gate's contract); smaller reranks trade recall for ADC speed the
    * usual way. */
  def searchPartitionedPqRefine(spark: org.apache.spark.sql.SparkSession,
                                path: String, vectors: DataFrame,
                                vecCol: String, idCol: String,
                                model: Model, pq: Similarity.PqModel,
                                query: Array[Double], k: Int, rerank: Int,
                                nprobe: Int = 4,
                                preFilter: Option[Column] = None): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1, got k=$k rerank=$rerank")
    val cands = searchPartitionedPq(spark, path, query, model, pq, idCol,
      k = rerank, nprobe = nprobe, preFilter = preFilter)
      .select(col(idCol))
    Similarity.exactRerankOn(vectors, vecCol, idCol, cands, query, k)
  }

  /** Search over a [[writePartitioned]] layout. The probed-cell set is
    * computed from the (small, broadcastable-by-assumption) query frame
    * first, so `ivf_cell IN (...)` is a STATIC PartitionFilter: unprobed
    * cell directories are never listed, let alone scanned. */
  def searchPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, model: Model,
                        vecCol: String, idCol: String, k: Int = 10,
                        nprobe: Int = 4,
                        excludeSelf: Boolean = true): DataFrame = {
    val fname = cellsFn(queries, model, nprobe)
    val probed = queries
      .select(explode(call_function(fname, col(vecCol))).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val corpus = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probed: _*))
    search(corpus, queries, model, vecCol, idCol, k, nprobe, excludeSelf)
  }

  /**
   * MATRYOSHKA x IVF composition: [[Similarity.matryoshkaTopK]]'s
   * two-stage funnel with the PERSISTED partitioned layout (a
   * [[writePartitioned]] dir) as the stage-1 candidate source instead
   * of a full prefix-cosine corpus scan. Queries probe their `nprobe`
   * nearest cells (partition pruning skips every other cell at
   * planning time); the prefix-`prefixDim` cosine shortlists
   * `shortlist` candidates per query WITHIN the probed cells; the
   * full-dim exact re-rank keeps `k`. Per-query work is |probed cells|
   * x cell size at prefix arithmetic + shortlist at full dim, never
   * |corpus| — the scale axis the plain matryoshka scan lacks. The
   * QUERY side is broadcast (twice: exploded probe + re-rank), so one
   * call handles a broadcast-sized query batch; a corpus-scale query
   * set (a full kNN-graph build) must iterate broadcast-sized batches
   * over the same persisted layout — each batch still prunes to its
   * probed cells, which is the point of the composition.
   *
   * With `nprobe = model.k` (all cells probed) the shortlist sees the
   * whole corpus and the result is EXACTLY [[Similarity.matryoshkaTopK]]
   * (the gate's oracle-replayable setting); smaller nprobe trades
   * recall like any IVF search — a spec pins recall vs the exact twin.
   * No `.distinct()` is needed on the candidate frame: each corpus row
   * lives in exactly one cell, so a (query, corpus) pair joins at most
   * once even with multi-cell probing. Vectors shorter than
   * `prefixDim` refuse loudly per row (same guard as the plain twin).
   */
  def matryoshkaTopKPartitioned(spark: org.apache.spark.sql.SparkSession,
                                path: String, queries: DataFrame, model: Model,
                                vecCol: String, idCol: String, k: Int,
                                prefixDim: Int, shortlist: Int,
                                nprobe: Int = 4,
                                excludeSelf: Boolean = true): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    require(k >= 1 && shortlist >= k,
      s"need 1 <= k ($k) <= shortlist ($shortlist)")
    TextFunctions.registerAll(spark)
    def pfx(v: Column): Column = slice(v, lit(1),
      when(size(v) < prefixDim,
        raise_error(concat(lit("matryoshkaTopKPartitioned: vector of dim "),
          size(v).cast("string"),
          lit(s" is shorter than prefixDim=$prefixDim"))).cast("int"))
        .otherwise(lit(prefixDim)))
    val fname = cellsFn(queries, model, nprobe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(call_function(fname, col(vecCol))).as("ivf_cell"))
    // guarded scalar collect: at most model.k cell ids
    val probed = q.select("ivf_cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    val c = spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probed: _*))
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        col("ivf_cell"))
    val joined = c.join(broadcast(q), Seq("ivf_cell"))
    val pre = (if (excludeSelf)
        joined.filter(col("query_id") =!= col("corpus_id"))
      else joined)
      .select(col("query_id"), col("corpus_id"),
        TextFunctions.cosine_sim(pfx(col("qv")), pfx(col("cv"))).as("cosine"))
    val short = Similarity.rankTopK(pre, shortlist)
      .select("query_id", "corpus_id")
    val qFull = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val rer = short
      .join(c.select(col("corpus_id"), col("cv")), Seq("corpus_id"))
      .join(broadcast(qFull), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        TextFunctions.cosine_sim(col("qv"), col("cv")).as("cosine"))
    Similarity.rankTopK(rer, k)
  }

  /** Search: probe `nprobe` cells per query, rank with the bounded heap.
    * `excludeSelf=true` (the near-dup/kNN-graph convention) drops the
    * id-identical row; `false` is the pgvector query-by-example
    * convention, where a vector already in the index retrieves itself at
    * cosine 1.0. */
  def search(assignedCorpus: DataFrame, queries: DataFrame, model: Model,
             vecCol: String, idCol: String, k: Int = 10,
             nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val spark = assignedCorpus.sparkSession
    TextFunctions.registerAll(spark)
    val fname = cellsFn(queries, model, nprobe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(call_function(fname, col(vecCol))).as("ivf_cell"))
    val c = assignedCorpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("cv"), col("ivf_cell"))
    val joined = c.join(broadcast(q), Seq("ivf_cell"))
    val scored = (if (excludeSelf) joined.filter(col("query_id") =!= col("corpus_id"))
                  else joined)
      .select(col("query_id"), col("corpus_id"),
        TextFunctions.cosine_sim(col("qv"), col("cv")).as("cosine"))
      .distinct()
    Similarity.rankTopK(scored, k)
  }
}
