package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find (and drop) training documents that
  * overlap a held-out evaluation suite by shared word n-grams — the
  * standard contamination check from the GPT-3 / PaLM data pipelines
  * (13-gram overlap there; `n` is a parameter here because the right value
  * tracks the tokenizer and document length).
  *
  * Scale shape — this is the one dedup-family operator with a NO-SHUFFLE
  * corpus path: an eval suite is tiny (benchmarks are MBs) while the
  * training corpus is the 100 TB side. The eval n-gram index builds once,
  * broadcasts, and the corpus probes it map-side (explode + broadcast
  * semi-join); only the matched fraction — roughly the true contamination
  * rate — reaches the per-document aggregation. The corpus itself is never
  * hash-partitioned.
  */
object Contamination {

  /** Distinct word n-grams of the eval suite with their source doc ids —
    * the contamination index. Small by construction; callers broadcast it.
    */
  def evalNgramIndex(evalDf: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    evalDf.select(col(idCol).as("eval_id"),
        explode(TextLib.shingles(col(textCol), n)).as("s"))
      .distinct()

  /** Per-training-document contamination stats: how many of the document's
    * distinct n-grams appear in the eval suite, and how many distinct eval
    * documents they hit. Only contaminated documents are returned.
    * Output: (train_id, n_hit_ngrams, n_eval_docs).
    */
  def contaminationStats(
      train: DataFrame, textCol: String, idCol: String,
      evalDf: DataFrame, evalTextCol: String, evalIdCol: String,
      n: Int = 8
  ): DataFrame = {
    val idx = broadcast(evalNgramIndex(evalDf, evalTextCol, evalIdCol, n))
    train.select(col(idCol).as("train_id"), explode(TextLib.shingles(col(textCol), n)).as("s"))
      .join(idx, Seq("s")) // broadcast hash join: corpus side stays map-local
      .groupBy("train_id")
      .agg(count_distinct(col("s")).as("n_hit_ngrams"),
        count_distinct(col("eval_id")).as("n_eval_docs"))
  }

  /** Drop contaminated documents: any training doc sharing at least
    * `minOverlap` distinct n-grams with the eval suite. The flagged-id set
    * is contamination-rate-sized, so the anti-join's right side is small
    * (AQE picks a broadcast anti-join at runtime).
    */
  def decontaminate(
      train: DataFrame, textCol: String, idCol: String,
      evalDf: DataFrame, evalTextCol: String, evalIdCol: String,
      n: Int = 8, minOverlap: Int = 1
  ): DataFrame = {
    val flagged = contaminationStats(train, textCol, idCol, evalDf, evalTextCol, evalIdCol, n)
      .filter(col("n_hit_ngrams") >= minOverlap)
      .select(col("train_id").as(idCol))
    train.join(flagged, Seq(idCol), "left_anti")
  }

  /** Surgical span-level decontamination (round 9): instead of DROPPING a
    * training document that overlaps the eval suite ([[decontaminate]]),
    * CUT the overlapping spans and keep the rest — the right tool when a
    * long document quotes one benchmark question but carries a megabyte of
    * clean text. Every training token covered by an n-gram window that
    * appears anywhere in the eval suite is removed (no keep-first here:
    * eval text must not survive in ANY training copy); the output is the
    * rewritten normalized token stream + n_tokens / n_removed_tokens /
    * n_kept_tokens (the [[Dedup.cutDuplicateSpans]] stat family — both
    * cuts share [[Dedup.rewritePerDocRemovals]]).
    *
    * Scale shape: the eval n-gram HASH set broadcasts (suites are MBs —
    * the same contract as [[contaminationStats]]); the corpus probes it
    * map-side on positional gram hashes, so only matched windows reach the
    * coverage aggregation, and the token-stream rewrite is linear. The
    * corpus never shuffles on content. Spans shorter than n tokens are
    * invisible — same threshold semantics as the flag-side check (pick n
    * accordingly; 8 here vs GPT-3's 13-gram).
    *
    * Null contracts match the cut family: null-id / null-text rows pass
    * through untouched (stats null for null ids; 0/unchanged for null
    * texts), token-free docs report 0.
    */
  def cutContaminatedSpans(
      train: DataFrame, textCol: String, idCol: String,
      evalDf: DataFrame, evalTextCol: String,
      n: Int = 8
  ): DataFrame = {
    require(n >= 1, s"cutContaminatedSpans: n must be >= 1, got $n")
    val evalGrams = broadcast(evalDf.filter(col(evalTextCol).isNotNull)
      .select(explode(graft.expr.WordGramHashes(col(evalTextCol), n)).as("__gk"))
      .distinct())
    val base = train.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    // Coverage IN-ROW (round 15, the cutDuplicateSpans treatment): matched
    // window STARTS ride one doc-keyed exchange (one row per window, not n
    // exploded positions + a distinct exchange); the RemovedPositions
    // kernel (empty canonical side — eval text must not survive in ANY
    // copy) expands to the identical distinct covered-position set.
    val rmPerDoc = base
      .select(col(idCol).as("__cd_id"),
        posexplode(graft.expr.WordGramHashes(col(textCol), n)).as(Seq("__p0", "__gk")))
      .join(evalGrams, Seq("__gk")) // broadcast: corpus stays map-local
      .groupBy(col("__cd_id"))
      .agg(collect_list((col("__p0") + 1).cast("long")).as("__starts"))
      .select(col("__cd_id"),
        graft.expr.RemovedPositions(col("__starts"),
          array().cast("array<long>"), n).as("__cd_rm_arr"))
    Dedup.rewritePerDocRemovals(train, textCol, idCol, rmPerDoc)
  }

  /** Embedding-side contamination: for each training row, the maximum cosine
    * similarity against the held-out eval suite's embeddings, plus which eval
    * row attains it — the semantic sibling of the n-gram overlap check above
    * (paraphrased eval leakage shares no 8-gram but sits at cosine ≈ 1).
    *
    * Scale shape mirrors [[contaminationStats]]: the EVAL side is the small
    * side (eval suites are thousands of rows). Since round 8 the default
    * plan is a PURE MAP — the [[graft.expr.MaxCosAgainst]] kernel scans the
    * corpus once with the eval matrix embedded in the stage's task binary:
    * no join, no pair space, no aggregation, zero shuffles (measured 230 s
    * → 7 s at the ×100 stress vs the crossJoin formulation, which
    * materialized a joined row per pair). Suites too large to collect fall
    * back to that crossJoin(broadcast) + partial-max plan — still
    * map-local; corpus×corpus never happens. Scoring is per ROW: duplicate
    * or null train ids score independently (the old groupBy(id)+join made
    * them share/lose results — an artifact, not a contract).
    *
    * Cosine is rounded to 6dp BEFORE the argmax so the winning eval id is
    * deterministic (ties → smallest eval id, in the id's OWN ordering — ids
    * may be any orderable type: numeric, string "mmlu_00123", …; the argmin
    * is min(struct(-cos, id)), no numeric cast). Train rows with a
    * null/zero vector get null max_cos and false flag; eval rows with a
    * null id are dropped (nothing to report a hit against). Output: the
    * FULL training frame (all columns preserved, so a downstream
    * `filter NOT contaminated` pipeline step keeps working) plus max_cos,
    * nearest_eval_id, contaminated; pre-existing columns of those names
    * are replaced.
    */
  def semanticContamination(
      train: DataFrame, idCol: String, vecCol: String,
      evalDf: DataFrame, evalIdCol: String, evalVecCol: String,
      threshold: Double = 0.95,
      prescreenCells: Int = 0
  ): DataFrame = {
    require(threshold > -1 && threshold <= 1,
      s"semanticContamination: threshold must be in (-1, 1], got $threshold")
    if (prescreenCells > 1)
      return semanticContaminationScreened(train, idCol, vecCol,
        evalDf, evalIdCol, evalVecCol, threshold, prescreenCells)
    // Default path (round 8): the per-row MaxCosAgainst kernel — the exact
    // brute scorer without the pair space. The plan-level crossJoin
    // formulation below remains the fallback for eval suites too large to
    // collect (at which point "broadcast-small" has already failed and the
    // join is the only honest shape). Kernel output is bit-identical to
    // the join formulation (see MaxCosAgainst's scaladoc) with ONE
    // documented per-row divergence: duplicate or null train ids now score
    // independently instead of sharing/losing a result through the old
    // groupBy(id) + left join — per-row semantics is the operator's
    // documented intent ("for each training row").
    val maxIndexRows = 100000
    val evCollected = evalDf.filter(col(evalIdCol).isNotNull)
      .select(col(evalIdCol).as("__eid"), col(evalVecCol).as("__ev"))
      .withColumn("__en", graft.vec.Similarity.l2Norm(col("__ev")))
      .filter(col("__en").isNotNull) // null-element vectors never score (null denom pairs)
      .orderBy(col("__eid"))         // ascending native order: kernel tie-break = min id
      .limit(maxIndexRows + 1)
      .collect()
    if (evCollected.length <= maxIndexRows) {
      val evalIdType = evalDf.schema(evalIdCol).dataType
      def toD(v: Any): Array[Double] = v.asInstanceOf[scala.collection.Seq[Any]].map {
        case f: Float => f.toDouble; case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray
      val idx = new graft.expr.EvalIndex(
        evCollected.map(r => toD(r.get(1))),
        evCollected.map(_.getDouble(2)),
        evCollected.map(_.get(0)).asInstanceOf[Array[Any]],
        evalIdType)
      val mc = graft.expr.MaxCosAgainst(col(vecCol), idx)
      return train.drop("max_cos", "nearest_eval_id", "contaminated")
        .withColumn("__mc", mc)
        .withColumn("max_cos", col("__mc.cos"))
        .withColumn("nearest_eval_id", col("__mc.id"))
        .withColumn("contaminated",
          coalesce(col("max_cos") >= lit(threshold), lit(false)))
        .drop("__mc")
    }
    val ev = broadcast(evalDf.filter(col(evalIdCol).isNotNull)
      .select(col(evalIdCol).as("__eid"), col(evalVecCol).as("__ev"))
      .withColumn("__en", graft.vec.Similarity.l2Norm(col("__ev"))))
    val scored = train.select(col(idCol), col(vecCol).as("__tv"))
      // norms hoisted above the train×eval pair space: computed once per
      // row instead of once per pair (bit-identical — cosinePreNorm)
      .withColumn("__tn", graft.vec.Similarity.l2Norm(col("__tv")))
      .crossJoin(ev)
      // degenerate vectors score nothing — screened CHEAPLY before the
      // cosine exists: `isnotnull(__cos)` would re-evaluate the substituted
      // dot per pair in a filter below the projection (2x the pair-space
      // arithmetic; the SemDedup filter-on-alias lesson). Equivalent:
      // cosinePreNorm is null exactly when a norm is null (null vector /
      // null element, via dot(v,v)), the norm product is 0, or the dims
      // mismatch; NaN products compare non-equal-to-zero and stay, like
      // the NaN cosines they produce did.
      .filter(size(col("__tv")) === size(col("__ev")) &&
        (col("__tn") * col("__en")) =!= lit(0.0))
      .withColumn("__cos", round(
        graft.vec.Similarity.cosinePreNorm(col("__tv"), col("__tn"), col("__ev"), col("__en")), 6))
      .groupBy(col(idCol))
      // argmax via min(struct): -cos first (min -cos == max cos), then the
      // eval id — equal cos resolves to the SMALLEST id in its native order
      .agg(min(struct((-col("__cos")).as("nc"), col("__eid").as("i"))).as("__m"))
      .select(col(idCol), (-col("__m.nc")).as("max_cos"), col("__m.i").as("nearest_eval_id"))
    train.drop("max_cos", "nearest_eval_id", "contaminated")
      .alias("__sc_d").join(scored.alias("__sc_s"), Seq(idCol), "left")
      .withColumn("contaminated",
        coalesce(col("max_cos") >= lit(threshold), lit(false)))
  }

  /** Exact IVF-cell pre-screen for [[semanticContamination]] (VERDICT r7 #5).
    *
    * Angular distance is a metric on the unit sphere, so for any train
    * vector t, eval vector e, and cell centroid c (all after L2
    * normalization): θ(t,e) ≥ |θ(t,c) − θ(e,c)|, hence
    * cos(t,e) ≤ cos(dist(θ(t,c), [θmin(cell), θmax(cell)])) — an EXACT
    * upper bound computable from one cosine per (train row, cell). Cells
    * whose bound cannot reach the threshold (margin 1e-6 covers the 6dp
    * half-up rounding band plus float wobble) are skipped; every member of
    * a surviving cell is scored with the brute path's own pair predicate
    * and rounding. Consequences, all provable from the bound:
    *  - the `contaminated` flag is EXACTLY the brute flag (any member that
    *    could round to ≥ threshold forces its cell's bound ≥ threshold−1e-6);
    *  - `max_cos`/`nearest_eval_id` are EXACTLY the brute values — ties
    *    included — for every contaminated row;
    *  - for CLEAN rows they are null (the brute path reports the true
    *    sub-threshold max there; a screened max over surviving cells only
    *    would be cell-layout-dependent, so the contract nulls it).
    * q_semantic_contamination_law pins all three against the brute path.
    *
    * Plumbing: centroids come from the same bounded, hash-gated, id-sorted
    * driver Lloyd as PQ/SemDedup (deterministic across partitionings; eval
    * suites are broadcast-small by the same contract that broadcasts them
    * in the brute path). Eval rows that brute could never score (null id,
    * null/zero norm) are excluded from the index outright; eval rows the
    * CELL GEOMETRY cannot cover (dimension ≠ centroid dimension) go to a
    * residual cell with bounds [0, π] whose UB is pinned at 1.0 — always
    * scored, so mixed-dimension suites stay exact. Arithmetic per train
    * row: `prescreenCells` centroid cosines + surviving members, instead
    * of |eval| cosines — the win that matters at the 100 TB corpus × large
    * eval scale (the sf≈10 stress spent 54 s on brute cosines).
    */
  private def semanticContaminationScreened(
      train: DataFrame, idCol: String, vecCol: String,
      evalDf: DataFrame, evalIdCol: String, evalVecCol: String,
      threshold: Double, cells: Int
  ): DataFrame = {
    import graft.vec.{Pq, Similarity}
    val margin = 1e-6 // 6dp half-up rounding band (5e-7) + float slack
    val evValid = evalDf.filter(col(evalIdCol).isNotNull)
      .select(col(evalIdCol).as("__eid"), col(evalVecCol).as("__ev"))
      .withColumn("__en", Similarity.l2Norm(col("__ev")))
      .filter(col("__en").isNotNull && col("__en") =!= 0.0)
    val evalIdType = evalDf.schema(evalIdCol).dataType
    val evVecType = evValid.schema("__ev").dataType
    // Eval suites are broadcast-small by the same contract that broadcasts
    // them in the brute path — collect ONCE and build the whole index
    // (Lloyd training, cell assignment, θ bounds) on the driver, shipping
    // members + bounds as LOCAL relations. The first formulation assigned
    // cells with DataFrame aggregations and paid 3 extra broadcast-build
    // stages (~1 s fixed at sf0.1) for zero arithmetic saved. An over-cap
    // eval suite (not broadcast-small: the premise fails) uses brute.
    val maxIndexRows = 100000
    val evRows = evValid.limit(maxIndexRows + 1).collect()
    if (evRows.isEmpty) // no scoreable eval vector: brute flags nothing
      return train.drop("max_cos", "nearest_eval_id", "contaminated")
        .withColumn("max_cos", lit(null).cast("double"))
        .withColumn("nearest_eval_id", lit(null).cast(evalIdType))
        .withColumn("contaminated", lit(false))
    if (evRows.length > maxIndexRows)
      return semanticContamination(train, idCol, vecCol,
        evalDf, evalIdCol, evalVecCol, threshold, prescreenCells = 0)
    def toD(v: Any): Array[Double] = v.asInstanceOf[scala.collection.Seq[Any]].map {
      case f: Float => f.toDouble; case d: Double => d
      case n: Number => n.doubleValue()
    }.toArray
    // (eid, raw vec, norm, unit vec) — id-sorted so Lloyd's float-sum order
    // is bit-stable across partitionings (the Pq/SemDedup discipline)
    val evData = evRows.map(r => (r.get(0), r.get(1), r.getDouble(2)))
      .sortBy(_._1.toString)
      .map { case (eid, raw, en) => (eid, raw, en, toD(raw).map(_ / en)) }
    val dim = evData.map(_._4.length).groupBy(identity)
      .maxBy { case (d, ds) => (ds.length, d) }._1
    val lloydIn = evData.map(_._4).filter(_.length == dim)
    val rawCents = Pq.lloyd(lloydIn, math.min(cells, lloydIn.length), iters = 20, seed = 42L)
    // unit centroids (the bound needs angles TO the centroid, any nonzero
    // direction works; a degenerate all-zero centroid borrows a sample)
    val cents = rawCents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n > 1e-12) c.map(_ / n) else lloydIn.head
    }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // eval → nearest-centroid cell (ties → smallest cell id); off-dimension
    // eval rows → residual cell -1 (bounds [0, π], never pruned)
    val assigned = evData.map { case (eid, raw, en, u) =>
      if (u.length != dim) (-1, eid, raw, en, Double.NaN)
      else {
        val cos = cents.map(dotD(u, _))
        val best = cos.indices.maxBy(i => (cos(i), -i))
        (best, eid, raw, en, math.acos(math.max(-1.0, math.min(1.0, cos(best)))))
      }
    }
    val boundRows = assigned.groupBy(_._1).toSeq.map { case (cell, ms) =>
      if (cell == -1) Row(-1, 0.0, math.Pi, null)
      else Row(cell, ms.map(_._5).min, ms.map(_._5).max, cents(cell).toSeq)
    }
    import scala.jdk.CollectionConverters._
    val spark = train.sparkSession
    val boundsSchema = StructType(Seq(
      StructField("__cell", IntegerType, nullable = false),
      StructField("__thmin", DoubleType, nullable = false),
      StructField("__thmax", DoubleType, nullable = false),
      StructField("__cvec", ArrayType(DoubleType), nullable = true)))
    val memberSchema = StructType(Seq(
      StructField("__cell", IntegerType, nullable = false),
      StructField("__eid", evalIdType, nullable = true),
      StructField("__ev", evVecType, nullable = true),
      StructField("__en", DoubleType, nullable = false)))
    val cellBounds = spark.createDataFrame(boundRows.asJava, boundsSchema)
    val members = broadcast(spark.createDataFrame(
      assigned.toSeq.map { case (cell, eid, raw, en, _) => Row(cell, eid, raw, en) }.asJava,
      memberSchema))
    def clamp(c: Column): Column = greatest(lit(-1.0), least(lit(1.0), c))
    // train × cells: one centroid cosine each, keep cells whose EXACT upper
    // bound clears threshold − margin; the residual cell is unconditional
    val tRows = train.select(col(idCol), col(vecCol).as("__tv"))
      .withColumn("__tn", Similarity.l2Norm(col("__tv")))
    val survivors = tRows.crossJoin(broadcast(cellBounds))
      .withColumn("__cc",
        Similarity.cosinePreNorm(col("__tv"), col("__tn"), col("__cvec"), lit(1.0)))
      .withColumn("__thT", acos(clamp(col("__cc"))))
      // A NaN centroid cosine (NaN elements / NaN norm in the train vector)
      // must be UNPRUNABLE: clamp() would map it to 1.0 (Spark least/greatest
      // rank NaN above non-NaN) giving __thT=0 and a finite bound that can
      // prune every cell — while the brute/kernel path flags such rows
      // (max_cos NaN >= threshold is TRUE under Spark NaN ordering). A NaN
      // bound survives the >= filter for ANY threshold, so the row reaches
      // the scored stage, which replays the brute pair predicate exactly
      // (ADVICE r8). isnan(null)=false, so null vectors still prune → clean,
      // matching brute's size/norm pair predicate dropping them.
      .withColumn("__ub", when(col("__cell") === -1, lit(1.0))
        .when(isnan(col("__cc")), lit(Double.NaN))
        .otherwise(cos(greatest(lit(0.0), col("__thmin") - col("__thT"),
          col("__thT") - col("__thmax")))))
      .filter(col("__ub") >= lit(threshold - margin))
      .select(col(idCol), col("__tv"), col("__tn"), col("__cell"))
    // surviving members scored with the brute pair predicate + rounding
    val scored = survivors.join(members, Seq("__cell"))
      .filter(size(col("__tv")) === size(col("__ev")) &&
        (col("__tn") * col("__en")) =!= lit(0.0))
      .withColumn("__cos", round(
        Similarity.cosinePreNorm(col("__tv"), col("__tn"), col("__ev"), col("__en")), 6))
      .groupBy(col(idCol))
      .agg(min(struct((-col("__cos")).as("nc"), col("__eid").as("i"))).as("__m"))
      .select(col(idCol), (-col("__m.nc")).as("max_cos"), col("__m.i").as("nearest_eval_id"))
      .filter(col("max_cos") >= lit(threshold)) // clean rows report null by contract
    train.drop("max_cos", "nearest_eval_id", "contaminated")
      .alias("__sc_d").join(scored.alias("__sc_s"), Seq(idCol), "left")
      .withColumn("contaminated",
        coalesce(col("max_cos") >= lit(threshold), lit(false)))
  }
}
