package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the CCNet-style
  * "perplexity filter" quality signal (Wenzek et al. 2020 score CommonCrawl
  * with a KenLM 5-gram model; the distributed re-expression trains an
  * add-one-smoothed bigram model on the corpus itself and scores each
  * document by its average bigram log-likelihood). Low-likelihood documents
  * are gibberish/boilerplate candidates; the score is threshold-filtered
  * exactly like [[graft.functions.TextFunctions.qualityScore]].
  *
  * Reference anchor: amadeus has no LM surface; this is part of the
  * "beyond the reference" LLM-pipeline block (SURVEY §2 extension).
  *
  * Scale shape (the part that must survive 100 TB):
  *  - bigram generation is NARROW — `transform(sequence(...))` inside
  *    whole-stage codegen, no shuffle;
  *  - model training is two count aggregates with map-side combine: the
  *    (w1,w2) table collapses to vocabulary² (in practice ≪ corpus) before
  *    the exchange, and the history table derives from the *counted*
  *    bigram table, not the corpus;
  *  - scoring joins the corpus bigram stream to the two count tables on
  *    gram keys (Catalyst broadcasts them when they fit — they're
  *    vocabulary-sized) and the vocab-size scalar crosses in as a
  *    broadcast of one row;
  *  - tokens are keyed by `xxhash64` before any exchange so shuffles
  *    move 8-byte longs, not words. Counts — and therefore scores — are
  *    unchanged up to 2⁻⁶⁴-scale collisions.
  */
object LanguageModel {

  /** Per-document average bigram log-likelihood under an add-one-smoothed
    * bigram model trained on `df` itself:
    *
    *   score(doc) = avg over bigrams (w1,w2) of
    *                ln( (c(w1,w2) + 1) / (c_hist(w1) + V) )
    *
    * where c_hist(w1) = Σ_w2 c(w1,w2) (occurrences of w1 as a history)
    * and V = corpus distinct-token count. Documents with fewer than two
    * tokens have no bigrams and are absent from the result (callers
    * left-join and default, as [[duplicateSpanStats]] does for spans).
    *
    * The returned `ll` is floor-rounded to 4 decimals (IEEE-stable
    * half-up, replayable by any engine); `n_bigrams` is the count the
    * average runs over.
    *
    * KNOWN RISK (accepted): the floor is applied to an `avg(log(...))`,
    * and FP summation order inside avg differs between Spark's partial
    * aggregation and a replaying engine's — a last-ulp difference can in
    * principle flip the floor when the scaled value lands within an ulp
    * of an integer boundary. Observed flake rate so far: zero across all
    * rounds; per-doc averages run over few hundred bigrams, keeping
    * accumulated error ≪ the 1e-4 quantum. Applies equally to
    * mooreLewisScore and the d12/p08 dup_frac roundings.
    */
  def bigramLogLikelihood(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val bg = docBigrams(df, idCol, textCol)
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val ch = cb.groupBy(col("w1")).agg(sum(col("cb")).as("ch"))
    val v = vocabSize(df, textCol)
    bg.join(cb, Seq("w1", "w2")).join(ch, Seq("w1")).crossJoin(broadcast(v))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(avg(log((col("cb") + lit(1.0)) / (col("ch") + col("v"))))
          * 10000 + lit(0.5)) / 10000).as("ll"))
      .select(col("id").as(idCol), col("n_bigrams"), col("ll"))
  }

  /** (id, w1, w2) bigram stream of hashed tokens — narrow
    * transform(sequence(...)). */
  private def docBigrams(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
      .select(col("id"),
        explode(when(size(col("t")) >= 2,
          transform(sequence(lit(0), size(col("t")) - 2),
            i => struct(element_at(col("t"), i + 1).as("w1"),
              element_at(col("t"), i + 2).as("w2"))))
          .otherwise(array())).as("b"))
      .select(col("id"), xxhash64(col("b.w1")).as("w1"),
        xxhash64(col("b.w2")).as("w2"))

  /** one-row distinct-token count, aliased `v`. */
  private def vocabSize(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("tok0"))
      .agg(countDistinct(xxhash64(col("tok0"))).as("v"))

  /** Per-document average log-likelihood under an INTERPOLATED trigram
    * model (Jelinek–Mercer mixing, the KenLM-adjacent shape one order up
    * from [[bigramLogLikelihood]]):
    *
    *   score(doc) = avg over trigram positions of
    *     ln( λ3·p3(w3|w1w2) + λ2·p2(w3|w2) + λ1·p1(w3) )
    *
    * with each order add-one smoothed against the shared vocabulary V:
    * p3 = (c3+1)/(ch3(w1,w2)+V), p2 = (cb+1)/(chb(w2)+V),
    * p1 = (cu(w3)+1)/(N+V); histories derive from each order's own count
    * table. Interpolation cures the bigram model's blindness to longer
    * repetition and its overconfidence on unseen-but-plausible pairs —
    * the standard reason production perplexity filters run ≥ trigram.
    *
    * Scale shape identical to the bigram form, one order up: trigram
    * generation is narrow, all three count tables collapse to
    * vocabulary-order size under map-side combine, scoring joins on gram
    * keys (broadcast when they fit), λ and V are scalars. The mixture is
    * written as one fixed left-to-right expression so IEEE evaluation is
    * engine-identical; tokens are hashed as in the bigram form.
    * Documents with < 3 tokens have no trigrams and are absent.
    */
  def trigramInterpolatedLL(df: DataFrame, idCol: String, textCol: String,
      lambdas: (Double, Double, Double) = (0.6, 0.3, 0.1)): DataFrame = {
    val (l3, l2, l1) = lambdas
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-9, s"lambdas must sum to 1")
    val tg = df.select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
      .select(col("id"),
        explode(when(size(col("t")) >= 3,
          transform(sequence(lit(0), size(col("t")) - 3),
            i => struct(element_at(col("t"), i + 1).as("w1"),
              element_at(col("t"), i + 2).as("w2"),
              element_at(col("t"), i + 3).as("w3"))))
          .otherwise(array())).as("g"))
      .select(col("id"), xxhash64(col("g.w1")).as("w1"),
        xxhash64(col("g.w2")).as("w2"), xxhash64(col("g.w3")).as("w3"))
    val bg = docBigrams(df, idCol, textCol)
    val c3 = tg.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val ch3 = c3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("ch3"))
    val cb = bg.groupBy(col("w1").as("b1"), col("w2").as("b2"))
      .agg(count(lit(1)).as("cb"))
    val chb = cb.groupBy(col("b1")).agg(sum(col("cb")).as("chb"))
      .withColumnRenamed("b1", "h1")
    val toks = df.select(explode(split(col(textCol), " ")).as("tok0"))
    val cu = toks.select(xxhash64(col("tok0")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    // N and V derive from the unigram count table — sum(cu) ≡ token
    // count, count(*) over cu ≡ countDistinct over the token stream — so
    // the one-row scalar frame costs a vocabulary-sized aggregate instead
    // of the corpus-sized Expand the combined count+countDistinct
    // aggregate planned (and AQE reuses cu's exchange stage for the
    // scoring join, so the token stream is scanned once, not three times)
    val nv = cu.agg(coalesce(sum(col("cu")), lit(0L)).as("n_tok"),
      count(lit(1)).as("v"))
    val p3 = (col("c3") + lit(1.0)) / (col("ch3") + col("v"))
    val p2 = (col("cb") + lit(1.0)) / (col("chb") + col("v"))
    val p1 = (col("cu") + lit(1.0)) / (col("n_tok") + col("v"))
    tg.join(c3, Seq("w1", "w2", "w3")).join(ch3, Seq("w1", "w2"))
      .join(cb, col("w2") === col("b1") && col("w3") === col("b2"))
      .join(chb, col("w2") === col("h1"))
      .join(cu, col("w3") === cu("w"))
      .crossJoin(broadcast(nv))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_trigrams"),
        (floor(avg(log(lit(l3) * p3 + lit(l2) * p2 + lit(l1) * p1))
          * 10000 + lit(0.5)) / 10000).as("ll"))
      .select(col("id").as(idCol), col("n_trigrams"), col("ll"))
  }

  /** Moore–Lewis cross-entropy data selection (Moore & Lewis 2010,
    * "Intelligent Selection of Language Model Training Data"): score
    * every document by
    *
    *   avg over bigrams of [ ln P_target(w2|w1) − ln P_general(w2|w1) ]
    *
    * where the TARGET model trains on the in-domain subset
    * (`targetCond`) and the GENERAL model on the whole corpus, both
    * add-one smoothed. Positive scores mean "looks like the target
    * domain"; pipelines keep the top slice — THE classic method for
    * selecting in-domain training data from a large crawl.
    *
    * Scale shape: identical to [[bigramLogLikelihood]] ×2 — both count
    * tables collapse to vocabulary size under map-side combine before
    * their exchanges; target-side counts join LEFT (unseen bigrams get
    * count 0, smoothing keeps the log finite); the two one-row vocab
    * frames broadcast. Tokens are hashed as elsewhere.
    */
  def mooreLewisScore(df: DataFrame, idCol: String, textCol: String,
      targetCond: Column): DataFrame = {
    val bg = docBigrams(df, idCol, textCol)
    val tgt = df.filter(targetCond)
    // an empty target would make vt = 0 and the smoothed target term
    // (0+1)/(0+0) — non-ANSI division yields NULL and every score would
    // silently be NULL; fail loud instead (cheap limit-1 probe)
    require(!tgt.isEmpty,
      "mooreLewisScore: targetCond matches no rows — no target model to train")
    val bgT = docBigrams(tgt, idCol, textCol)
    val cbG = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbg"))
    val chG = cbG.groupBy(col("w1")).agg(sum(col("cbg")).as("chg"))
    val cbT = bgT.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbt"))
    val chT = cbT.groupBy(col("w1")).agg(sum(col("cbt")).as("cht"))
    val vG = vocabSize(df, textCol).withColumnRenamed("v", "vg")
    val vT = vocabSize(tgt, textCol).withColumnRenamed("v", "vt")
    bg.join(cbG, Seq("w1", "w2")).join(chG, Seq("w1"))
      .join(cbT, Seq("w1", "w2"), "left_outer")
      .join(chT, Seq("w1"), "left_outer")
      .crossJoin(broadcast(vG)).crossJoin(broadcast(vT))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(avg(
          log((coalesce(col("cbt"), lit(0L)) + lit(1.0)) /
            (coalesce(col("cht"), lit(0L)) + col("vt")))
            - log((col("cbg") + lit(1.0)) / (col("chg") + col("vg"))))
          * 10000 + lit(0.5)) / 10000).as("ml_score"))
      .select(col("id").as(idCol), col("n_bigrams"), col("ml_score"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by the log importance weight of a bag-of-bigrams
    * generative model fit on the target subset vs the raw corpus,
    *
    *   log w(x) = Σ over bigrams b of x  [ ln p̂_target(b) − ln p̂_raw(b) ]
    *
    * with add-one smoothing: p̂(b) = (c(b) + 1) / (total + B), B = distinct
    * bigrams in the raw corpus. Positive means "looks like the target";
    * [[dsirSample]] then resamples k docs ∝ w(x) without replacement.
    * The paper hashes n-grams into 10⁴ buckets; here each token is
    * keyed by xxhash64 before any exchange, the near-collision-free
    * analogue.
    *
    * Scale shape: identical to [[mooreLewisScore]] — both count tables
    * collapse to vocabulary² under map-side combine before their
    * exchanges, totals cross in as one-row broadcasts, per-doc weights
    * are one gram-keyed join + SUM. Docs with < 2 tokens have no bigrams
    * and keep log w = 0 (weight 1, the paper's uninformative prior) via
    * the left-join-back. `dsir_logw` is floor-rounded to 4 decimals
    * (same FP-stability argument as [[bigramLogLikelihood]]).
    */
  def dsirLogWeight(df: DataFrame, idCol: String, textCol: String,
      targetCond: Column): DataFrame = {
    val tgt = df.filter(targetCond)
    require(!tgt.isEmpty,
      "dsirLogWeight: targetCond matches no rows — no target model to fit")
    val bg = docBigrams(df, idCol, textCol)
    val bgT = docBigrams(tgt, idCol, textCol)
    val cR = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cr"))
    val cT = bgT.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("ct"))
    val rTot = cR.agg(sum(col("cr")).cast("double").as("rt"),
      count(lit(1)).cast("double").as("b"))
    val tTot = cT.agg(sum(col("ct")).cast("double").as("tt"))
    val perDoc = bg.join(cR, Seq("w1", "w2"))
      .join(cT, Seq("w1", "w2"), "left_outer")
      .crossJoin(broadcast(rTot)).crossJoin(broadcast(tTot))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        (floor(sum(
          log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + col("b")))
            - log((col("cr") + lit(1.0)) / (col("rt") + col("b"))))
          * 10000 + lit(0.5)) / 10000).as("dsir_logw"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dsir_logw"), lit(0.0)).as("dsir_logw"))
  }

  /** DSIR's resampling half: an exact-k weighted draw ∝ exp(dsir_logw)
    * without replacement, via the Gumbel-top-k identity — adding an
    * independent Gumbel g = −ln(−ln(u)) to each LOG-weight and keeping
    * the k largest is exactly the Efraimidis–Spirakis race
    * [[Splits.weightedSampleKey]] runs in linear space (smallest
    * −ln(u)/w ⟺ largest ln w − ln(−ln u)), but never exponentiates, so
    * long documents can't overflow the weight. u is [[Splits.mdUniform]]:
    * deterministic in (id, salt), replayable by the oracle; the race runs
    * on the ROUNDED dsir_logw so both engines rank identical inputs
    * (membership-stable — the k-th gap argument of gate p11).
    *
    * Plan: [[dsirLogWeight]] + a narrow key projection into
    * `TakeOrderedAndProject` — O(k) driver state at any corpus size.
    */
  def dsirSample(df: DataFrame, idCol: String, textCol: String,
      targetCond: Column, k: Int, salt: String): DataFrame = {
    require(k >= 1, s"sample size k=$k must be >= 1")
    val lw = dsirLogWeight(df, idCol, textCol, targetCond)
    val gumbel = -log(-log(graft.operators.Splits.mdUniform(col(idCol), salt)))
    lw.withColumn("__g", col("dsir_logw") + gumbel)
      .orderBy(col("__g").desc, col(idCol))
      .limit(k)
      .drop("__g")
  }

  /** CCNet's head/middle/tail corpus partition (Wenzek et al. 2020 §4.3):
    * rank every document by LM score WITHIN its class (language) and cut
    * the class into `nBuckets` equal tiles — head = best-scoring third
    * (lowest perplexity), tail = worst. Downstream pipelines keep head
    * (+middle) or weight the buckets differently in the training mix.
    *
    * Ordering is by the ROUNDED [[bigramLogLikelihood]] score (ties on
    * id) — the rounded value is the cross-engine-stable one (the t11
    * gate hash-verifies it), so bucket membership is engine-replayable
    * where raw ln output would flip on last-ulp differences.
    *
    * Plan at 100 TB: scoring is [[bigramLogLikelihood]] (vocabulary-sized
    * exchanges); the tiling is one `ntile` window per class — a range
    * exchange on (class, score). CCNet itself computes per-class
    * percentile CUTOFFS on a sample and assigns narrowly; at extreme
    * scale swap the window for `percentile_approx` thresholds broadcast
    * back (same output up to boundary docs). Docs with < 2 tokens have
    * no bigrams and are absent, as in [[bigramLogLikelihood]].
    *
    * @return idCol, classCol, `ll`, `bucket` (1 = head .. nBuckets = tail)
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      classCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val scored = bigramLogLikelihood(df, idCol, textCol)
    val w = Window.partitionBy(col(classCol))
      .orderBy(col("ll").desc, col(idCol))
    scored.join(df.select(col(idCol), col(classCol)), Seq(idCol))
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .select(col(idCol), col(classCol), col("ll"), col("bucket"))
  }

  /** SQL `ntile(n)` bucket from a 1-based rank and a group size —
    * the exact semantics: the first `cnt mod n` buckets hold
    * `ceil(cnt/n)` rows, the rest `floor(cnt/n)`. */
  private def ntileBucket(rank: Long, cnt: Long, n: Int): Long = {
    val q = cnt / n
    val rem = cnt % n
    val thr = rem * (q + 1)
    if (rank <= thr) (rank - 1) / (q + 1) + 1
    else rem + (rank - 1 - thr) / q + 1
  }

  /** Auto-regime CCNet bucketing (VERDICT r7 #4): the engine picks the
    * t19-vs-t19b form instead of the caller. One bounded aggregate
    * measures the LARGEST class; below `windowCeiling` rows the window
    * form wins (no persist, no extra passes — the measured regime at
    * every sandbox scale), above it a single class would exceed one
    * task's sort, so the prefix-sum form takes over — per-class work
    * then parallelizes with the cluster instead of the class count.
    * Both forms are row-identical (t19b shares t19's oracle; the switch
    * is PlanSpec-proven on a constructed ceiling).
    *
    * The default ceiling is deliberately large: ~50M (score, id) rows
    * sort comfortably in one task's memory; the scalable form's persist
    * + two extra narrow passes only pay for themselves past that
    * (BASELINE.md's t19b row: 2.09 s vs 1.28 s at sf0.1, parity at
    * sf10). */
  def perplexityBucketsAuto(df: DataFrame, idCol: String, textCol: String,
      classCol: String, nBuckets: Int = 3,
      windowCeiling: Long = 50000000L): DataFrame =
    perplexityBucketsAutoTracked(df, idCol, textCol, classCol, nBuckets,
      windowCeiling)._1

  /** [[perplexityBucketsAuto]] returning the cache handle of whichever
    * regime it picked (the window form persists nothing — its handle is
    * empty; the scalable form's handle releases the range-sorted persist).
    * Callers release uniformly without knowing which regime ran. */
  def perplexityBucketsAutoTracked(df: DataFrame, idCol: String,
      textCol: String, classCol: String, nBuckets: Int = 3,
      windowCeiling: Long = 50000000L)
      : (DataFrame, graft.dedup.Dedup.CacheHandle) = {
    val maxClass = Analytics.maxGroupSize(df, Seq(classCol))
    if (maxClass <= windowCeiling)
      (perplexityBuckets(df, idCol, textCol, classCol, nBuckets),
        graft.dedup.Dedup.emptyCacheHandle)
    else
      perplexityBucketsScalableTracked(df, idCol, textCol, classCol, nBuckets)
  }

  /** [[perplexityBuckets]]'s SCALE twin — byte-identical output, no
    * window. The window form partitions by language: a 5-language
    * corpus gets 5-way parallelism FOREVER, each language's whole
    * score column sorted and ntile'd by one task — the one
    * low-cardinality window left in the tree, and a genuine 100 TB
    * ceiling (t19's sf10 row is bounded by it). This form computes the
    * same exact per-class rank with the [[Packing.packByOrder]]
    * two-pass prefix-sum shape instead:
    *   1. range-repartition + sort by (class, ll desc, id) — a total
    *      order across ALL partitions, cluster-wide parallel sort;
    *   2. one tiny job collects per-(partition, class) row counts
    *      (driver state O(partitions + classes), never O(rows));
    *   3. a narrow pass assigns each row its global within-class rank
    *      from the broadcast offsets, and the ntile bucket from the
    *      closed-form `ntile(rank, count, n)` arithmetic.
    * Rank depends only on the total order, so results are identical at
    * any partition count (spec'd), and equal to the window form
    * row-for-row (t19b shares t19's oracle).
    *
    * Caching contract: the range-sorted corpus is persisted (it feeds
    * both the census job and the rank pass, and pass 2's offsets are
    * only valid against the EXACT partitioning pass 1 counted — an
    * unpersisted recompute could re-range-partition differently). The
    * returned DataFrame still reads from that cache, so it cannot be
    * unpersisted here; use [[perplexityBucketsScalableTracked]] for the
    * handle-returning form (the d09 CacheHandle discipline) and release
    * it after the result's terminal action. This overload is kept for
    * harness callers that clearCache() between queries. */
  def perplexityBucketsScalable(df: DataFrame, idCol: String, textCol: String,
      classCol: String, nBuckets: Int = 3): DataFrame =
    perplexityBucketsScalableTracked(df, idCol, textCol, classCol,
      nBuckets)._1

  /** [[perplexityBucketsScalable]] plus the [[graft.dedup.Dedup.CacheHandle]]
    * releasing its range-sorted persist — invoke after the returned
    * frame's terminal action (same contract as Dedup's tracked forms). */
  def perplexityBucketsScalableTracked(df: DataFrame, idCol: String,
      textCol: String, classCol: String, nBuckets: Int = 3)
      : (DataFrame, graft.dedup.Dedup.CacheHandle) = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets must be >= 2")
    // the typed (Long, String, Double) pipeline narrows the id contract
    // to integral columns — fail loudly instead of silently casting a
    // string id to all-nulls (which would also destroy the
    // deterministic (ll DESC, id) tie-break); the window twin stays the
    // fully-generic form
    require(Seq("ByteType", "ShortType", "IntegerType", "LongType")
        .contains(df.schema(idCol).dataType.toString),
      s"perplexityBucketsScalable needs an integral id column, got " +
        s"${df.schema(idCol).dataType.simpleString} — use perplexityBuckets")
    val spark = df.sparkSession
    import spark.implicits._
    val scored = bigramLogLikelihood(df, idCol, textCol)
      .join(df.select(col(idCol), col(classCol)), Seq(idCol))
      .select(col(idCol).cast("long"), col(classCol).cast("string"),
        col("ll").cast("double"))
      .as[(Long, String, Double)]
    // the window's ORDER BY (ll DESC, id ASC) as a range partitioning:
    // the .desc sort key on the range partitioner (and the matching
    // sortWithinPartitions) reproduces the window order directly.
    // NOTE (r17, advisor finding): a hash `.repartition` staged under
    // this range partition is a NO-OP — Catalyst's CollapseRepartition
    // removes a RepartitionByExpression's repartition child (the r16
    // before/after plan dumps show identical plans), so the r16 −7%
    // attributed to that line actually came from the outer
    // SortStage.orderByStaged change measured in the same A/B. The
    // range-bounds sampling therefore still re-executes the scoring
    // join once; a persist/localCheckpoint of `scored` would stop that
    // but the r16 LM-family persist A/B measured 16-60% SLOWER at
    // sf0.1 (AQE stage reuse + cache overhead), so it stays unstaged
    // pending the sf10 A/B (r16 verdict #6).
    val sorted = scored.toDF("__id", "__c", "__ll")
      .repartitionByRange(col("__c"), col("__ll").desc, col("__id"))
      .sortWithinPartitions(col("__c"), col("__ll").desc, col("__id"))
      .as[(Long, String, Double)]
      .persist()
    // pass 1: per-(partition, class) counts — classes are contiguous in
    // the total order, so this is O(partitions + classes) rows
    val census = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach(t => m.update(t._2, m.getOrElse(t._2, 0L) + 1))
      m.iterator.map { case (c, n) => (pid, c, n) }
    }.collect()
    val totals: Map[String, Long] =
      census.groupBy(_._2).map { case (c, rows) => c -> rows.map(_._3).sum }
    // offsets by ONE (class, pid)-sorted pass with a running per-class
    // sum (Packing.packByOrder's scanLeft shape) — a nested filter here
    // would be O((partitions+classes)²) driver work, minutes of stall
    // at exactly the partition counts this operator exists for
    val startOffsets: Map[(Int, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(Int, String), Long]
      var runningClass: String = null
      var running = 0L
      census.sortBy { case (pid, c, _) => (c, pid) }.foreach { case (pid, c, n) =>
        if (c != runningClass) { runningClass = c; running = 0L }
        m.update((pid, c), running)
        running += n
      }
      m.toMap
    }
    val bTotals = spark.sparkContext.broadcast(totals)
    val bOffsets = spark.sparkContext.broadcast(startOffsets)
    val n = nBuckets
    // pass 2: narrow — running within-class rank from the offsets
    val out = sorted.mapPartitions { it =>
      var pid = org.apache.spark.TaskContext.getPartitionId()
      val running = scala.collection.mutable.HashMap.empty[String, Long]
      it.map { case (id, c, ll) =>
        val r = running.getOrElse(c, bOffsets.value.getOrElse((pid, c), 0L)) + 1
        running.update(c, r)
        (id, c, ll, ntileBucket(r, bTotals.value(c), n))
      }
    }.toDF(idCol, classCol, "ll", "bucket")
    (out, new graft.dedup.Dedup.CacheHandle(Seq(sorted)))
  }
}
